"""bench.py's harness logic, checked without starting a Spark session."""

from __future__ import annotations

import pytest

import bench
from data_service_spark.registry import QUERIES, load_all


def _clock(readings: list[float]):
    """A fake clock whose successive start/stop pairs measure ``readings``."""
    ticks = []
    for i, r in enumerate(readings):
        ticks += [10.0 * i, 10.0 * i + r]
    return iter(ticks).__next__


def test_every_key_runs_once_then_twice_more_back_to_back():
    calls: list[str] = []
    runs, errors = bench.time_keys(
        ["fast", "slow"], calls.append, _clock([0.2, 0.9, 0.1, 0.3, 0.5, 0.6])
    )
    assert calls == ["fast", "slow", "fast", "fast", "slow", "slow"]
    assert runs == {"fast": [0.2, 0.1, 0.3], "slow": [0.9, 0.5, 0.6]}
    assert errors == {}


def test_a_failing_rerun_keeps_the_readings_it_has():
    def run_key(key: str) -> None:
        calls.append(key)
        if key == "bad" or len(calls) == 4:
            raise RuntimeError(f"{key} broke")

    calls: list[str] = []
    # "bad" raises on its first run and "k" on its first re-run, each
    # before the clock stops; neither runs again.
    ticks = iter([0.0, 0.6, 10.0, 20.0, 20.2, 30.0, 40.0, 40.3, 50.0, 50.1])
    runs, errors = bench.time_keys(["k", "bad", "next"], run_key, ticks.__next__)
    assert calls == ["k", "bad", "next", "k", "next", "next"]
    assert runs == {"k": [0.6], "next": [0.2, 0.3, 0.1]}
    assert errors == {"k": "RuntimeError: k broke", "bad": "RuntimeError: bad broke"}


def test_mode_names_are_not_registry_keys():
    load_all()
    assert not set(bench.MODES) & set(QUERIES)


@pytest.mark.parametrize(
    "argv", [["time", "1", "b_distinct"], ["ab", "HEAD", "1", "b_distinct"]]
)
def test_timing_modes_refuse_fewer_than_two_reps(argv, monkeypatch):
    monkeypatch.setattr(bench, "get_spark", lambda *a: pytest.fail("session started"))
    monkeypatch.setattr(bench, "_ab", lambda *a: pytest.fail("worktree added"))
    with pytest.raises(SystemExit, match="2 or more"):
        bench.main(argv)


class _Ctx:
    applicationId = "app-bench"


class _Session:
    sparkContext = _Ctx()


class _Frame:
    def localCheckpoint(self):
        return self


def _bench_with_memos(monkeypatch, tmp_path):
    """Patch bench.py onto two stub memos and one key that reads the first,
    with no Spark session. Returns the event log: each memo build and each
    run of the key, in order."""
    import time

    from data_service_spark import io

    events: list[str] = []
    monkeypatch.setattr(io, "MEMOS", [])

    @io.corpus_memo
    def read_memo(spark, sf_dir):
        events.append("build read_memo")
        time.sleep(0.01)
        return _Frame()

    @io.corpus_memo
    def other_memo(spark, sf_dir):
        events.append("build other_memo")
        return _Frame()

    def reader(spark, sf_dir):
        events.append("run reader")
        return read_memo(spark, sf_dir)

    monkeypatch.setattr(bench, "QUERIES", {"reader": reader})
    monkeypatch.setattr(bench, "_warm", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "_sink", lambda df: None)
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    return events, read_memo


def test_subset_run_builds_only_the_memos_its_keys_read(monkeypatch, tmp_path, capsys):
    import json

    events, read_memo = _bench_with_memos(monkeypatch, tmp_path)
    bench._full_run(_Session(), str(tmp_path / "sf0.01"), ["reader"])
    assert events == ["run reader", "build read_memo", "run reader", "run reader"]
    line = json.loads(capsys.readouterr().out)
    assert line["memo_build_sec"] == round(read_memo.build_s, 3) > 0
    assert not (tmp_path / "bench_full.json").exists()


def test_full_run_warms_every_memo_first(monkeypatch, tmp_path, capsys):
    import json

    events, _ = _bench_with_memos(monkeypatch, tmp_path)
    bench._full_run(_Session(), str(tmp_path / "sf0.01"), [])
    assert events == ["build read_memo", "build other_memo"] + ["run reader"] * 3
    with open(tmp_path / "bench_full.json") as fh:
        full = json.load(fh)
    assert set(full["memo_builds"]) == {"read_memo", "other_memo"}
    assert full["memoized"] == ["reader"]
    assert json.loads(capsys.readouterr().out)["memo_build_sec"] > 0
