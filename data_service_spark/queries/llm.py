"""§2.K — LLM-data-pipeline operators (dedup, similarity, text analysis,
multimodal) over the documents/embeddings tables.

Design notes for the 100 TB path (BASELINE.json north star):
- everything is DataFrame algebra — no collect() anywhere; "small" sides
  (probes, centroids, term dictionaries) are broadcast DataFrames;
- embeddings are L2-normalized (FIXTURES.md) so cosine ≡ dot product; both
  engines compute it as a sequential double fold (Spark aggregate/zip_with
  over array<double>, DuckDB list_inner_product over DOUBLE[]) so the
  results match bitwise;
- quadratic ops (all-pairs similarity, shingle self-join) are correct
  baselines; their scalable twins are the LSH variants (k_sim_ann here,
  MinHash in operators/dedup.py) which bucket candidates first;
- similarity ranking orders by round(sim, 6) with a unique vec_id tiebreak
  so float last-ulp noise can never flip a rank across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_service_spark.io import corpus_memo, load, load_parallel
from data_service_spark.registry import register


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over array<double> — stays in Catalyst
    (higher-order functions, codegen) rather than a UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )


# ---------------------------------------------------------------- dedup ----


@register(
    "k_dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS text_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def k_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical-text hash → keep min doc_id per group.
    One shuffle on the hash; at 100 TB this is the cheapest dedup pass and
    runs before any fuzzy method."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash")
    ).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_SHINGLES = (
    "array_distinct(transform(sequence(1, size(words) - 4),"
    " i -> concat_ws(' ', slice(words, i, 5))))"
)


@corpus_memo
def _exploded_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, xxhash64-of-shingle) rows — the shared input of
    the exact-Jaccard pair miners. Shingle strings (~40 bytes) are hashed
    to int64 BEFORE the explode+self-join, so the shuffle moves 8-byte
    longs and the join compares integers; Jaccard over hashed 5-gram sets
    equals Jaccard over the strings barring a 64-bit collision
    (P < 2⁻⁴⁰ at 100 TB shingle counts — below hardware error rates).

    Memoized per (session, corpus dir): four registered keys consume this
    table, and the checkpointed RDD stays valid for the session's
    lifetime, so later consumers skip the split/shingle/hash chain
    entirely — the materialize-signals-once pattern a production pipeline
    uses, at session scope."""
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    # r14: ONE lambda pass — hash each positional shingle to int64 first,
    # dedup the longs (array_distinct on 8-byte values instead of ~40-byte
    # strings, and no distinct string array is materialized then re-walked
    # by a second transform). Distinct-then-hash and hash-then-distinct
    # agree barring a 64-bit collision — the same caveat the docstring
    # already carries for the downstream Jaccard.
    sh = (
        d.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= 5)
        .withColumn(
            "shingles",
            F.expr(
                "array_distinct(transform(sequence(1, size(words) - 4),"
                " i -> xxhash64(concat_ws(' ', slice(words, i, 5)))))"
            ),
        )
        .select("doc_id", "shingles", F.size("shingles").alias("n"))
    )
    # Pinned by corpus_memo: every consumer self-joins this (a/b
    # aliases), and an aliased subtree defeats exchange reuse — without
    # the checkpoint the whole split/shingle/xxhash chain runs once per
    # side (A/B: ~2x cold).
    return sh.select("doc_id", "n", F.explode("shingles").alias("sh"))


_MINHASH_H = 12  # hashes per signature — 4 bands × 3 rows in production


@corpus_memo
def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles array<string>, n) — the per-doc distinct 5-gram
    shingle LISTS (vs the exploded long form above), the shared input of
    the md5 MinHash signature build and of candidate verification by
    ``array_intersect``. Memoized per (session, corpus dir) for the same
    reason as ``_exploded_shingle_hashes``: several registered keys
    consume it, and a production pipeline materializes the shingle table
    once per corpus, not once per downstream job."""
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    return (
        d.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= 5)
        .withColumn("shingles", F.expr(_SHINGLES))
        .select("doc_id", "shingles", F.size("shingles").alias("n"))
    )


@corpus_memo
def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h, mh) — the 12-hash md5 Carter–Wegman MinHash signature
    spine, LONG format, shared by the production miner
    (``k_dedup_minhash_sql``), the banding-parameter sweep
    (``k_dedup_bands_sweep``) and, through the miner, the recall
    evaluation (``k_eval_dedup_recall``). md5 exists in both engines, so
    DuckDB reproduces every signature bit-for-bit from the same oracle
    prefix. Memoized per (session, corpus dir): the signature build is
    the |shingles|-sized reduce — the only corpus-sized work in the
    MinHash family — and a 100 TB index materializes signatures ONCE,
    then bands/re-bands/evaluates from that table.

    LONG format on purpose: a wide signature (12 min() aggregates over a
    transform() array) gets its projection collapsed into every aggregate
    expression by Catalyst, re-running the md5/conv chain 12× per shingle
    (measured ~2× slower end-to-end). Exploding the hash index through a
    Generate keeps ha/hb evaluated once per shingle; ha is 60 bits, hb 56
    bits, so ha + 11·hb < 2⁶² — no int64 overflow."""
    ex = _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    hx = ex.select(
        "doc_id",
        F.expr(
            "cast(conv(substr(md5(sh), 1, 15), 16, 10) AS bigint)"
        ).alias("ha"),
        F.expr(
            "cast(conv(substr(md5(sh), 17, 14), 16, 10) AS bigint)"
        ).alias("hb"),
    )
    longh = hx.select(
        "doc_id", "ha", "hb",
        F.explode(F.sequence(F.lit(0), F.lit(_MINHASH_H - 1))).alias("h"),
    )
    return longh.groupBy("doc_id", "h").agg(
        F.min(F.col("ha") + F.col("h") * F.col("hb")).alias("mh")
    )



@register(
    "k_dedup_near",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' '))) AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_1, doc_id_2,
           round(n_common * 1.0 / (s1.n + s2.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes s1 ON doc_id_1 = s1.doc_id
    JOIN sizes s2 ON doc_id_2 = s2.doc_id
    WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= 0.6
    """,
)
def k_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via exact 5-gram-shingle Jaccard >= 0.6.

    The shingle self-join is the exact baseline; it is already *not*
    quadratic in docs (it joins on shingle, so only docs sharing a shingle
    pair up). The truly scalable twin is MinHash+LSH (k_dedup_minhash),
    which bounds candidate pairs per band bucket. The pair table itself
    is the session-memoized ``_near_pairs`` — three evaluation keys
    consume it as ground truth.
    """
    return _near_pairs(spark, sf_dir)


@corpus_memo
def _near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id_1, doc_id_2, jaccard) — the exact shingle-Jaccard ≥ 0.6
    pair table, memoized per (session, corpus dir): it is the ground
    truth consumed by ``k_dedup_near`` itself, the banding sweep, the
    recall evaluation and the LSH calibration, and its posting-list
    self-join is the most expensive reduce in the dedup family. A
    production evaluation materializes the (sampled) truth set once and
    scores every index configuration against that table."""
    ex = _exploded_shingle_hashes(spark, sf_dir)
    a = ex.select(
        F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"), "sh"
    )
    b = ex.select(
        F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2"), "sh"
    )
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return inter.filter(jac >= 0.6).select(
        "doc_id_1", "doc_id_2", F.round(jac, 4).alias("jaccard")
    )


@register(
    "k_dedup_containment",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' '))) AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS contained_in,
             count(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id, contained_in,
           round(n_common * 1.0 / s1.n, 4) AS containment
    FROM inter JOIN sizes s1 USING (doc_id)
    WHERE n_common * 1.0 / s1.n >= 0.5
    """,
)
def k_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment dedup: C(a→b) = |shingles(a) ∩ shingles(b)| /
    |shingles(a)| ≥ 0.5 — the asymmetric twin of k_dedup_near's Jaccard.

    Containment catches what symmetric Jaccard structurally cannot: a
    short document quoted inside a much longer one scores near-1
    containment but near-0 Jaccard (the union is dominated by the long
    side). Curation pipelines run both — Jaccard for mirror/near-mirror
    pages, containment for quote-inclusion and boilerplate envelopment.

    Same scale shape as k_dedup_near: the pair space is generated by the
    shingle-hash equi-join (only docs sharing a shingle pair up; int64
    hashed payloads), one groupBy per directed pair, denominator joined
    from the pinned shingle table. The LSH twin at 100 TB buckets by
    MinHash first; the containment formula on verified candidates is
    unchanged."""
    ex = _exploded_shingle_hashes(spark, sf_dir)
    a = ex.select(
        F.col("doc_id").alias("doc_id"), F.col("n").alias("n1"), "sh"
    )
    b = ex.select(F.col("doc_id").alias("contained_in"), "sh")
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("doc_id") != F.col("contained_in"))
        .groupBy("doc_id", "contained_in", "n1")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common") * 1.0 / F.col("n1")
    return inter.filter(cont >= 0.5).select(
        "doc_id", "contained_in", F.round(cont, 4).alias("containment")
    )


# ----------------------------------------------------------- similarity ----


@register(
    "k_sim_topk",
    oracle="""
    WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    sims AS (
      SELECT probe_id, vec_id, list_inner_product(pv, cv) AS sim
      FROM p CROSS JOIN c WHERE vec_id <> probe_id
    ), ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, round(sim, 4) AS sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY round(sim, 6) DESC, vec_id) AS rn
      FROM sims
    )
    SELECT probe_id, neighbor_id, sim, rn FROM ranked WHERE rn <= 5
    """,
)
def k_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 probe vectors.

    Probes stay a broadcast DataFrame (never collected): the corpus streams
    past them once — the same plan shape works for a 100 TB corpus. The
    scale path for large probe sets is k_sim_ann (LSH) or IVF bucketing
    (k_cluster_assign prunes to a centroid's bucket).
    """
    # Sliced from the session-memoized exact ranking (the 10 probes are a
    # prefix of its 20-query spine; rank windows agree by construction).
    return (
        _exact_ranked(spark, sf_dir)
        .filter((F.col("qid") < 10) & (F.col("rn") <= 5))
        .select(
            F.col("qid").alias("probe_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim", 4).alias("sim"),
            "rn",
        )
    )


# Above this corpus size sim_pairs flips from the broadcast-corpus GEMM to
# the triangular B×B grid (sim_pairs_grid): the broadcast regime ships the
# whole matrix to every task, which stops fitting once the corpus outgrows
# executor memory. Row count comes from the parquet footer (driver-side
# metadata read, no Spark job).
SIM_PAIRS_GRID_MIN_ROWS = 100_000


def _footer_rows(sf_dir: str, table: str) -> int:
    """Row count from parquet footers only — the free dispatch signal
    for regime switches. Handles both the single-file corpus layout and
    a directory-of-part-files dataset (the layout a cluster-scale table
    actually has — exactly the regime the dispatch thresholds exist
    for), without reading any data pages."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def _corpus_rows(sf_dir: str) -> int:
    return _footer_rows(sf_dir, "embeddings")


def sim_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """The session-memoized candidate graph at ``threshold`` (0.3 or 0.4,
    the only two the registry walks): one memo per threshold over
    ``sim_pairs_frame``."""
    return {0.3: _sim_pairs_03, 0.4: _sim_pairs_04}[threshold](spark, sf_dir)


@corpus_memo
def _sim_pairs_03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded pair list, pinned per (session, corpus) with
    localCheckpoint — seven keys walk the same 0.3/0.4 candidate graphs
    (triangles, clustering coeff, hubness, reciprocal NN, cross-lingual,
    threshold, embedding dedup), and several reference the edge list 3-5
    times in one plan (triangle joins), each reference re-running the
    whole GEMM without the pin (r13; the ``_cs_pairs`` graph-family
    pattern applied to the similarity family — a production pipeline
    materializes the candidate graph once per corpus snapshot). The pair
    list is orders of magnitude smaller than the corpus (thresholded
    Zipf tail), so the checkpoint is edge-sized, never corpus-sized."""
    return sim_pairs_frame(spark, sf_dir, 0.3)


@corpus_memo
def _sim_pairs_04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-0.4 twin of ``_sim_pairs_03``."""
    return sim_pairs_frame(spark, sf_dir, 0.4)


def sim_pairs_frame(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """All vector pairs (id_1 < id_2) with cosine >= ``threshold``,
    executed as a distributed block matrix multiply, not a pair join: a
    per-pair ``aggregate(zip_with(...))`` fold was ~20× slower (higher-order
    functions are interpreted, not codegen'd) and even a pandas-UDF dot on
    the joined pairs moves O(n²) array copies through Arrow. Here each task
    gets one block of row-vectors plus the (broadcast) corpus matrix and
    runs a single BLAS GEMM, emitting only the surviving pairs — O(n²/B)
    memory per task, O(n) Arrow traffic. Shared by k_sim_threshold (0.4),
    k_dedup_embedding (0.4) and k_graph_triangles (0.3).

    Above ``SIM_PAIRS_GRID_MIN_ROWS`` the call dispatches to
    ``sim_pairs_grid`` — the triangular B×B grid where NEITHER side is
    broadcast or collected — so the 100 TB flip is code, not a docstring
    (r04 verdict item #7). Both regimes share the GEMM inner loop and the
    4dp rounding, so they are value-identical (pinned by
    tests/test_operators.py::test_sim_pairs_grid_matches_broadcast).
    """
    if _corpus_rows(sf_dir) > SIM_PAIRS_GRID_MIN_ROWS:
        return sim_pairs_grid(spark, sf_dir, threshold)
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    vec = F.struct("vec_id", "v")
    a_blocks = (
        emb.withColumn("blk", F.pmod("vec_id", F.lit(32)))
        .groupBy("blk")
        .agg(F.collect_list(vec).alias("ablock"))
    )
    corpus = emb.agg(F.collect_list(vec).alias("corpus"))

    def gemm(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                aids = np.fromiter((r["vec_id"] for r in row["ablock"]), np.int64)
                amat = np.vstack([np.asarray(r["v"]) for r in row["ablock"]])
                cids = np.fromiter((r["vec_id"] for r in row["corpus"]), np.int64)
                cmat = np.vstack([np.asarray(r["v"]) for r in row["corpus"]])
                sims = amat @ cmat.T
                i, j = np.where(
                    (sims >= threshold) & (aids[:, None] < cids[None, :])
                )
                yield pd.DataFrame(
                    {"vec_id_1": aids[i], "vec_id_2": cids[j], "sim_raw": sims[i, j]}
                )

    pairs = a_blocks.crossJoin(F.broadcast(corpus)).mapInPandas(
        gemm, "vec_id_1 long, vec_id_2 long, sim_raw double"
    )
    return pairs.select(
        "vec_id_1", "vec_id_2", F.round("sim_raw", 4).alias("sim")
    )


def sim_pairs_grid(
    spark: SparkSession, sf_dir: str, threshold: float, blocks: int = 8
) -> DataFrame:
    """The 100 TB regime of ``sim_pairs``: a triangular B×B block grid
    where NEITHER side is broadcast, collected, or aggregated into a
    single row. Every vector is replicated into the grid cells it
    participates in (A-role into cells ``(blk, bj≥blk)``, C-role into
    ``(bi≤blk, blk)`` — a ``sequence``+``explode``, ×(B+1) row inflation,
    the inherent all-pairs replication), then one ``applyInPandas`` per
    cell runs the same BLAS GEMM as the broadcast form on ~2n/B vectors.
    Per-task memory is O(n/B · d) regardless of corpus size; the only
    shuffle is the grid partitioning itself, and B scales as
    ceil(n·d·8 / task_budget_bytes) so each cell stays executor-sized.

    Pair dedup under modulo blocking: an unordered pair {x,y} with
    blk(x)≠blk(y) lands in exactly ONE kept cell (min-blk as A, max-blk
    as C) but with arbitrary id order, so off-diagonal cells emit
    (least, greatest); diagonal cells hold each pair twice and keep
    ``aid < cid``. Same 4dp rounding as ``sim_pairs`` → value-identical.
    """
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    blocked = emb.withColumn("blk", F.pmod("vec_id", F.lit(blocks)))
    a_rep = blocked.select(
        F.col("blk").alias("bi"),
        F.explode(
            F.sequence(F.col("blk"), F.lit(blocks - 1))
        ).alias("bj"),
        F.lit("a").alias("role"),
        "vec_id",
        "v",
    )
    c_rep = blocked.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("c").alias("role"),
        "vec_id",
        "v",
    )

    def gemm_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        c = pdf[pdf["role"] == "c"]
        if a.empty or c.empty:
            return pd.DataFrame(
                {"vec_id_1": pd.Series(dtype="int64"),
                 "vec_id_2": pd.Series(dtype="int64"),
                 "sim_raw": pd.Series(dtype="float64")}
            )
        aids = a["vec_id"].to_numpy(dtype=np.int64)
        cids = c["vec_id"].to_numpy(dtype=np.int64)
        amat = np.vstack([np.asarray(x) for x in a["v"]])
        cmat = np.vstack([np.asarray(x) for x in c["v"]])
        sims = amat @ cmat.T
        mask = sims >= threshold
        if bi == bj:  # both roles hold the block: dedup by id order
            mask &= aids[:, None] < cids[None, :]
        i, j = np.where(mask)
        lo = np.minimum(aids[i], cids[j])
        hi = np.maximum(aids[i], cids[j])
        return pd.DataFrame(
            {"vec_id_1": lo, "vec_id_2": hi, "sim_raw": sims[i, j]}
        )

    pairs = (
        a_rep.unionByName(c_rep)
        .groupBy("bi", "bj")
        .applyInPandas(
            gemm_cell, "vec_id_1 long, vec_id_2 long, sim_raw double"
        )
    )
    return pairs.select(
        "vec_id_1", "vec_id_2", F.round("sim_raw", 4).alias("sim")
    )


@register(
    "k_sim_threshold",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
           round(list_inner_product(a.v, b.v), 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) >= 0.4
    """,
)
def k_sim_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine >= 0.4 (the corpus' max off-diagonal
    sim is ~0.51, so 0.4 captures the genuine near-neighbor tail).
    All-pairs is the exactness baseline; LSH (k_sim_ann) is the scale twin.
    Physical strategy documented on ``sim_pairs`` (blocked GEMM).
    """
    return sim_pairs(spark, sf_dir, 0.4)


@register("k_sim_ann")  # rows-only: LSH is approximate by design
def k_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN pairs via BucketedRandomProjectionLSH (euclidean; on
    L2-normalized vectors dist² = 2 - 2·cos, so dist 1.1 ≈ cos 0.4).
    This is the 100 TB path: candidates meet only inside hash buckets."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # load_parallel: the single-row-group source otherwise leaves the LSH
    # transform + approxSimilarityJoin explode on one core (measured ~2x).
    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, 1.1, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_id_1"),
            F.col("datasetB.vec_id").alias("vec_id_2"),
            F.round("dist", 4).alias("dist"),
        )
    )


@register(
    "k_cluster_assign",
    oracle="""
    WITH cent AS (SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < 10),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sims AS (
      SELECT e.vec_id, cluster_id, list_inner_product(v, cv) AS sim
      FROM e CROSS JOIN cent
    ), ranked AS (
      SELECT vec_id, cluster_id, round(sim, 4) AS sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(sim, 6) DESC, cluster_id) AS rn
      FROM sims
    )
    SELECT vec_id, cluster_id, sim FROM ranked WHERE rn = 1
    """,
)
@corpus_memo
def k_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step as join+argmax: every vector to its nearest
    of 10 deterministic centroids (vec_id 0..9). Centroids broadcast; the
    corpus streams once — the building block of IVF-style ANN and of a full
    Lloyd's iteration. Memoized per (session, corpus): four downstream
    evals consume the assignment table."""
    emb = _emb(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )
    sims = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster_id", dot(F.col("v"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("cluster_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", F.round("sim", 4).alias("sim"))
    )


# ------------------------------------------------------------- text ----


_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")


@register(
    "k_text_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, count(*) AS n FROM tok
      WHERE term NOT IN {_STOPWORDS!r} AND term <> ''
      GROUP BY term
    ), ranked AS (
      SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rn
      FROM counts
    )
    SELECT term, n, rn FROM ranked WHERE rn <= 50
    """,
)
def k_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → stopword filter → global top-50 terms (unique tiebreak).
    Token counting for corpus statistics; partial aggregation makes the
    count a single shuffle of the term dictionary, not the corpus."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        (~F.col("term").isin(*_STOPWORDS)) & (F.col("term") != "")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("term", "n", "rn")
    )


@register(
    "k_text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), top_terms AS (
      SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn FROM df
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           round(tf.tf * ln(n.n_docs * 1.0 / t.df), 4) AS tfidf
    FROM tf JOIN top_terms t ON tf.term = t.term AND t.rn <= 20
    CROSS JOIN n
    """,
)
def k_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (idf = ln(N/df)) for the 20 highest-df terms — pure SQL
    algebra, no MLlib. N is carried as a broadcast 1-row DataFrame, never a
    driver-side collect."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.orderBy(F.col("df").desc(), F.col("term"))
    top = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(top), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


@register(
    "k_text_stats",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def k_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " ")).cast("double")), 2).alias(
            "avg_tokens"
        ),
    )


# -------------------------------------------------------- multimodal ----


@register(
    "k_multimodal_join",
    oracle="""
    -- + 0.0 canonicalizes IEEE -0.0 (round of a tiny negative component)
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           round(CAST(e.embedding[1] AS DOUBLE), 4) + 0.0 AS e0
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def k_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal-column pattern: one row carrying text metadata + a
    vector + a label, flattened to scalars for the hash. At scale this is a
    bucketed equi-join on the shared id."""
    d = load(spark, sf_dir, "documents")
    e = _emb(spark, sf_dir)
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        # + 0.0: canonicalize IEEE -0.0 so both engines hash identically
        (F.round(F.element_at("v", 1), 4) + F.lit(0.0)).alias("e0"),
    )


@register("k_dedup_minhash")  # rows-only: MinHash signatures are approximate
def k_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates — the 100 TB twin of k_dedup_near.

    5-gram word shingles → HashingTF sparse sets → MinHashLSH banded join at
    Jaccard distance <= 0.4. Candidate pairs meet only inside minhash-band
    buckets, so cost scales with bucket occupancy, not docs² (contrast the
    exact shingle self-join). Approximate by design → rows-only check; the
    exact twin (k_dedup_near) anchors correctness.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    sh = (
        d.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= 5)
        .withColumn("shingles", F.expr(_SHINGLES))
        .select("doc_id", "shingles")
    )
    tf = HashingTF(inputCol="shingles", outputCol="features",
                   numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.4, distCol="jdist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_id_1"),
            F.col("datasetB.doc_id").alias("doc_id_2"),
            F.round(F.lit(1.0) - F.col("jdist"), 4).alias("jaccard_est"),
        )
    )


@register("k_sim_ivf")  # rows-only: IVF probes one cell, recall < 1 by design
def k_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to the 10 deterministic
    centroids (vectors with vec_id 0..9, as k_cluster_assign), then answer
    each probe by scanning ONLY its own cell.

    This is the inverted-file scale path: the corpus partitions by cell id
    (a real partition key at 100 TB), and a probe touches ~1/n_cells of the
    data. Assignment and search reuse the same broadcast-centroid dot
    product; nprobe>1 is the recall knob (here nprobe=1, rows-only).
    """
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    csim = dot(F.col("v"), F.col("cv"))
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", csim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("csim"), F.asc("cent_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cent_id").alias("cell"))
    )
    probes = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"),
        F.col("cell").alias("pcell"),
    )
    psim = dot(F.col("v"), F.col("pv"))
    hits = (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .withColumn("sim", psim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rn") <= 3)
    )
    return hits.select(
        "probe_id", F.col("vec_id").alias("neighbor_id"),
        F.round("sim", 4).alias("sim"), "rn",
    )


def _kmeans_sql(pos_explode: str, round_fn: str = "round") -> str:
    """Two unrolled Lloyd iterations in portable SQL over EXPLODED vectors
    (vec_id, pos, x). ``pos_explode`` is the dialect-specific CTE body that
    produces that table; everything after it is shared verbatim, so Spark
    and DuckDB run the same algebra: assign to nearest centroid by rounded
    dot product (vec_id tiebreak), recompute centroids as per-dimension
    means, assign again.
    """
    assign = """
      SELECT vec_id, cell, sim FROM (
        SELECT e.vec_id, c.cell,
               {rnd}(sum(e.x * c.c), 6) AS sim,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {rnd}(sum(e.x * c.c), 6) DESC, c.cell
               ) AS rn
        FROM ex e JOIN {cents} c ON e.pos = c.pos
        GROUP BY e.vec_id, c.cell
      ) r WHERE rn = 1
    """
    return f"""
    WITH ex AS ({pos_explode}),
    c0 AS (
      SELECT vec_id AS cell, pos, x AS c FROM ex WHERE vec_id < 10
    ),
    a1 AS ({assign.format(rnd=round_fn, cents='c0')}),
    c1 AS (
      SELECT a1.cell, e.pos, avg(e.x) AS c
      FROM ex e JOIN a1 ON e.vec_id = a1.vec_id
      GROUP BY a1.cell, e.pos
    ),
    a2 AS ({assign.format(rnd=round_fn, cents='c1')})
    -- Assignments only: a displayed sim column would re-round avg-derived
    -- doubles and can land exactly on a half boundary, where Spark
    -- (decimal HALF_UP) and DuckDB (binary) round differently. The argmax
    -- itself is safe: 6dp rounding + unique cell tiebreak inside ORDER BY.
    SELECT vec_id, cell FROM a2
    """


@register(
    "k_cluster_iterate",
    oracle=_kmeans_sql(
        "SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x "
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ),
)
def k_cluster_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm on DataFrames: two unrolled k-means (Lloyd)
    iterations — assign to nearest of 10 deterministic seed centroids,
    recompute centroids as per-dimension means, re-assign.

    The driver loop builds plans; data never leaves the cluster (centroid
    recompute is a groupBy over (cell, pos), tiny result). At 100 TB each
    iteration is one broadcast-join pass over the corpus plus a small
    aggregate — the standard distributed k-means shape (what
    ``pyspark.ml.clustering.KMeans`` runs under the hood). Dot products are
    rounded to 6dp before the argmax (unique cell tiebreak) so float ulp
    noise cannot flip an assignment between engines.
    """
    _emb(spark, sf_dir).createOrReplaceTempView("dss_emb_km")
    return spark.sql(
        _kmeans_sql(
            "SELECT vec_id, p.pos, p.x "
            "FROM dss_emb_km LATERAL VIEW posexplode(v) p AS pos, x"
        )
    )


@register(
    "k_dedup_minhash_sql",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' '))) AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    hx AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT AS ha,
             ('0x' || substr(md5(sh), 17, 14))::BIGINT AS hb
      FROM ex
    ),
    mh AS (
      SELECT hx.doc_id, hs.h AS h, min(ha + hs.h * hb) AS mh
      FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h) hs
      GROUP BY hx.doc_id, hs.h
    ),
    bands AS (
      SELECT doc_id, h // 3 AS band_id,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h) AS bkey
      FROM mh GROUP BY doc_id, h // 3
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM bands a JOIN bands b ON a.band_id = b.band_id
           AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_id_1, c.doc_id_2, count(*) AS n_common
      FROM cand c JOIN ex e1 ON e1.doc_id = c.doc_id_1
           JOIN ex e2 ON e2.doc_id = c.doc_id_2 AND e2.sh = e1.sh
      GROUP BY 1, 2
    )
    SELECT i.doc_id_1, i.doc_id_2,
           round(n_common * 1.0 / (s1.n + s2.n - n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.doc_id_1 = s1.doc_id
    JOIN sizes s2 ON i.doc_id_2 = s2.doc_id
    WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= 0.6
    """,
)
def k_dedup_minhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native MinHash+LSH near-dup dedup with an EXACT cross-engine
    oracle — the deterministic scale path beside the ml-lib variant
    (k_dedup_minhash, rows-only).

    Signatures are 12 md5-derived 60-bit min-hashes per doc (md5 exists in
    both engines, so DuckDB reproduces the signatures bit-for-bit — that is
    what upgrades this from rows-only to hash-checked). Banding is 4 bands
    x 3 rows: candidate pairs must share one full band, then candidates are
    verified with exact shingle Jaccard >= 0.6. Every step is JVM-side
    column algebra (no Python UDF):

      shingles --explode--> (doc, shingle) --12 hash mins, map-side
      combined--> signature --4 band keys--> equi-join on (band_id, key)
      --> candidates --shingle join--> exact Jaccard.

    At 100 TB: the signature agg is one shuffle on doc_id with partial
    aggregation; the band join is an equi-join whose cost tracks bucket
    occupancy, not docs^2; only surviving candidates (a tiny set) pay the
    exact-verification join. Skewed buckets (boilerplate docs) are handled
    by AQE skew-join splitting. The verified pair table is the
    session-memoized ``_minhash_pairs`` — the recall evaluation, the LSH
    calibration and the capture–recapture audit all score it.
    """
    return _minhash_pairs(spark, sf_dir)


@corpus_memo
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id_1, doc_id_2, jaccard) — the MinHash-LSH miner's verified
    output pair table, memoized per (session, corpus dir): consumed by
    ``k_dedup_minhash_sql`` itself and scored by three evaluation keys.
    A production index materializes its candidate-pair output once per
    build; evaluations read that table."""
    R = 3  # bands of 3 over the 12-hash signature -> 4 bands
    # Both corpus-sized intermediates come from the session memos: the
    # shingle LISTS (verification side) and the md5 Carter-Wegman
    # signature spine (band side) are materialized once per (session,
    # corpus) and shared with k_dedup_bands_sweep — the
    # materialize-signatures-once shape a 100 TB index actually runs.
    # banded is still pinned locally: it feeds both sides of the band
    # join, and an aliased subtree defeats exchange reuse.
    sh = _shingle_arrays(spark, sf_dir)
    mh = _minhash_sigs(spark, sf_dir)
    banded = mh.groupBy("doc_id", F.expr(f"h div {R}").alias("band_id")).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(h, mh))),"
            " s -> cast(s.mh AS string)), ',')"
        ).alias("bkey")
    ).localCheckpoint()
    a = banded.select(
        F.col("doc_id").alias("doc_id_1"), "band_id", "bkey"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_id_2"), "band_id", "bkey"
    )
    cand = (
        a.join(b, ["band_id", "bkey"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    # Verify candidates with exact Jaccard via array_intersect on the (few)
    # surviving pairs — shingle lists are already distinct, so the
    # intersection size IS the common-shingle count. Two joins, no extra
    # shuffle-agg: at bench scale stage count dominates, at cluster scale
    # the candidate set is tiny relative to the corpus either way.
    s1 = sh.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shingles").alias("sh1"),
        F.col("n").alias("n1"),
    )
    s2 = sh.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shingles").alias("sh2"),
        F.col("n").alias("n2"),
    )
    ver = (
        cand.join(s1, ["doc_id_1"])
        .join(s2, ["doc_id_2"])
        .withColumn("n_common", F.size(F.array_intersect("sh1", "sh2")))
    )
    jac = F.col("n_common") * 1.0 / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return ver.filter(jac >= 0.6).select(
        "doc_id_1", "doc_id_2", F.round(jac, 4).alias("jaccard")
    )


@corpus_memo
def _signrp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket, v) — the 6-bit sign-random-projection bucket
    assignment over the embedding corpus, memoized per (session, corpus
    dir) as a localCheckpoint: it is the one corpus-linear reduce shared
    by the whole deterministic ANN family (``k_sim_ann_sql``'s index,
    ``k_lsh_multiprobe``'s probe sweep, and the recall evaluation that
    composes them). A production LSH index is built once and every
    query-time strategy probes the SAME bucket table; rebuilding it per
    operating point would re-pay the projection for every sweep entry.

    Projections round to 9dp before the sign test so summation-order ulp
    noise cannot flip a bucket bit between engines (the DuckDB oracles
    replicate the same md5-parity hyperplanes)."""
    P = 6
    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = spark.range(64).select(F.col("id").cast("int").alias("d"))
    planes = (
        spark.range(P)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(dims)
        .select(
            "p",
            "d",
            F.expr(
                "CASE WHEN substr(md5(concat(cast(p AS string), ':',"
                " cast(d AS string))), 1, 1)"
                " IN ('0','2','4','6','8','a','c','e')"
                " THEN 1.0D ELSE -1.0D END"
            ).alias("w"),
        )
    )
    ex = emb.select("vec_id", F.posexplode("v").alias("d", "x"))
    proj = (
        ex.join(F.broadcast(planes), ["d"])
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
    )
    buck = proj.groupBy("vec_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(p,"
            " CASE WHEN round(s, 9) >= 0 THEN '1' ELSE '0' END AS bit))),"
            " t -> t.bit), '')"
        ).alias("bucket")
    )
    return buck.join(emb, ["vec_id"])


# Depth of the exact-ranking head the memo pins. Every consumer slices
# rn <= this (top-5 baseline, rn<=3/5 truths, @10 rank metrics); a consumer
# needing deeper ranks must raise it HERE — filtering rn beyond it would
# silently score against a truncated ground truth. Raising it does NOT
# deepen the @K metrics: their cutoffs are their own definitions,
# asserted <= this depth at each consumer site (r08 review finding).
_EXACT_RANKED_DEPTH = 10


@corpus_memo
def _exact_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, ql, vec_id, label, sim, rn) — the exact brute-force cosine
    ranking of the WHOLE corpus against the 20 probe/query vectors
    (vec_id < 20), memoized per (session, corpus dir) as a
    localCheckpoint. This is the single corpus×probes product the entire
    retrieval-evaluation panel shares: the brute-force top-k baseline
    (``k_sim_topk``), the LSH and IVF ground truths
    (``k_lsh_multiprobe``, ``k_ivf_probe_sweep``), and the label-relevance
    rank metrics (``k_eval_mrr_labels``, ``k_eval_map_labels``,
    ``k_eval_recall_curve``, ``k_rank_rbp``). A production evaluation
    materializes this ranking once per corpus snapshot and derives every
    metric from the stored table — at 100 TB the probes stay broadcast
    and the corpus streams past them exactly once instead of once per
    metric.

    Ranking pins on 6dp-rounded sims with vec_id tiebreaks (the repo's
    cross-engine convention), so every consumer slices identical rank
    sets."""
    # Only the 20×_EXACT_RANKED_DEPTH-row head is pinned — the full
    # corpus×probes ranking is computed once but never stored.
    return _exact_ranked_frame(spark, sf_dir).filter(
        F.col("rn") <= _EXACT_RANKED_DEPTH
    )


def _exact_ranked_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed builder DAG behind ``_exact_ranked`` — split
    out so plan tests can pin its shape (probes broadcast, corpus
    streams once; the memo's checkpoint would otherwise hide the join
    strategy behind a Scan ExistingRDD)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("ql"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("vec_id")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "ql", "vec_id", "label",
            dot(F.col("v"), F.col("qv")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
    )


@register(
    "k_sim_ann_sql",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    dims AS (SELECT unnest(generate_series(0, 63)) AS d),
    ps AS (SELECT unnest(generate_series(0, 5)) AS p),
    planes AS (
      SELECT ps.p, dims.d,
             CASE WHEN substr(md5(CAST(ps.p AS VARCHAR) || ':'
                                  || CAST(dims.d AS VARCHAR)), 1, 1)
                       IN ('0','2','4','6','8','a','c','e')
                  THEN 1.0 ELSE -1.0 END AS w
      FROM ps CROSS JOIN dims
    ),
    ex AS (SELECT vec_id, dims.d AS d, v[dims.d + 1] AS x
           FROM e CROSS JOIN dims),
    proj AS (
      SELECT vec_id, p, sum(x * w) AS s
      FROM ex JOIN planes USING (d) GROUP BY vec_id, p
    ),
    buck AS (
      SELECT vec_id,
             string_agg(CASE WHEN round(s, 9) >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY p) AS bucket
      FROM proj GROUP BY vec_id
    ),
    sims AS (
      SELECT pb.vec_id AS probe_id, cb.vec_id AS neighbor_id,
             list_inner_product(pe.v, ce.v) AS sim
      FROM buck pb JOIN buck cb ON pb.bucket = cb.bucket
                                AND pb.vec_id <> cb.vec_id
           JOIN e pe ON pe.vec_id = pb.vec_id
           JOIN e ce ON ce.vec_id = cb.vec_id
      WHERE pb.vec_id < 10
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, round(sim, 4) AS sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY round(sim, 6) DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT probe_id, neighbor_id, sim, rn FROM ranked WHERE rn <= 3
    """,
)
def k_sim_ann_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ANN via sign-random-projection LSH with an EXACT
    cross-engine oracle — the hash-checked twin of the ml-lib k_sim_ann
    (rows-only).

    Six hyperplanes with ±1 weights derived from md5(plane:dim) parity —
    a deterministic function both engines evaluate identically, so DuckDB
    reproduces the buckets bit-for-bit. Each vector's 6-bit sign pattern is
    its bucket; probes (vec_id < 10) rank only their own bucket by exact
    cosine (dot ≡ cosine, embeddings are L2-normalized) and keep top-3.
    Projections are rounded to 9dp before the sign test so summation-order
    ulp noise cannot flip a bucket bit between engines.

    Scale: the plane table is 384 rows (broadcast); the projection is one
    explode + two partial-aggregated shuffles, linear in corpus size; the
    candidate join is an equi-join on bucket — cost tracks bucket occupancy
    (recall < 1 by design), never corpus². Skewed buckets fall to AQE
    skew-join handling.
    """
    # (vec_id, bucket, v) comes from the session memo: the bucket
    # assignment is the one corpus-linear reduce this whole ANN family
    # shares (this key, the multiprobe sweep, and the recall evaluation
    # through this key).
    bv = _signrp_buckets(spark, sf_dir)
    probes = bv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("bucket"),
        F.col("v").alias("pv"),
    )
    sims = (
        bv.join(F.broadcast(probes), ["bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("pv"), F.col("v")).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "probe_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rn"
        )
    )


@register(
    "k_dedup_clusters",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' '))) AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_id_1, doc_id_2
      FROM inter
      JOIN sizes s1 ON doc_id_1 = s1.doc_id
      JOIN sizes s2 ON doc_id_2 = s2.doc_id
      WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
      UNION ALL
      SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    """,
)
@corpus_memo
def k_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate graph: every document
    labeled with the min doc_id reachable through Jaccard>=0.6 edges — the
    canonical-representative assignment a dedup pipeline applies after
    pair mining (singletons label themselves).

    Spark side is iterative min-label propagation to a fixpoint: each round
    joins labels to the symmetric edge list, takes the neighborhood min,
    and localCheckpoints to cut lineage (the standard large-graph CC shape
    — one shuffle join per round, rounds = graph diameter, which for
    near-dup cliques is 1-2). The loop runs only over edge-TOUCHED nodes:
    singletons (the overwhelming majority of any dedup graph) label
    themselves and never enter a round, so per-round joins are sized by the
    near-dup graph, not the corpus. The driver-side loop only moves one
    scalar (the changed-count) per round; all data stays distributed. The
    DuckDB oracle computes the same fixpoint declaratively as a
    recursive-CTE transitive closure — two formulations, one semantics.
    """
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    ex = _exploded_shingle_hashes(spark, sf_dir)
    a = ex.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"), "sh")
    b = ex.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2"), "sh")
    jac = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    pairs = (
        a.join(b, ["sh"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(jac >= 0.6)
        .select("doc_id_1", "doc_id_2")
    )
    edges = pairs.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # bound >> any real near-dup-graph diameter
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_id"))
        )
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("old_id"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_id"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(
            F.col("cluster_id") != F.col("old_id")
        ).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    singletons = (
        d.select("doc_id")
        # no forced broadcast: the edge-touched label set's size is
        # data-dependent (billions of ids on a dup-heavy 100 TB corpus);
        # labels is a checkpointed RDD whose ACTUAL size AQE reads at
        # runtime, so it broadcasts when small and shuffle-anti-joins
        # when not — the regime choice stays automatic.
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return labels.unionAll(singletons)


def _packed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOUBLED packed-long co-purchase edge list every undirected
    graph algorithm walks: customer ids on the even rail (c*2), supplier
    ids on the odd (s*2+1), each distinct pair emitted in both
    directions. One definition — pagerank, components and assortativity
    all consume this projection off the pinned ``_cs_pairs`` memo, so a
    packing change cannot silently diverge between algorithms."""
    e0 = _cs_pairs(spark, sf_dir).select(
        (F.col("c") * 2).alias("src"),
        (F.col("s") * 2 + 1).alias("dst"),
    )
    return e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


# A rank vector of doubles keyed by packed-long node ids is ~16 B/row;
# past this many nodes (~80 MB serialized) broadcasting it every
# iteration stops being the cheap side and the iteration flips to the
# pre-partitioned shuffle regime below.
PAGERANK_BROADCAST_MAX_NODES = 5_000_000


@corpus_memo
def _cs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c, s) — the DISTINCT customer–supplier co-purchase edge list
    (lineitem ⋈ orders projected to the two entity keys), memoized per
    (session, corpus dir) as a localCheckpoint: it is the one
    fact-table-sized reduce the whole graph-analytics family walks
    (PageRank, HITS, k-core, modularity — each then applies its own id
    packing / direction union / community tagging to the pinned pair
    table). A production graph pipeline extracts the edge list once per
    snapshot and runs every algorithm against that artifact.

    No forced broadcast in the build: orders is SF-proportional, so AQE
    broadcasts the pruned 2-column side while small and shuffle-joins
    at large SF."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def pagerank_ranks(
    spark: SparkSession, edges: DataFrame, partitioned: bool | None = None
) -> tuple[DataFrame, int]:
    """Three damped PageRank iterations over an (src, dst) edge list in
    packed-long ids, returning (ranks, n_nodes). Two physical regimes,
    same algebra — dispatch on node count like ``sim_pairs``:

    CONTRACT: in the broadcast regime ``edges`` is re-scanned four times
    (degree build + one per iteration), so its plan must be cheap to
    re-evaluate — a narrow projection/filter off a pinned LogicalRDD
    (localCheckpoint/cache) or a parquet scan. Callers in this repo pass
    a projection off the localCheckpoint-pinned ``_cs_pairs`` memo. A
    caller handing an unpinned join/agg DAG is defended below: if the
    optimized plan still contains an expensive node (Join/Aggregate/
    Window/Generate) the raw 2-column edge list is localCheckpointed
    once before iteration so the DAG is evaluated exactly once.

    - broadcast (n_nodes ≤ ``PAGERANK_BROADCAST_MAX_NODES``): only the
      |V|-row DEGREE table checkpoints; the 2|E| edge rows stay the raw
      two-column projection off the session-pinned distinct-pair memo
      (narrow re-scan per iteration — no weighted third column ever
      materializes, no 2|E|-row checkpoint write). Each iteration folds
      rank/degree into a |V|-row broadcast (``r * (1.0/d)`` — the same
      float ops as the per-edge ``r * inv`` product, so the two regimes
      still agree to 1e-9) and aggregates contributions on dst. The
      r10 interleaved A/B: the old shape paid ~0.9 s building and
      pinning the weighted edge list before iteration one; this shape
      runs 1.85 → 1.24–1.5 s steady at sf0.1 (control key on band).
    - partitioned (above the threshold, or forced via ``partitioned=``):
      the weighted edge list pre-partitions on src BEFORE its checkpoint
      (LogicalRDD keeps the partitioning, so no iteration re-exchanges
      it) and each iteration's groupBy(dst) leaves the new rank vector
      hash-partitioned on the next join key — exactly ONE exchange per
      iteration, nothing broadcast, nothing collected.
    """
    if partitioned is not True:
        # Contract guard (see docstring): the broadcast regime re-scans
        # `edges` 4x. If the optimized plan still carries an expensive
        # node, pin the raw 2-column list once so the caller's DAG is
        # not silently recomputed per iteration. Repo-internal callers
        # pass Project/Filter over a pinned LogicalRDD and skip this.
        plan = edges._jdf.queryExecution().optimizedPlan().toString()
        if any(t in plan for t in ("Join", "Aggregate", "Window", "Generate")):
            edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_nodes: int | None = None
    if partitioned is not True:
        # Pin the |V|-row degree table (rank-vector-sized, safe at any
        # regime) — the regime decision, rank init, and per-iteration
        # weights all derive from it without touching the edge rows.
        deg = deg.localCheckpoint()
        # One driver-side scalar (node count) — O(1) result; both init
        # and the damping term need it as a literal.
        n_nodes = deg.count()
        if partitioned is None:
            partitioned = n_nodes > PAGERANK_BROADCAST_MAX_NODES
    if not partitioned:
        ranks = deg.select(
            F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r")
        )
        for _ in range(3):
            rod = ranks.join(F.broadcast(deg), ranks.node == deg.src).select(
                F.col("node"),
                (F.col("r") * (F.lit(1.0) / F.col("d"))).alias("w"),
            )
            ranks = (
                edges.join(F.broadcast(rod), edges.src == rod.node)
                .groupBy("dst")
                .agg(F.sum("w").alias("s"))
                .select(
                    F.col("dst").alias("node"),
                    (F.lit(0.15 / n_nodes) + F.lit(0.85) * F.col("s")).alias(
                        "r"
                    ),
                )
            )
        return ranks, n_nodes
    ewd = edges.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("inv")
    )
    # Pre-partition on src before the one checkpoint: LogicalRDD keeps
    # the layout, so no iteration re-exchanges the 2|E|-row side.
    ewd = ewd.repartition(F.col("src")).localCheckpoint()
    nodes = ewd.select(F.col("src").alias("node")).distinct()
    if n_nodes is None:
        n_nodes = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(3):
        contrib = ewd.join(ranks, ewd.src == ranks.node)
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("inv")).alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(0.15 / n_nodes) + F.lit(0.85) * F.col("s")).alias("r"),
            )
        )
    return ranks, n_nodes


@register(
    "k_graph_pagerank",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
             's' || l_suppkey::VARCHAR AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ), deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
    ew AS (
      SELECT e.src, e.dst, 1.0 / deg.d AS inv
      FROM edges e JOIN deg ON e.src = deg.src
    ),
    n AS (SELECT count(*) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n_nodes AS r FROM deg, n),
    r1 AS (
      SELECT e.dst AS node,
             0.15 / max(n.n_nodes) + 0.85 * sum(r0.r * e.inv) AS r
      FROM ew e JOIN r0 ON e.src = r0.node, n
      GROUP BY 1
    ),
    r2 AS (
      SELECT e.dst AS node,
             0.15 / max(n.n_nodes) + 0.85 * sum(r1.r * e.inv) AS r
      FROM ew e JOIN r1 ON e.src = r1.node, n
      GROUP BY 1
    ),
    r3 AS (
      SELECT e.dst AS node,
             0.15 / max(n.n_nodes) + 0.85 * sum(r2.r * e.inv) AS r
      FROM ew e JOIN r2 ON e.src = r2.node, n
      GROUP BY 1
    )
    SELECT node, round(r * 1000, 6) AS rank_x1000 FROM r3
    """,
)
def k_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, damping 0.85) over the bipartite
    customer↔supplier transaction graph mined from lineitem⋈orders — the
    entity-importance signal a curation pipeline uses to weight sources.

    Iterative DataFrame algebra: each iteration is contributions
    (rank/out-degree shipped along edges) + one hash aggregate per node —
    the standard distributed PageRank shape, fixed-point-free so both
    engines compute bit-comparable ranks (the DuckDB oracle unrolls the
    same three iterations as CTEs). Edges/degrees build once and reuse
    across iterations; at 100 TB each iteration is one shuffle on dst,
    and the edge list would be checkpoint-cached (here the plan is small
    enough to re-derive; localCheckpoint would pin it).

    Undirected walk (both edge directions) so every node has out-degree
    ≥ 1 — no dangling-mass correction term needed.

    Performance shape (A/B-measured ~35% faster than the naive plan at
    sf0.1): node ids are packed LONGS throughout the hot loop
    (2·custkey / 2·suppkey+1 — integer hash/compare in every join and
    aggregate) and only the final projection decodes the display string;
    orders broadcasts into the edge build (no lineitem shuffle); only
    the |V|-row degree table checkpoints, and every iteration broadcasts
    the rank×(1/deg) weight vector (|nodes| ≪ |edges|, the defining
    ratio of a transaction graph) over the raw two-column edge
    projection off the session-pinned pair memo — the 2|E|-row side
    never re-shuffles and never materializes a weight column.
    Above ``PAGERANK_BROADCAST_MAX_NODES`` the rank vector outgrows a
    sane broadcast and the iteration DISPATCHES (in code, like
    ``sim_pairs``' grid regime) to ``pagerank_ranks(partitioned=True)``:
    the edge list pre-partitions on src before its checkpoint and each
    iteration's groupBy leaves ranks hash-partitioned on the join key,
    so every iteration costs exactly ONE exchange and nothing
    broadcasts (plan-pinned by
    tests/test_plans.py::test_pagerank_partitioned_no_broadcast; value
    identity vs the broadcast regime pinned in test_operators.py).
    """
    # Packed-long encoding over the session-memoized distinct edge list
    # (the fact-sized reduce runs once per session for the graph family).
    edges = _packed_edges(spark, sf_dir)
    ranks, n_nodes = pagerank_ranks(spark, edges)
    half = (F.col("node") / 2).cast("long").cast("string")
    half_s = ((F.col("node") - 1) / 2).cast("long").cast("string")
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.concat(F.lit("c"), half))
        .otherwise(F.concat(F.lit("s"), half_s))
        .alias("node"),
        F.round(F.col("r") * 1000, 6).alias("rank_x1000"),
    )


from data_service_spark.registry import ORACLES as _ORACLES  # noqa: E402


@register(
    "k_eval_ann_recall",
    # The oracle COMPOSES the two registered pipelines verbatim as CTEs —
    # both are deterministic, so recall itself is hash-checkable.
    oracle=f"""
    WITH approx AS ({_ORACLES["k_sim_ann_sql"]}),
    exact AS ({_ORACLES["k_sim_topk"]})
    SELECT p.probe_id,
           count(a.neighbor_id) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM (SELECT DISTINCT probe_id FROM exact) p
    LEFT JOIN (SELECT probe_id, neighbor_id FROM exact WHERE rn <= 3) e3
      ON p.probe_id = e3.probe_id
    LEFT JOIN approx a
      ON a.probe_id = e3.probe_id AND a.neighbor_id = e3.neighbor_id
    GROUP BY 1
    """,
)
def k_eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the sign-random-projection index
    (k_sim_ann_sql) against exact brute-force top-3 (k_sim_topk), per probe
    — the measurement an index-tuning loop optimizes (more planes → purer
    buckets → higher recall, smaller candidate sets). Composes the two
    registered pipelines; because both are deterministic, even the
    EVALUATION is oracle-hash-checked — an unusual property this engine
    gets from its determinism-first design. Both inputs are probe-bounded
    (10 rows each side), so the evaluation cost is the two pipelines, not
    the join."""
    approx = k_sim_ann_sql(spark, sf_dir).select("probe_id", "neighbor_id")
    exact = k_sim_topk(spark, sf_dir)
    probes = exact.select("probe_id").distinct()
    e3 = exact.filter(F.col("rn") <= 3).select("probe_id", "neighbor_id")
    hits = e3.join(approx, ["probe_id", "neighbor_id"]).groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return probes.join(hits, "probe_id", "left").select(
        "probe_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(3.0), 4).alias("recall_at_3"),
    )


@register(
    "k_cluster_silhouette",
    oracle="""
    WITH cent AS (SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < 10),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sims AS (
      SELECT e.vec_id, cluster_id, list_inner_product(v, cv) AS sim
      FROM e CROSS JOIN cent
    ), ranked AS (
      SELECT vec_id, cluster_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(sim, 6) DESC, cluster_id) AS rn
      FROM sims
    ), margins AS (
      SELECT a.vec_id, a.cluster_id, a.sim - b.sim AS margin
      FROM ranked a JOIN ranked b
        ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT cluster_id, count(*) AS n_members,
           round(avg(margin), 4) AS avg_margin,
           round(min(margin), 4) AS worst_margin
    FROM margins GROUP BY 1
    """,
)
def k_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation (silhouette-style separation margin):
    per vector, cosine to its own centroid minus cosine to the runner-up
    centroid; per cluster, the average and worst margin — low margins flag
    clusters to split before using them as IVF cells (k_sim_ivf) or
    curriculum buckets. Like k_eval_ann_recall, the evaluation itself is
    deterministic and hash-checked. One broadcast of the centroid set; the
    corpus streams once; margins re-aggregate on the small (vec, rank≤2)
    set."""
    emb = _emb(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )
    sims = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster_id", dot(F.col("v"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("cluster_id")
    )
    ranked = sims.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    # r14 (census): the rn=1 ⋈ rn=2 self-join re-derived the whole
    # sims+window subtree per side (2 corpus scans + SMJ). One
    # conditional aggregation over the ranked rows yields both sims —
    # and it rides the window's vec_id partitioning, so no new exchange.
    # The sim2-null filter mirrors the inner join exactly (a vector
    # lacking a runner-up row was dropped there too).
    per_vec = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cluster_id"))).alias(
            "cluster_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("sim1"),
        F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("sim2"),
    )
    margins = per_vec.filter(F.col("sim2").isNotNull()).select(
        "vec_id", "cluster_id", (F.col("sim1") - F.col("sim2")).alias("margin")
    )
    return margins.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("margin"), 4).alias("avg_margin"),
        F.round(F.min("margin"), 4).alias("worst_margin"),
    )


@register(
    "k_text_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term AS keyword, score, rn FROM ranked WHERE rn <= 3
    """,
)
def k_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document (term tiebreak)
    — the auto-tagging pass that labels corpus documents for routing and
    mix decisions. Reuses the TF-IDF algebra over the FULL vocabulary,
    then a per-doc window over the already-small (doc, term, score) set.
    The idf table is Zipf-compact but VOCAB-sized (Heaps-law growth), so
    its join carries no broadcast hint — AQE broadcasts while small and
    term-partitions the join when the vocabulary outgrows the bound;
    rounding BEFORE ranking makes the cut identical across engines."""
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r13: tf rows ARE the distinct (doc, term) pairs, so df per term is
    # a plain count over the tf table — the second tokenize+explode and
    # its two-phase countDistinct shuffle fold into a vocab-keyed
    # re-aggregate of the count table (both branches share the tf
    # subtree, whose exchange Spark reuses).
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("term").alias("keyword"), "score", "rn")
    )


@register(
    "k_eval_dedup_recall",
    # Composes the two registered dedup pipelines verbatim as CTEs — both
    # deterministic, so the pair-level recall itself is hash-checked.
    oracle=f"""
    WITH lsh AS ({_ORACLES["k_dedup_minhash_sql"]}),
    exact AS ({_ORACLES["k_dedup_near"]}),
    hits AS (
      SELECT count(*) AS n_found
      FROM lsh JOIN exact USING (doc_id_1, doc_id_2)
    ), tot AS (SELECT count(*) AS n_exact FROM exact)
    SELECT tot.n_exact, hits.n_found,
           round(hits.n_found * 1.0 / tot.n_exact, 4) AS pair_recall
    FROM tot CROSS JOIN hits
    """,
)
def k_eval_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup index-quality evaluation: pair-level recall of the MinHash-LSH
    miner (k_dedup_minhash_sql) against the exact shingle-Jaccard ground
    truth (k_dedup_near). Candidates are exact-verified, so precision is 1
    by construction and recall is the whole quality story — the number a
    banding-parameter sweep (bands × rows) optimizes. Like the other k_eval
    keys, the evaluation composes deterministic pipelines and is itself
    oracle-hash-checked."""
    lsh = k_dedup_minhash_sql(spark, sf_dir).select("doc_id_1", "doc_id_2")
    # Both pair lists are session-memoized checkpoints (_minhash_pairs /
    # _near_pairs), so the hit join and the denominator each read tiny
    # materialized tables — the expensive mining underneath runs once per
    # session, not per reference.
    exact = k_dedup_near(spark, sf_dir).select("doc_id_1", "doc_id_2")
    hits = lsh.join(exact, ["doc_id_1", "doc_id_2"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return tot.crossJoin(hits).select(
        "n_exact",
        "n_found",
        F.round(F.col("n_found") * F.lit(1.0) / F.col("n_exact"), 4).alias(
            "pair_recall"
        ),
    )


@register(
    "k_graph_triangles",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ed AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) >= 0.3
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM ed e1 JOIN ed e2 ON e1.b = e2.a
                 JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([x, y, z]) AS node FROM tri)
    GROUP BY node
    """,
)
def k_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the similarity graph (edges = cosine
    >= 0.3 pairs): the clustering-coefficient numerator that separates a
    coherent near-duplicate CLUSTER (dense, many triangles) from a chain of
    pairwise matches (sparse) — the audit a dedup pass runs before deciding
    to drop whole groups.

    Canonical oriented-triangle algebra: edges stored once as (a < b);
    a triangle (x < y < z) is found exactly once by joining e1=(x,y),
    e2=(y,z) and checking the closing edge (x,z) — no double counting,
    no direction explosion. Scale: the thresholded edge list is orders of
    magnitude smaller than the input (Zipf-ish similarity tail) but still
    grows with it, so the joins carry no broadcast hint — AQE broadcasts
    the (checkpointed, size-known) edge list while small; at web scale
    the same joins shuffle-partition on the shared vertex, the standard
    distributed triangle-enumeration plan.
    Edge generation reuses the blocked-GEMM ``sim_pairs`` finder.
    """
    ed = sim_pairs(spark, sf_dir, 0.3).select(
        F.col("vec_id_1").alias("a"), F.col("vec_id_2").alias("b")
    )
    e1 = ed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = ed.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = ed.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "k_anonymize_kanon",
    oracle="""
    WITH quasi AS (
      SELECT c_custkey, n.n_name AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
      FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
    ), sized AS (
      SELECT *, count(*) OVER (PARTITION BY nation, segment, bal_band)
               AS group_size
      FROM quasi
    )
    SELECT c_custkey,
           CASE WHEN group_size >= 5 THEN nation ELSE '*' END AS nation,
           CASE WHEN group_size >= 5 THEN segment ELSE '*' END AS segment,
           CASE WHEN group_size >= 5 THEN CAST(bal_band AS VARCHAR)
                ELSE '*' END AS bal_band,
           CAST(group_size >= 5 AS BOOLEAN) AS released
    FROM sized
    """,
)
def k_anonymize_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=5) over quasi-identifiers — the privacy
    gate a curation pipeline applies before releasing joined user-adjacent
    data: any (nation, segment, balance-band) combination shared by fewer
    than k records is fully suppressed ('*'), so no released row's
    quasi-identifier tuple isolates fewer than k people.

    One window count over the quasi-identifier partition (single shuffle,
    same scale shape as any keyed window); generalization granularity
    (the 2000-unit balance band) is the tunable that trades utility for
    release rate. The oracle computes the identical suppression in SQL.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    quasi = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey",
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    w = Window.partitionBy("nation", "segment", "bal_band")
    sized = quasi.withColumn("group_size", F.count(F.lit(1)).over(w))
    ok = F.col("group_size") >= 5
    return sized.select(
        "c_custkey",
        F.when(ok, F.col("nation")).otherwise("*").alias("nation"),
        F.when(ok, F.col("segment")).otherwise("*").alias("segment"),
        F.when(ok, F.col("bal_band").cast("string")).otherwise("*").alias(
            "bal_band"
        ),
        ok.alias("released"),
    )


@register(
    "k_incremental_agg",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(max(o_orderkey) AS BIGINT) AS last_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def k_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the materialized per-status
    rollup is NOT recomputed when a late batch arrives — the stored
    partial (count/sum/max over the history slice) merges with the
    delta's partial via the aggregates' own merge algebra (counts add,
    sums add, maxes max). At 100 TB this is the difference between
    re-scanning years of history per ingest and touching only the new
    partition. The oracle computes the full aggregate directly — merge
    must be exact, which is why the money column flows as integer cents
    (double sums would drift under re-association).

    history/delta are split deterministically (orderkey mod 10) to stand
    in for 'yesterday's materialization' + 'today's batch'.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("revenue_cents"),
            F.max("o_orderkey").alias("last_key"),
        )

    history = partial(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 10 == 0))
    return (
        history.unionAll(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
            F.max("last_key").alias("last_key"),
        )
    )


@register(
    "k_expectations",
    oracle="""
    SELECT 'o_orderkey_not_null' AS rule,
           CAST(count(*) FILTER (WHERE o_orderkey IS NOT NULL) AS BIGINT)
             AS n_pass,
           CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
             AS n_fail
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           count(*) FILTER (WHERE o_totalprice > 0),
           count(*) FILTER (WHERE o_totalprice <= 0 OR o_totalprice IS NULL)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_in_domain',
           count(*) FILTER (WHERE o_orderstatus IN ('F', 'O', 'P')),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')
                            OR o_orderstatus IS NULL)
    FROM orders
    UNION ALL
    SELECT 'o_custkey_references_customer',
           count(*) FILTER (WHERE c.c_custkey IS NOT NULL),
           count(*) FILTER (WHERE c.c_custkey IS NULL)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def k_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (the DLT/Great-Expectations gate): a rule
    set — not-null, range, domain, referential integrity — evaluated over
    the fact table and emitted as a per-rule pass/fail ledger a pipeline
    checks before promoting a batch. The three row-local rules compute in
    ONE scan (a single aggregate of conditional counts, unpivoted to the
    ledger shape); the FK rule adds one broadcast join. At 100 TB you run
    exactly this shape per ingest partition, not per table. NULLs count
    as failures (coalesce before negation — ~NULL is NULL in SQL).
    """
    o = load(spark, sf_dir, "orders")

    def pf(name: str, passed):
        ok = F.coalesce(passed, F.lit(False))
        return [
            F.count(F.when(ok, 1)).alias(f"{name}__pass"),
            F.count(F.when(~ok, 1)).alias(f"{name}__fail"),
        ]

    local = o.agg(
        *pf("o_orderkey_not_null", F.col("o_orderkey").isNotNull()),
        *pf("o_totalprice_positive", F.col("o_totalprice") > 0),
        *pf(
            "o_orderstatus_in_domain",
            F.col("o_orderstatus").isin("F", "O", "P"),
        ),
    )
    rules = [
        "o_orderkey_not_null",
        "o_totalprice_positive",
        "o_orderstatus_in_domain",
    ]
    stack_expr = "stack({n}, {args}) AS (rule, n_pass, n_fail)".format(
        n=len(rules),
        args=", ".join(
            f"'{r}', {r}__pass, {r}__fail" for r in rules
        ),
    )
    local_long = local.selectExpr(stack_expr)
    c = load(spark, sf_dir, "customer").select("c_custkey")
    fk = (
        # no forced broadcast: customer is a dimension that outgrows the
        # broadcast bound at large SFs (AQE broadcasts the pruned 1-column
        # key side while it is small, shuffle-joins when it is not)
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .agg(*pf("fk", F.col("c_custkey").isNotNull()))
        .select(
            F.lit("o_custkey_references_customer").alias("rule"),
            F.col("fk__pass").alias("n_pass"),
            F.col("fk__fail").alias("n_fail"),
        )
    )
    return local_long.unionAll(fk)


@register(
    "k_dedup_apply",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]})
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE doc_id = cluster_id) AS BIGINT)
             AS n_kept,
           CAST(count(*) FILTER (WHERE doc_id <> cluster_id) AS BIGINT)
             AS n_dropped,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM labels
    """,
)
def k_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied: keep one canonical document per
    connected-component cluster (the min-doc_id representative
    k_dedup_clusters labels) and report the retention ledger — total /
    kept / dropped / cluster count — the numbers a curation run logs and
    alerts on (a dedup pass that suddenly drops 40% is a pipeline bug,
    not a cleaner corpus). Composes the registered clustering verbatim;
    one aggregate over its labels.
    """
    labels = k_dedup_clusters(spark, sf_dir)
    return labels.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("doc_id") == F.col("cluster_id"), 1)).alias(
            "n_kept"
        ),
        F.count(F.when(F.col("doc_id") != F.col("cluster_id"), 1)).alias(
            "n_dropped"
        ),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )


@register(
    "k_dataset_card",
    oracle="""
    WITH s AS (
      SELECT lang, n_chars,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ), tot AS (SELECT count(*) AS n FROM s)
    SELECT s.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 100.0 / max(tot.n), 2) AS pct_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           round(avg(n_words), 2) AS avg_words,
           CAST(min(n_words) AS BIGINT) AS min_words,
           CAST(max(n_words) AS BIGINT) AS max_words
    FROM s CROSS JOIN tot
    GROUP BY s.lang
    """,
)
def k_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-language composition report a curation run
    publishes with every release — doc counts and share, char/word
    volumes, word-length distribution. One scan + one hash aggregate; the
    corpus total rides along as a broadcast scalar join, so the report
    costs the same at 100 TB as the groupBy underneath it.
    """
    d = load(spark, sf_dir, "documents").select(
        "lang", "n_chars", F.size(F.split("text", " ")).alias("n_words")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.count(F.lit(1)) * 100.0 / F.max("n"), 2).alias(
                "pct_docs"
            ),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.round(F.avg("n_words"), 2).alias("avg_words"),
            F.min("n_words").cast("long").alias("min_words"),
            F.max("n_words").cast("long").alias("max_words"),
        )
    )


@register(
    "k_vocab_coverage",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS cnt FROM words GROUP BY w
        ORDER BY cnt DESC, w LIMIT 100
      )
    )
    SELECT words.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(*) FILTER (WHERE vocab.w IS NULL) AS BIGINT) AS n_oov,
           round(count(*) FILTER (WHERE vocab.w IS NULL) * 1.0 / count(*), 4)
             AS oov_rate
    FROM words LEFT JOIN vocab ON words.w = vocab.w
    GROUP BY words.doc_id
    """,
)
def k_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate per document against the corpus'
    top-100 words — the tokenizer-fit metric a data pipeline computes
    before committing to a vocab (high OOV → wrong tokenizer or wrong
    corpus slice). Two aggregates and one BROADCAST join: the vocab is
    top-N by construction, so membership travels to the data; per-doc
    rates need no second scan of text. Deterministic via the (count,
    word) tiebreak on the vocab boundary.
    """
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(100)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


@register(
    "k_dedup_semantic",
    # Composes the registered centroid-assignment pipeline verbatim as a
    # CTE, then applies the same min-id cosine-threshold rule CLUSTER-
    # LOCALLY — the oracle checks the full two-stage pipeline.
    oracle=f"""
    WITH assign AS ({_ORACLES["k_cluster_assign"]}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT a.vec_id, a.cluster_id, e.v
          FROM assign a JOIN e USING (vec_id)),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM m a JOIN m b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) >= 0.4
    )
    SELECT m.vec_id, m.cluster_id, emb.label
    FROM m JOIN embeddings emb USING (vec_id)
    WHERE m.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def k_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every embedding to its nearest centroid (k_cluster_assign), then
    drop any vector with a smaller-id SAME-CLUSTER neighbor at cosine >=
    0.4. Same min-id rule as k_dedup_embedding, but the candidate-pair
    search is cluster-scoped — this is the published scale recipe for
    semantic dedup: with C clusters the pair space shrinks from O(n^2) to
    sum(m_c^2), and C grows with the corpus so per-cluster sizes stay
    bounded.

    Spark shape: the within-cluster pair search is a SALTED equi-join on
    (cluster_id, salt) — the probe side keyed by id_a's salt, the build
    side replicated across the 8 salts — so parallelism scales with
    occupancy × salts instead of being capped at the cluster COUNT (10
    clusters left 22 of 32 shuffle partitions empty; r09 interleaved
    same-session A/B: 1.40–1.64 → 0.92–1.12 s at sf0.1, bench min-of-3
    1.873 → 0.81, and the same fix is what keeps one mega-
    cluster from serializing a task at 100 TB). Every (id_a, id_b) pair
    still meets exactly once (in id_a's salt partition). No broadcast of
    the full corpus, no BNLJ; the dot product is the Catalyst
    higher-order fold, and the dropped-id set — small by construction —
    broadcasts into a left-anti join.
    """
    n_salts = 8
    assign = k_cluster_assign(spark, sf_dir).select("vec_id", "cluster_id")
    emb = _emb(spark, sf_dir)
    m = assign.join(emb, "vec_id").select("vec_id", "cluster_id", "v", "label")
    a = m.select(
        F.col("vec_id").alias("id_a"),
        "cluster_id",
        F.col("v").alias("va"),
        F.pmod(F.col("vec_id"), F.lit(n_salts)).alias("salt"),
    )
    b = m.select(
        F.col("vec_id").alias("id_b"), "cluster_id", F.col("v").alias("vb")
    ).withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    dropped = (
        a.join(b, ["cluster_id", "salt"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (dot(F.col("va"), F.col("vb")) >= 0.4)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    # no forced broadcast: the dropped-id set grows with the dup mass;
    # AQE broadcasts it while small, shuffle-anti-joins when not
    return m.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster_id", "label"
    )


@register(
    "k_eval_lsh_calibration",
    # Composes the exact-Jaccard miner and the MinHash-LSH candidate
    # generator verbatim; the hash gate checks the whole calibration.
    oracle=f"""
    WITH exact AS ({_ORACLES["k_dedup_near"]}),
    cand AS ({_ORACLES["k_dedup_minhash_sql"]})
    SELECT round(floor(e.jaccard * 10) / 10, 1) AS jac_band,
           count(*) AS n_pairs,
           count(c.doc_id_1) AS n_detected,
           round(count(c.doc_id_1) * 1.0 / count(*), 4) AS detect_rate
    FROM exact e
    LEFT JOIN (SELECT doc_id_1, doc_id_2 FROM cand) c
      USING (doc_id_1, doc_id_2)
    GROUP BY 1
    """,
)
def k_eval_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve calibration: per true-Jaccard decile, the fraction of
    exact near-dup pairs (k_dedup_near) that the MinHash band-bucket
    candidate generator (k_dedup_minhash_sql) actually surfaces — the
    measurement that tunes (bands, rows) before trusting LSH at scale,
    where running the exact miner corpus-wide is impossible. High bands
    should detect at ~1.0; the rate decaying toward the threshold maps
    the S-curve's knee. Like k_eval_ann_recall, the EVALUATION itself is
    oracle-hash-checked because both composed pipelines are deterministic.

    Cost is the two pipelines (each already posting-list-shaped); the
    calibration join is keyed by pair id and its output is bounded by the
    exact-pair count, which a real run bounds by sampling strata of
    doc-pairs — the composition shape is unchanged.
    """
    exact = k_dedup_near(spark, sf_dir)
    cand = k_dedup_minhash_sql(spark, sf_dir).select(
        "doc_id_1", "doc_id_2", F.lit(1).alias("hit")
    )
    band = F.round(F.floor(F.col("jaccard") * 10) / 10, 1)
    return (
        exact.join(cand, ["doc_id_1", "doc_id_2"], "left")
        .groupBy(band.alias("jac_band"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count("hit").alias("n_detected"),
            F.round(F.count("hit") * 1.0 / F.count(F.lit(1)), 4).alias(
                "detect_rate"
            ),
        )
    )



@register(
    "k_coreset_kcenter",
    # The greedy recurrence unrolled declaratively: each pX picks the
    # farthest-from-selected point, each dX folds it into the running min
    # distance. 5 steps — the oracle IS the algorithm, just unrolled.
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    d1 AS (SELECT vec_id, v,
                  2 - 2 * list_inner_product(v,
                    (SELECT v FROM e WHERE vec_id = 0)) AS dmin
           FROM e),
    p2 AS (SELECT vec_id AS sid, v AS sv, round(dmin, 6) AS sd FROM d1
           ORDER BY round(dmin, 6) DESC, vec_id LIMIT 1),
    d2 AS (SELECT vec_id, v, least(dmin,
             2 - 2 * list_inner_product(v, (SELECT sv FROM p2))) AS dmin
           FROM d1),
    p3 AS (SELECT vec_id AS sid, v AS sv, round(dmin, 6) AS sd FROM d2
           ORDER BY round(dmin, 6) DESC, vec_id LIMIT 1),
    d3 AS (SELECT vec_id, v, least(dmin,
             2 - 2 * list_inner_product(v, (SELECT sv FROM p3))) AS dmin
           FROM d2),
    p4 AS (SELECT vec_id AS sid, v AS sv, round(dmin, 6) AS sd FROM d3
           ORDER BY round(dmin, 6) DESC, vec_id LIMIT 1),
    d4 AS (SELECT vec_id, v, least(dmin,
             2 - 2 * list_inner_product(v, (SELECT sv FROM p4))) AS dmin
           FROM d3),
    p5 AS (SELECT vec_id AS sid, v AS sv, round(dmin, 6) AS sd FROM d4
           ORDER BY round(dmin, 6) DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS INT) AS step, CAST(0 AS BIGINT) AS vec_id,
           0.0 AS sel_dist
    UNION ALL SELECT 2, (SELECT sid FROM p2), (SELECT sd FROM p2)
    UNION ALL SELECT 3, (SELECT sid FROM p3), (SELECT sd FROM p3)
    UNION ALL SELECT 4, (SELECT sid FROM p4), (SELECT sd FROM p4)
    UNION ALL SELECT 5, (SELECT sid FROM p5), (SELECT sd FROM p5)
    """,
)
def k_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the data-selection
    scheme behind diversity-maximizing subset pickers): seed with vec_id 0,
    then 4× pick the point FARTHEST from everything already selected
    (squared L2 on unit vectors: d² = 2 − 2·cos, so only dot products are
    computed). Output = the selection order and each pick's distance-at-
    selection — the decreasing sequence whose last value is the 2-approx
    coverage radius.

    Spark runs the natural driver loop: the selected center round-trips to
    the driver as ONE ROW per round and re-enters the plan as a 64-double
    literal array, so each round is a single TakeOrdered job whose input is
    the parquet scan plus r codegen `least`/dot folds — no join, no
    shuffle, and (unlike the earlier broadcast-crossJoin form) no eager
    localCheckpoint that would spool the corpus-sized distance table to
    disk every round at 100 TB. The oracle unrolls the same recurrence as
    nested CTEs; round(·,6)+vec_id tiebreaks pin the argmax across
    engines. At 100 TB each round is one scan-speed map over the running-
    distance table (k rounds, k small by design)."""
    emb = _emb(spark, sf_dir).select("vec_id", "v")

    def lit_vec(vals: list[float]) -> Column:
        return F.array(*[F.lit(float(x)) for x in vals])

    seed = emb.filter(F.col("vec_id") == 0).select("v").collect()[0].v
    d = emb.select(
        "vec_id", "v", (2 - 2 * dot(F.col("v"), lit_vec(seed))).alias("dmin")
    )
    picks = [(1, 0, 0.0)]
    for step in range(2, 6):
        row = (
            d.select("vec_id", F.round("dmin", 6).alias("sd"), "v")
            .orderBy(F.col("sd").desc(), "vec_id")
            .limit(1)
            .collect()
        )[0]
        picks.append((step, row.vec_id, float(row.sd)))
        d = d.select(
            "vec_id",
            "v",
            F.least(
                F.col("dmin"), 2 - 2 * dot(F.col("v"), lit_vec(row.v))
            ).alias("dmin"),
        )
    return spark.createDataFrame(
        picks, "step int, vec_id bigint, sel_dist double"
    )


@register(
    "k_eval_cluster_purity",
    oracle=f"""
    WITH assign AS ({_ORACLES["k_cluster_assign"]}),
    m AS (
      SELECT a.cluster_id, e.label
      FROM assign a JOIN embeddings e USING (vec_id)
    ), lc AS (
      SELECT cluster_id, label, count(*) AS n_l
      FROM m GROUP BY cluster_id, label
    ), top AS (
      SELECT cluster_id, label AS top_label, n_l AS n_top,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_l DESC, label) AS rn
      FROM lc
    ), sz AS (SELECT cluster_id, count(*) AS n FROM m GROUP BY cluster_id)
    SELECT s.cluster_id, s.n, t.top_label, t.n_top,
           round(t.n_top * 1.0 / s.n, 4) AS purity
    FROM sz s JOIN top t ON s.cluster_id = t.cluster_id AND t.rn = 1
    """,
)
def k_eval_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-label purity: per nearest-centroid cluster
    (k_cluster_assign), the majority ground-truth label's share — the
    external clustering-quality check that complements the internal
    silhouette margin (k_cluster_silhouette): purity near 1/n_labels means
    the clustering ignores the label structure; near 1.0 means clusters
    could stand in for labels (e.g. as curriculum or IVF cells). The
    composition is oracle-hash-checked like the other eval keys.

    Shape: the assignment pipeline + two keyed aggregates + an argmax
    window over the (cluster × label) table — whose size is bounded by
    C·L, not the corpus."""
    assign = k_cluster_assign(spark, sf_dir).select("vec_id", "cluster_id")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    m = assign.join(emb, "vec_id").select("cluster_id", "label")
    lc = m.groupBy("cluster_id", "label").agg(F.count(F.lit(1)).alias("n_l"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_l").desc(), F.col("label")
    )
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("top_label"),
            F.col("n_l").alias("n_top"),
        )
    )
    sz = m.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    return sz.join(top, "cluster_id").select(
        "cluster_id",
        "n",
        "top_label",
        "n_top",
        F.round(F.col("n_top") * 1.0 / F.col("n"), 4).alias("purity"),
    )


@register(
    "k_ivf_balance",
    oracle=f"""
    WITH assign AS ({_ORACLES["k_cluster_assign"]}),
    cent AS (SELECT vec_id AS cluster_id FROM embeddings WHERE vec_id < 10),
    tot AS (SELECT count(*) AS n, (SELECT count(*) FROM cent) AS k
            FROM assign),
    cells AS (SELECT cluster_id, count(*) AS n_vecs FROM assign GROUP BY 1)
    SELECT c.cluster_id,
           CAST(coalesce(ce.n_vecs, 0) AS BIGINT) AS n_vecs,
           CAST(floor(coalesce(ce.n_vecs, 0) * 1000000 / t.n) AS BIGINT)
             AS share_ppm,
           CAST(floor(coalesce(ce.n_vecs, 0) * t.k * 1000000 / t.n)
             AS BIGINT) AS load_x_mean_ppm,
           (coalesce(ce.n_vecs, 0) * t.k > 2 * t.n) AS hot,
           (coalesce(ce.n_vecs, 0) = 0) AS empty_cell
    FROM cent c LEFT JOIN cells ce USING (cluster_id) CROSS JOIN tot t
    """,
)
def k_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health audit: per inverted-list cell (the nearest-centroid
    assignment ``k_cluster_assign`` that ``k_sim_ivf`` probes), the list
    size, corpus share, and load-vs-mean ratio — plus the two alarm flags
    an ANN operator pages on: HOT cells (>2× the mean list, so probing
    them dominates query latency and recall tuning lies) and EMPTY cells
    (wasted centroids — the clustering collapsed). This is the audit that
    decides when an IVF index needs re-training as the corpus drifts; the
    capacity-planning twin of the quality-side ``k_eval_cluster_purity``.

    All ratios are exact-integer floor-ppm over BIGINT counts (order-proof
    cross-engine). Scale shape: composes the session-memoized assignment
    (one corpus reduce to (cluster) counts); the audit itself runs on the
    k-row centroid spine — zero cells come from the spine's left join, so
    a collapsed centroid cannot hide.
    """
    assign = k_cluster_assign(spark, sf_dir).select("cluster_id")
    cent = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("cluster_id"))
    )
    cells = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = assign.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        cent.agg(F.count(F.lit(1)).alias("k"))
    )
    nv = F.coalesce(F.col("n_vecs"), F.lit(0))
    return (
        cent.join(cells, "cluster_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_id",
            nv.cast("long").alias("n_vecs"),
            F.floor(nv * 1000000 / F.col("n")).cast("long").alias(
                "share_ppm"
            ),
            F.floor(nv * F.col("k") * 1000000 / F.col("n"))
            .cast("long")
            .alias("load_x_mean_ppm"),
            (nv * F.col("k") > 2 * F.col("n")).alias("hot"),
            (nv == 0).alias("empty_cell"),
        )
    )


@register(
    "k_negatives_random",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS negative_id,
             ('0x' || substr(md5(concat('neg:', a.vec_id::VARCHAR, ':',
                                        b.vec_id::VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM embeddings a JOIN embeddings b ON a.label <> b.label
      WHERE a.vec_id < 20
    ), ranked AS (
      SELECT anchor_id, anchor_label, negative_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY h, negative_id) AS rn
      FROM pairs
    )
    SELECT anchor_id, anchor_label, negative_id, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 4
    """,
)
def k_negatives_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform (hash-)random negative sampling for contrastive training:
    per anchor, 4 pseudo-random different-label negatives picked by a
    salted-pair hash order — the easy-negatives counterpart of
    k_hard_negatives (training recipes mix both; random negatives keep
    gradients unbiased, hard ones sharpen the margin). Hash order instead
    of rand(): reproducible across engines, reruns, and backfills — the
    same determinism convention as every sampler in this repo.

    Anchors are a bounded probe set (broadcast); candidates stream once;
    the per-anchor pick is a rank window over each anchor's candidate
    list. At 100 TB you'd pre-bucket candidates by hash range instead of
    ranking all n per anchor — the hash-order semantics are unchanged."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
        )
    )
    b = emb.select(
        F.col("vec_id").alias("negative_id"), F.col("label").alias("neg_label")
    )
    h = F.expr(
        "CAST(conv(substr(md5(concat('neg:', CAST(anchor_id AS STRING), ':',"
        " CAST(negative_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("anchor_label") != F.col("neg_label"))
        .select("anchor_id", "anchor_label", "negative_id", h.alias("h"))
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "negative_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select("anchor_id", "anchor_label", "negative_id", F.col("rn").cast("int").alias("rn"))
    )


# ------------------------------------------- product quantization ANN ----


def _pq_stage(spark: SparkSession, sf_dir: str):
    """Shared PQ leg of ``k_sim_pq`` / ``k_sim_pq_rerank``: M=4 subvector
    split, 16-entry codebook per subspace, argmin encode, and the
    query-0 ADC sum per corpus vector. Returns (emb, adist).

    r13 shape: the per-(vec_id, m) argmin is a ``min(struct(rd, k))``
    hash aggregate — partial map-side combine, no per-partition sort —
    instead of the former rn=1 window (4n two-row sort partitions); the
    struct's lexicographic order (rounded dist, then k) is exactly the
    window's ORDER BY, so the selected code is identical."""
    emb = _emb(spark, sf_dir)
    ms = F.array([F.lit(i) for i in range(4)])
    sub = emb.select("vec_id", F.explode(ms).alias("m"), "v").select(
        "vec_id", "m", F.expr("slice(v, m * 16 + 1, 16)").alias("s")
    )
    cb = sub.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("k"), F.col("m").alias("cm"), F.col("s").alias("cv")
    )
    sq = F.aggregate(
        F.zip_with(F.col("s"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = sub.join(F.broadcast(cb), F.col("m") == F.col("cm")).select(
        "vec_id", "m", "k", sq.alias("dist2")
    )
    code = (
        scored.groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(F.round("dist2", 6).alias("rd"), F.col("k").alias("k"))
            ).alias("mn")
        )
        .select("vec_id", "m", F.col("mn.k").alias("k"))
    )
    qd = (
        sub.filter(F.col("vec_id") == 0)
        .select(F.col("m").alias("qm"), F.col("s").alias("qs"))
        .join(F.broadcast(cb), F.col("qm") == F.col("cm"))
        .select(
            F.col("qm").alias("m"),
            "k",
            F.aggregate(
                F.zip_with(
                    F.col("qs"), F.col("cv"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("qdist"),
        )
    )
    adist = (
        code.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qd), ["m", "k"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").alias("ad"))
    )
    return emb, adist


@register(
    "k_sim_pq",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    sub AS (
      SELECT vec_id, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS s
      FROM e, unnest([0, 1, 2, 3]) AS t(m)
    ), cb AS (
      SELECT vec_id AS k, m, s AS cv FROM sub WHERE vec_id < 16
    ), enc AS (
      SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY round(dist2, 6), k) AS rn
      FROM (SELECT s.vec_id, s.m, cb.k,
                   pow(list_distance(s.s, cb.cv), 2) AS dist2
            FROM sub s JOIN cb ON s.m = cb.m)
    ), q AS (
      SELECT m, s AS qs FROM sub WHERE vec_id = 0
    ), qd AS (
      SELECT cb.m, cb.k, pow(list_distance(q.qs, cb.cv), 2) AS qdist
      FROM cb JOIN q ON cb.m = q.m
    ), code AS (
      SELECT vec_id, m, k FROM enc WHERE rn = 1
    ), adist AS (
      SELECT c.vec_id, sum(qd.qdist) AS ad
      FROM code c JOIN qd ON c.m = qd.m AND c.k = qd.k
      WHERE c.vec_id <> 0
      GROUP BY 1
    )
    SELECT vec_id, round(ad, 4) AS adist,
           CAST(row_number() OVER (ORDER BY round(ad, 6), vec_id) AS BIGINT)
             AS rn
    FROM adist QUALIFY rn <= 10
    """,
)
def k_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 64-dim vectors split
    into M=4 subspaces of 16 dims; each subvector is encoded as the id of
    its nearest of 16 codebook centroids (here the subvectors of the 16
    lowest vec_ids — a real system trains them offline by k-means on a
    sample, which is the same broadcast shape). A query then scores the
    WHOLE corpus from a 4×16 lookup table of subspace distances
    (asymmetric distance computation) — top-10 for the vec_id-0 query.

    Scale: this is the memory-bound regime's answer — codes are M bytes
    per vector (16× compression here, 64× at byte-per-subspace), encoding
    is a broadcast-joined map-only pass, ADC is a broadcast 64-row LUT
    join + 4-row sum per vector with NO full-vector reads, and the top-10
    is TakeOrderedAndProject. Argmin and ranking order on 6dp-rounded
    distances with id tiebreaks so cross-engine float noise cannot flip a
    code assignment. r13: argmin encode runs as a min(struct) hash
    aggregate and the global top-10 as orderBy+limit (TakeOrdered) with
    the rank window over the 10 survivors — same total order, no global
    sort, no 4n sort partitions (plan diff in plans/r13/).
    """
    _, adist = _pq_stage(spark, sf_dir)
    wr = Window.orderBy(F.round("ad", 6), F.col("vec_id"))
    return (
        adist.orderBy(F.round("ad", 6), "vec_id")
        .limit(10)
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .select("vec_id", F.round("ad", 4).alias("adist"), "rn")
    )


@register(
    "k_sim_pq_rerank",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    sub AS (
      SELECT vec_id, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS s
      FROM e, unnest([0, 1, 2, 3]) AS t(m)
    ), cb AS (
      SELECT vec_id AS k, m, s AS cv FROM sub WHERE vec_id < 16
    ), enc AS (
      SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY round(dist2, 6), k) AS rn
      FROM (SELECT s.vec_id, s.m, cb.k,
                   pow(list_distance(s.s, cb.cv), 2) AS dist2
            FROM sub s JOIN cb ON s.m = cb.m)
    ), q AS (
      SELECT m, s AS qs FROM sub WHERE vec_id = 0
    ), qd AS (
      SELECT cb.m, cb.k, pow(list_distance(q.qs, cb.cv), 2) AS qdist
      FROM cb JOIN q ON cb.m = q.m
    ), code AS (
      SELECT vec_id, m, k FROM enc WHERE rn = 1
    ), shortlist AS (
      SELECT c.vec_id,
             row_number() OVER (ORDER BY round(sum(qd.qdist), 6), c.vec_id)
               AS prn
      FROM code c JOIN qd ON c.m = qd.m AND c.k = qd.k
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id
    )
    SELECT s.vec_id,
           round(list_distance(e.v, qv.v), 4) AS exact_dist,
           CAST(row_number() OVER (
                  ORDER BY round(list_distance(e.v, qv.v), 6), s.vec_id)
                AS BIGINT) AS rn
    FROM (SELECT vec_id FROM shortlist WHERE prn <= 50) s
    JOIN e ON s.vec_id = e.vec_id
    CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) qv
    QUALIFY rn <= 10
    """,
)
def k_sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: the PQ approximate scan shortlists 50
    candidates from compressed codes, then ONLY those 50 re-read their
    full vectors for an exact L2 rerank to top-10 — the standard
    IVF/PQ + rerank architecture (full-precision reads drop from corpus
    size to shortlist size, the difference between scanning 100 TB of
    floats and 50 rows of them). r13: PQ stage shared with ``k_sim_pq``
    (min(struct) argmin encode, see ``_pq_stage``), shortlist and final
    top-10 as orderBy+limit TakeOrdered instead of global rank windows.
    """
    emb, adist = _pq_stage(spark, sf_dir)
    shortlist = (
        adist.orderBy(F.round("ad", 6), "vec_id").limit(50).select("vec_id")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    wr = Window.orderBy(F.round("exact_dist", 6), F.col("vec_id"))
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", exact.alias("exact_dist"))
        .orderBy(F.round("exact_dist", 6), "vec_id")
        .limit(10)
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .select("vec_id", F.round("exact_dist", 4).alias("exact_dist"), "rn")
    )


@register(
    "k_rag_mmr",
    # Greedy MMR unrolled as CTE steps, kcenter-style: each pX is one
    # argmax of the 6dp-rounded MMR score; each dX folds the new pick into
    # the running max-similarity-to-selected column.
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cand AS (
      SELECT vec_id, v,
             list_inner_product(v, (SELECT v FROM e WHERE vec_id = 0)) AS sim
      FROM e WHERE vec_id <> 0
      ORDER BY round(list_inner_product(v,
                (SELECT v FROM e WHERE vec_id = 0)), 6) DESC, vec_id
      LIMIT 20
    ),
    p1 AS (SELECT vec_id AS sid, v AS sv, round(0.7 * sim, 6) AS sc
           FROM cand ORDER BY round(sim, 6) DESC, vec_id LIMIT 1),
    d1 AS (SELECT vec_id, v, sim,
                  list_inner_product(v, (SELECT sv FROM p1)) AS msim
           FROM cand WHERE vec_id <> (SELECT sid FROM p1)),
    p2 AS (SELECT vec_id AS sid, v AS sv,
                  round(0.7 * sim - 0.3 * msim, 6) AS sc
           FROM d1 ORDER BY round(0.7 * sim - 0.3 * msim, 6) DESC, vec_id
           LIMIT 1),
    d2 AS (SELECT vec_id, v, sim,
                  greatest(msim, list_inner_product(v, (SELECT sv FROM p2)))
                    AS msim
           FROM d1 WHERE vec_id <> (SELECT sid FROM p2)),
    p3 AS (SELECT vec_id AS sid, v AS sv,
                  round(0.7 * sim - 0.3 * msim, 6) AS sc
           FROM d2 ORDER BY round(0.7 * sim - 0.3 * msim, 6) DESC, vec_id
           LIMIT 1),
    d3 AS (SELECT vec_id, v, sim,
                  greatest(msim, list_inner_product(v, (SELECT sv FROM p3)))
                    AS msim
           FROM d2 WHERE vec_id <> (SELECT sid FROM p3)),
    p4 AS (SELECT vec_id AS sid, v AS sv,
                  round(0.7 * sim - 0.3 * msim, 6) AS sc
           FROM d3 ORDER BY round(0.7 * sim - 0.3 * msim, 6) DESC, vec_id
           LIMIT 1),
    d4 AS (SELECT vec_id, v, sim,
                  greatest(msim, list_inner_product(v, (SELECT sv FROM p4)))
                    AS msim
           FROM d3 WHERE vec_id <> (SELECT sid FROM p4)),
    p5 AS (SELECT vec_id AS sid, v AS sv,
                  round(0.7 * sim - 0.3 * msim, 6) AS sc
           FROM d4 ORDER BY round(0.7 * sim - 0.3 * msim, 6) DESC, vec_id
           LIMIT 1)
    SELECT CAST(1 AS INT) AS step, (SELECT sid FROM p1) AS vec_id,
           (SELECT sc FROM p1) AS mmr_score
    UNION ALL SELECT 2, (SELECT sid FROM p2), (SELECT sc FROM p2)
    UNION ALL SELECT 3, (SELECT sid FROM p3), (SELECT sc FROM p3)
    UNION ALL SELECT 4, (SELECT sid FROM p4), (SELECT sc FROM p4)
    UNION ALL SELECT 5, (SELECT sid FROM p5), (SELECT sc FROM p5)
    """,
)
def k_rag_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998),
    the diversity stage of a RAG retriever: from the query's cosine top-20
    shortlist, greedily pick 5 passages maximizing
    0.7·sim(query, d) − 0.3·max_{s∈selected} sim(d, s) — relevance traded
    against redundancy, so near-duplicate hits don't crowd the context
    window.

    The corpus-sized work is only the top-20 shortlist (TakeOrdered over a
    broadcast-query dot product — the k_sim_topk shape). The greedy loop
    runs driver-side on the collected shortlist: the candidate set is 20
    rows BY CONSTRUCTION at any corpus size, so the O(k·20) pair dots are
    400 float ops — r13 replaced the former per-round Spark loop (5
    collect + localCheckpoint jobs over the same 20 rows) with one job +
    local greedy, interleaved A/B 1.60 -> 0.62 s min at sf0.1 (new wins
    all 5 reps, values identical). Bit
    identity with the old in-Spark loop: the pair dot reproduces `dot`'s
    sequential left fold (same IEEE order), and scoring reproduces
    Spark's round(x, 6) = BigDecimal.valueOf (shortest-repr) HALF_UP via
    Decimal(repr(x)) — hash-checked at all three SFs. Scores rank on 6dp
    rounds with vec_id tiebreaks across engines.
    """
    from decimal import ROUND_HALF_UP, Decimal

    emb = _emb(spark, sf_dir).select("vec_id", "v")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", dot(F.col("v"), F.col("qv")).alias("sim"))
        .orderBy(F.round("sim", 6).desc(), "vec_id")
        .limit(20)
        .collect()
    )

    def round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def pair_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rows = [
        {"vec_id": r.vec_id, "v": list(r.v), "sim": r.sim, "msim": None}
        for r in cand
    ]
    picks = []
    for step in range(1, 6):
        best = None
        for r in rows:
            sc = round6(
                0.7 * r["sim"]
                if step == 1
                else 0.7 * r["sim"] - 0.3 * r["msim"]
            )
            if best is None or (-sc, r["vec_id"]) < (-best[1], best[0]):
                best = (r["vec_id"], sc, r["v"])
        picks.append((step, best[0], best[1]))
        sv = best[2]
        rows = [r for r in rows if r["vec_id"] != best[0]]
        for r in rows:
            d = pair_dot(r["v"], sv)
            r["msim"] = d if r["msim"] is None else max(r["msim"], d)
    return spark.createDataFrame(
        picks, "step int, vec_id bigint, mmr_score double"
    )


@register(
    "k_anonymize_ldiv",
    oracle="""
    WITH quasi AS (
      SELECT n.n_name AS nation,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             c_mktsegment AS segment
      FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
    )
    SELECT nation, bal_band, count(*) AS n,
           count(DISTINCT segment) AS l,
           CAST(count(DISTINCT segment) >= 3 AS BOOLEAN) AS diverse
    FROM quasi GROUP BY 1, 2
    """,
)
def k_anonymize_ldiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the k-anonymity
    follow-up: a quasi-identifier group that is large enough (k-anonymous)
    can STILL leak if everyone in it shares the sensitive value. Per
    (nation, balance-band) equivalence class: size, number of distinct
    sensitive values (market segment), and the l≥3 release flag — the
    audit k_anonymize_kanon's suppression decision should consult next.

    One groupBy with a distinct-count (two-level partial aggregate);
    output is equivalence-class-sized, never row-sized.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    quasi = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("segment"),
    )
    return quasi.groupBy("nation", "bal_band").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("segment").alias("l"),
        (F.countDistinct("segment") >= 3).alias("diverse"),
    )


def _body_tclose() -> str:
    return """
    WITH quasi AS (
      SELECT n.n_name AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS s
      FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
    ), cls AS (
      SELECT nation, segment, count(*) AS n_c FROM quasi GROUP BY 1, 2
    ), sens AS (SELECT s, count(*) AS n_s FROM quasi GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM quasi),
    cells AS (
      SELECT nation, segment, s, count(*) AS n_cs FROM quasi GROUP BY 1, 2, 3
    ), grid AS (
      SELECT c.nation, c.segment, c.n_c, se.s, se.n_s,
             coalesce(ce.n_cs, 0) AS n_cs
      FROM cls c CROSS JOIN sens se
      LEFT JOIN cells ce
        ON ce.nation = c.nation AND ce.segment = c.segment AND ce.s = se.s
    ), d AS (
      SELECT g.nation, g.segment, max(g.n_c) AS n_c,
             sum(abs(g.n_cs * t.n - g.n_s * g.n_c)) AS s_abs, max(t.n) AS n
      FROM grid g CROSS JOIN tot t GROUP BY g.nation, g.segment
    )
    SELECT nation, segment, CAST(n_c AS BIGINT) AS n_class,
           CAST(floor(s_abs * 1000000 / (2 * n_c * n)) AS BIGINT) AS tvd_ppm,
           (5 * s_abs <= 2 * n_c * n) AS t_ok
    FROM d
    """


@register("k_anonymize_tclose", oracle=_body_tclose())
def k_anonymize_tclose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007), the third leg
    of the release-privacy trio after ``k_anonymize_kanon`` (group size)
    and ``k_anonymize_ldiv`` (distinct sensitive values): a class can be
    large AND diverse yet still leak if its sensitive-value DISTRIBUTION
    diverges from the corpus — e.g. a (nation, segment) class where 90%
    sit in the top balance band reveals wealth the moment membership is
    known. Per class: total-variation distance between the class's
    balance-band distribution and the global one, zero cells included.

    TVD is computed in exact integers — Σ|n_cs·N − n_s·n_c| over the
    class×band grid, one final division into floor-ppm, and the t≤0.2
    release flag as the pure cross-multiplied compare 5·S ≤ 2·n_c·N —
    so the audit is bit-identical cross-engine (the order-proof-moment
    convention). Scale shape: one corpus reduce to (class, band) cells,
    then everything runs on the |classes|×|bands| grid spine (≤ a few
    hundred rows at any corpus size); the grid CROSS JOIN is spine×spine,
    never data-sized.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_body_tclose())


@register(
    "k_dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id < 250 GROUP BY 1
    ), incoming AS (
      SELECT doc_id, md5(text) AS h, n_chars FROM documents
      WHERE doc_id >= 250
    )
    SELECT i.doc_id, i.n_chars,
           CAST(c.h IS NOT NULL AS BOOLEAN) AS dup_of_corpus
    FROM incoming i LEFT JOIN corpus c USING (h)
    """,
)
def k_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: a NEW BATCH (doc_id ≥ 250) screened
    against the EXISTING corpus snapshot's content-hash index (doc_id <
    250) — the daily-ingest shape, where full-corpus re-dedup would be
    O(corpus) per batch but an index anti/left-join is O(batch + index
    probe).

    At 100 TB the corpus side is a persisted hash index bucketed on h:
    the incoming batch shuffles once on h and co-locates with the index
    partitions (or broadcast, if the daily batch is the small side). The
    left join keeps non-dups with a false flag so downstream gates see
    the whole batch.
    """
    d = load(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") < 250)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    incoming = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5("text").alias("h"), "n_chars"
    )
    return incoming.join(corpus, "h", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("in_corpus"), F.lit(False)).alias("dup_of_corpus"),
    )


@register(
    "k_sim_matryoshka",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    full_rank AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY
               round(list_inner_product(v, (SELECT v FROM q)), 6) DESC,
               vec_id) AS r
      FROM e WHERE vec_id <> 0
    ), trunc_rank AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY
               round(list_inner_product(list_slice(v, 1, 16),
                 (SELECT list_slice(v, 1, 16) FROM q)), 6) DESC,
               vec_id) AS r
      FROM e WHERE vec_id <> 0
    )
    SELECT
      CAST(count(*) FILTER (WHERE t.r <= 10) AS BIGINT) AS hits_at_10,
      round(count(*) FILTER (WHERE t.r <= 10) / 10.0, 4) AS recall_at_10,
      round(avg(t.r - f.r) FILTER (WHERE f.r <= 10), 2) AS avg_rank_shift
    FROM full_rank f JOIN trunc_rank t USING (vec_id)
    WHERE f.r <= 10
    """,
)
def k_sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval audit (Kusupati et
    al. 2022): how much of the full-64-dim cosine top-10 survives when
    ranking uses only the FIRST 16 dimensions — recall@10 plus the mean
    rank shift of the true neighbours. The budgeting question behind
    serving truncated embeddings (4× memory/bandwidth cut) before
    committing the index to it.

    Two passes over broadcast-query dot products (the truncated one
    reads a 16-element slice — at scale, a separate 4×-smaller column):
    the full-rank top-10 rides TakeOrderedAndProject, and each survivor's
    TRUNCATED rank is a broadcast conditional count (1 + rows strictly
    ahead in the (sim, vec_id) total order) — r13: the previous form
    materialized the truncated ranking as an UNCUT row_number window,
    i.e. a full-corpus sort on one partition (nothing bounded it, unlike
    the full side's rank ≤ 10 cut). Same total order, same ranks.
    """
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        F.expr("slice(v, 1, 16)").alias("qv16"),
    )
    base = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    simf = dot(F.col("v"), F.col("qv"))
    simt = dot(F.expr("slice(v, 1, 16)"), F.col("qv16"))
    top = (
        base.select(
            "vec_id",
            F.round(simf, 6).alias("sf"),
            F.round(simt, 6).alias("st"),
        )
        .orderBy(F.col("sf").desc(), "vec_id")
        .limit(10)
    )
    wf = Window.orderBy(F.col("sf").desc(), F.col("vec_id"))
    fr10 = top.withColumn("fr", F.row_number().over(wf))
    cand = base.select(
        F.col("vec_id").alias("cid"), F.round(simt, 6).alias("cst")
    )
    j = cand.crossJoin(F.broadcast(fr10))
    ahead = F.when(
        (F.col("cst") > F.col("st"))
        | ((F.col("cst") == F.col("st")) & (F.col("cid") < F.col("vec_id"))),
        1,
    ).otherwise(0)
    ranks = j.groupBy("vec_id", "fr").agg(
        (F.sum(ahead) + 1).alias("tr")
    )
    return ranks.agg(
        F.count(F.when(F.col("tr") <= 10, 1)).cast("long").alias(
            "hits_at_10"
        ),
        F.round(F.count(F.when(F.col("tr") <= 10, 1)) / 10.0, 4).alias(
            "recall_at_10"
        ),
        F.round(F.avg(F.col("tr") - F.col("fr")), 2).alias(
            "avg_rank_shift"
        ),
    )


@register(
    "k_dup_family_sizes",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]}),
    fam AS (
      SELECT cluster_id, count(*) AS family_size
      FROM labels GROUP BY cluster_id
    )
    SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
           CAST(family_size * count(*) AS BIGINT) AS n_docs
    FROM fam GROUP BY family_size
    """,
)
def k_dup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution: how many near-dup clusters
    exist at each size, and how many documents they hold — the shape
    report that distinguishes benign pairwise duplication (families of
    2) from template explosions (one family of 10k), which need
    different remediation (drop-one vs drop-source).

    Composes the session-memoized CC labels (the clustering pays once
    per session); both rollups are dimension-sized. The oracle chains
    the registered recursive-CTE clustering.
    """
    labels = k_dedup_clusters(spark, sf_dir)
    fam = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return fam.groupBy("family_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        (F.col("family_size") * F.count(F.lit(1))).cast("long").alias(
            "n_docs"
        ),
    )


@register(
    "k_dedup_canonical_best",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]}),
    scored AS (
      SELECT doc_id,
             CAST(floor(1.0 / (1.0 + exp(-(-8.0
               + 1.6 * ln(1 + n_chars)
               + 0.5 * ((n_chars - len(string_split(text, ' ')) + 1)
                        * 1.0 / len(string_split(text, ' ')))
               - 4.0 * ((n_chars - length(regexp_replace(text, '[0-9]', '',
                                                         'g')))
                        * 1.0 / n_chars)))) * 1e6) AS BIGINT) AS score_q
      FROM documents
    )
    SELECT l.cluster_id,
           CAST(count(*) AS BIGINT) AS family_size,
           CAST(max_by(l.doc_id,
                       s.score_q * 10000000 + (9999999 - l.doc_id))
                AS BIGINT) AS canonical_doc
    FROM labels l JOIN scored s USING (doc_id)
    GROUP BY l.cluster_id
    """,
)
def k_dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: per near-dup family, KEEP THE BEST
    document (argmax quality score, lowest doc_id on ties) instead of the
    arbitrary min-id representative — the difference between deduping a
    corpus and UPGRADING it (families often contain one clean copy and
    several mangled ones; min-id keeps whichever crawled first).

    Composes the memoized CC labels with the registered quality scorer;
    the argmax is a single max_by aggregate over the family key, with
    the (score, -doc_id) tie ladder packed into one exact BIGINT ordinal
    (DuckDB's max_by takes no struct keys).
    """
    from data_service_spark.registry import QUERIES

    labels = k_dedup_clusters(spark, sf_dir)
    scored = QUERIES["k_quality_logreg"](spark, sf_dir).select(
        "doc_id", "score_q"
    )
    j = labels.join(scored, "doc_id")
    return j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("family_size"),
        F.expr("max_by(doc_id, score_q * 10000000 + (9999999 - doc_id))")
        .cast("long")
        .alias("canonical_doc"),
    )


@register(
    "k_sim_hamming",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    sig AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, 62),
               i -> CASE WHEN v[i] > 0
                    THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END))
               AS h
      FROM e
    ), q AS (SELECT h AS qh, (SELECT v FROM e WHERE vec_id = 0) AS qv
             FROM sig WHERE vec_id = 0),
    ranked AS (
      SELECT s.vec_id,
             row_number() OVER (ORDER BY bit_count(xor(s.h, q.qh)), s.vec_id)
               AS hr
      FROM sig s CROSS JOIN q WHERE s.vec_id <> 0
    ), exact AS (
      SELECT e.vec_id,
             row_number() OVER (ORDER BY
               round(list_inner_product(e.v, (SELECT qv FROM q)), 6) DESC,
               e.vec_id) AS er
      FROM e WHERE e.vec_id <> 0
    )
    SELECT CAST(count(*) FILTER (WHERE r.hr <= 30) AS BIGINT) AS hits_in_30,
           round(count(*) FILTER (WHERE r.hr <= 30) / 10.0, 4)
             AS recall_10_at_30
    FROM exact x JOIN ranked r USING (vec_id)
    WHERE x.er <= 10
    """,
)
def k_sim_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit Hamming retrieval audit: each vector compresses to a
    64-bit sign signature (1 bit/dim — 512× smaller than float64); the
    query ranks by Hamming distance via bit_count(xor), and the audit
    reports how much of the exact cosine top-10 a 30-candidate Hamming
    shortlist recovers — the cheapest possible first-stage filter
    (Charikar 2002 sign-LSH collapsed to one word), sitting below even
    PQ (k_sim_pq) on the accuracy/cost curve.

    Signatures pack the first 62 dims into one BIGINT, one bit per dim
    (dims 63-64 are skipped so every bit is set at most once — no modular
    aliasing, no carry propagation, and bit_count(xor) IS the Hamming
    distance of the sign pattern; ADVICE r2). Signature build is a
    zero-shuffle projection, distance is two ALU ops per candidate.
    Exact integer Hamming ranks with id tiebreaks.
    """
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    sig = emb.select(
        "vec_id",
        "v",
        F.expr(
            "aggregate(transform(sequence(1, 62), i -> CASE WHEN v[i-1] > 0"
            " THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0L END),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("h"),
    )
    q = (
        sig.filter(F.col("vec_id") == 0)
        .select(F.col("h").alias("qh"), F.col("v").alias("qv"))
    )
    # r13 (same fix as k_sim_matryoshka): the Hamming ranking was an
    # UNCUT row_number window — a full-corpus single-partition sort
    # (only the exact side's rank ≤ 10 was bounded). The exact top-10
    # rides TakeOrderedAndProject; each survivor's Hamming rank is a
    # broadcast conditional count of rows strictly ahead in the same
    # (bit_count, vec_id) total order. Same ranks, no global sort.
    base = sig.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    top = (
        base.select(
            "vec_id",
            F.expr("bit_count(h ^ qh)").alias("hd"),
            F.round(dot(F.col("v"), F.col("qv")), 6).alias("ed"),
        )
        .orderBy(F.col("ed").desc(), "vec_id")
        .limit(10)
    )
    cand = base.select(
        F.col("vec_id").alias("cid"),
        F.expr("bit_count(h ^ qh)").alias("chd"),
    )
    ahead = F.when(
        (F.col("chd") < F.col("hd"))
        | ((F.col("chd") == F.col("hd")) & (F.col("cid") < F.col("vec_id"))),
        1,
    ).otherwise(0)
    ranks = (
        cand.crossJoin(F.broadcast(top))
        .groupBy("vec_id")
        .agg((F.sum(ahead) + 1).alias("hr"))
    )
    return ranks.agg(
        F.count(F.when(F.col("hr") <= 30, 1)).cast("long").alias(
            "hits_in_30"
        ),
        F.round(
            F.count(F.when(F.col("hr") <= 30, 1)) / 10.0, 4
        ).alias("recall_10_at_30"),
    )


@register(
    "k_dedup_prefix",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             md5(substr(lower(trim(text)), 1, 64)) AS prefix_hash
      FROM documents
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM p GROUP BY prefix_hash HAVING count(*) > 1
    """,
)
def k_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-bucket dedup pass: documents sharing an identical normalized
    64-char PREFIX collapse to one bucket — the cheap first rung of the
    crawl-dedup ladder (mirror pages, re-hosted articles and templated
    intros share prefixes long before they share full text), run before
    the expensive shingle/MinHash passes to shrink their input.

    Same shape as k_dedup_exact (hash → groupBy keep-min) but on the
    truncated prefix: one 16-byte-key shuffle with map-side partials,
    HAVING>1 so the output is only the collision buckets. At 100 TB the
    prefix hash also serves as the shard key for the downstream fuzzy
    passes — colliding docs are already co-located.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.md5(F.substring(F.lower(F.trim(F.col("text"))), 1, 64)).alias(
                "prefix_hash"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "k_sim_reciprocal_nn",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ed0 AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_inner_product(a.v, b.v), 4) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) >= 0.3
    ), ed AS (
      SELECT a, b, sim FROM ed0
      UNION ALL SELECT b AS a, a AS b, sim FROM ed0
    ), nn AS (
      SELECT a, b, sim,
             row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rn
      FROM ed
    )
    SELECT x.a AS vec_id_1, x.b AS vec_id_2, x.sim AS sim
    FROM nn x JOIN nn y ON x.b = y.a AND x.a = y.b
    WHERE x.rn = 1 AND y.rn = 1 AND x.a < x.b
    """,
)
def k_sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor pairs on the cosine≥0.3 candidate graph:
    (a, b) survives iff b is a's single best neighbor AND a is b's — the
    high-precision pair miner used for bitext/translation mining and as
    the strictest near-duplicate signal (reciprocity filters out hub
    vectors that are everyone's neighbor but nobody's match).

    Candidate edges reuse the blocked-GEMM ``sim_pairs`` finder
    (thresholded — a mutual-NN below 0.3 is noise by construction);
    symmetrize, take each node's argmax by (sim, id) with one keyed rank
    window over EDGE rows (not n²), and self-join the two rank-1 tables.
    At 100 TB the edge list is LSH-bucketed first (k_sim_ann_sql) and
    this exact reciprocity check runs unchanged on the candidates.
    """
    # sim_pairs emits sim already rounded at 4dp — use it as-is on BOTH
    # sides (re-rounding 6dp-then-4dp here while the oracle rounds once
    # diverges on .xxx95 values: the double-rounding trap).
    ed0 = sim_pairs(spark, sf_dir, 0.3).select(
        F.col("vec_id_1").alias("a"),
        F.col("vec_id_2").alias("b"),
        "sim",
    )
    ed = ed0.unionByName(
        ed0.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "sim"
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), F.col("b"))
    # r13: the rank-1 table is node-sized but feeds BOTH sides of the
    # reciprocity self-join — without a checkpoint Spark re-runs the
    # whole GEMM candidate build + rank window once per side (Catalyst
    # does not share subtrees across join branches). Pinning the tiny
    # argmax table halves the corpus work (A/B 1.12 -> 0.75 s at sf0.1).
    nn = (
        ed.select("a", "b", "sim", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .localCheckpoint()
    )
    other = nn.select(
        F.col("a").alias("b2"), F.col("b").alias("a2")
    )
    return (
        nn.join(
            other,
            (F.col("b") == F.col("b2")) & (F.col("a") == F.col("a2")),
        )
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("vec_id_1"),
            F.col("b").alias("vec_id_2"),
            "sim",
        )
    )


@register(
    "k_dup_cross_source",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]}),
    fam AS (
      SELECT l.cluster_id,
             count(*) AS n_docs,
             count(DISTINCT d.source) AS n_sources,
             string_agg(DISTINCT d.source, ',' ORDER BY d.source) AS sources
      FROM labels l JOIN documents d USING (doc_id)
      GROUP BY l.cluster_id
      HAVING count(*) > 1
    )
    SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources, sources
    FROM fam
    """,
)
def k_dup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: for every near-dup family (>1 doc),
    how many distinct SOURCES it spans and which — the syndicated-content
    detector. Families confined to one source are internal re-posts
    (drop-one fixes them); families spanning sources mean the same text
    entered the corpus through multiple feeds, so per-source dedup would
    silently miss them — the argument for GLOBAL dedup keys at 100 TB.

    Composes the session-memoized CC labels with one broadcast-joined
    source lookup and a family-sized aggregate; the source list is a
    sorted collect_set join so the row is deterministic on both engines
    (listagg(DISTINCT) alongside count(DISTINCT) trips a Spark 4.1.2
    RewriteDistinctAggregates crash — collect_set avoids the rewrite).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    labels = k_dedup_clusters(spark, sf_dir)
    fam = (
        labels.join(d, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.array_sort(F.collect_set("source")).alias("src_set"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return fam.select(
        "cluster_id",
        "n_docs",
        F.size("src_set").cast("long").alias("n_sources"),
        F.array_join("src_set", ",").alias("sources"),
    )


@register(
    "k_hubness_audit",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ed0 AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_inner_product(a.v, b.v), 4) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) >= 0.3
    ), ed AS (
      SELECT a, b, sim FROM ed0
      UNION ALL SELECT b AS a, a AS b, sim FROM ed0
    ), top5 AS (
      SELECT a, b FROM (
        SELECT a, b,
               row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rn
        FROM ed) WHERE rn <= 5
    ), occ AS (
      SELECT b AS vec_id, count(*) AS k_occurrence
      FROM top5 GROUP BY b
    )
    SELECT vec_id, CAST(k_occurrence AS BIGINT) AS k_occurrence
    FROM occ ORDER BY k_occurrence DESC, vec_id LIMIT 20
    """,
)
def k_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit: the top-20 HUB vectors by 5-occurrence — how often a
    vector appears in OTHER vectors' top-5 neighbor lists (within the
    cosine≥0.3 candidate graph). Hubness is the classic high-dimensional
    retrieval pathology (Radovanović et al. 2010): a few points become
    everyone's neighbor, poisoning kNN labels and near-dup clustering —
    this is the census that says whether k_sim_* answers need hubness
    correction (e.g. reciprocal filtering, which k_sim_reciprocal_nn
    applies).

    k-occurrence is one groupBy over the rank-1..5 edge table — the rank
    window runs on thresholded EDGES (bucket-join scale shape shared with
    k_sim_reciprocal_nn), never n² pairs.
    """
    ed0 = sim_pairs(spark, sf_dir, 0.3).select(
        F.col("vec_id_1").alias("a"),
        F.col("vec_id_2").alias("b"),
        "sim",
    )
    ed = ed0.unionByName(
        ed0.select(F.col("b").alias("a"), F.col("a").alias("b"), "sim")
    )
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), F.col("b"))
    top5 = ed.select(
        "a", "b", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    occ = top5.groupBy(F.col("b").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("k_occurrence")
    )
    return occ.orderBy(F.col("k_occurrence").desc(), "vec_id").limit(20)


@register(
    "k_source_overlap_matrix",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]}),
    fs AS (
      SELECT DISTINCT l.cluster_id, d.source
      FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT a.source AS source_1, b.source AS source_2,
           CAST(count(*) AS BIGINT) AS n_shared_families
    FROM fs a JOIN fs b
      ON a.cluster_id = b.cluster_id AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def k_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap matrix: for every SOURCE PAIR, how many near-dup
    families contain documents from both — the syndication graph that
    k_dup_cross_source's per-family rows roll up to. Reading it: a heavy
    pair means one feed republishes the other, so dropping the lower-
    quality source wholesale may beat per-document dedup (the same call
    Gopher/RefinedWeb made about Common Crawl snapshots).

    The (family, source) table is DISTINCT-compressed before the self-
    join, so the pair join runs on families × their few sources, not on
    documents; output is |sources|² bounded. Composes the memoized CC
    labels.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    labels = k_dedup_clusters(spark, sf_dir)
    fs = labels.join(d, "doc_id").select("cluster_id", "source").distinct()
    a = fs.select("cluster_id", F.col("source").alias("source_1"))
    b = fs.select("cluster_id", F.col("source").alias("source_2"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_families"))
    )


@register(
    "k_cross_lingual_dups",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    ed AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_inner_product(a.v, b.v), 4) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) >= 0.4
    )
    SELECT ed.id1 AS doc_id_1, d1.lang AS lang_1,
           ed.id2 AS doc_id_2, d2.lang AS lang_2, ed.sim
    FROM ed JOIN documents d1 ON ed.id1 = d1.doc_id
            JOIN documents d2 ON ed.id2 = d2.doc_id
    WHERE d1.lang <> d2.lang
    """,
)
def k_cross_lingual_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-LINGUAL near-duplicate candidates: high-cosine embedding
    pairs whose documents carry DIFFERENT language tags — the pairs no
    text-hash or shingle method can ever catch (translations share no
    surface form), and exactly what multilingual corpora double-count.
    These are also the raw material for mined parallel data (bitext).

    Embedding pairs come from the blocked-GEMM ``sim_pairs`` finder
    (threshold 0.4); the language decoration is two joins against the
    corpus-sized (doc_id, lang) projection — data-dependent, so no
    broadcast hint: AQE broadcasts whichever side is runtime-small (the
    thresholded pair list, usually) and shuffle-joins otherwise. At
    100 TB the pair mining is LSH-bucketed (k_sim_ann_sql) and this
    language filter composes unchanged on the candidates.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    ed = sim_pairs(spark, sf_dir, 0.4)
    d1 = d.select(F.col("doc_id").alias("vec_id_1"), F.col("lang").alias("lang_1"))
    d2 = d.select(F.col("doc_id").alias("vec_id_2"), F.col("lang").alias("lang_2"))
    return (
        ed.join(d1, "vec_id_1")
        .join(d2, "vec_id_2")
        .filter(F.col("lang_1") != F.col("lang_2"))
        .select(
            F.col("vec_id_1").alias("doc_id_1"),
            "lang_1",
            F.col("vec_id_2").alias("doc_id_2"),
            "lang_2",
            "sim",
        )
    )


@register(
    "k_colbert_maxsim",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             greatest(list_inner_product(qv[1:16], v[1:16]), list_inner_product(qv[1:16], v[17:32]), list_inner_product(qv[1:16], v[33:48]), list_inner_product(qv[1:16], v[49:64])) + greatest(list_inner_product(qv[17:32], v[1:16]), list_inner_product(qv[17:32], v[17:32]), list_inner_product(qv[17:32], v[33:48]), list_inner_product(qv[17:32], v[49:64])) + greatest(list_inner_product(qv[33:48], v[1:16]), list_inner_product(qv[33:48], v[17:32]), list_inner_product(qv[33:48], v[33:48]), list_inner_product(qv[33:48], v[49:64])) + greatest(list_inner_product(qv[49:64], v[1:16]), list_inner_product(qv[49:64], v[17:32]), list_inner_product(qv[49:64], v[33:48]), list_inner_product(qv[49:64], v[49:64])) AS score
      FROM e CROSS JOIN q WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(score, 4) AS maxsim
    FROM scored ORDER BY round(score, 6) DESC, vec_id LIMIT 10
    """,
)
def k_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: query and
    document act as BAGS of sub-vectors (here: the embedding's four
    16-dim quarters standing in for token vectors) and the score is
    sum-over-query-parts of the max dot against any document part -
    the multi-vector scoring shape (Khattab & Zaharia 2020) that beats
    single-vector cosine on fine-grained matches. Top-10 by MaxSim.

    Pure Catalyst array algebra: 16 sliced dot products + greatest/sum
    per row, one broadcast of the query parts, TakeOrdered for the
    top-10 - zero Python, zero extra shuffle. At 100 TB real token
    matrices ride as array<array<float>> and the same MaxSim fold runs
    per row; candidate generation would be LSH-bucketed first.
    """
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def part_dot(i, j):
        return dot(
            F.slice(F.col("qv"), 16 * i + 1, 16),
            F.slice(F.col("v"), 16 * j + 1, 16),
        )

    score = None
    for i in range(4):
        best = F.greatest(*[part_dot(i, j) for j in range(4)])
        score = best if score is None else score + best
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", score.alias("score"))
        .orderBy(F.round("score", 6).desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("score", 4).alias("maxsim"))
    )


@register(
    "k_dedup_jaccard_histogram",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' ')))
               AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), j AS (
      SELECT i.n_common * 1.0
               / (s1.n + s2.n - i.n_common) AS jacc
      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                   JOIN sizes s2 ON i.d2 = s2.doc_id
    )
    SELECT CAST(least(floor(jacc * 10), 9) AS BIGINT) AS jacc_decile,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM j WHERE jacc >= 0.1 GROUP BY 1
    """,
)
def k_dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-similarity histogram of all shingle-sharing pairs (deciles
    from 0.1 up): the THRESHOLD-TUNING curve for the dedup stack — where
    the pair mass sits decides τ for k_dedup_near (too low floods the CC
    clustering, too high leaks duplicates), and a bimodal histogram is
    the signature of a real near-dup population vs background n-gram
    collisions.

    Reuses the session-memoized exploded shingle hashes; pairs form only
    through the shingle equi-join (docs sharing ≥1 shingle — never an
    all-pairs scan) and collapse immediately to a 9-row histogram.
    """
    ex = _exploded_shingle_hashes(spark, sf_dir)
    a = ex.select(
        F.col("doc_id").alias("d1"), F.col("n").alias("n1"), "sh"
    )
    b = ex.select(
        F.col("doc_id").alias("d2"), F.col("n").alias("n2"), "sh"
    )
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jacc = F.col("n_common") * 1.0 / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return (
        inter.select(jacc.alias("jacc"))
        .filter(F.col("jacc") >= 0.1)
        .groupBy(
            F.least(F.floor(F.col("jacc") * 10), F.lit(9))
            .cast("long")
            .alias("jacc_decile")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@register(
    "k_sim_tfidf_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs * 1.0 / df.df) AS wt
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE df.df >= 3 AND df.df <= n.n_docs / 10
    ), nrm AS (
      SELECT doc_id, sqrt(sum(wt * wt)) AS nv FROM w GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.wt * b.wt) AS dp
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), cos AS (
      SELECT d1, d2, dp / (x.nv * y.nv) AS c
      FROM dots JOIN nrm x ON d1 = x.doc_id JOIN nrm y ON d2 = y.doc_id
    )
    SELECT d1 AS doc_id_1, d2 AS doc_id_2, round(c, 4) AS cosine
    FROM cos ORDER BY round(c, 6) DESC, d1, d2 LIMIT 50
    """,
)
def k_sim_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE lexical similarity: top-50 document pairs by TF-IDF cosine,
    computed as an INVERTED-INDEX join — the lexical complement to the
    dense-embedding pair miners (catches shared rare vocabulary that
    embeddings smooth away, misses paraphrase that they catch; production
    dedup runs both). Stopword-like terms (df > N/10) and hapax noise
    (df < 3) are pruned BEFORE the join — the pruning that bounds an
    inverted-index self-join's fan-out at 100 TB (cost per term ∝ df², so
    capping df caps the join).

    Pipeline: per-(doc, term) TF-IDF weights → per-doc norms (one
    aggregate) → term-keyed pair join summing weight products → top-50
    via TakeOrderedAndProject. Exact integer tf/df feed identical float
    trees on both engines; the Σwt² norm and Σwt·wt dot sums accumulate
    in DOUBLE, so no int64 wrap governor applies (the shared 4dp sim
    rounding absorbs partial-order ulp drift).
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r13 (the k_text_keywords fold): tf rows ARE the distinct
    # (doc, term) pairs, so df is a plain count over tf — no second
    # tokenize+explode and no two-phase countDistinct shuffle.
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") >= 3) & (F.col("df") <= F.col("n_docs") / 10)
        )
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df"))).alias(
                "wt"
            ),
        )
        .localCheckpoint()
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nv")
    )
    a = w.select(F.col("doc_id").alias("d1"), "term", F.col("wt").alias("w1"))
    b = w.select(F.col("doc_id").alias("d2"), "term", F.col("wt").alias("w2"))
    dots = (
        a.join(b, "term")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dp"))
    )
    x = nrm.select(F.col("doc_id").alias("d1"), F.col("nv").alias("n1"))
    y = nrm.select(F.col("doc_id").alias("d2"), F.col("nv").alias("n2"))
    return (
        dots.join(x, "d1")
        .join(y, "d2")
        .select(
            F.col("d1").alias("doc_id_1"),
            F.col("d2").alias("doc_id_2"),
            (F.col("dp") / (F.col("n1") * F.col("n2"))).alias("c"),
        )
        .orderBy(F.round("c", 6).desc(), "doc_id_1", "doc_id_2")
        .limit(50)
        .select(
            "doc_id_1", "doc_id_2", F.round("c", 4).alias("cosine")
        )
    )


# Edge lists mined from a fact table this large carry node-sized score
# vectors past the sane broadcast bound; the dispatch reads the parquet
# footer (free) rather than paying a node count before choosing.
HITS_BROADCAST_MAX_FACT_ROWS = 50_000_000


def _fact_rows(sf_dir: str) -> int:
    return _footer_rows(sf_dir, "lineitem")


def hits_auth_scores(
    spark: SparkSession, e0: DataFrame, partitioned: bool
) -> DataFrame:
    """One unrolled HITS iteration (auth₀=degree → hub₁ → auth₂) over an
    (src, dst) edge list, ppm-quantized between half-iterations. Two
    physical regimes, same integer algebra — so the regimes agree
    bit-for-bit:

    - broadcast: the checkpointed edge list joins the (tiny) score
      vector via broadcast each half-iteration.
    - partitioned (ranks outgrow broadcast): the forward/reverse
      adjacency layout — ONE edge copy pre-partitioned by dst and one
      by src, both checkpointed — makes every propagation join
      co-partitioned with the score vector the PREVIOUS groupBy already
      hash-partitioned on that key; each half-iteration costs exactly
      one exchange and nothing node-sized is broadcast or collected.
      (The 1-row max used by the ppm normalization stays a scalar
      broadcast — attaching a scalar is the correct shape at any
      scale.)
    """
    if partitioned:
        e_by_dst = e0.repartition(F.col("dst")).localCheckpoint()
        # derive the reverse layout FROM the pinned RDD — the expensive
        # edge build (fact join + distinct) runs once, not once per copy
        e_by_src = e_by_dst.repartition(F.col("src")).localCheckpoint()
    else:
        e_by_dst = e_by_src = e0.localCheckpoint()

    def _norm(df: DataFrame, key: str, val: str) -> DataFrame:
        mx = df.agg(F.max(val).alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            key,
            F.floor(F.col(val).cast("double") * 1000000 / F.col("mx"))
            .cast("long")
            .alias(val),
        )

    def _join(edges: DataFrame, scores: DataFrame, key: str) -> DataFrame:
        return edges.join(scores if partitioned else F.broadcast(scores), key)

    a1 = _norm(
        e_by_dst.groupBy("dst").agg(F.count(F.lit(1)).alias("a")), "dst", "a"
    )
    h1 = _norm(
        _join(e_by_dst, a1, "dst").groupBy("src").agg(F.sum("a").alias("h")),
        "src",
        "h",
    )
    return _norm(
        _join(e_by_src, h1, "src").groupBy("dst").agg(F.sum("h").alias("a")),
        "dst",
        "a",
    )


@register(
    "k_graph_hits",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    a1 AS (SELECT dst AS s, count(*) AS deg FROM e0 GROUP BY 1),
    a1q AS (
      SELECT s, CAST(floor(CAST(deg AS DOUBLE) * 1000000
                           / (SELECT max(deg) FROM a1)) AS BIGINT) AS a
      FROM a1
    ),
    h1 AS (
      SELECT e.src AS c, sum(q.a) AS h
      FROM e0 e JOIN a1q q ON e.dst = q.s GROUP BY 1
    ),
    h1q AS (
      SELECT c, CAST(floor(CAST(h AS DOUBLE) * 1000000
                           / (SELECT max(h) FROM h1)) AS BIGINT) AS h
      FROM h1
    ),
    a2 AS (
      SELECT e.dst AS s, sum(q.h) AS a
      FROM e0 e JOIN h1q q ON e.src = q.c GROUP BY 1
    )
    SELECT CAST((s - 1) / 2 AS BIGINT) AS suppkey,
           CAST(floor(CAST(a AS DOUBLE) * 1000000
                      / (SELECT max(a) FROM a2)) AS BIGINT) AS auth_ppm
    FROM a2
    ORDER BY auth_ppm DESC, suppkey LIMIT 20
    """,
)
def k_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (one full unrolled iteration with
    max-normalization: auth₀=degree → hub₁ → auth₂) over the same
    customer↔supplier bipartite graph as ``k_graph_pagerank`` — the
    directional twin: PageRank scores global reachability, HITS separates
    "big buyers" (hubs) from "widely-bought-from suppliers" (authorities),
    the supplier-importance signal when the two roles must not blur.
    Every normalization floor-quantizes to integer parts-per-million
    BEFORE the next propagation, so each propagation is an exact BIGINT
    sum — the whole fixed-point prefix is bit-identical cross-engine (the
    ``k_markov_stationary`` determinism trick applied to a bipartite
    spectral method). Top-20 authorities, total-ordered.

    Scale shape: the edge list builds once (orders broadcasts into
    lineitem); each half-iteration is one hash aggregate keyed by the
    receiving side with the (tiny) score vector broadcast — identical
    shuffle budget to one PageRank iteration. Above
    ``HITS_BROADCAST_MAX_FACT_ROWS`` the dispatch flips (in code, the
    ``pagerank_ranks`` pattern) to ``hits_auth_scores(partitioned=
    True)``: the forward/reverse adjacency layout — one edge copy
    pre-partitioned by dst, one by src — makes every propagation join
    co-partitioned, so each half-iteration still costs exactly ONE
    exchange with nothing node-sized broadcast (plan- and
    exact-identity-pinned; scores are integer ppm, so the two regimes
    agree bit-for-bit).
    """
    # Packed-long encoding over the session-memoized distinct edge list
    # (the fact-sized reduce runs once per session for the graph family).
    e0 = _cs_pairs(spark, sf_dir).select(
        (F.col("c") * 2).alias("src"),
        (F.col("s") * 2 + 1).alias("dst"),
    )
    partitioned = _fact_rows(sf_dir) > HITS_BROADCAST_MAX_FACT_ROWS
    a2 = hits_auth_scores(spark, e0, partitioned)
    return (
        a2.select(
            ((F.col("dst") - 1) / 2).cast("long").alias("suppkey"),
            F.col("a").alias("auth_ppm"),
        )
        .orderBy(F.desc("auth_ppm"), "suppkey")
        .limit(20)
    )


@register(
    "k_dedup_token_savings",
    oracle=f"""
    WITH labels AS ({_ORACLES["k_dedup_clusters"]}),
    toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS tokens_before,
           CAST(sum(CASE WHEN l.doc_id = l.cluster_id THEN t.n_tok
                         ELSE 0 END) AS BIGINT) AS tokens_after,
           CAST(floor(sum(CASE WHEN l.doc_id <> l.cluster_id THEN t.n_tok
                               ELSE 0 END) * 10000.0 / sum(t.n_tok))
             AS BIGINT) AS savings_bp
    FROM toks t JOIN labels l USING (doc_id)
    GROUP BY t.source
    """,
)
def k_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level cost accounting of near-dup removal, per source: tokens
    before vs after keeping one representative (min doc_id) per connected
    dup cluster — the number that justifies (or kills) a dedup stage in a
    training-budget review, because doc-level drop counts hide that dups
    concentrate in long boilerplate docs. Composes the registered CC
    labels (``k_dedup_clusters``) with whitespace token counts; the
    savings ratio floor-quantizes to basis points.

    Scale shape: the CC labels are spine-sized (they memoize across keys
    in-session) but grow with the dup mass, so the label join carries no
    broadcast hint — AQE broadcasts the checkpointed label set while
    small, shuffle-joins on doc_id when not; one pass over the corpus,
    grouped by source."""
    from data_service_spark.registry import QUERIES

    labels = QUERIES["k_dedup_clusters"](spark, sf_dir)
    d = load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    kept = F.col("doc_id") == F.col("cluster_id")
    return (
        toks.join(labels, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_before"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias(
                "tokens_after"
            ),
            F.floor(
                F.sum(F.when(~kept, F.col("n_tok")).otherwise(0))
                * 10000.0
                / F.sum("n_tok")
            )
            .cast("long")
            .alias("savings_bp"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long"),
            F.col("tokens_before").cast("long"),
            F.col("tokens_after").cast("long"),
            "savings_bp",
        )
    )


@register(
    "k_graph_modularity",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s,
             CAST(o_custkey % 5 AS INT) AS comm_c,
             CAST(l_suppkey % 5 AS INT) AS comm_s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), m AS (SELECT count(*) AS m FROM e0),
    intra AS (
      SELECT comm_c AS comm, count(*) AS e_in
      FROM e0 WHERE comm_c = comm_s GROUP BY 1
    ), degmass AS (
      SELECT comm, sum(cnt) AS mass FROM (
        SELECT comm_c AS comm, count(*) AS cnt FROM e0 GROUP BY 1
        UNION ALL
        SELECT comm_s AS comm, count(*) AS cnt FROM e0 GROUP BY 1
      ) t GROUP BY comm
    )
    SELECT CAST(d.comm AS INT) AS community,
           CAST(coalesce(i.e_in, 0) AS BIGINT) AS intra_edges,
           CAST(d.mass AS BIGINT) AS degree_mass,
           CAST(round(CAST(coalesce(i.e_in, 0) AS DOUBLE) / mm.m
                      - (CAST(d.mass AS DOUBLE) / (2 * mm.m))
                        * (CAST(d.mass AS DOUBLE) / (2 * mm.m)), 6) + 0.0
             AS DOUBLE) AS q_contrib,
           CAST(round(sum(CAST(coalesce(i.e_in, 0) AS DOUBLE) / mm.m
                      - (CAST(d.mass AS DOUBLE) / (2 * mm.m))
                        * (CAST(d.mass AS DOUBLE) / (2 * mm.m)))
                      OVER (), 6) + 0.0 AS DOUBLE) AS modularity
    FROM degmass d LEFT JOIN intra i ON d.comm = i.comm
    CROSS JOIN m mm
    """,
)
def k_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a candidate community assignment (key mod 5 —
    a deliberately arbitrary partition, so Q ≈ 0 is the expected null
    readout) on the customer↔supplier transaction graph: Q = Σ_c (e_c/m −
    (d_c/2m)²), the objective Louvain/Leiden maximize and the first
    number to check before believing any clustering of an entity graph
    (``k_dedup_clusters``' CC labels, a co-purchase segmentation). Per-
    community contributions + the global Q; all inputs are exact integer
    edge/degree counts, Q is a ten-row sum of identical doubles.

    Scale shape: one distinct-edge reduce (the only corpus-sized work),
    then community-spine aggregates."""
    # Community tags over the session-memoized distinct edge list (the
    # fact-sized reduce runs once per session for the graph family).
    e0 = _cs_pairs(spark, sf_dir).select(
        "c",
        "s",
        (F.col("c") % 5).cast("int").alias("comm_c"),
        (F.col("s") % 5).cast("int").alias("comm_s"),
    )
    m = e0.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        e0.filter(F.col("comm_c") == F.col("comm_s"))
        .groupBy(F.col("comm_c").alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degmass = (
        e0.groupBy(F.col("comm_c").alias("comm"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .unionAll(
            e0.groupBy(F.col("comm_s").alias("comm")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        )
        .groupBy("comm")
        .agg(F.sum("cnt").alias("mass"))
    )
    from pyspark.sql.window import Window

    j = (
        degmass.join(intra, "comm", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("comm").cast("int").alias("community"),
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            F.col("mass").cast("long").alias("degree_mass"),
            (
                F.coalesce(F.col("e_in"), F.lit(0)).cast("double")
                / F.col("m")
                - (F.col("mass").cast("double") / (2 * F.col("m")))
                * (F.col("mass").cast("double") / (2 * F.col("m")))
            ).alias("qc"),
        )
    )
    return j.select(
        "community",
        "intra_edges",
        "degree_mass",
        (F.round(F.col("qc"), 6) + F.lit(0.0)).alias("q_contrib"),
        (F.round(F.sum("qc").over(Window.partitionBy()), 6) + F.lit(0.0)).alias(
            "modularity"
        ),
    )


_SPARK_HASH_LLM = "CAST(conv(substr(md5({h}), 1, 8), 16, 10) AS BIGINT)"
_DUCK_HASH_LLM = "('0x' || substr(md5({h}), 1, 8))::BIGINT"


def _body_dp_counts(hash_to_long: str) -> str:
    h = hash_to_long.format(h="'dp:' || event_type")
    return f"""
    WITH counts AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ), noise AS (
      SELECT event_type, n,
             ({h} % 4294967296 + 0.5) / 4294967296.0 AS u
      FROM counts
    ), lap AS (
      SELECT event_type, n,
             CAST(floor(
               (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
               * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000
             ) AS BIGINT) AS noise_q
      FROM noise
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_true,
           noise_q,
           CAST(n + CAST(floor(noise_q / 1000000.0) AS BIGINT) AS BIGINT)
             AS n_released,
           CAST(1000000 AS BIGINT) AS epsilon_ppm
    FROM lap
    """


@register("k_dp_noised_counts", oracle=_body_dp_counts(_DUCK_HASH_LLM))
def k_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release PLUMBING for per-type counts: Laplace
    mechanism at ε=1 (sensitivity 1 for a count query), noise drawn by
    inverse-CDF — sign(½−u)·ln(1−2|u−½|)·(1/ε) — from a salted-md5
    uniform. NOT a private release: seeded deterministic noise has zero
    privacy (and n_true ships alongside, which a real release never
    does); the deterministic draw is the oracle-checkable stand-in that
    pins the mechanism's shape — per-query sensitivity, ε accounting
    column, noise quantization, post-processing floor — exactly the way
    the multimodal keys pin decode plumbing with deterministic fakes.
    Swap the hash-uniform for a CSPRNG draw and drop n_true to make it a
    real ε-DP release; every other column survives unchanged.

    Noise is floor-quantized to an exact 1e-6 integer before the release
    arithmetic, so both engines agree bit-for-bit (ln last-ulp divergence
    cannot reach the released integer). Scale shape: one map-side count
    reduce; noise is spine-sized arithmetic."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_dp_counts(_SPARK_HASH_LLM))


@register(
    "k_dup_weighted_sampling",
    oracle=f"""
    WITH labels AS ({{DEDUP_CLUSTERS}}),
    sized AS (
      SELECT l.doc_id, l.cluster_id,
             count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
      FROM labels l
    ), weighted AS (
      SELECT s.doc_id, d.source, s.cluster_size,
             CAST(floor(1000000 / s.cluster_size) AS BIGINT) AS weight_ppm
      FROM sized s JOIN documents d USING (doc_id)
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(weight_ppm) AS BIGINT) AS eff_mass_ppm,
           CAST(floor(sum(weight_ppm) / count(*)) AS BIGINT)
             AS mean_weight_ppm,
           CAST(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_dup_families
    FROM weighted GROUP BY source
    """.replace("{DEDUP_CLUSTERS}", _ORACLES["k_dedup_clusters"]),
)
def k_dup_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-corrected sampling weights: every document gets weight
    1/|its duplicate family| (the connected-component clusters of
    ``k_dedup_clusters``), so a passage that survived crawling 40 times
    contributes ONE document's worth of probability mass instead of 40 —
    the soft alternative to hard dedup-dropping that Lee et al. 2022
    motivate (duplicates distort both the training distribution and any
    per-source league table computed from raw counts). Per source: raw
    count, effective (weight-summed) mass, mean weight, and how many
    docs sit inside multi-doc families — the gap between n_docs and
    eff_mass is exactly the duplication inflation the raw count lies by.

    Weights are exact floor-ppm integers (1e6/size), so all sums are
    BIGINT. Scale shape: composes the session-memoized CC labels (pays
    the clustering once per session); one family-size window over the
    label spine, one broadcast-joinable doc→source lookup, one
    source-spine reduce."""
    labels = k_dedup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    sized = labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    weighted = sized.join(d, "doc_id").select(
        "source",
        "cluster_size",
        F.floor(1000000 / F.col("cluster_size")).cast("long").alias(
            "weight_ppm"
        ),
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("weight_ppm").cast("long").alias("eff_mass_ppm"),
        F.floor(F.sum("weight_ppm") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_weight_ppm"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_in_dup_families"),
    )


@register(
    "k_ivf_probe_sweep",
    oracle=f"""
    WITH assign AS ({{ASSIGN}}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    probes AS (SELECT vec_id AS pid, v AS pv FROM e
               WHERE vec_id >= 10 AND vec_id < 20),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 10),
    pc AS (
      SELECT p.pid, c.cid,
             row_number() OVER (PARTITION BY p.pid
               ORDER BY round(list_inner_product(p.pv, c.cv), 6) DESC,
                        c.cid) AS crk
      FROM probes p CROSS JOIN cent c
    ),
    truth AS (
      SELECT pid, vec_id FROM (
        SELECT p.pid, e.vec_id,
               row_number() OVER (PARTITION BY p.pid
                 ORDER BY round(list_inner_product(p.pv, e.v), 6) DESC,
                          e.vec_id) AS rn
        FROM probes p CROSS JOIN e WHERE e.vec_id <> p.pid
      ) t WHERE rn <= 5
    ),
    nps AS (SELECT unnest([1, 2, 3]) AS nprobe),
    cand AS (
      SELECT n.nprobe, pc.pid, a.vec_id
      FROM nps n
      JOIN pc ON pc.crk <= n.nprobe
      JOIN assign a ON a.cluster_id = pc.cid
      WHERE a.vec_id <> pc.pid
    ),
    scored AS (
      SELECT c.nprobe, c.pid, c.vec_id,
             row_number() OVER (PARTITION BY c.nprobe, c.pid
               ORDER BY round(list_inner_product(p.pv, e.v), 6) DESC,
                        c.vec_id) AS rn
      FROM cand c
      JOIN probes p ON p.pid = c.pid
      JOIN e ON e.vec_id = c.vec_id
    ),
    hits AS (
      SELECT s.nprobe, count(*) AS n_hit
      FROM scored s JOIN truth t
        ON t.pid = s.pid AND t.vec_id = s.vec_id
      WHERE s.rn <= 5
      GROUP BY s.nprobe
    ),
    cstats AS (
      SELECT nprobe, count(*) AS n_cand, count(DISTINCT pid) AS n_p
      FROM cand GROUP BY nprobe
    )
    SELECT CAST(c.nprobe AS INT) AS nprobe,
           CAST(c.n_p AS BIGINT) AS n_probes,
           CAST(floor(c.n_cand / c.n_p) AS BIGINT) AS mean_candidates,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hits,
           CAST(floor(coalesce(h.n_hit, 0) * 1000000 / (5 * c.n_p))
             AS BIGINT) AS recall_ppm
    FROM cstats c LEFT JOIN hits h ON h.nprobe = c.nprobe
    """.replace("{ASSIGN}", _ORACLES["k_cluster_assign"]),
)
def k_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-probes tuning curve: for 10 held-out query vectors,
    recall@5 of the IVF index (``k_cluster_assign`` cells, exact
    re-scoring inside the probed cells) against the exact brute-force
    top-5, at nprobe ∈ {1,2,3} — the accuracy/cost frontier every ANN
    deployment tunes (more probes ⇒ more candidates scanned ⇒ higher
    recall; the candidate count column IS the cost axis). Completes the
    ANN-ops panel: ``k_ivf_balance`` audits the index shape,
    ``k_eval_ann_recall`` scores the LSH family, this sweeps the IVF
    operating point.

    All rankings pin on 6dp-rounded sims with id tiebreaks (the
    ``k_sim_topk`` convention), so both engines select identical top-5
    sets and the recall is exact integer arithmetic. Scale shape: the
    centroid table and probe set are broadcast; candidates form by
    cell-id equi-join against the memoized assignment (corpus touched
    once); ground truth slices the session-memoized ``_exact_ranked``
    ranking — the one corpus×probes product the evaluation panel pays
    once per session, not per metric."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 20)
    ).select(F.col("vec_id").alias("pid"), F.col("v").alias("pv"))
    cent = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    pc_w = Window.partitionBy("pid").orderBy(
        F.round(F.col("csim"), 6).desc(), F.col("cid")
    )
    pc = (
        probes.crossJoin(F.broadcast(cent))
        .select("pid", "pv", "cid", dot(F.col("pv"), F.col("cv")).alias("csim"))
        .withColumn("crk", F.row_number().over(pc_w))
        .select("pid", "cid", "crk")
    )
    # Ground truth slices the session-memoized exact ranking (held-out
    # probes 10..19 are the second half of its 20-query spine).
    truth = (
        _exact_ranked(spark, sf_dir)
        .filter((F.col("qid") >= 10) & (F.col("rn") <= 5))
        .select(F.col("qid").alias("pid"), "vec_id")
    )
    assign = k_cluster_assign(spark, sf_dir).select("vec_id", "cluster_id")
    nps = spark.range(1, 4).select(F.col("id").cast("int").alias("nprobe"))
    cand = (
        nps.crossJoin(pc)
        .filter(F.col("crk") <= F.col("nprobe"))
        .join(assign, F.col("cluster_id") == F.col("cid"))
        .filter(F.col("vec_id") != F.col("pid"))
        .select("nprobe", "pid", "vec_id")
    )
    s_w = Window.partitionBy("nprobe", "pid").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("vec_id")
    )
    scored = (
        cand.join(F.broadcast(probes), "pid")
        .join(emb.select("vec_id", "v"), "vec_id")
        .select(
            "nprobe", "pid", "vec_id",
            dot(F.col("pv"), F.col("v")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(s_w))
    )
    hits = (
        scored.filter(F.col("rn") <= 5)
        .join(truth, ["pid", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    cstats = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.countDistinct("pid").alias("n_p"),
    )
    return (
        cstats.join(hits, "nprobe", "left")
        .select(
            F.col("nprobe").cast("int"),
            F.col("n_p").cast("long").alias("n_probes"),
            F.floor(F.col("n_cand") / F.col("n_p")).cast("long").alias(
                "mean_candidates"
            ),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce(F.col("n_hit"), F.lit(0)) * 1000000
                / (5 * F.col("n_p"))
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def _lsh_bucket_cte_duck() -> str:
    """Sign-RP bucket assignment (the k_sim_ann_sql prefix, DuckDB form)."""
    return """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (SELECT unnest(generate_series(0, 63)) AS d),
    ps AS (SELECT unnest(generate_series(0, 5)) AS p),
    planes AS (
      SELECT ps.p, dims.d,
             CASE WHEN substr(md5(CAST(ps.p AS VARCHAR) || ':'
                                  || CAST(dims.d AS VARCHAR)), 1, 1)
                       IN ('0','2','4','6','8','a','c','e')
                  THEN 1.0 ELSE -1.0 END AS w
      FROM ps CROSS JOIN dims
    ),
    ex AS (SELECT vec_id, dims.d AS d, v[dims.d + 1] AS x
           FROM e CROSS JOIN dims),
    proj AS (
      SELECT vec_id, p, sum(x * w) AS s
      FROM ex JOIN planes USING (d) GROUP BY vec_id, p
    ),
    buck AS (
      SELECT vec_id,
             string_agg(CASE WHEN round(s, 9) >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY p) AS bucket
      FROM proj GROUP BY vec_id
    )"""


@register(
    "k_lsh_multiprobe",
    oracle=f"""
    WITH {_lsh_bucket_cte_duck()},
    probes AS (SELECT vec_id AS pid, bucket FROM buck WHERE vec_id < 10),
    flips AS (
      SELECT p.pid, t.i AS flip,
             CASE WHEN t.i = 0 THEN p.bucket
                  ELSE substr(p.bucket, 1, t.i - 1)
                       || (CASE substr(p.bucket, t.i, 1)
                           WHEN '1' THEN '0' ELSE '1' END)
                       || substr(p.bucket, t.i + 1, 6 - t.i)
             END AS probe_bucket
      FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) t
    ),
    strategies AS (SELECT unnest([1, 7]) AS n_probe),
    cand AS (
      SELECT DISTINCT s.n_probe, f.pid, b.vec_id
      FROM strategies s
      JOIN flips f ON (s.n_probe = 7 OR f.flip = 0)
      JOIN buck b ON b.bucket = f.probe_bucket
      WHERE b.vec_id <> f.pid
    ),
    truth AS (
      SELECT pid, vec_id FROM (
        SELECT p.pid, e2.vec_id,
               row_number() OVER (PARTITION BY p.pid
                 ORDER BY round(list_inner_product(e2.v, pe.v), 6) DESC,
                          e2.vec_id) AS rn
        FROM probes p
        JOIN e pe ON pe.vec_id = p.pid
        CROSS JOIN e e2 WHERE e2.vec_id <> p.pid
      ) t WHERE rn <= 3
    ),
    scored AS (
      SELECT c.n_probe, c.pid, c.vec_id,
             row_number() OVER (PARTITION BY c.n_probe, c.pid
               ORDER BY round(list_inner_product(ce.v, pe.v), 6) DESC,
                        c.vec_id) AS rn
      FROM cand c
      JOIN e pe ON pe.vec_id = c.pid
      JOIN e ce ON ce.vec_id = c.vec_id
    ),
    hits AS (
      SELECT s.n_probe, count(*) AS n_hit
      FROM scored s JOIN truth t ON t.pid = s.pid AND t.vec_id = s.vec_id
      WHERE s.rn <= 3 GROUP BY s.n_probe
    ),
    cstats AS (
      SELECT n_probe, count(*) AS n_cand, count(DISTINCT pid) AS n_p
      FROM cand GROUP BY n_probe
    )
    SELECT CAST(c.n_probe AS INT) AS n_probe,
           CAST(c.n_p AS BIGINT) AS n_probes_with_cand,
           CAST(floor(c.n_cand / c.n_p) AS BIGINT) AS mean_candidates,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hits,
           CAST(floor(coalesce(h.n_hit, 0) * 1000000 / 30) AS BIGINT)
             AS recall_ppm
    FROM cstats c LEFT JOIN hits h ON h.n_probe = c.n_probe
    """,
)
def k_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): beyond a vector's own sign-RP
    bucket, also probe the 6 buckets at Hamming distance 1 (one flipped
    hyperplane bit) — the standard trick that buys LSH recall WITHOUT
    more hash tables (memory-free, query-time-only). Reports the two
    operating points n_probe ∈ {1, 7}: candidate volume (the cost axis)
    and recall@3 against the exact brute-force top-3 — the
    query-time/recall frontier that pairs with ``k_ivf_probe_sweep``
    (IVF's probe sweep) and ``k_sim_ann_sql`` (the single-probe base).

    Buckets reuse the deterministic md5-derived hyperplanes (projections
    rounded 9dp before the sign test), rankings pin on 6dp+id — so both
    engines form identical candidate sets and the recall is exact
    integer arithmetic over a fixed 30-pair truth. Scale shape: bucket
    assignment is the linear sign-RP pipeline; flipped probes are a
    7-row fan-out of the 10-probe spine; candidates form by bucket
    equi-join (cost tracks bucket occupancy ×7, never corpus²)."""
    # The bucket table is the session-memoized sign-RP index — the same
    # checkpointed table k_sim_ann_sql probes (a multiprobe strategy is a
    # query-time policy over one shared index, not a second index build).
    buck = _signrp_buckets(spark, sf_dir).select("vec_id", "bucket")
    probes = buck.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("pid"), "bucket"
    )
    flips = probes.crossJoin(
        F.broadcast(
            spark.range(0, 7).select(F.col("id").cast("int").alias("flip"))
        )
    ).select(
        "pid", "flip",
        F.expr(
            "CASE WHEN flip = 0 THEN bucket"
            " ELSE concat(substr(bucket, 1, flip - 1),"
            "      CASE substr(bucket, flip, 1) WHEN '1' THEN '0'"
            "           ELSE '1' END,"
            "      substr(bucket, flip + 1, 6 - flip)) END"
        ).alias("probe_bucket"),
    )
    strategies = spark.createDataFrame([(1,), (7,)], "n_probe int")
    # r13: the candidate set feeds BOTH the scoring join and the
    # volume/recall stats aggregate — without the pin the whole
    # probe-fanout + bucket equi-join + distinct re-runs per branch.
    # Candidate-set-sized (bucket occupancy × 7 probes), never corpus².
    cand = (
        flips.crossJoin(F.broadcast(strategies))
        .filter((F.col("n_probe") == 7) | (F.col("flip") == 0))
        .join(
            buck.select("vec_id", F.col("bucket").alias("probe_bucket")),
            "probe_bucket",
        )
        .filter(F.col("vec_id") != F.col("pid"))
        .select("n_probe", "pid", "vec_id")
        .distinct()
        .localCheckpoint()
    )
    pv = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("pid"), F.col("v").alias("pv")
    ).filter(F.col("pid") < 10)
    ev = _emb(spark, sf_dir).select("vec_id", "v")
    # Ground truth slices the session-memoized exact ranking.
    truth = (
        _exact_ranked(spark, sf_dir)
        .filter((F.col("qid") < 10) & (F.col("rn") <= 3))
        .select(F.col("qid").alias("pid"), "vec_id")
    )
    s_w = Window.partitionBy("n_probe", "pid").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("vec_id")
    )
    scored = (
        cand.join(F.broadcast(pv), "pid")
        .join(ev, "vec_id")
        .select(
            "n_probe", "pid", "vec_id",
            dot(F.col("v"), F.col("pv")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(s_w))
    )
    hits = (
        scored.filter(F.col("rn") <= 3)
        .join(truth, ["pid", "vec_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    cstats = cand.groupBy("n_probe").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.countDistinct("pid").alias("n_p"),
    )
    return (
        cstats.join(hits, "n_probe", "left")
        .select(
            F.col("n_probe").cast("int"),
            F.col("n_p").cast("long").alias("n_probes_with_cand"),
            F.floor(F.col("n_cand") / F.col("n_p")).cast("long").alias(
                "mean_candidates"
            ),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce(F.col("n_hit"), F.lit(0)) * 1000000 / 30
            ).cast("long").alias("recall_ppm"),
        )
    )


@register(
    "k_dedup_bands_sweep",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), sh0 AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(words) - 4),
                           i -> array_to_string(words[i:i+4], ' ')))
               AS shingles
      FROM w
    ), ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0),
    hx AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT AS ha,
             ('0x' || substr(md5(sh), 17, 14))::BIGINT AS hb
      FROM ex
    ),
    mh AS (
      SELECT hx.doc_id, hs.h AS h, min(ha + hs.h * hb) AS mh
      FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h) hs
      GROUP BY hx.doc_id, hs.h
    ),
    cfgs AS (SELECT unnest([2, 3, 6]) AS rows_per_band),
    bands AS (
      SELECT c.rows_per_band, m.doc_id,
             m.h // c.rows_per_band AS band_id,
             string_agg(CAST(m.mh AS VARCHAR), ',' ORDER BY m.h) AS bkey
      FROM mh m CROSS JOIN cfgs c
      GROUP BY c.rows_per_band, m.doc_id, m.h // c.rows_per_band
    ),
    cand AS (
      SELECT DISTINCT a.rows_per_band,
             a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM bands a JOIN bands b
        ON a.rows_per_band = b.rows_per_band
       AND a.band_id = b.band_id AND a.bkey = b.bkey
       AND a.doc_id < b.doc_id
    ),
    truth AS (
      SELECT doc_id_1, doc_id_2 FROM ({{NEAR}})
    ),
    stats AS (
      SELECT c.rows_per_band, count(*) AS n_cand,
             sum(CASE WHEN t.doc_id_1 IS NOT NULL THEN 1 ELSE 0 END)
               AS n_found
      FROM cand c
      LEFT JOIN truth t
        ON t.doc_id_1 = c.doc_id_1 AND t.doc_id_2 = c.doc_id_2
      GROUP BY c.rows_per_band
    ), nt AS (SELECT count(*) AS n_truth FROM truth)
    SELECT CAST(12 / s.rows_per_band AS INT) AS n_bands,
           CAST(s.rows_per_band AS INT) AS rows_per_band,
           CAST(s.n_cand AS BIGINT) AS n_candidates,
           CAST(nt.n_truth AS BIGINT) AS n_true_pairs,
           CAST(s.n_found AS BIGINT) AS n_found,
           CAST(floor(s.n_found * 1000000 / nt.n_truth) AS BIGINT)
             AS recall_ppm,
           CAST(floor(s.n_found * 1000000 / s.n_cand) AS BIGINT)
             AS precision_ppm
    FROM stats s CROSS JOIN nt
    """.replace("{NEAR}", _ORACLES["k_dedup_near"]),
)
def k_dedup_bands_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding-parameter sweep: the SAME 12-hash signatures banded
    three ways — 6 bands × 2 rows (high recall, many candidates), 4 × 3
    (the production setting ``k_dedup_minhash_sql`` ships), 2 × 6 (high
    precision, recall risk) — each scored for candidate volume, pair
    recall and candidate precision against the exact Jaccard ≥ 0.6 truth
    (``k_dedup_near``). This is the S-curve trade made OPERATIONAL: the
    theory key (``k_eval_lsh_calibration``) plots 1−(1−s^r)^b; this key
    measures where each (b, r) actually lands on THIS corpus — the table
    a dedup owner reads before re-banding a 100 TB index. Completes the
    operating-curve trio (IVF probes, LSH multiprobe, MinHash bands).

    Signatures are the deterministic Carter–Wegman md5 family (shared
    with the production key), so both engines band identically and all
    metrics are exact integer counts in floor-ppm. Scale shape: ONE
    signature build (the |docs|×12 reduce), a 3-config fan-out of the
    signature spine, candidate equi-joins per config whose cost tracks
    bucket occupancy; the exact-truth join is the evaluation's cost, not
    the index's."""
    # The 12-hash signature spine comes from the session memo shared with
    # the production miner — the sweep re-BANDS existing signatures, it
    # never rebuilds them (exactly what a re-banding decision does on a
    # 100 TB index: the signature table is already on disk).
    mh = _minhash_sigs(spark, sf_dir)
    # r13: the 3-config fan-out rides an explode (stays in codegen; the
    # old broadcast crossJoin priced a BNLJ node), and candidates come
    # from WITHIN-BUCKET pair generation instead of a bands self-join —
    # the self-join re-derived the whole crossJoin+double-aggregate
    # banding subtree on each side (ExistingRDD inputs defeat exchange
    # reuse) and paid an SMJ on the long string bkey. Grouping the bands
    # table once by its bucket key and exploding sorted-id pairs emits
    # the IDENTICAL candidate set (a bucket of s docs yields the same
    # s·(s−1)/2 ordered pairs the equi-join produced) for one aggregation
    # and zero joins; per-task blowup on a hot bucket matches what the
    # join's matching-key group already cost.
    bands = (
        mh.select(
            "doc_id", "h", "mh",
            F.explode(
                F.array(F.lit(2), F.lit(3), F.lit(6))
            ).alias("rows_per_band"),
        )
        .groupBy(
            "rows_per_band",
            "doc_id",
            F.expr("h div rows_per_band").alias("band_id"),
        )
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(h, mh))),"
                " s -> cast(s.mh AS string)), ',')"
            ).alias("bkey")
        )
    )
    buckets = (
        bands.groupBy("rows_per_band", "band_id", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.select(
            "rows_per_band",
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> struct(x AS doc_id_1, y AS doc_id_2))))"
                )
            ).alias("p"),
        )
        .select("rows_per_band", "p.doc_id_1", "p.doc_id_2")
        .distinct()
    )
    truth = (
        k_dedup_near(spark, sf_dir)  # session-memoized checkpoint
        .select("doc_id_1", "doc_id_2")
        .withColumn("is_true", F.lit(1))
    )
    stats = (
        # truth is the tiny verified-pair table — broadcast it so the
        # candidate stream never shuffles for the left join
        cand.join(F.broadcast(truth), ["doc_id_1", "doc_id_2"], "left")
        .groupBy("rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0))).alias("n_found"),
        )
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return stats.crossJoin(F.broadcast(nt)).select(
        (F.lit(12) / F.col("rows_per_band")).cast("int").alias("n_bands"),
        F.col("rows_per_band").cast("int"),
        F.col("n_cand").cast("long").alias("n_candidates"),
        F.col("n_truth").cast("long").alias("n_true_pairs"),
        F.col("n_found").cast("long").alias("n_found"),
        F.floor(F.col("n_found") * 1000000 / F.col("n_truth"))
        .cast("long")
        .alias("recall_ppm"),
        F.floor(F.col("n_found") * 1000000 / F.col("n_cand"))
        .cast("long")
        .alias("precision_ppm"),
    )


@register(
    "k_reid_risk",
    oracle="""
    WITH quasi AS (
      SELECT c_custkey, n.n_name AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
      FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
    ), sized AS (
      SELECT count(*) OVER (PARTITION BY nation, segment, bal_band)
               AS class_size
      FROM quasi
    ), tot AS (SELECT count(*) AS n FROM sized)
    SELECT CAST(t.n AS BIGINT) AS n_records,
           CAST(sum(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN class_size <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_le_2,
           CAST(sum(CASE WHEN class_size <= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_le_5,
           CAST(floor(sum(CASE WHEN class_size = 1 THEN 1 ELSE 0 END)
                      * 1000000 / t.n) AS BIGINT) AS unique_ppm,
           CAST(floor(sum(1000000000 // class_size) / (t.n * 1000.0))
             AS BIGINT) AS expected_reid_ppm
    FROM sized CROSS JOIN tot t GROUP BY t.n
    """,
)
def k_reid_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk census over the release quasi-identifiers
    (the k-anonymity trio's RISK summary): how many records are UNIQUE
    on (nation, segment, balance-band) — the journalist-risk numerator —
    plus the ≤2 / ≤5 tails and the expected-match "prosecutor risk"
    E[1/class-size] (the probability a random matching attempt pins the
    right person, Σ 1/size over records / N). ``k_anonymize_kanon``
    suppresses, ``k_anonymize_ldiv``/``_tclose`` audit distributions;
    this key is the single number a privacy review quotes first.

    Counts are exact; each 1/size reciprocal floor-quantizes to an
    exact 1e-9 integer BEFORE the BIGINT sum (order-proof — a double
    reciprocal sum would differ in the last ulp between DuckDB's
    segment-tree and Spark's sequential fold), with one final division
    into floor-ppm. Scale shape: one window over the QI partition (the
    kanon shape), one global reduce."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    quasi = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    w = Window.partitionBy("nation", "segment", "bal_band")
    sized = quasi.select(F.count(F.lit(1)).over(w).alias("class_size"))
    tot = sized.agg(F.count(F.lit(1)).alias("n"))
    return (
        sized.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0)).alias(
                "u1"
            ),
            F.sum(F.when(F.col("class_size") <= 2, 1).otherwise(0)).alias(
                "u2"
            ),
            F.sum(F.when(F.col("class_size") <= 5, 1).otherwise(0)).alias(
                "u5"
            ),
            F.sum(
                F.floor(F.lit(1000000000) / F.col("class_size"))
            ).alias("er"),
        )
        .select(
            F.col("n").cast("long").alias("n_records"),
            F.col("u1").cast("long").alias("n_unique"),
            F.col("u2").cast("long").alias("n_le_2"),
            F.col("u5").cast("long").alias("n_le_5"),
            F.floor(F.col("u1") * 1000000 / F.col("n"))
            .cast("long")
            .alias("unique_ppm"),
            F.floor(F.col("er") / (F.col("n") * 1000.0))
            .cast("long")
            .alias("expected_reid_ppm"),
        )
    )
