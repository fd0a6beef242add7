"""Similarity search over embedding columns (SURVEY.md §2.10).

Three tiers:
- ``sim_topk_exact``: brute-force cosine top-k — the correctness
  baseline (bounded query set × broadcast candidates).
- ``sim_ann_ivf``: partitioned (IVF-style) search — candidates
  restricted to the query's coarse cell; deterministic, so it gets a
  full SQL oracle, and recall vs exact is measured in tests.
- ``sim_ann_lsh``: random-hyperplane bucketed LSH via
  BucketedRandomProjectionLSH — the 100 TB path (candidate
  generation by bucket join); statistical → rows-only + recall test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.prefix import global_ordered
from ..registry import register, reuse
from ..utils import q4, spread_scan, sql_q4
from .dedup import (
    N_QUERIES,
    _SQL_CENT_STEP,
    _SQL_DOT,
    _SQL_NORM2,
    _dot64,
    _norm2,
    capped_centroids,
    cell_ranks,
    query_pairs,
)

TOP_K = 5


@register(
    "sim_topk_exact",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ), ranked AS (
        SELECT qid, cid, cos,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM scored
    )
    SELECT qid, cid, {sql_q4("cos")} AS cosine, rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
    bench=True,
)
def sim_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first 50 vectors.

    The query set is broadcast against the candidate table (at scale:
    queries are always the small side); dot products are JVM-side
    higher-order-function folds — no Python, no UDF. Ranking uses the
    raw double cosine (bitwise identical to the oracle's fold) with
    cid as tie-break.  The scored pairs come from ``query_pairs``,
    whose candidate side is spread over the shuffle parallelism (one
    fold task at sf0.1 before: a 704 ms single-task stage)."""
    pairs = query_pairs(table(spark, sf_dir, "embeddings"), sf_dir)
    cos = F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        pairs.select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


NPROBE = 2


def _ivf_ranked_cells(e: "DataFrame") -> "DataFrame":
    """``cell_ranks`` trimmed to (vec_id, cent_id, cell_rank), as every
    IVF key reads it: TWICE (cell assignment + query probes), so it is
    persist()ed per the SCALE.md r13 rule — the O(N*C) dot-product
    pass (the dominant ANN cost) runs once, lineage survives, and an
    executor loss recomputes instead of failing the job.  Trimming to
    ids BEFORE the persist keeps the cache free of embedding arrays."""
    return reuse(cell_ranks(e).select("vec_id", "cent_id", "cell_rank"))


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), probes AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells
        WHERE cell_rank <= {NPROBE} AND vec_id < {N_QUERIES}
    ), scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM probes p
        JOIN assign ca ON ca.cell = p.cell
        JOIN embeddings a ON a.vec_id = p.vec_id
        JOIN embeddings b ON b.vec_id = ca.vec_id
        WHERE a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT qid, cid, cos,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM scored
    )
    SELECT qid, cid, {sql_q4("cos")} AS cosine, rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file (IVF) approximate top-k cosine search.

    Real IVF mechanics, fully deterministic (→ SQL oracle):
    1. Coarse centroids = capped_centroids(): stride-selected with
       C = min(N/64, 4096), so the broadcast is a fixed ≤1 MB and
       assignment work is O(N·C) with C bounded — at scale: k-means
       run once offline; any fixed centroid set gives the same plan.
    2. Every vector is assigned to its nearest centroid by squared
       L2 (n2 + cn2 - 2·dot, centroid id tie-break) — centroids are
       BROADCAST, so assignment is a map-only pass over the corpus.
    3. A query probes its NPROBE=2 nearest cells; exact cosine runs
       only against candidates assigned there — the scanned fraction
       is ~NPROBE/C of the corpus, the IVF recall/cost dial.
    Recall@k vs sim_topk_exact is measured in tests/test_llm.py."""
    e = table(spark, sf_dir, "embeddings")
    ranked_cells = _ivf_ranked_cells(e)
    assign = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cid"), F.col("cent_id").alias("cell")
    )
    probes = ranked_cells.where(
        (F.col("cell_rank") <= NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))

    q = e.select(
        F.col("vec_id").alias("qid2"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid2"),
        F.col("embedding").alias("ce2"),
        _norm2(F.col("embedding")).alias("cn2b"),
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .where(F.col("qid") != F.col("cid"))
        .join(q, F.col("qid") == F.col("qid2"))
        .join(c, F.col("cid") == F.col("cid2"))
    )
    cos = _dot64(F.col("qe"), F.col("ce2")) / F.sqrt(F.col("qn2") * F.col("cn2b"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        cand.select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


@register(
    "sim_ann_lsh",
    notes="Random-projection LSH: bucket-join candidate generation; "
    "recall@5 vs sim_topk_exact asserted in tests/test_llm.py.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via BucketedRandomProjectionLSH
    (fixed seed). Candidates come from LSH bucket collisions
    (approxSimilarityJoin), then exact distance ranks the survivors —
    the standard recall/cost dial for 100 TB-scale ANN."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("vec")
    )
    q = e.where(F.col("vec_id") < N_QUERIES)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    joined = model.approxSimilarityJoin(q, e, 1.35, distCol="dist")
    w = Window.partitionBy("qid").orderBy(F.col("dist"), "cid")
    return (
        joined.where(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("qid"),
            F.col("datasetB.vec_id").alias("cid"),
            F.col("dist").alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("dist")).alias("euclid_dist"), "rn")
    )


@register(
    "sim_topk_pandas",
    notes="Arrow-vectorized numpy path for cosine top-k; BLAS "
    "summation order differs from the sequential fold, so this is "
    "rows-checked, and tests/test_llm.py::test_pandas_topk_matches_exact "
    "asserts the neighbor SETS equal sim_topk_exact.",
)
def sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k via a vectorized Pandas UDF: each Arrow batch of
    candidates is scored against the broadcast query block with one
    numpy matmul (BLAS) instead of per-pair expression folds — the
    Python-side scale path when JVM folds dominate (dim >> 64).
    Per-query top-k then reduces the matmul scores relationally."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    # no type hints: `from __future__ import annotations` stringifies
    # them, which breaks pandas_udf eval-type inference
    def _cos_block(emb):
        _, qm, qn = bq.value
        c = np.array(emb.tolist(), dtype=np.float64)
        sims = (c @ qm.T) / (np.linalg.norm(c, axis=1)[:, None] * qn[None, :])
        return pd.Series(list(sims))

    cos_block = pandas_udf(_cos_block, "array<double>")

    scored = e.select(
        F.col("vec_id").alias("cid"), cos_block("embedding").alias("sims")
    ).select(
        "cid", F.posexplode("sims").alias("qidx", "cos")
    )
    qid_map = spark.createDataFrame(
        [(int(i), int(q)) for i, q in enumerate(qids)], "qidx int, qid long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        scored.join(F.broadcast(qid_map), "qidx")
        .where(F.col("qid") != F.col("cid"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


# ------------------------------------------------ int8 quantization

Q_BITS_MAX = 127  # symmetric int8 range


@register(
    "embed_quantize",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), 'max') / {Q_BITS_MAX}
                   AS scale
        FROM embeddings
    ), q AS (
        SELECT vec_id, scale,
               list_transform(embedding, x -> CAST(greatest(-{Q_BITS_MAX},
                   least({Q_BITS_MAX}, floor(CAST(x AS DOUBLE)/scale + 0.5)))
                   AS INT)) AS qv,
               embedding
        FROM s
    )
    SELECT vec_id, {sql_q4("scale * 1000")} AS scale_x1k,
           array_to_string(qv[1:8], ',') AS q8,
           {sql_q4("list_aggregate([pow(CAST(embedding[i] AS DOUBLE)"
                   " - CAST(qv[i] AS DOUBLE)*scale, 2)"
                   " for i in range(1, 65)], 'sum') / 64 * 1e6")} AS mse_x1m
    FROM q
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    standard 4× storage/bandwidth reduction before ANN at scale
    (100 TB of float32 vectors → 25 TB int8 + one float scale per
    vector). Per-vector scale = max|x|/127; q_i = round(x_i/scale)
    clamped to ±127; output carries the scale, the first 8 quantized
    values, and the reconstruction MSE — all JVM-side higher-order
    folds, no UDF, shuffle-free (narrow per-row transform).

    Rounding is floor(x+0.5) on BOTH engines (identical IEEE-754 op
    chain), never engine-native round() with its half-even traps;
    scale/mse are quantized via the q4-scaled outputs."""
    e = table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = (
        F.aggregate(
            F.transform("embedding", lambda x: F.abs(xd(x))),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
        / Q_BITS_MAX
    )
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    qv = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-Q_BITS_MAX),
            F.least(
                F.lit(Q_BITS_MAX).cast("double"),
                F.floor(xd(x) / F.col("scale") + 0.5).cast("double"),
            ),
        ).cast("int"),
    )
    q = s.select("vec_id", "scale", "embedding", qv.alias("qv"))
    err2 = F.zip_with(
        "embedding", "qv", lambda x, qi: F.pow(xd(x) - xd(qi) * F.col("scale"), 2)
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda a, x: a + x) / 64
    return q.select(
        "vec_id",
        q4(F.col("scale") * 1000).alias("scale_x1k"),
        # comma-joined, not array<int>: the driver's pandas
        # canonicalizer cannot factorize array cells (r4 red row)
        F.array_join(
            F.transform(F.slice("qv", 1, 8), lambda x: x.cast("string")), ","
        ).alias("q8"),
        q4(mse * 1e6).alias("mse_x1m"),
    )


# ------------------------------------------- batch model inference

_W_EXPR = "((i * 37) % 19 - 9) / 10.0"  # deterministic weight_i, i 1-based


@register(
    "ml_batch_inference",
    oracle=f"""
    SELECT vec_id,
           {sql_q4("list_aggregate([CAST(embedding[i] AS DOUBLE)"
                   f" * ({_W_EXPR})"
                   " for i in range(1, 65)], 'sum') + 0.5")} AS score,
           (list_aggregate([CAST(embedding[i] AS DOUBLE)"""
    f""" * ({_W_EXPR})
             for i in range(1, 65)], 'sum') + 0.5 > 0) AS accept
    FROM embeddings
    """,
)
def ml_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference inside the pipeline via the official
    `pyspark.ml.functions.predict_batch_udf` — the API that loads a
    model ONCE per executor (make_predict_fn closure), feeds it
    Arrow-batched numpy arrays with a controlled batch_size, and is
    how quality classifiers / reward models / embedding models run
    over 100 TB without per-row model reloads. The 'model' here is a
    deterministic linear scorer (weights derived from the index) so
    the whole inference path is hash-verifiable; scoring folds
    left-to-right to match the oracle's sequential sum exactly."""
    import numpy as np
    from pyspark.ml.functions import predict_batch_udf

    def make_predict_fn():
        w = [((i * 37) % 19 - 9) / 10.0 for i in range(1, 65)]

        def predict(inputs: "np.ndarray") -> "np.ndarray":
            out = []
            for row in inputs:
                acc = 0.0
                for x, wi in zip(row.tolist(), w):
                    acc = acc + float(x) * wi
                out.append(acc + 0.5)
            return np.array(out, dtype=np.float64)

        return predict

    from pyspark.sql.types import DoubleType

    score_udf = predict_batch_udf(
        make_predict_fn,
        return_type=DoubleType(),
        batch_size=256,
        input_tensor_shapes=[[64]],  # array column -> fixed-dim tensor
    )
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id", score_udf(F.col("embedding")).alias("raw_score")
    )
    return scored.select(
        "vec_id",
        q4(F.col("raw_score")).alias("score"),
        (F.col("raw_score") > 0).alias("accept"),
    )


SIM_TAU = 0.35  # radius threshold (fixture cosines top out ~0.48)


@register(
    "sim_range_search",
    oracle=f"""
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           {sql_q4(f"{_SQL_DOT} / sqrt(" + _SQL_NORM2.format(col="a.embedding")
                   + " * " + _SQL_NORM2.format(col="b.embedding") + ")")}
               AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
      AND {_SQL_DOT} / sqrt({_SQL_NORM2.format(col="a.embedding")}
           * {_SQL_NORM2.format(col="b.embedding")}) >= {SIM_TAU}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search — ALL neighbors with cosine
    ≥ τ, the other half of the similarity API surface from top-k:
    result size is data-dependent (0 or 500 matches), which is what
    dedup thresholds and recall-oriented retrieval want. The scored
    pairs of ``query_pairs``, minus the ranking window — cheaper when
    τ is selective because nothing needs sorting (the filter lands in
    the join condition, so only the survivors' dot is folded twice).
    The LSH bucket path (`sim_ann_lsh`) serves the
    same query at scale with per-bucket post-filtering."""
    pairs = query_pairs(table(spark, sf_dir, "embeddings"), sf_dir)
    cos = F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2"))
    return (
        pairs.select("qid", "cid", cos.alias("cos"))
        .where(F.col("cos") >= SIM_TAU)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"))
    )


# ------------------------------------------------- recall as data
# (VERDICT r01 task #4: ANN recall emitted as a verifiable query
# output, not just a pytest assertion)

from ..registry import REGISTRY as _REG  # noqa: E402


def _recall_frame(spark: SparkSession, sf_dir: str, tier: str,
                  approx_key: str) -> DataFrame:
    """recall@TOP_K of an approximate tier vs sim_topk_exact: the
    fraction of true top-K neighbor pairs the tier reproduced."""
    exact = _REG["sim_topk_exact"].build(spark, sf_dir).select("qid", "cid")
    approx = (
        _REG[approx_key]
        .build(spark, sf_dir)
        .select("qid", "cid", F.lit(1).alias("hit"))
    )
    j = exact.join(approx, ["qid", "cid"], "left")
    return j.agg(
        F.lit(tier).alias("tier"),
        F.countDistinct("qid").cast("long").alias("n_queries"),
        q4(F.count("hit").cast("double") / F.count(F.lit(1))).alias(
            f"recall_at_{TOP_K}"
        ),
    )


# the two composable tier oracles, captured at module-definition time
# (both keys register earlier in this module)
_IVF_ORACLE = _REG["sim_ann_ivf"].oracle


def _recall_oracle(tier: str, approx_oracle: str) -> str:
    return f"""
    WITH exact_tk AS ({_REG["sim_topk_exact"].oracle}),
         approx_tk AS ({approx_oracle})
    SELECT '{tier}' AS tier,
           CAST(count(DISTINCT e.qid) AS BIGINT) AS n_queries,
           {sql_q4("CAST(count(v.cid) AS DOUBLE) / count(*)")}
               AS recall_at_{TOP_K}
    FROM exact_tk e
    LEFT JOIN approx_tk v ON v.qid = e.qid AND v.cid = e.cid
    """


@register(
    "sim_recall_report",
    # sim_topk_exact / sim_ann_ivf registered above in this module,
    # so their oracles compose here at decoration time
    oracle=_recall_oracle("ivf", _IVF_ORACLE),
    notes="IVF is deterministic, so its recall@5 vs the exact tier is "
    "itself a fully SQL-oracled value — the ANN quality dial measured "
    "as data.",
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF tier against sim_topk_exact, as a query
    output: one row (tier, n_queries, recall_at_5). Composes the two
    registered builders — both sides' costs are the tiers' own
    (broadcast query block, bucketed candidates), and the recall join
    touches only 2×50×5 (qid, cid) pairs, so the report is free at
    any corpus scale."""
    return _recall_frame(spark, sf_dir, "ivf", "sim_ann_ivf")


@register(
    "sim_recall_lsh",
    notes="LSH buckets come from seeded random hyperplanes — not "
    "SQL-expressible, so rows-only; the emitted recall value is "
    "bound-asserted in tests/test_llm.py.",
)
def sim_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the seeded-LSH tier against sim_topk_exact, as
    data: one row (tier, n_queries, recall_at_5)."""
    return _recall_frame(spark, sf_dir, "lsh", "sim_ann_lsh")


# ------------------------------------- quantized IVF (ADC-style) tier

RERANK = 2 * TOP_K  # approx-score candidates kept for exact re-rank
_SQL_Q8 = f"""
    qs AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), 'max') / {Q_BITS_MAX}
                   AS scale
        FROM embeddings
    ), quant AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(greatest(-{Q_BITS_MAX},
                   least({Q_BITS_MAX}, floor(CAST(x AS DOUBLE)/scale + 0.5)))
                   AS BIGINT)) AS qv
        FROM qs
    ), qnorm AS (
        SELECT vec_id, qv,
               list_aggregate(list_transform(qv, x -> x*x), 'sum') AS qn2i
        FROM quant
    )"""


@register(
    "sim_ann_ivf_q8",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), probes AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells
        WHERE cell_rank <= {NPROBE} AND vec_id < {N_QUERIES}
    ), {_SQL_Q8},
    cand AS (
        SELECT DISTINCT p.vec_id AS qid, ca.vec_id AS cid
        FROM probes p JOIN assign ca ON ca.cell = p.cell
        WHERE p.vec_id <> ca.vec_id
    ), approx AS (
        SELECT c.qid, c.cid,
               CAST(list_aggregate([a.qv[i]*b.qv[i]
                    for i in range(1, 65)], 'sum') AS DOUBLE)
               / sqrt(CAST(a.qn2i * b.qn2i AS DOUBLE)) AS acos_
        FROM cand c
        JOIN qnorm a ON a.vec_id = c.qid
        JOIN qnorm b ON b.vec_id = c.cid
    ), shortlist AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                        ORDER BY acos_ DESC, cid) AS rn_a
            FROM approx
        ) WHERE rn_a <= {RERANK}
    ), exact AS (
        SELECT s.qid, s.cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM shortlist s
        JOIN embeddings a ON a.vec_id = s.qid
        JOIN embeddings b ON b.vec_id = s.cid
    )
    SELECT qid, cid, {sql_q4("cos")} AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS rn
        FROM exact
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_ann_ivf_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized IVF search (the IVF-ADC pattern): candidates come
    from the coarse-cell probe join, but candidate SCORING runs on
    int8 codes — the asymmetric-distance-computation trick that makes
    100 TB ANN memory-bandwidth-bound on 1/4 the bytes. Scales cancel
    in the quantized cosine (q_dot / sqrt(q_norm²·q_norm²)), so the
    approximate score is a ratio of EXACT INTEGERS — bitwise
    deterministic on both engines, hence a full SQL oracle for a
    quantized ANN path. The top 2k approx candidates per query are
    re-ranked with full-precision cosine (the standard refine step);
    recall vs sim_topk_exact is measured in tests/test_llm.py.

    Plan shape: broadcast centroids (map-only assignment), equi-join
    on cell for candidates, int folds for scoring, one ranking window
    per stage — no pairwise stage, no Python."""
    e = table(spark, sf_dir, "embeddings")
    ranked_cells = _ivf_ranked_cells(e)
    assign = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cid"), F.col("cent_id").alias("cell")
    )
    probes = ranked_cells.where(
        (F.col("cell_rank") <= NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    xd = lambda x: x.cast("double")  # noqa: E731
    scale = (
        F.aggregate(
            F.transform("embedding", lambda x: F.abs(xd(x))),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
        / Q_BITS_MAX
    )
    qv = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-Q_BITS_MAX).cast("double"),
            F.least(
                F.lit(Q_BITS_MAX).cast("double"),
                F.floor(xd(x) / F.col("scale") + 0.5).cast("double"),
            ),
        ).cast("long"),
    )
    qnorm = (
        e.select("vec_id", "embedding", scale.alias("scale"))
        .select("vec_id", qv.alias("qv"))
        .select(
            "vec_id",
            "qv",
            F.aggregate(
                F.transform("qv", lambda x: x * x), F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qn2i"),
        )
    )
    qa = qnorm.select(
        F.col("vec_id").alias("qid2"), F.col("qv").alias("qva"),
        F.col("qn2i").alias("qn2a"),
    )
    qb = qnorm.select(
        F.col("vec_id").alias("cid2"), F.col("qv").alias("qvb"),
        F.col("qn2i").alias("qn2b"),
    )
    idot = F.aggregate(
        F.zip_with("qva", "qvb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        cand.join(qa, F.col("qid") == F.col("qid2"))
        .join(qb, F.col("cid") == F.col("cid2"))
        .select(
            "qid",
            "cid",
            (idot.cast("double") / F.sqrt((F.col("qn2a") * F.col("qn2b")).cast("double"))).alias("acos_"),
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.col("acos_").desc(), "cid")
    shortlist = (
        approx.withColumn("rn_a", F.row_number().over(wa))
        .where(F.col("rn_a") <= RERANK)
        .select("qid", "cid")
    )
    fa = e.select(
        F.col("vec_id").alias("qid3"), F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("fn2a"),
    )
    fb = e.select(
        F.col("vec_id").alias("cid3"), F.col("embedding").alias("ce2"),
        _norm2(F.col("embedding")).alias("fn2b"),
    )
    cos = _dot64(F.col("qe"), F.col("ce2")) / F.sqrt(F.col("fn2a") * F.col("fn2b"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        shortlist.join(fa, F.col("qid") == F.col("qid3"))
        .join(fb, F.col("cid") == F.col("cid3"))
        .select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


# --------------------------------- matryoshka (prefix-dim) retrieval

MRL_DIM = 32  # coarse prefix dimensions used for first-stage ranking
# Recall@5 vs prefix width, measured on the (quasi-random) fixtures:
# 16 → 0.22, 24 → 0.34, 32 → 0.42, 48 → 0.68. Real MRL-trained
# embeddings concentrate meaning in the prefix and do far better at
# 16; 32 (half the bytes, IVF-class recall even on unstructured
# vectors) is the honest default here.
_SQL_PRE_DOT = (
    f"list_aggregate([CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)"
    f" for i in range(1, {MRL_DIM + 1})], 'sum')"
)
_SQL_PRE_NORM2 = (
    f"list_aggregate(list_transform({{col}}[1:{MRL_DIM}],"
    " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')"
)


@register(
    "embed_matryoshka_topk",
    oracle=f"""
    WITH coarse AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               {_SQL_PRE_DOT} /
               sqrt({_SQL_PRE_NORM2.format(col="a.embedding")}
                    * {_SQL_PRE_NORM2.format(col="b.embedding")}) AS pcos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ), shortlist AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                        ORDER BY pcos DESC, cid) AS rn_c
            FROM coarse
        ) WHERE rn_c <= {RERANK}
    ), exact AS (
        SELECT s.qid, s.cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM shortlist s
        JOIN embeddings a ON a.vec_id = s.qid
        JOIN embeddings b ON b.vec_id = s.cid
    )
    SELECT qid, cid, {sql_q4("cos")} AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS rn
        FROM exact
    ) WHERE rn <= {TOP_K}
    """,
)
def embed_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) retrieval: first-stage ranking
    uses only the FIRST 16 of 64 dimensions — the MRL trick where a
    nested low-dim prefix of the embedding is itself a usable
    representation — then the 2k shortlist is re-ranked with the full
    vector. At 100 TB the coarse pass streams half the vector bytes
    (and composes with the IVF cell restriction and the int8 codes —
    independent bandwidth levers on the same scan). Deterministic
    prefix folds → full SQL oracle; recall vs the full-dim exact tier
    is measured in tests/test_llm.py (see the MRL_DIM curve note)."""
    e = table(spark, sf_dir, "embeddings")
    pre = F.slice("embedding", 1, MRL_DIM)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        pre.alias("qp"),
        _norm2(pre).alias("qpn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        pre.alias("cp"),
        _norm2(pre).alias("cpn2"),
    )
    pcos = _dot64(F.col("qp"), F.col("cp")) / F.sqrt(F.col("qpn2") * F.col("cpn2"))
    w_c = Window.partitionBy("qid").orderBy(F.col("pcos").desc(), "cid")
    shortlist = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select("qid", "cid", pcos.alias("pcos"))
        .withColumn("rn_c", F.row_number().over(w_c))
        .where(F.col("rn_c") <= RERANK)
        .select("qid", "cid")
    )
    fa = e.select(
        F.col("vec_id").alias("qid3"), F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("fn2a"),
    )
    fb = e.select(
        F.col("vec_id").alias("cid3"), F.col("embedding").alias("ce2"),
        _norm2(F.col("embedding")).alias("fn2b"),
    )
    cos = _dot64(F.col("qe"), F.col("ce2")) / F.sqrt(F.col("fn2a") * F.col("fn2b"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        shortlist.join(fa, F.col("qid") == F.col("qid3"))
        .join(fb, F.col("cid") == F.col("cid3"))
        .select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


# ------------------------------------------- IVF-PQ (ADC) search

PQ_M = 8  # subspaces (64 dims -> 8 x 8-dim subvectors)
PQ_K = 16  # codewords per subspace (codebook = first 16 vectors)
PQ_RERANK = 50  # full-precision re-rank depth

_SQL_SUB_D2 = (
    "list_aggregate([ (CAST(s.sv[i] AS DOUBLE) - CAST(c.cw[i] AS DOUBLE))"
    " * (CAST(s.sv[i] AS DOUBLE) - CAST(c.cw[i] AS DOUBLE))"
    " for i in range(1, 9)], 'sum')"
)
_SQL_RECON_DOT = (
    "list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(r.rx[i] AS DOUBLE)"
    " for i in range(1, 65)], 'sum')"
)


@register(
    "sim_ann_ivfpq",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), probes AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells
        WHERE cell_rank <= {NPROBE} AND vec_id < {N_QUERIES}
    ), cand AS (
        SELECT DISTINCT p.vec_id AS qid, a2.vec_id AS cid
        FROM probes p JOIN assign a2 ON a2.cell = p.cell
        WHERE p.vec_id <> a2.vec_id
    ), ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    cb AS (
        SELECT ms.m, vec_id AS k,
               embedding[8*ms.m + 1 : 8*ms.m + 8] AS cw
        FROM embeddings CROSS JOIN ms WHERE vec_id < {PQ_K}
    ), sub AS (
        SELECT vec_id, ms.m, embedding[8*ms.m + 1 : 8*ms.m + 8] AS sv
        FROM embeddings CROSS JOIN ms
    ), enc AS (
        SELECT s.vec_id, s.m, c.cw,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY {_SQL_SUB_D2}, c.k) AS rk
        FROM sub s JOIN cb c ON s.m = c.m
    ), recon AS (
        SELECT vec_id, flatten(list(cw ORDER BY m)) AS rx
        FROM enc WHERE rk = 1 GROUP BY vec_id
    ), approx AS (
        SELECT cand.qid, cand.cid,
               {_SQL_RECON_DOT} /
               sqrt({_SQL_NORM2.format(col="q.embedding")}
                    * {_SQL_NORM2.format(col="r.rx")}) AS ascore
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.qid
        JOIN recon r ON r.vec_id = cand.cid
    ), shortlist AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY ascore DESC, cid) AS rn_a
            FROM approx
        ) WHERE rn_a <= {PQ_RERANK}
    ), exact AS (
        SELECT s.qid, s.cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM shortlist s
        JOIN embeddings a ON a.vec_id = s.qid
        JOIN embeddings b ON b.vec_id = s.cid
    )
    SELECT qid, cid, {sql_q4("cos")} AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid) AS rn
        FROM exact
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance computation (ADC) — the
    memory-bandwidth end-game for 100 TB ANN: candidates come from
    the capped-centroid IVF probe join, but each candidate is stored
    as 8 four-bit-ish codes (one codeword index per 8-dim subspace,
    16-entry codebook = the first 16 vectors' subvectors), i.e.
    8 bytes instead of 256 — a 32× compression of the scan set.
    Scoring is asymmetric: the QUERY stays full-precision while the
    candidate is its reconstruction (concatenated codewords), so the
    approximate cosine is one 64-dim fold against the reconstructed
    array — bitwise-deterministic on both engines (the fold order is
    the array order; no cross-row double summation), hence a full
    SQL oracle for a PQ pipeline. Top PQ_RERANK=50 per query re-rank
    with exact cosine (the standard refine step); recall@5 vs
    sim_topk_exact is measured in tests/test_llm.py.

    Plan shape: codebook (16×8 subvectors) and centroids are
    broadcast; encoding is a per-(vector, subspace) window argmin —
    linear in N·M·K; reconstruction is a collect_list/sort/flatten
    per vector (M structs, bounded); candidate scoring joins the
    bounded probe pairs to the reconstructed table by id. At scale
    the recon table IS the compressed index: 8 codes + norm per
    vector, rebuilt only when the codebook retrains."""
    e = table(spark, sf_dir, "embeddings")
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    cb = (
        e.where(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("k"), "embedding")
        .select("k", ms, "embedding")
        .select(
            "m",
            "k",
            F.expr("slice(embedding, 8*m + 1, 8)").alias("cw"),
        )
    )
    sub = e.select("vec_id", ms, "embedding").select(
        "vec_id", "m", F.expr("slice(embedding, 8*m + 1, 8)").alias("sv")
    )
    d2 = F.aggregate(
        F.zip_with(
            "sv",
            "cw",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wk = Window.partitionBy("vec_id", "m").orderBy(d2.asc(), F.col("k"))
    enc = (
        sub.join(F.broadcast(cb), "m")
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
    )
    recon = (
        enc.select("vec_id", F.struct("m", "cw").alias("mcw"))
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("mcw")), lambda s: s["cw"]
                )
            ).alias("rx")
        )
    )

    # IVF candidate generation (same machinery as sim_ann_ivf)
    ranked_cells = _ivf_ranked_cells(e)
    assign = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cid"), F.col("cent_id").alias("cell")
    )
    probes = ranked_cells.where(
        (F.col("cell_rank") <= NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    q = e.select(
        F.col("vec_id").alias("qid2"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    r = recon.select(
        F.col("vec_id").alias("cid2"),
        "rx",
        _norm2(F.col("rx")).alias("rn2"),
    )
    ascore = _dot64(F.col("qe"), F.col("rx")) / F.sqrt(
        F.col("qn2") * F.col("rn2")
    )
    wa = Window.partitionBy("qid").orderBy(F.col("ascore").desc(), "cid")
    shortlist = (
        cand.join(q, F.col("qid") == F.col("qid2"))
        .join(r, F.col("cid") == F.col("cid2"))
        .select("qid", "cid", ascore.alias("ascore"))
        .withColumn("rn_a", F.row_number().over(wa))
        .where(F.col("rn_a") <= PQ_RERANK)
        .select("qid", "cid")
    )
    a = e.select(
        F.col("vec_id").alias("aid"),
        F.col("embedding").alias("ae"),
        _norm2(F.col("embedding")).alias("an2"),
    )
    b = e.select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("be"),
        _norm2(F.col("embedding")).alias("bn2"),
    )
    cos = _dot64(F.col("ae"), F.col("be")) / F.sqrt(F.col("an2") * F.col("bn2"))
    we = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        shortlist.join(a, F.col("qid") == F.col("aid"))
        .join(b, F.col("cid") == F.col("bid"))
        .select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(we).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", q4(F.col("cos")).alias("cosine"), "rn")
    )


# ------------------------------------------------ diverse top-k (MMR-lite)

N_DIVERSE_Q = 10
DIVERSE_K = 5


@register(
    "sim_topk_diverse",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid, ca.cell,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
        JOIN assign ca ON ca.vec_id = b.vec_id
        WHERE a.vec_id < {N_DIVERSE_Q}
    ), cell_best AS (
        SELECT qid, cid, cell, cos,
               row_number() OVER (PARTITION BY qid, cell
                    ORDER BY cos DESC, cid) AS rn_cell
        FROM scored
    ), ranked AS (
        SELECT qid, cid, cell, cos,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM cell_best WHERE rn_cell = 1
    )
    SELECT qid, cid, cell, {sql_q4("cos")} AS cosine, rn
    FROM ranked WHERE rn <= {DIVERSE_K}
    """,
)
def sim_topk_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-capped top-k: exact cosine scoring, but AT MOST ONE
    result per coarse IVF cell — the cheap deterministic stand-in for
    MMR re-ranking (results can't all come from one tight cluster,
    which plain top-k over a corpus full of near-dups produces).

    Scale shape: exact scoring is ``query_pairs``' broadcast
    query-block × corpus pass, and each candidate's cell is its
    ``cell_ranks`` rank 1; the diversity cap is two window ranks (per
    (query, cell), then per query over ≤C cell-bests) — both bounded,
    adding no data-sized shuffle beyond the cell-assignment join."""
    e = table(spark, sf_dir, "embeddings")
    assign = cell_ranks(e).where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cid"), F.col("cent_id").alias("cell")
    )
    cos = F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2"))
    pairs = query_pairs(e, sf_dir, N_DIVERSE_Q).join(assign, "cid").select(
        "qid", "cid", "cell", cos.alias("cos")
    )
    wcell = Window.partitionBy("qid", "cell").orderBy(F.col("cos").desc(), "cid")
    wq = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        pairs.withColumn("rn_cell", F.row_number().over(wcell))
        .where(F.col("rn_cell") == 1)
        .withColumn("rn", F.row_number().over(wq).cast("long"))
        .where(F.col("rn") <= DIVERSE_K)
        .select("qid", "cid", "cell", q4(F.col("cos")).alias("cosine"), "rn")
    )


# ------------------------------------------------- embedding profiles


@register(
    "embed_norm_stats",
    oracle=f"""
    WITH norms AS (
        SELECT label,
               CAST(floor(sqrt({_SQL_NORM2.format(col="embedding")})
                          * 1e8 + 0.5) AS BIGINT) AS nq
        FROM embeddings
    ), m AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(nq) AS HUGEINT) AS s1,
               CAST(sum(CAST(nq AS HUGEINT) * nq) AS HUGEINT) AS s2,
               CAST(min(nq) AS BIGINT) AS mn, CAST(max(nq) AS BIGINT) AS mx
        FROM norms GROUP BY label
    )
    SELECT label, n,
           {sql_q4("CAST(s1 AS DOUBLE)/n/1e8")} AS mean_norm,
           {sql_q4("sqrt((CAST(s2 AS DOUBLE)/1e16"
                   " - (CAST(s1 AS DOUBLE)/n) * (CAST(s1 AS DOUBLE)/1e16))"
                   " / (n - 1))")} AS std_norm,
           {sql_q4("CAST(mn AS DOUBLE)/1e8")} AS min_norm,
           {sql_q4("CAST(mx AS DOUBLE)/1e8")} AS max_norm
    FROM m
    """,
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm profile per label (mean/std/min/max of the L2
    norm) — the first sanity check on any ingested embedding table:
    un-normalized vectors, truncated writes, and mixed model versions
    all show up here before they poison downstream cosine math.

    Per-row norms are JVM higher-order-function folds (no Python),
    quantized to e-8 fixed point so the group sums are exact
    integers — the same order-free discipline as stat_jackknife_cv —
    and the whole profile is one narrow projection + one hash
    aggregate: embarrassingly scalable."""
    e = table(spark, sf_dir, "embeddings")
    nq = F.floor(
        F.sqrt(_norm2(F.col("embedding"))) * F.lit(1e8) + F.lit(0.5)
    ).cast("long")
    dec = "decimal(38,0)"
    norms = e.select("label", nq.alias("nq"))
    m = norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("nq").cast(dec)).alias("s1"),
        F.sum(F.col("nq").cast(dec) * F.col("nq").cast(dec)).alias("s2"),
        F.min("nq").cast("long").alias("mn"),
        F.max("nq").cast("long").alias("mx"),
    )
    s1d = F.col("s1").cast("double")
    var = (
        F.col("s2").cast("double") / F.lit(1e16)
        - (s1d / F.col("n")) * (s1d / F.lit(1e16))
    ) / (F.col("n") - 1)
    return m.select(
        "label",
        "n",
        q4(s1d / F.col("n") / F.lit(1e8)).alias("mean_norm"),
        q4(F.sqrt(var)).alias("std_norm"),
        q4(F.col("mn").cast("double") / F.lit(1e8)).alias("min_norm"),
        q4(F.col("mx").cast("double") / F.lit(1e8)).alias("max_norm"),
    )


@register(
    "embed_centroid_inertia",
    oracle=f"""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    comp AS (
        SELECT e.label, d.i,
               CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1e7 + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings e CROSS JOIN dims d
    ), cent AS (
        SELECT label, i, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(vq) AS BIGINT) AS sv
        FROM comp GROUP BY label, i
    ), cnorm AS (
        SELECT label, max(n) AS n,
               CAST(sum(CAST(floor(
                   (CAST(sv AS DOUBLE)/n/1e7) * (CAST(sv AS DOUBLE)/n/1e7)
                   * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS c_norm2
        FROM cent GROUP BY label
    ), vnorm AS (
        SELECT label,
               CAST(sum(CAST(floor({_SQL_NORM2.format(col="embedding")}
                                   * 1e8 + 0.5) AS BIGINT)) AS DOUBLE) / 1e8
                   AS sum_norm2
        FROM embeddings GROUP BY label
    )
    SELECT c.label, c.n AS n_vecs,
           {sql_q4("c.c_norm2")} AS c_norm2,
           {sql_q4("v.sum_norm2 / c.n")} AS mean_norm2,
           {sql_q4("v.sum_norm2 - c.n * c.c_norm2")} AS inertia,
           {sql_q4("(v.sum_norm2 - c.n * c.c_norm2) / c.n")}
               AS inertia_per_vec
    FROM cnorm c JOIN vnorm v ON c.label = v.label
    """,
)
def embed_centroid_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm and within-cluster inertia
    Σ‖x−c‖² — one full k-means iteration's statistics (M-step
    centroid + E-step cost) computed RELATIONALLY: positions explode
    to a (label × 64) component grid, the centroid is an integer-sum
    average per component, and the inertia uses the algebraic
    identity Σ‖x−c‖² = Σ‖x‖² − n·‖c‖² so no per-vector distance to
    the centroid is ever materialized (that join would be a second
    data-sized pass).

    Every commutative sum is fixed-point integer (components e-7,
    norms e-8, centroid squares e-12); doubles appear only in
    per-group final formulas. Shuffle inventory: one explode +
    grouped aggregate (64 rows per label) + one narrow norm
    aggregate — both map-side combinable, the centroid grid is
    dimension-bounded at any corpus size."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("v").cast("double") * F.lit(1e7) + F.lit(0.5))
        .cast("long")
        .alias("vq"),
    )
    cent = comp.groupBy("label", "i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vq").cast("long").alias("sv"),
    )
    cd = F.col("sv").cast("double") / F.col("n") / F.lit(1e7)
    cnorm = cent.groupBy("label").agg(
        F.max("n").alias("n"),
        (
            F.sum(
                F.floor(cd * cd * F.lit(1e12) + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.lit(1e12)
        ).alias("c_norm2"),
    )
    vnorm = e.groupBy("label").agg(
        (
            F.sum(
                F.floor(
                    _norm2(F.col("embedding")) * F.lit(1e8) + F.lit(0.5)
                ).cast("long")
            ).cast("double")
            / F.lit(1e8)
        ).alias("sum_norm2")
    )
    inertia = F.col("sum_norm2") - F.col("n") * F.col("c_norm2")
    return cnorm.join(vnorm, "label").select(
        "label",
        F.col("n").alias("n_vecs"),
        q4(F.col("c_norm2")).alias("c_norm2"),
        q4(F.col("sum_norm2") / F.col("n")).alias("mean_norm2"),
        q4(inertia).alias("inertia"),
        q4(inertia / F.col("n")).alias("inertia_per_vec"),
    )


# ---------------------------------------------- per-dimension whitening

@register(
    "embed_whitening_stats",
    oracle=f"""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
    vals AS (
        SELECT dim,
               CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1e8 + 0.5)
                    AS BIGINT) AS xq,
               CAST(floor(CAST(embedding[dim] AS DOUBLE)
                          * CAST(embedding[dim] AS DOUBLE) * 1e8 + 0.5)
                    AS BIGINT) AS x2q,
               CAST(embedding[dim] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN dims
    ), agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xq) AS DOUBLE) / 1e8 AS sx,
               CAST(sum(x2q) AS DOUBLE) / 1e8 AS sxx,
               min(x) AS mn, max(x) AS mx
        FROM vals GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           {sql_q4("sx / n")} AS mean,
           {sql_q4("sxx / n - (sx / n) * (sx / n)")} AS var_pop,
           {sql_q4("mn")} AS min_val, {sql_q4("mx")} AS max_val
    FROM agg
    """,
)
def embed_whitening_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding corpus — the
    sufficient statistics for whitening / mean-centering (the
    standard post-processing that fixes embedding anisotropy before
    cosine retrieval; see "All-but-the-Top", Mu et al., ICLR 2018 —
    public). posexplode flattens vectors to (dim, value) rows; each
    contribution is fixed-point-quantized (1e-8) BEFORE summing so
    the per-dimension sums are exact integers — order-free at any
    parallelism, unlike a raw float sum. One explode (64x rows, map-
    side) + one hash aggregate of 64 groups; the output is the 64-row
    statistics table a whitening transform would broadcast."""
    e = table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    vals = e.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(x * F.lit(1e8) + F.lit(0.5)).cast("long").alias("xq"),
        F.floor(x * x * F.lit(1e8) + F.lit(0.5)).cast("long").alias("x2q"),
        x.alias("x"),
    )
    agg = vals.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("xq").cast("double") / F.lit(1e8)).alias("sx"),
        (F.sum("x2q").cast("double") / F.lit(1e8)).alias("sxx"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    mean = F.col("sx") / F.col("n")
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        q4(mean).alias("mean"),
        q4(F.col("sxx") / F.col("n") - mean * mean).alias("var_pop"),
        q4(F.col("mn")).alias("min_val"),
        q4(F.col("mx")).alias("max_val"),
    )


# ------------------------------------------------- MIPS via augmentation

MIPS_QUERIES = 20
MIPS_K = 5


@register(
    "sim_mips_transform",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid, {_SQL_DOT} AS dot
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {MIPS_QUERIES}
    ), ranked AS (
        SELECT qid, cid, dot,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dot DESC, cid) AS BIGINT) AS rn
        FROM scored
    )
    SELECT qid, cid, {sql_q4("dot")} AS dot, rn
    FROM ranked WHERE rn <= {MIPS_K}
    """,
)
def sim_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) reduced to cosine search
    via the order-preserving augmentation (Bachrach et al., RecSys
    2014 — public): append sqrt(M^2 - ||c||^2) to each candidate
    (M = max corpus norm, a 1-row broadcast) and 0 to each query;
    then augmented-space cosine = dot / (||q|| * M), monotone in the
    inner product, so ANY cosine index (LSH, IVF) can serve MIPS —
    which is how recommender retrieval actually runs at scale.

    The ORACLE ranks by the raw inner product directly; the Spark
    side ranks by the augmented cosine — the hash match IS the proof
    that the transform preserves the ranking (ties broken by cid on
    both sides; the emitted dot is recomputed exactly)."""
    e = table(spark, sf_dir, "embeddings")
    m = e.agg(F.max(F.sqrt(_norm2(F.col("embedding")))).alias("m_norm"))
    # augmented candidate norm is exactly M for every candidate:
    # ||(c, sqrt(M^2-||c||^2))|| = M; the extra query coordinate is 0,
    # so the augmented dot equals the raw dot.
    pairs = query_pairs(e, sf_dir, MIPS_QUERIES).crossJoin(F.broadcast(m))
    cos_aug = F.col("dot") / (F.sqrt(F.col("qn2")) * F.col("m_norm"))
    # rank by (cos_aug, dot, cid): cos_aug is the augmented-space
    # score the reduction actually serves, but IEEE division by the
    # per-query constant can COLLAPSE two dots ~1 ulp apart into one
    # cos_aug — the dot tiebreak restores exactly the oracle's
    # (dot DESC, cid) order in that case (strict cos_aug order
    # already implies strict dot order, so the composite order equals
    # the oracle's everywhere)
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_aug").desc(), F.col("dot").desc(), "cid"
    )
    return (
        pairs.select("qid", "cid", "dot", cos_aug.alias("cos_aug"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= MIPS_K)
        .select("qid", "cid", q4(F.col("dot")).alias("dot"), "rn")
    )


# ------------------------------------------------- model evaluation

# The deterministic linear scorer from ml_batch_inference, as a pure
# JVM fold (same left-to-right order as the oracle comprehension) —
# shared by the evaluation keys below so scores are bit-identical.
_SCORE_SQL = (
    "list_aggregate([CAST(embedding[i] AS DOUBLE)"
    f" * ({_W_EXPR}) for i in range(1, 65)], 'sum') + 0.5"
)


def _score_col() -> "F.Column":
    return (
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(1), F.lit(64)),
                lambda x, i: x.cast("double")
                * ((i * 37 % 19 - 9).cast("double") / 10.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + 0.5
    )


@register(
    "ml_confusion_metrics",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), c AS (
        SELECT CAST(count_if(y = 1 AND sq > 0) AS BIGINT) AS tp,
               CAST(count_if(y = 0 AND sq > 0) AS BIGINT) AS fp,
               CAST(count_if(y = 0 AND sq <= 0) AS BIGINT) AS tn,
               CAST(count_if(y = 1 AND sq <= 0) AS BIGINT) AS fn
        FROM scored
    )
    SELECT tp, fp, tn, fn,
           {sql_q4("CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn)")}
             AS accuracy,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fp)")} AS precision_,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fn)")} AS recall_,
           {sql_q4("2.0 * tp / (2.0 * tp + fp + fn)")} AS f1
    FROM c
    """,
)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy/precision/recall/F1 for the
    deterministic scorer against the parity label — the model-eval
    readout every inference pipeline (ml_batch_inference) feeds.
    Scores are quantized to 1e-6 BEFORE thresholding so the decision
    boundary is engine-stable; the four cells are one conditional
    aggregate (map-side partials, single reduce) and the metrics are
    ratios of exact integers. 100 TB cost: one pass, four counters."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    c = scored.agg(
        F.count_if((F.col("y") == 1) & (F.col("sq") > 0)).cast("long").alias("tp"),
        F.count_if((F.col("y") == 0) & (F.col("sq") > 0)).cast("long").alias("fp"),
        F.count_if((F.col("y") == 0) & (F.col("sq") <= 0)).cast("long").alias("tn"),
        F.count_if((F.col("y") == 1) & (F.col("sq") <= 0)).cast("long").alias("fn"),
    )
    return c.select(
        "tp",
        "fp",
        "tn",
        "fn",
        q4(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn"))
        ).alias("accuracy"),
        q4(F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision_"
        ),
        q4(F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
            "recall_"
        ),
        q4(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


@register(
    "ml_roc_auc",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), grp AS (
        SELECT sq, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count_if(y = 1) AS BIGINT) AS pos
        FROM scored GROUP BY sq
    ), cum AS (
        SELECT sq, cnt, pos,
               coalesce(sum(cnt) OVER (ORDER BY sq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS prior
        FROM grp
    ), s AS (
        SELECT CAST(sum(pos * (2 * prior + cnt + 1)) AS BIGINT) AS r1x2,
               CAST(sum(pos) AS BIGINT) AS n1,
               CAST(sum(cnt - pos) AS BIGINT) AS n0
        FROM cum
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           {sql_q4("CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)"
                   " / (2.0 * n1 * n0)")} AS auc,
           {sql_q4("CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)"
                   " / (1.0 * n1 * n0) - 1.0")} AS gini
    FROM s
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the rank-sum identity AUC = (R1 - n1(n1+1)/2)
    / (n1*n0) — the Mann-Whitney relationship, which is what makes
    exact AUC computable at 100 TB: no threshold sweep, no curve
    materialization, just midranks. Ties get proper midranks WITHOUT
    a global sort of rows: scores collapse to distinct-value groups
    (groupBy sq), the prior-count prefix runs as a TWO-LEVEL prefix
    sum (order-preserving coarse buckets + per-bucket offsets, so no
    single-partition window — the bucket table is bounded by the
    score range, not the corpus), and doubled midranks keep
    everything in exact BIGINTs
    (2*midrank = 2*prior + cnt + 1), so the only float op is the
    final division. Gini = 2*AUC - 1 from the same integers."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    grp = scored.groupBy("sq").agg(
        F.count("*").cast("long").alias("cnt"),
        F.count_if(F.col("y") == 1).cast("long").alias("pos"),
    )
    # Two-level prefix sum so no window ever sees a single global
    # partition: scores fall into order-preserving coarse buckets
    # (sq div 1e6 ~ one bucket per score unit — bucket count bounded
    # by the score RANGE, not the corpus), per-bucket offsets
    # prefix-sum over that tiny table, and the within-bucket prefix
    # runs partitioned by bucket. prior == the plain global prefix,
    # just computed scalably (the oracle keeps the 1-level form).
    grp = grp.withColumn("bkt", F.floor(F.col("sq") / F.lit(1_000_000)))
    btot = grp.groupBy("bkt").agg(F.sum("cnt").cast("long").alias("bcnt"))
    wboff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bkt", F.coalesce(F.sum("bcnt").over(wboff), F.lit(0)).alias("boff")
    )
    wprior = (
        Window.partitionBy("bkt")
        .orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        grp.join(F.broadcast(boff), "bkt")
        .select(
            "sq",
            "cnt",
            "pos",
            (
                F.col("boff")
                + F.coalesce(F.sum("cnt").over(wprior), F.lit(0))
            ).alias("prior"),
        )
    )
    s = cum.agg(
        F.sum(F.col("pos") * (2 * F.col("prior") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n0"),
    )
    return s.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        q4(
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (2.0 * F.col("n1") * F.col("n0"))
        ).alias("auc"),
        q4(
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (1.0 * F.col("n1") * F.col("n0"))
            - 1.0
        ).alias("gini"),
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y, ({_SCORE_SQL}) AS score,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), binned AS (
        SELECT y, sq,
               least(9, greatest(0,
                   CAST(floor((score + 3.0) / 0.6) AS BIGINT))) AS bin
        FROM scored
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           {sql_q4("CAST(sum(sq) AS DOUBLE) / 1e6 / count(*)")}
             AS mean_score,
           {sql_q4("CAST(count_if(y = 1) AS DOUBLE) / count(*)")}
             AS pos_rate
    FROM binned GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration table for the scorer: fixed-width
    score bins over [-3, 3] (clamped), each reporting its mean score
    and observed positive rate — the table a calibration plot (or a
    Platt/isotonic recalibration) is fit from. Fixed-width bins
    instead of rank deciles on purpose: deciles need a global
    quantile pass, fixed fences are a pure map-side expression, and
    the bin populations still expose miscalibration. Per-row scores
    are the bit-identical shared fold; mean scores sum 1e-6-quantized
    integers so the aggregate is order-free. One pass, 10 groups."""
    e = table(spark, sf_dir, "embeddings")
    score = _score_col()
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        score.alias("score"),
        F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    binned = scored.select(
        "y",
        "sq",
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor((F.col("score") + 3.0) / 0.6).cast("long")
            ),
        ).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        q4(F.sum("sq").cast("double") / 1e6 / F.count("*")).alias(
            "mean_score"
        ),
        q4(F.count_if(F.col("y") == 1).cast("double") / F.count("*")).alias(
            "pos_rate"
        ),
    )


# ----------------------------------------- binary (Hamming) retrieval

HAM_NQ = 50  # query block (matches sim_topk_exact)
HAM_K = 5

# sign-binarize the 64-dim embedding into two 32-bit halves packed in
# BIGINTs (a single 64-bit word would overflow the signed fold);
# MSB-first fold so element 1 is the high bit of each half
_PACK_H1 = (
    "aggregate(slice(embedding, 1, 32), 0L,"
    " (acc, x) -> acc * 2L + IF(x > 0D, 1L, 0L))"
)
_PACK_H2 = (
    "aggregate(slice(embedding, 33, 32), 0L,"
    " (acc, x) -> acc * 2L + IF(x > 0D, 1L, 0L))"
)
_SQL_PACK_H1 = (
    "list_aggregate([CASE WHEN CAST({col}[i] AS DOUBLE) > 0 THEN"
    " (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END"
    " for i in range(1, 33)], 'sum')"
)
_SQL_PACK_H2 = (
    "list_aggregate([CASE WHEN CAST({col}[i + 32] AS DOUBLE) > 0 THEN"
    " (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END"
    " for i in range(1, 33)], 'sum')"
)


@register(
    "embed_hamming_topk",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id,
               {_SQL_PACK_H1.format(col="embedding")} AS h1,
               {_SQL_PACK_H2.format(col="embedding")} AS h2
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CAST(bit_count(xor(a.h1, b.h1))
                    + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hamming
        FROM packed a JOIN packed b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {HAM_NQ}
    ), ranked AS (
        SELECT qid, cid, hamming,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY hamming, cid) AS BIGINT) AS rn
        FROM pairs
    )
    SELECT qid, cid, hamming, rn FROM ranked WHERE rn <= {HAM_K}
    """,
)
def embed_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch retrieval: sign-binarize each embedding into a
    64-bit signature (two packed 32-bit halves), then top-k nearest
    by Hamming distance — popcount(xor) per candidate. This is the
    64× compression tier under every large-scale vector store
    (Charikar's SimHash applied to raw dimensions, public): the
    signature table is 16 bytes/vector, the scan is pure integer
    ALU, and the scores correlate with cosine well enough to serve
    as a rerank prefilter (measure with sim_recall_report's harness
    against sim_topk_exact).

    Scale shape: packing is a one-pass JVM fold at the scan (no
    Python, no shuffle — the signature can be written back as a
    column); the query block broadcasts exactly like sim_topk_exact
    and the per-query candidate ranking is a bounded window. At
    10⁹ vectors the signature scan is ~16 GB — memory-speed — vs
    256 GB of float32."""
    e = table(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        F.expr(_PACK_H1).alias("h1"),
        F.expr(_PACK_H2).alias("h2"),
    )
    q = packed.where(F.col("vec_id") < HAM_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("h1").alias("qh1"),
        F.col("h2").alias("qh2"),
    )
    pairs = F.broadcast(q).join(packed, F.col("qid") != F.col("vec_id"))
    hamming = (
        F.bit_count(F.col("qh1").bitwiseXOR(F.col("h1")))
        + F.bit_count(F.col("qh2").bitwiseXOR(F.col("h2")))
    ).cast("long")
    w = Window.partitionBy("qid").orderBy("hamming", "cid")
    return (
        pairs.select(
            "qid", F.col("vec_id").alias("cid"), hamming.alias("hamming")
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= HAM_K)
    )


# ------------------------------------------------ k-means refinement

KMR_Q = 1_000_000  # fixed-point quantum for per-dim centroid means


@register(
    "sim_kmeans_refine",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum') AS cn2
        FROM embeddings WHERE vec_id % greatest(64, CAST(ceil((SELECT count(*) FROM embeddings) / 4096.0) AS BIGINT)) = 0
    ), vec AS (
        SELECT vec_id, embedding, list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum') AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, v.embedding, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, embedding, cent_id AS cell
        FROM ranked_cells WHERE cell_rank = 1
    )
    SELECT a.cell, CAST(r.i AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(CAST(floor(CAST(a.embedding[r.i] AS DOUBLE)
                    * {KMR_Q} + 0.5) AS BIGINT)) // count(*)
                AS BIGINT) AS centroid_q
    FROM assign a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.cell, r.i
    """,
)
def sim_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement step for the IVF coarse quantizer: E-step
    assigns every vector to its nearest centroid (same argmin-L2 +
    cent_id tie-break as the IVF cells), M-step re-computes each
    cell's centroid as the per-dimension mean — emitted as
    dim-exploded fixed-point scalars (cell, dim, mean_q), the
    hash-verifiable form of the update every k-means trainer loops.

    Hash-parity discipline: per-element values are fixed-point
    quantized (1e-6) BEFORE the sum so the per-cell per-dim
    accumulators are exact integers (order-free), and the mean is an
    integer division — no float sum ever crosses a shuffle. Scale
    shape: assignment is a broadcast centroids × vectors scored
    pass (centroid count capped at 4096 by capped_centroids), the
    M-step is one hash aggregate keyed (cell, dim) with map-side
    combine — 64·C output rows regardless of corpus size; looping
    this step is the whole trainer (the classic MapReduce k-means,
    public)."""
    e = table(spark, sf_dir, "embeddings")
    assign = cell_ranks(e).where(F.col("cell_rank") == 1).select(
        "vec_id", "embedding", F.col("cent_id").alias("cell")
    )
    dims = assign.select(
        "cell",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "cell",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * KMR_Q + 0.5)
        .cast("long")
        .alias("xq"),
    )
    return dims.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.expr("CAST(sum(xq) DIV count(1) AS BIGINT)").alias("centroid_q"),
    )


# ------------------------------------- distributed PCA: power iteration

GPI_Q = 1000  # per-element fixed-point quantum (embeddings are O(1))
GPI_SCALE = 1000  # iterate-vector renormalization target magnitude


def _sgn_scale(v: str, mx: str, target: int, div: str = "//") -> str:
    """Sign-safe integer rescale: sign(v) * (|v|*target // mx) —
    computed on non-negative operands so DuckDB's ``//`` and
    Spark's ``DIV`` (pass ``div="DIV"``) agree exactly."""
    return (
        f"CASE WHEN {v} < 0 THEN -((-({v})) * {target} {div} {mx}) "
        f"ELSE ({v}) * {target} {div} {mx} END"
    )


@register(
    "embed_gram_power_iter",
    oracle=f"""
    WITH el AS (
        SELECT vec_id, r.i,
               CAST(floor(CAST(embedding[r.i] AS DOUBLE) * {GPI_Q} + 0.5)
                    AS BIGINT) AS q
        FROM embeddings CROSS JOIN range(1, 65) r(i)
    ), g AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gij
        FROM el a JOIN el b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ), v1 AS (
        SELECT i, CAST(sum(gij) AS BIGINT) AS v FROM g GROUP BY i
    ), m1 AS (
        SELECT CAST(max(abs(v)) AS BIGINT) AS mx FROM v1
    ), v1n AS (
        SELECT i, CAST({_sgn_scale("v1.v", "m1.mx", GPI_SCALE)} AS BIGINT)
                   AS vn
        FROM v1 CROSS JOIN m1
    ), v2 AS (
        SELECT g.i, CAST(sum(g.gij * v1n.vn) AS BIGINT) AS v
        FROM g JOIN v1n ON v1n.i = g.j
        GROUP BY g.i
    ), m2 AS (
        SELECT CAST(max(abs(v)) AS BIGINT) AS mx FROM v2
    )
    SELECT v2.i AS dim, v1n.vn AS v1_q,
           CAST({_sgn_scale("v2.v", "m2.mx", GPI_SCALE)} AS BIGINT) AS v2_q
    FROM v2 JOIN v1n ON v1n.i = v2.i CROSS JOIN m2
    """,
)
def embed_gram_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by TWO
    unrolled power-iteration steps on the 64×64 Gram matrix —
    distributed PCA the way it actually runs at scale: the Gram
    accumulates as a (i, j)-keyed integer aggregate over the corpus
    (mergeable — at 100 TB each partition folds its own 64×64 block
    and the shuffle carries 4096-cell matrices, not vectors), then
    each G·v step is a 64-row broadcast join. Everything is exact
    integer arithmetic: per-element fixed-point quantization, a
    sign-safe integer renormalization between steps (so the iterate
    can't overflow and both engines truncate identically), output =
    the scaled iterate per dimension. Looping the v-step to
    convergence (or blocking it for top-k directions) is the whole
    Lanczos/subspace-iteration family; two steps keep the key
    bounded, and each step provably raises the Rayleigh quotient
    (the fixture corpus is near-isotropic, so full separation needs
    more rounds — the loop, not the step, is the variable part)."""
    e = table(spark, sf_dir, "embeddings")
    el = reuse(e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("i"),
        F.floor(F.col("x").cast("double") * GPI_Q + 0.5)
        .cast("long")
        .alias("q"),
    ))
    ea = el.select(
        "vec_id", F.col("i").alias("ai"), F.col("q").alias("aq")
    )
    eb = el.select(
        "vec_id", F.col("i").alias("bi"), F.col("q").alias("bq")
    )
    g = (
        ea.join(eb, "vec_id")
        .groupBy(F.col("ai").alias("i"), F.col("bi").alias("j"))
        .agg(F.sum(F.col("aq") * F.col("bq")).cast("long").alias("gij")).localCheckpoint(eager=False)
    )
    v1 = g.groupBy("i").agg(F.sum("gij").cast("long").alias("v"))
    m1 = v1.agg(F.max(F.abs(F.col("v"))).cast("long").alias("mx"))
    v1n = v1.crossJoin(F.broadcast(m1)).select(
        "i",
        F.expr(_sgn_scale("v", "mx", GPI_SCALE, div="DIV"))
        .cast("long")
        .alias("vn"),
    )
    v2 = (
        g.join(
            v1n.select(F.col("i").alias("j"), "vn"), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("gij") * F.col("vn")).cast("long").alias("v"))
    )
    m2 = v2.agg(F.max(F.abs(F.col("v"))).cast("long").alias("mx"))
    return (
        v2.join(v1n.select(F.col("i"), F.col("vn").alias("v1_q")), "i")
        .crossJoin(F.broadcast(m2))
        .select(
            F.col("i").alias("dim"),
            "v1_q",
            F.expr(_sgn_scale("v", "mx", GPI_SCALE, div="DIV"))
            .cast("long")
            .alias("v2_q"),
        )
    )


# ------------------------------------------------ MoE expert routing

ROUTE_Q = 1_000_000_000  # fixed-point quantum for per-doc softmax probs


@register(
    "embed_expert_routing",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS expert_id, embedding AS ce
        FROM embeddings
        WHERE vec_id % greatest(64, CAST(ceil(
            (SELECT count(*) FROM embeddings) / 4096.0) AS BIGINT)) = 0
    ), scores AS (
        SELECT v.vec_id, c.expert_id,
               list_aggregate([CAST(v.embedding[i] AS DOUBLE)
                    * CAST(c.ce[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum') AS s
        FROM embeddings v CROSS JOIN cent c
    ), stats AS (
        SELECT vec_id, max(s) AS smax
        FROM scores GROUP BY vec_id
    ), expd AS (
        SELECT sc.vec_id, sc.expert_id, exp(sc.s - st.smax) AS es
        FROM scores sc JOIN stats st ON st.vec_id = sc.vec_id
    ), z AS (
        SELECT vec_id, sum(es) AS zsum FROM expd GROUP BY vec_id
    ), probs AS (
        SELECT e.vec_id, e.expert_id,
               CAST(floor(e.es / z.zsum * {ROUTE_Q} + 0.5) AS BIGINT)
                   AS p_q,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY e.es DESC, e.expert_id) AS rk
        FROM expd e JOIN z ON z.vec_id = e.vec_id
    ), n AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT expert_id) AS BIGINT) AS n_experts
        FROM probs
    )
    SELECT p.expert_id,
           CAST(count_if(p.rk = 1) AS BIGINT) AS n_top1,
           CAST(count_if(p.rk <= 2) AS BIGINT) AS n_top2,
           CAST(sum(p.p_q) AS BIGINT) AS importance_q,
           floor((CAST(count_if(p.rk = 1) AS DOUBLE) / n.n_docs) * 10000 + 0.5) / 10000.0 AS load_frac,
           floor((n.n_experts * (CAST(count_if(p.rk = 1) AS DOUBLE) / n.n_docs) * (CAST(sum(p.p_q) AS DOUBLE) / 1000000000 / n.n_docs)) * 10000 + 0.5) / 10000.0 AS aux_term
    FROM probs p CROSS JOIN n
    GROUP BY p.expert_id, n.n_docs, n.n_experts
    """,
)
def embed_expert_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-of-experts routing statistics (Switch Transformer /
    Shazeer gating, public): every vector softmax-routes over the
    capped centroid set standing in as experts; per expert we report
    the top-1 dispatch count, top-2 capacity demand, total router
    probability mass (importance), the load fraction f_i, and the
    per-expert term of the load-balance auxiliary loss
    C·f_i·P_i — the numbers an MoE data pipeline monitors to catch
    expert collapse BEFORE training diverges.

    Hash-parity discipline: per-doc softmax probabilities are
    max-stabilized then fixed-point quantized (1e-9), so the
    importance sums are exact integers; f_i is an integer ratio.
    Scale shape: the expert table is a bounded broadcast (≤4096),
    scoring is a JVM fold per (vec, expert), and the per-vec
    softmax/rank windows partition by vec_id — one shuffle of
    (vec × C) skinny rows, rollup to C output rows."""
    e = table(spark, sf_dir, "embeddings")
    cent = capped_centroids(e).select(
        F.col("cent_id").alias("expert_id"), "ce"
    )
    scores = (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "expert_id",
            _dot64(F.col("embedding"), F.col("ce")).alias("s"),
        )
    )
    wv = Window.partitionBy("vec_id")
    expd = scores.withColumn(
        "es", F.exp(F.col("s") - F.max("s").over(wv))
    )
    probs = expd.select(
        "vec_id",
        "expert_id",
        F.floor(
            F.col("es") / F.sum("es").over(wv) * ROUTE_Q + 0.5
        )
        .cast("long")
        .alias("p_q"),
        F.row_number()
        .over(wv.orderBy(F.col("es").desc(), F.col("expert_id")))
        .alias("rk"),
    )
    n = probs.agg(
        F.count_distinct("vec_id").cast("long").alias("n_docs"),
        F.count_distinct("expert_id").cast("long").alias("n_experts"),
    )
    load = F.col("n_top1").cast("double") / F.col("n_docs")
    imp = F.col("importance_q").cast("double") / ROUTE_Q / F.col("n_docs")
    return (
        probs.groupBy("expert_id")
        .agg(
            F.count_if(F.col("rk") == 1).cast("long").alias("n_top1"),
            F.count_if(F.col("rk") <= 2).cast("long").alias("n_top2"),
            F.sum("p_q").cast("long").alias("importance_q"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "expert_id",
            "n_top1",
            "n_top2",
            "importance_q",
            q4(load).alias("load_frac"),
            q4(F.col("n_experts") * load * imp).alias("aux_term"),
        )
    )


# ------------------------------------------------- hubness diagnostics

HUB_K = 5  # neighborhood size for the k-occurrence distribution


@register(
    "embed_hubness_stats",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS rn
        FROM scored
    ), indeg AS (
        SELECT e.vec_id,
               CAST(coalesce(k.nk, 0) AS BIGINT) AS n_k
        FROM embeddings e
        LEFT JOIN (
            SELECT cid, count(*) AS nk FROM ranked
            WHERE rn <= {HUB_K} GROUP BY cid
        ) k ON k.cid = e.vec_id
    ), recip AS (
        SELECT CAST(count(*) AS BIGINT) AS n_recip
        FROM (SELECT qid, cid FROM ranked WHERE rn <= {HUB_K}) f
        JOIN (SELECT qid, cid FROM ranked WHERE rn <= {HUB_K}) b
          ON f.qid = b.cid AND f.cid = b.qid
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_k) AS BIGINT) AS s1,
               CAST(sum(n_k*n_k) AS BIGINT) AS s2,
               CAST(sum(n_k*n_k*n_k) AS BIGINT) AS s3,
               CAST(max(n_k) AS BIGINT) AS max_k,
               CAST(count_if(n_k = 0) AS BIGINT) AS n_antihubs
        FROM indeg
    )
    SELECT m.n, m.max_k, m.n_antihubs, r.n_recip,
           floor(((CAST(m.s3 AS DOUBLE)/m.n - 3*(CAST(m.s1 AS DOUBLE)/m.n)*(CAST(m.s2 AS DOUBLE)/m.n) + 2*pow(CAST(m.s1 AS DOUBLE)/m.n, 3)) / pow(CAST(m.s2 AS DOUBLE)/m.n - pow(CAST(m.s1 AS DOUBLE)/m.n, 2), 1.5)) * 10000 + 0.5) / 10000.0 AS k_skewness,
           CAST(r.n_recip * 10000 // (m.n * {HUB_K}) AS BIGINT)
               AS reciprocity_bps
    FROM m CROSS JOIN recip r
    """,
)
def embed_hubness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostics of the exact k-NN graph (Radovanovic et
    al. 2010, public): the skewness of the k-occurrence distribution
    (how often each vector appears in others' top-5), the hub
    maximum, anti-hub count (never retrieved), and edge reciprocity
    — THE embedding-space health check: high skewness means a few
    hub vectors dominate every neighbor list (curse of
    dimensionality) and retrieval quality silently degrades.

    Scale shape: the all-pairs scoring has the whole corpus on both
    sides, so one side is broadcast and the other goes through
    ``spread_scan`` — the N² fold runs on every core rather than on
    the one task a byte-small file plans.  The spread side is the
    query side: its ``vec_id`` partitioning is the ``qid``
    partitioning the top-k window needs, so the spread's shuffle is
    the window's too (at 100 TB swap the exact graph for the IVF
    candidates — the diagnostics are identical relational rollups
    over the edge list); in-degree, moment sums for skewness (Σk, Σk²,
    Σk³ exact integers), and the reciprocity self-join on (q, c) pairs
    are all bounded by N·k edges."""
    e = table(spark, sf_dir, "embeddings")
    q = spread_scan(e, sf_dir, "embeddings", "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = q.join(F.broadcast(c), F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(
        F.col("qn2") * F.col("cn2")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    edges = (
        pairs.select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= HUB_K)
        .select("qid", "cid").localCheckpoint(eager=False)
    )
    indeg = (
        e.select("vec_id")
        .join(
            edges.groupBy("cid").agg(F.count(F.lit(1)).alias("nk")),
            e["vec_id"] == F.col("cid"),
            "left",
        )
        .select(
            "vec_id", F.coalesce("nk", F.lit(0)).cast("long").alias("n_k")
        )
    )
    fwd = edges.select(F.col("qid").alias("fq"), F.col("cid").alias("fc"))
    bwd = edges.select(F.col("qid").alias("bq"), F.col("cid").alias("bc"))
    recip = fwd.join(
        bwd, (F.col("fq") == F.col("bc")) & (F.col("fc") == F.col("bq"))
    ).agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    m = indeg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_k").cast("long").alias("s1"),
        F.sum(F.col("n_k") * F.col("n_k")).cast("long").alias("s2"),
        F.sum(F.col("n_k") * F.col("n_k") * F.col("n_k"))
        .cast("long")
        .alias("s3"),
        F.max("n_k").cast("long").alias("max_k"),
        F.count_if(F.col("n_k") == 0).cast("long").alias("n_antihubs"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mu * mu
    # central third moment from raw moments: m3 = s3/n - 3 mu s2/n + 2 mu^3
    m3 = (
        F.col("s3").cast("double") / nd
        - 3 * mu * F.col("s2").cast("double") / nd
        + 2 * mu * mu * mu
    )
    return m.crossJoin(F.broadcast(recip)).select(
        "n",
        "max_k",
        "n_antihubs",
        "n_recip",
        q4(m3 / F.pow(var, 1.5)).alias("k_skewness"),
        F.expr(f"n_recip * 10000L DIV (n * {HUB_K})").alias(
            "reciprocity_bps"
        ),
    )


# --------------------------------------- Rocchio relevance feedback

ROC_NQ = 20  # query block
ROC_K = 5
ROC_BETA = "0.75"  # feedback weight (alpha = 1)


@register(
    "sim_rocchio_feedback",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id < {ROC_NQ}
    ), c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
    ), r1 AS (
        SELECT qid, cid, rn FROM (
            SELECT q.qid, c.cid,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                       list_aggregate([CAST(q.qe[i] AS DOUBLE)
                            * CAST(c.ce[i] AS DOUBLE)
                            for i in range(1, 65)], 'sum')
                       / sqrt(list_aggregate(list_transform(c.ce,
                           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)),
                           'sum')) DESC, c.cid) AS rn
            FROM q JOIN c ON q.qid <> c.cid
        ) WHERE rn <= {ROC_K}
    ), fb AS (
        SELECT r.qid, i.i,
               CAST(floor(avg(CAST(c.ce[i.i] AS DOUBLE)) * 1e9 + 0.5)
                    AS BIGINT) AS fbv_q
        FROM r1 r JOIN c ON c.cid = r.cid
        CROSS JOIN range(1, 65) i(i)
        GROUP BY r.qid, i.i
    ), q2 AS (
        -- alpha=1, beta=0.75 scaled x4: v = 4*q + 3*centroid, all
        -- integer, so round-2 dot products are order-free sums
        SELECT f.qid, f.i,
               4 * CAST(floor(CAST(q.qe[f.i] AS DOUBLE) * 1e9 + 0.5)
                        AS BIGINT) + 3 * f.fbv_q AS vq
        FROM fb f JOIN q ON q.qid = f.qid
    ), r2 AS (
        SELECT qid, cid, rn FROM (
            SELECT s.qid, s.cid,
                   row_number() OVER (PARTITION BY s.qid
                       ORDER BY s.score DESC, s.cid) AS rn
            FROM (
                SELECT q2.qid, c.cid,
                       CAST(sum(q2.vq * CAST(floor(
                            CAST(c.ce[q2.i] AS DOUBLE) * 1e6 + 0.5)
                            AS BIGINT)) AS DOUBLE)
                       / sqrt(list_aggregate(list_transform(c.ce,
                           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)),
                           'sum')) AS score
                FROM q2 JOIN c ON q2.qid <> c.cid
                GROUP BY q2.qid, c.cid, c.ce
            ) s
        ) WHERE rn <= {ROC_K}
    )
    SELECT a.qid,
           CAST(count(b.cid) AS BIGINT) AS n_overlap,
           CAST(max(CASE WHEN a.rn = 1 THEN a.cid END) AS BIGINT)
               AS top1_before,
           CAST(max(CASE WHEN a.rn = 1 THEN
                (SELECT r2i.cid FROM r2 r2i
                 WHERE r2i.qid = a.qid AND r2i.rn = 1) END) AS BIGINT)
               AS top1_after
    FROM r1 a LEFT JOIN r2 b ON b.qid = a.qid AND b.cid = a.cid
    GROUP BY a.qid
    """,
)
def sim_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback (1971, public — the
    classic query-expansion loop): retrieve top-5 by cosine, move
    the query toward the centroid of what it retrieved
    (q' = q + 0.75·mean(top-5)), retrieve again, and report how the
    neighborhood changed (overlap count, top-1 before/after) — the
    offline A/B every retrieval stack runs before enabling
    expansion.

    Scale shape: round-1 is the broadcast-query exact pass; the
    feedback centroid is a (qid, dim)-keyed mean over k·|Q| rows;
    round-2 re-scores with the expanded queries joined as exploded
    (qid, dim, v) — the corpus is still scanned ONCE per round with
    dot products as grouped sums; both rounds' rankings are bounded
    windows. The round-2 dot is an order-free
    integer sum (expanded query and corpus components fixed-point
    quantized; the 1-0.75 mix carried as integer weights 4:3), so no
    float-order tie can flip a rank between engines."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < ROC_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    # corpus norms feed round-1 scoring AND the round-2 exploded side
    # — DATA-SCALED, persist() per the SCALE.md r13 rule
    cn = reuse(c.withColumn("cnorm", F.sqrt(_norm2(F.col("ce")))))
    pairs1 = F.broadcast(q).join(cn, F.col("qid") != F.col("cid"))
    score1 = (
        F.zip_with(
            F.col("qe"), F.col("ce"),
            lambda x, y: x.cast("double") * y.cast("double"),
        )
    )
    s1 = F.aggregate(score1, F.lit(0.0), lambda a, x: a + x) / F.col("cnorm")
    w1 = Window.partitionBy("qid").orderBy(F.col("s").desc(), "cid")
    r1 = (
        pairs1.select("qid", "cid", s1.alias("s"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= ROC_K)
        .select("qid", "cid", "rn")
        # bounded (ROC_NQ x ROC_K rows), two consumers (feedback
        # centroid + overlap join) — lazy checkpoint so round-1
        # scoring runs once
        .localCheckpoint(eager=False)
    )
    # feedback centroid per (qid, dim)
    fb = (
        r1.join(c, "cid")
        .select(
            "qid",
            F.posexplode("ce").alias("pos", "x"),
        )
        .groupBy("qid", (F.col("pos") + 1).alias("i"))
        .agg(
            F.floor(F.avg(F.col("x").cast("double")) * 1e9 + 0.5)
            .cast("long")
            .alias("fbv_q")
        )
    )
    qd = q.select(
        "qid", F.posexplode("qe").alias("pos", "qx")
    ).select("qid", (F.col("pos") + 1).alias("i"), F.col("qx"))
    # alpha=1, beta=0.75 scaled x4: v = 4*q + 3*centroid — integer, so
    # the round-2 dot is an order-free BIGINT sum in both engines
    q2 = fb.join(qd, ["qid", "i"]).select(
        "qid",
        "i",
        (
            4 * F.floor(F.col("qx").cast("double") * 1e9 + 0.5).cast("long")
            + 3 * F.col("fbv_q")
        ).alias("vq"),
    )
    cd = cn.select(
        "cid",
        "cnorm",
        F.posexplode("ce").alias("pos", "cx"),
    ).select(
        "cid",
        "cnorm",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("cx").cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("cxq"),
    )
    s2 = (
        F.broadcast(q2)
        .join(cd, "i")
        .where(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid", "cnorm")
        .agg(F.sum(F.col("vq") * F.col("cxq")).cast("long").alias("dot"))
        .select(
            "qid",
            "cid",
            (F.col("dot").cast("double") / F.col("cnorm")).alias("score"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    r2 = (
        s2.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= ROC_K)
        .select("qid", "cid", "rn")
        # bounded, two consumers (top-1 + overlap) — lazy checkpoint
        # so round-2 scoring runs once
        .localCheckpoint(eager=False)
    )
    top1_after = r2.where(F.col("rn") == 1).select(
        F.col("qid").alias("qa"), F.col("cid").alias("top1_after")
    )
    joined = r1.alias("a").join(
        r2.select(F.col("qid").alias("qb"), F.col("cid").alias("cb")),
        (F.col("qb") == F.col("a.qid")) & (F.col("cb") == F.col("a.cid")),
        "left",
    )
    agg = joined.groupBy(F.col("a.qid").alias("qid")).agg(
        F.count("cb").cast("long").alias("n_overlap"),
        F.max(F.when(F.col("a.rn") == 1, F.col("a.cid")))
        .cast("long")
        .alias("top1_before"),
    )
    return agg.join(top1_after, agg["qid"] == top1_after["qa"]).select(
        "qid",
        "n_overlap",
        "top1_before",
        F.col("top1_after").cast("long").alias("top1_after"),
    )


# --------------------------------------- isotonic recalibration (PAV)

@register(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               least(9, greatest(0,
                   CAST(floor((({_SCORE_SQL}) + 3.0) / 0.6) AS BIGINT)))
                   AS bin
        FROM embeddings
    ), bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(y = 1) AS BIGINT) AS pos
        FROM scored GROUP BY bin
    ), pairs AS (
        SELECT a.bin AS j, b.bin AS k,
               CAST(sum(c.pos) AS BIGINT) AS pos_jk,
               CAST(sum(c.n) AS BIGINT) AS n_jk
        FROM bins a JOIN bins b ON a.bin <= b.bin
        JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ), inner_min AS (
        SELECT p.j, i.bin AS i,
               min(CAST(p.pos_jk AS DOUBLE) / p.n_jk) AS mn
        FROM pairs p JOIN bins i ON p.j <= i.bin AND i.bin <= p.k
        GROUP BY p.j, i.bin
    ), iso AS (
        SELECT i, max(mn) AS iso_rate
        FROM inner_min WHERE j <= i GROUP BY i
    )
    SELECT bins.bin, bins.n, bins.pos,
           {sql_q4("CAST(bins.pos AS DOUBLE) / bins.n")} AS raw_rate,
           {sql_q4("iso_rate")} AS iso_rate
    FROM bins JOIN iso ON iso.i = bins.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the scorer, fit on the
    ml_calibration_bins reliability table: the monotone step
    function closest to the observed per-bin positive rates in L2,
    computed by the CLOSED-FORM minimax identity
    iso[i] = max_{{j≤i}} min_{{k≥i}} mean(y[j..k]) — equivalent to
    pool-adjacent-violators but with no sequential pooling loop, so
    it distributes (Ayer et al. 1955; Barlow et al. 1972, public).

    Scale shape: the data-sized work is ONE hash aggregate to the
    fixed 10-bin table (scores from the shared bit-identical fold);
    the minimax then runs over bounded bin-triple joins — ≤ K³ = 1000
    metadata rows regardless of corpus size.  Interval means are
    exact integer ratios; both engines compare the identical doubles,
    so the argmax/argmin selections agree.  The recalibrated
    ``iso_rate`` column is what a serving layer would look up by
    score bin."""
    e = table(spark, sf_dir, "embeddings")
    score = _score_col()
    bins = (
        e.select(
            (F.col("label") % 2).alias("y"),
            F.least(
                F.lit(9),
                F.greatest(
                    F.lit(0), F.floor((score + 3.0) / 0.6).cast("long")
                ),
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count_if(F.col("y") == 1).cast("long").alias("pos"),
        ).localCheckpoint(eager=False)
    )
    a = bins.select(F.col("bin").alias("j"))
    b = bins.select(F.col("bin").alias("k"))
    c = bins.select(F.col("bin").alias("cb"), "n", "pos")
    pairs = (
        a.join(b, F.col("j") <= F.col("k"))
        .join(c, (F.col("cb") >= F.col("j")) & (F.col("cb") <= F.col("k")))
        .groupBy("j", "k")
        .agg(
            F.sum("pos").cast("long").alias("pos_jk"),
            F.sum("n").cast("long").alias("n_jk"),
        )
    )
    i_bins = bins.select(F.col("bin").alias("i"))
    inner_min = (
        pairs.join(
            i_bins, (F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k"))
        )
        .groupBy("j", "i")
        .agg(
            F.min(F.col("pos_jk").cast("double") / F.col("n_jk")).alias("mn")
        )
    )
    iso = (
        inner_min.where(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.max("mn").alias("iso_rate"))
    )
    return bins.join(iso, bins["bin"] == iso["i"]).select(
        "bin",
        "n",
        "pos",
        q4(F.col("pos").cast("double") / F.col("n")).alias("raw_rate"),
        q4(F.col("iso_rate")).alias("iso_rate"),
    )


# --------------------------------------- Mahalanobis OOD scoring

OOD_TOP = 20


@register(
    "embed_mahalanobis_ood",
    oracle=f"""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
    vals AS (
        SELECT dim,
               CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1e8 + 0.5)
                    AS BIGINT) AS xq,
               CAST(floor(CAST(embedding[dim] AS DOUBLE)
                          * CAST(embedding[dim] AS DOUBLE) * 1e8 + 0.5)
                    AS BIGINT) AS x2q
        FROM embeddings CROSS JOIN dims
    ), agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xq) AS DOUBLE) / 1e8 AS sx,
               CAST(sum(x2q) AS DOUBLE) / 1e8 AS sxx
        FROM vals GROUP BY dim
    ), arrs AS (
        SELECT list(sx / n ORDER BY dim) AS mu,
               list(sxx / n - (sx / n) * (sx / n) ORDER BY dim) AS vr
        FROM agg
    ), scored AS (
        SELECT vec_id, label,
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> (CAST(embedding[i] AS DOUBLE) - mu[i])
                        * (CAST(embedding[i] AS DOUBLE) - mu[i])
                        / vr[i]), 'sum') AS d2
        FROM embeddings CROSS JOIN arrs
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           {sql_q4("d2")} AS maha_d2
    FROM scored ORDER BY d2 DESC, vec_id LIMIT {OOD_TOP}
    """,
)
def embed_mahalanobis_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution scoring by diagonal-covariance Mahalanobis
    distance: per-dimension corpus moments (the embed_whitening_stats
    sufficient statistics, fixed-point-quantized so the sums are
    exact) broadcast as μ/σ² ARRAYS, each vector scored with one
    sequential zip_with fold Σ(x_d−μ_d)²/σ²_d (identical
    left-to-right order as the oracle's list fold — bitwise
    reproducible), and the {OOD_TOP} most anomalous vectors
    surfaced — the embedding-space outlier filter that catches
    corrupt/adversarial items before they poison contrastive
    training.

    Scale shape: one 64-group moment aggregate (map-side combined
    posexplode), a 1-row array broadcast, an embarrassingly parallel
    per-vector fold, and TakeOrderedAndProject for the top-k — no
    shuffle of vectors at all."""
    e = table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    vals = e.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(x * F.lit(1e8) + F.lit(0.5)).cast("long").alias("xq"),
        F.floor(x * x * F.lit(1e8) + F.lit(0.5)).cast("long").alias("x2q"),
    )
    agg = vals.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("xq").cast("double") / F.lit(1e8)).alias("sx"),
        (F.sum("x2q").cast("double") / F.lit(1e8)).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    stats = agg.select(
        "dim", mean.alias("mu"), (F.col("sxx") / F.col("n") - mean * mean).alias("vr")
    )
    arrs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))),
            lambda s: s["mu"],
        ).alias("mu"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "vr"))),
            lambda s: s["vr"],
        ).alias("vr"),
    )
    scored = e.crossJoin(F.broadcast(arrs))
    diff = F.zip_with(
        F.col("embedding"), F.col("mu"), lambda xv, m: xv.cast("double") - m
    )
    terms = F.zip_with(diff, F.col("vr"), lambda d, v: d * d / v)
    d2 = F.aggregate(terms, F.lit(0.0), lambda a, t: a + t)
    return (
        scored.select(
            "vec_id", F.col("label").cast("long").alias("label"), d2.alias("d2")
        )
        .orderBy(F.col("d2").desc(), "vec_id")
        .limit(OOD_TOP)
        .select("vec_id", "label", q4(F.col("d2")).alias("maha_d2"))
    )


# ------------------------------------------- mutual (reciprocal) kNN

RNN_BLOCK = 300  # bounded demonstration universe (vec_id < RNN_BLOCK)
RNN_K = 5


@register(
    "sim_reciprocal_nn",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {RNN_BLOCK} AND b.vec_id < {RNN_BLOCK}
    ), ranked AS (
        SELECT qid, cid, cos,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM scored
    ), knn AS (SELECT * FROM ranked WHERE rn <= {RNN_K})
    SELECT x.qid AS vec_a, x.cid AS vec_b,
           x.rn AS rank_ab, y.rn AS rank_ba,
           {sql_q4("x.cos")} AS cosine
    FROM knn x JOIN knn y ON x.qid = y.cid AND x.cid = y.qid
    WHERE x.qid < x.cid
    """,
)
def sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual (reciprocal) k-nearest-neighbor pairs: (a,b) survives
    only if b is in a's top-{RNN_K} AND a is in b's top-{RNN_K} —
    the high-precision near-duplicate verifier (mutual-kNN pairs are
    far likelier to be true duplicates than one-directional hits,
    the filter hdbscan/two-NN estimators build on). Demonstrated on
    a bounded {RNN_BLOCK}-vector block; at corpus scale the
    candidate lists come from the IVF/LSH index keys (sim_ann_*) and
    this mutual filter is the same self-join on the (query,
    candidate) ranks — candidates-sized, never corpus².

    Plan: one blocked pairwise scoring stage (JVM fold dot product),
    a qid-partitioned top-k window, then an equi-join of the kNN
    list with its own transpose — all shuffles keyed on vector
    ids."""
    e = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < RNN_BLOCK
    )
    cos = F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    knn = reuse(
        query_pairs(e, sf_dir, RNN_BLOCK)
        .select("qid", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        # persist, not checkpoint: reuse across both reciprocal sides
        # is identical, and the plan pin asserting the broadcast
        # scoring stage stays visible in the cached plan
        .where(F.col("rn") <= RNN_K)
    )
    x, y = knn.alias("x"), knn.alias("y")
    return (
        x.join(
            y,
            (F.col("x.qid") == F.col("y.cid"))
            & (F.col("x.cid") == F.col("y.qid")),
        )
        .where(F.col("x.qid") < F.col("x.cid"))
        .select(
            F.col("x.qid").alias("vec_a"),
            F.col("x.cid").alias("vec_b"),
            F.col("x.rn").alias("rank_ab"),
            F.col("y.rn").alias("rank_ba"),
            q4(F.col("x.cos")).alias("cosine"),
        )
    )


# ------------------------------------- clustering evaluation (NMI)

NMI_Q = 1000000000  # fixed-point scale for entropy terms


@register(
    "ml_cluster_nmi",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, label, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS (
        SELECT v.vec_id, v.label, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, label, cent_id AS cell
        FROM ranked_cells WHERE cell_rank = 1
    ), cm AS (
        SELECT cell, label, CAST(count(*) AS BIGINT) AS c
        FROM assign GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cm),
    pur AS (
        SELECT CAST(sum(mx) AS BIGINT) AS hit FROM (
            SELECT cell, max(c) AS mx FROM cm GROUP BY cell
        )
    ), hc AS (
        SELECT CAST(sum(CAST(floor(-(CAST(s AS DOUBLE) / t.n)
            * ln(CAST(s AS DOUBLE) / t.n) * {NMI_Q} + 0.5) AS BIGINT))
            AS DOUBLE) / {NMI_Q} AS h
        FROM (SELECT cell, CAST(sum(c) AS BIGINT) AS s FROM cm GROUP BY 1),
             tot t
    ), hl AS (
        SELECT CAST(sum(CAST(floor(-(CAST(s AS DOUBLE) / t.n)
            * ln(CAST(s AS DOUBLE) / t.n) * {NMI_Q} + 0.5) AS BIGINT))
            AS DOUBLE) / {NMI_Q} AS h
        FROM (SELECT label, CAST(sum(c) AS BIGINT) AS s FROM cm GROUP BY 1),
             tot t
    ), hj AS (
        SELECT CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / t.n)
            * ln(CAST(c AS DOUBLE) / t.n) * {NMI_Q} + 0.5) AS BIGINT))
            AS DOUBLE) / {NMI_Q} AS h
        FROM cm, tot t
    )
    SELECT tot.n AS n_vecs,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT DISTINCT cell FROM cm)) AS n_cells,
           {sql_q4("CAST(pur.hit AS DOUBLE) / tot.n")} AS purity,
           {sql_q4("(hc.h + hl.h - hj.h) / sqrt(hc.h * hl.h)")} AS nmi
    FROM tot, pur, hc, hl, hj
    """,
)
def ml_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation of the IVF coarse partition
    against the ground-truth labels: PURITY (majority-label mass per
    cell) and NORMALIZED MUTUAL INFORMATION
    I(C;L)/√(H(C)·H(L)) with I = H(C)+H(L)−H(C,L) — the two
    standard external clustering metrics, here auditing whether the
    ANN index's cells respect semantic structure (cells that mix
    labels ⇒ nprobe must grow to hold recall; sim_recall_report
    measures the symptom, this key the cause).

    Float discipline: every −p·ln p entropy term quantizes to 1e-9
    before its sum (the contingency table is the only input, so all
    three entropies fold exactly); assignment reuses sim_ann_ivf's
    deterministic nearest-centroid rule bit-for-bit. Scale shape:
    one assignment pass (broadcast centroid block), a (cell, label)
    contingency aggregate, then metadata-sized folds."""
    e = table(spark, sf_dir, "embeddings")
    assign = cell_ranks(e).where(F.col("cell_rank") == 1).select(
        "vec_id", "label", F.col("cent_id").alias("cell")
    )
    cm = assign.groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    tot = cm.agg(F.sum("c").cast("long").alias("n"))

    def entropy(df, grp):
        marg = (
            df.groupBy(grp).agg(F.sum("c").cast("long").alias("s"))
            if grp
            else df.select(F.col("c").alias("s"))
        )
        p = F.col("s").cast("double") / F.col("n")
        return marg.crossJoin(F.broadcast(tot)).agg(
            (
                F.sum(
                    F.floor(-p * F.log(p) * NMI_Q + 0.5).cast("long")
                ).cast("double")
                / NMI_Q
            ).alias("h")
        )

    hc = entropy(cm, ["cell"]).withColumnRenamed("h", "hc")
    hl = entropy(cm, ["label"]).withColumnRenamed("h", "hl")
    hj = entropy(cm, None).withColumnRenamed("h", "hj")
    pur = (
        cm.groupBy("cell")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("hit"))
    )
    n_cells = cm.select("cell").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    nmi = (F.col("hc") + F.col("hl") - F.col("hj")) / F.sqrt(
        F.col("hc") * F.col("hl")
    )
    return (
        tot.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hj))
        .select(
            F.col("n").alias("n_vecs"),
            "n_cells",
            q4(F.col("hit").cast("double") / F.col("n")).alias("purity"),
            q4(nmi).alias("nmi"),
        )
    )


# --------------------------------------- probabilistic-eval wave (r8)

# Logistic link over the shared deterministic scorer; probabilities,
# per-row squared errors, and per-bin gap masses are fixed-point
# quantized (x1e9) so every aggregate is an exact BIGINT.
_PROB_Q = 1_000_000_000
_SQL_PROB = f"1.0 / (1.0 + exp(-({_SCORE_SQL})))"


def _prob_col() -> "F.Column":
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_score_col()))


@register(
    "ml_brier_score",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y, ({_SQL_PROB}) AS p FROM embeddings
    ), rows_q AS (
        SELECT y,
               CAST(floor(p * {_PROB_Q} + 0.5) AS BIGINT) AS pq,
               CAST(floor(pow(p - (y), 2) * {_PROB_Q} + 0.5) AS BIGINT)
                   AS bq,
               least(9, CAST(floor(p * 10) AS BIGINT)) AS bin
        FROM scored
    ), bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS nk,
               CAST(sum(pq) AS BIGINT) AS spq,
               CAST(sum(y) AS BIGINT) AS syk
        FROM rows_q GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(nk) AS BIGINT) AS n,
               CAST(sum(syk) AS BIGINT) AS sy,
               CAST(sum(spq) AS BIGINT) AS sp,
               (SELECT CAST(sum(bq) AS BIGINT) FROM rows_q) AS sbq
        FROM bins
    ), decomp AS (
        SELECT CAST(sum(CAST(floor(nk * pow(
                   CAST(spq AS DOUBLE) / {_PROB_Q} / nk
                   - CAST(syk AS DOUBLE) / nk, 2) * {_PROB_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS rel_q,
               CAST(sum(CAST(floor(nk * pow(
                   CAST(syk AS DOUBLE) / nk
                   - CAST(sy AS DOUBLE) / n, 2) * {_PROB_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS res_q
        FROM bins CROSS JOIN tot
    )
    SELECT n,
           {sql_q4(f"CAST(sbq AS DOUBLE) / {_PROB_Q} / n")} AS brier,
           {sql_q4(f"CAST(rel_q AS DOUBLE) / {_PROB_Q} / n")} AS reliability,
           {sql_q4(f"CAST(res_q AS DOUBLE) / {_PROB_Q} / n")} AS resolution,
           {sql_q4("CAST(sy AS DOUBLE) / n * (1.0 - CAST(sy AS DOUBLE) / n)")}
               AS uncertainty
    FROM decomp CROSS JOIN tot
    """,
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the logistic-linked scorer with Murphy's
    three-way decomposition (brier ~= reliability - resolution +
    uncertainty over the 10 fixed probability bins): reliability is
    the miscalibration mass a recalibration could remove, resolution
    is the discrimination the model actually has, uncertainty is the
    irreducible base-rate term — the standard forecast-quality audit.

    Scale shape: one pass bins the quantized probabilities (map-side
    expression, no global quantile), one 10-row bin aggregate feeds
    the decomposition; per-row squared errors and per-bin gap masses
    are x1e9-quantized so every sum is an exact BIGINT."""
    e = table(spark, sf_dir, "embeddings")
    p = _prob_col()
    rows_q = reuse(e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(p * _PROB_Q + 0.5).cast("long").alias("pq"),
        F.floor(F.pow(p - (F.col("label") % 2), 2) * _PROB_Q + 0.5)
        .cast("long")
        .alias("bq"),
        F.least(F.lit(9), F.floor(p * 10).cast("long")).alias("bin"),
    ))
    bins = rows_q.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("pq").cast("long").alias("spq"),
        F.sum("y").cast("long").alias("syk"),
    ).localCheckpoint(eager=False)
    sbq = rows_q.agg(F.sum("bq").cast("long").alias("sbq"))
    tot = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("syk").cast("long").alias("sy"),
    ).crossJoin(F.broadcast(sbq))
    rel_term = F.floor(
        F.col("nk")
        * F.pow(
            F.col("spq").cast("double") / _PROB_Q / F.col("nk")
            - F.col("syk").cast("double") / F.col("nk"),
            2,
        )
        * _PROB_Q
        + 0.5
    ).cast("long")
    res_term = F.floor(
        F.col("nk")
        * F.pow(
            F.col("syk").cast("double") / F.col("nk")
            - F.col("sy").cast("double") / F.col("n"),
            2,
        )
        * _PROB_Q
        + 0.5
    ).cast("long")
    decomp = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(rel_term).cast("long").alias("rel_q"),
        F.sum(res_term).cast("long").alias("res_q"),
    )
    ybar = F.col("sy").cast("double") / F.col("n")
    return decomp.crossJoin(F.broadcast(tot)).select(
        "n",
        q4(F.col("sbq").cast("double") / _PROB_Q / F.col("n")).alias("brier"),
        q4(F.col("rel_q").cast("double") / _PROB_Q / F.col("n")).alias(
            "reliability"
        ),
        q4(F.col("res_q").cast("double") / _PROB_Q / F.col("n")).alias(
            "resolution"
        ),
        q4(ybar * (F.lit(1.0) - ybar)).alias("uncertainty"),
    )


@register(
    "ml_ece",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y, ({_SQL_PROB}) AS p FROM embeddings
    ), rows_q AS (
        SELECT y,
               CAST(floor(p * {_PROB_Q} + 0.5) AS BIGINT) AS pq,
               least(9, CAST(floor(p * 10) AS BIGINT)) AS bin
        FROM scored
    ), bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS nk,
               CAST(sum(pq) AS BIGINT) AS spq,
               CAST(sum(y) AS BIGINT) AS syk
        FROM rows_q GROUP BY bin
    ), gaps AS (
        SELECT CAST(sum(nk) AS BIGINT) AS n,
               CAST(sum(CAST(floor(nk * abs(
                   CAST(syk AS DOUBLE) / nk
                   - CAST(spq AS DOUBLE) / {_PROB_Q} / nk)
                   * {_PROB_Q} + 0.5) AS BIGINT)) AS BIGINT) AS ece_q,
               max(abs(CAST(syk AS DOUBLE) / nk
                   - CAST(spq AS DOUBLE) / {_PROB_Q} / nk)) AS mce_raw
        FROM bins
    )
    SELECT n,
           {sql_q4(f"CAST(ece_q AS DOUBLE) / {_PROB_Q} / n")} AS ece,
           {sql_q4("mce_raw")} AS mce
    FROM gaps
    """,
)
def ml_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the logistic-linked
    scorer over 10 fixed-width probability bins: ECE is the
    bin-population-weighted mean |accuracy - confidence| gap, MCE the
    worst bin — the two numbers every model card quotes for
    calibration (Naeini et al.'s binned estimator, public).

    Scale shape: identical one-pass binning to ml_brier_score
    (map-side fences, no global quantile); per-bin gap masses are
    x1e9-quantized before the weighted sum (exact BIGINT), and MCE is
    a max — order-free by definition."""
    e = table(spark, sf_dir, "embeddings")
    p = _prob_col()
    rows_q = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(p * _PROB_Q + 0.5).cast("long").alias("pq"),
        F.least(F.lit(9), F.floor(p * 10).cast("long")).alias("bin"),
    )
    bins = rows_q.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("pq").cast("long").alias("spq"),
        F.sum("y").cast("long").alias("syk"),
    )
    gap = F.abs(
        F.col("syk").cast("double") / F.col("nk")
        - F.col("spq").cast("double") / _PROB_Q / F.col("nk")
    )
    gaps = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum(F.floor(F.col("nk") * gap * _PROB_Q + 0.5).cast("long"))
        .cast("long")
        .alias("ece_q"),
        F.max(gap).alias("mce_raw"),
    )
    return gaps.select(
        "n",
        q4(F.col("ece_q").cast("double") / _PROB_Q / F.col("n")).alias("ece"),
        q4(F.col("mce_raw")).alias("mce"),
    )


# ----------------------------------------- IVF tuning curve (r8 wave)

_SWEEP_NPROBES = (1, 2, 3, 4)


def _ivf_recall_sql(nprobe: int) -> str:
    """recall@TOP_K of the IVF tier at a given nprobe vs exact —
    parameterized mirror of the registered sim_ann_ivf oracle."""
    return f"""
        SELECT CAST({nprobe} AS BIGINT) AS nprobe,
               CAST(count(DISTINCT e.qid) AS BIGINT) AS n_queries,
               CAST(count(v.cid) AS BIGINT) AS n_hits,
               {sql_q4("CAST(count(v.cid) AS DOUBLE) / count(*)")}
                   AS recall_at_{TOP_K}
        FROM exact_tk e
        LEFT JOIN (
            WITH ranked AS (
                SELECT qid, cid,
                       CAST(row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, cid) AS BIGINT) AS rn
                FROM (
                    SELECT a.vec_id AS qid, b.vec_id AS cid,
                           {_SQL_DOT} /
                           sqrt({_SQL_NORM2.format(col="a.embedding")}
                                * {_SQL_NORM2.format(col="b.embedding")}) AS cos
                    FROM (SELECT vec_id, cent_id AS cell FROM ranked_cells
                          WHERE cell_rank <= {nprobe}
                            AND vec_id < {N_QUERIES}) p
                    JOIN assign ca ON ca.cell = p.cell
                    JOIN embeddings a ON a.vec_id = p.vec_id
                    JOIN embeddings b ON b.vec_id = ca.vec_id
                    WHERE a.vec_id <> b.vec_id
                )
            ) SELECT qid, cid FROM ranked WHERE rn <= {TOP_K}
        ) v ON v.qid = e.qid AND v.cid = e.cid
    """


def _nprobe_sweep_oracle() -> str:
    body = " UNION ALL ".join(_ivf_recall_sql(p) for p in _SWEEP_NPROBES)
    return f"""
    WITH cent AS MATERIALIZED (
        SELECT vec_id AS cent_id, embedding AS ce,
               {_SQL_NORM2.format(col="embedding")} AS cn2
        FROM embeddings WHERE vec_id % {_SQL_CENT_STEP} = 0
    ), vec AS (
        SELECT vec_id, embedding,
               {_SQL_NORM2.format(col="embedding")} AS n2
        FROM embeddings
    ), ranked_cells AS MATERIALIZED (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   v.n2 + c.cn2 - 2*(list_aggregate(
                       [CAST(v.embedding[i] AS DOUBLE)*CAST(c.ce[i] AS DOUBLE)
                        for i in range(1, 65)], 'sum')),
                   c.cent_id) AS cell_rank
        FROM vec v CROSS JOIN cent c
    ), assign AS MATERIALIZED (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), exact_tk AS MATERIALIZED (
        SELECT qid, cid FROM (
            SELECT a.vec_id AS qid, b.vec_id AS cid,
                   CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY
                       {_SQL_DOT} /
                       sqrt({_SQL_NORM2.format(col="a.embedding")}
                            * {_SQL_NORM2.format(col="b.embedding")}) DESC,
                       b.vec_id) AS BIGINT) AS rn
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {N_QUERIES}
        ) WHERE rn <= {TOP_K}
    )
    {body}
    """


@register(
    "sim_ivf_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    notes="IVF recall-vs-nprobe tuning curve, fully SQL-oracled "
    "(deterministic stride centroids).",
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@5 vs the exact tier at nprobe =
    1..4 — the cost/recall dial every ANN deployment sweeps before
    picking its operating point (more probed cells = more candidates
    scanned = higher recall), emitted as verifiable data like
    sim_recall_report.

    Scale shape: centroid assignment and the exact baseline are
    computed ONCE and shared across the four operating points (the
    expensive stages do not multiply with sweep size); each nprobe
    adds only its bounded probe join and a 50x5-pair recall join."""
    e = table(spark, sf_dir, "embeddings")
    ranked_cells = _ivf_ranked_cells(e)
    assign = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cid"), F.col("cent_id").alias("cell")
    )
    q = e.select(
        F.col("vec_id").alias("qid2"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid2"),
        F.col("embedding").alias("ce2"),
        _norm2(F.col("embedding")).alias("cn2b"),
    )
    exact = (
        _REG["sim_topk_exact"]
        .build(spark, sf_dir)
        .select("qid", "cid")
        .localCheckpoint(eager=False)
    )
    out = None
    for p in _SWEEP_NPROBES:
        probes = ranked_cells.where(
            (F.col("cell_rank") <= p) & (F.col("vec_id") < N_QUERIES)
        ).select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
        cand = (
            F.broadcast(probes)
            .join(assign, "cell")
            .where(F.col("qid") != F.col("cid"))
            .join(q, F.col("qid") == F.col("qid2"))
            .join(c, F.col("cid") == F.col("cid2"))
        )
        cos = _dot64(F.col("qe"), F.col("ce2")) / F.sqrt(
            F.col("qn2") * F.col("cn2b")
        )
        w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
        topk = (
            cand.select("qid", "cid", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= TOP_K)
            .select("qid", "cid", F.lit(1).alias("hit"))
        )
        row = exact.join(topk, ["qid", "cid"], "left").agg(
            F.lit(p).cast("long").alias("nprobe"),
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.count("hit").cast("long").alias("n_hits"),
            q4(F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                f"recall_at_{TOP_K}"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ------------------------------------------- isotropy audit (r8 wave)

_ISO_Q = 1_000_000_000


@register(
    "embed_isotropy",
    oracle=f"""
    WITH comp AS (
        SELECT u.i AS dim,
               CAST(floor(
                   CAST(embedding[u.i] AS DOUBLE)
                   / sqrt({_SQL_NORM2.format(col="embedding")})
                   * {_ISO_Q} + 0.5) AS BIGINT) AS cq
        FROM embeddings
        CROSS JOIN generate_series(1, 64) AS u(i)
    ), sums AS (
        SELECT dim, CAST(sum(cq) AS BIGINT) AS s FROM comp GROUP BY dim
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
    ), norm2 AS (
        SELECT CAST(sum(CAST(s AS DOUBLE) / {_ISO_Q}
                        * (CAST(s AS DOUBLE) / {_ISO_Q})) AS DOUBLE) AS m2
        FROM sums
    )
    SELECT n,
           {sql_q4("(m2 - n) / (CAST(n AS DOUBLE) * (n - 1))")}
               AS mean_pairwise_cos,
           {sql_q4("sqrt(m2) / n")} AS mean_vector_norm
    FROM norm2 CROSS JOIN tot
    """,
)
def embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space: the mean pairwise cosine
    of the NORMALIZED corpus computed WITHOUT a pair join via the
    sum-vector identity sum_ij v_i.v_j = ||sum_i v_i||^2 — mean
    off-diagonal cosine = (||S||^2 - n) / (n(n-1)).  Anisotropic
    spaces (mean cosine far above 0) crush retrieval contrast and are
    the motivation for whitening (embed_whitening_stats is the fix;
    this is the detector).  mean_vector_norm = ||S||/n is the
    companion 'common direction' strength.

    Scale shape: the entire statistic is ONE pass — each vector
    contributes its 64 normalized components (x1e9-quantized, so the
    per-dimension sums are exact BIGINTs) to a 64-row aggregate; the
    O(n^2) pairwise definition never materializes."""
    e = table(spark, sf_dir, "embeddings")
    inv_norm = F.lit(1.0) / F.sqrt(_norm2(F.col("embedding")))
    comp = e.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * inv_norm * _ISO_Q + 0.5).cast(
                    "long"
                ),
            )
        ).alias("dim0", "cq")
    )
    sums = comp.groupBy("dim0").agg(F.sum("cq").cast("long").alias("s"))
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m2 = sums.agg(
        F.sum(
            (F.col("s").cast("double") / _ISO_Q)
            * (F.col("s").cast("double") / _ISO_Q)
        ).alias("m2")
    )
    nd = F.col("n").cast("double")
    return m2.crossJoin(F.broadcast(tot)).select(
        "n",
        q4((F.col("m2") - F.col("n")) / (nd * (F.col("n") - 1))).alias(
            "mean_pairwise_cos"
        ),
        q4(F.sqrt(F.col("m2")) / F.col("n")).alias("mean_vector_norm"),
    )


@register(
    "ml_f1_threshold_sweep",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y, ({_SQL_PROB}) AS p FROM embeddings
    ), bins AS (
        SELECT least(99, CAST(floor(p * 100) AS BIGINT)) AS b,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT b,
               CAST(sum(n) OVER w AS BIGINT) AS pp,
               CAST(sum(pos) OVER w AS BIGINT) AS tp
        FROM bins
        WINDOW w AS (ORDER BY b DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS p_all FROM bins
    ), scoredrows AS (
        SELECT b, pp, tp,
               2.0 * tp / (pp + p_all) AS f1
        FROM cum CROSS JOIN tot
    ), best AS (
        SELECT max(f1) AS best_f1 FROM scoredrows
    )
    SELECT {sql_q4("CAST(b AS DOUBLE) / 100.0")} AS threshold,
           pp AS predicted_pos, tp,
           {sql_q4("CAST(tp AS DOUBLE) / pp")} AS precision,
           {sql_q4("CAST(tp AS DOUBLE) / p_all")} AS recall,
           {sql_q4("f1")} AS f1,
           (f1 = best_f1) AS is_best
    FROM scoredrows CROSS JOIN best CROSS JOIN tot
    """,
)
def ml_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification-threshold sweep of the logistic-linked scorer:
    precision, recall, and F1 at every percent threshold ('predict
    positive when p >= t'), with the F1-argmax row flagged — the
    operating-point table that turns a ranked scorer into a
    deployable classifier (ROC/PR AUC say how good the ranking is;
    this says where to cut).

    Hash-parity discipline: F1 = 2*TP/(PP + P) is a ratio of exact
    BIGINTs at every threshold, and the argmax comparison matches
    identical doubles on both engines.

    Scale shape: one pass to 100 fixed percent bins (map-side
    fences), ONE descending bucketed-prefix pass over the bounded bin
    grid for the cumulative TP/PP curves, broadcast totals — no
    per-threshold rescan, no global quantile."""
    e = table(spark, sf_dir, "embeddings")
    p = _prob_col()
    bins = e.select(
        (F.col("label") % 2).alias("y"),
        F.least(F.lit(99), F.floor(p * 100).cast("long")).alias("b"),
    ).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint(eager=False)
    cum = global_ordered(
        bins,
        [F.col("b").desc()],
        bucket_key="b",
        bucket_desc=True,
        sums={"n": "pp", "pos": "tp"},
        rank_col=None,
    )
    tot = bins.agg(F.sum("pos").cast("long").alias("p_all"))
    scoredrows = cum.crossJoin(F.broadcast(tot)).select(
        "b",
        "pp",
        "tp",
        "p_all",
        (F.lit(2.0) * F.col("tp") / (F.col("pp") + F.col("p_all"))).alias("f1"),
    ).localCheckpoint(eager=False)
    best = scoredrows.agg(F.max("f1").alias("best_f1"))
    return scoredrows.crossJoin(F.broadcast(best)).select(
        q4(F.col("b").cast("double") / 100.0).alias("threshold"),
        F.col("pp").alias("predicted_pos"),
        "tp",
        q4(F.col("tp").cast("double") / F.col("pp")).alias("precision"),
        q4(F.col("tp").cast("double") / F.col("p_all")).alias("recall"),
        q4(F.col("f1")).alias("f1"),
        (F.col("f1") == F.col("best_f1")).alias("is_best"),
    )


@register(
    "ml_fairness_report",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id % 3 AS grp, label % 2 AS y,
               CASE WHEN ({_SQL_PROB}) >= 0.5 THEN 1 ELSE 0 END AS pred
        FROM embeddings
    ), per_grp AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pred) AS BIGINT) AS n_pred_pos,
               CAST(count_if(y = 1) AS BIGINT) AS n_pos,
               CAST(count_if(pred = 1 AND y = 1) AS BIGINT) AS tp,
               CAST(count_if(pred = 1 AND y = 0) AS BIGINT) AS fp
        FROM scored GROUP BY grp
    ), overall AS (
        SELECT CAST(sum(n_pred_pos) AS DOUBLE) / sum(n) AS g_rate
        FROM per_grp
    )
    SELECT grp, n,
           {sql_q4("CAST(n_pred_pos AS DOUBLE) / n")} AS positive_rate,
           {sql_q4("CAST(tp AS DOUBLE) / n_pos")} AS tpr,
           {sql_q4("CAST(fp AS DOUBLE) / (n - n_pos)")} AS fpr,
           {sql_q4("CAST(n_pred_pos AS DOUBLE) / n - g_rate")}
               AS dp_gap
    FROM per_grp CROSS JOIN overall
    """,
)
def ml_fairness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the thresholded logistic scorer across
    a (synthetic, vec_id%3) protected attribute: per-group selection
    rate (demographic parity), TPR and FPR (equalized odds), and each
    group's parity gap vs the global rate — the model-card table a
    deployment review reads before shipping a classifier; the
    attribute here is a deterministic stand-in, the machinery is the
    real audit.

    Scale shape: one pass to |groups| rows (all counts exact BIGINTs
    at any exchange order), one broadcast global-rate row; every
    metric is a ratio of exact integers."""
    e = table(spark, sf_dir, "embeddings")
    pred = (_prob_col() >= 0.5).cast("int")
    scored = e.select(
        (F.col("vec_id") % 3).alias("grp"),
        (F.col("label") % 2).alias("y"),
        pred.alias("pred"),
    )
    per_grp = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pred").cast("long").alias("n_pred_pos"),
        F.count_if(F.col("y") == 1).cast("long").alias("n_pos"),
        F.count_if((F.col("pred") == 1) & (F.col("y") == 1))
        .cast("long")
        .alias("tp"),
        F.count_if((F.col("pred") == 1) & (F.col("y") == 0))
        .cast("long")
        .alias("fp"),
    )
    glob = per_grp.agg(
        (F.sum("n_pred_pos").cast("double") / F.sum("n")).alias("g_rate")
    )
    return per_grp.crossJoin(F.broadcast(glob)).select(
        "grp",
        "n",
        q4(F.col("n_pred_pos").cast("double") / F.col("n")).alias(
            "positive_rate"
        ),
        q4(F.col("tp").cast("double") / F.col("n_pos")).alias("tpr"),
        q4(F.col("fp").cast("double") / (F.col("n") - F.col("n_pos"))).alias(
            "fpr"
        ),
        q4(
            F.col("n_pred_pos").cast("double") / F.col("n") - F.col("g_rate")
        ).alias("dp_gap"),
    )


# ------------------------------------ MCC / balanced accuracy (r8 wave T)


@register(
    "ml_matthews_corr",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), c AS (
        SELECT CAST(count_if(y = 1 AND sq > 0) AS BIGINT) AS tp,
               CAST(count_if(y = 0 AND sq > 0) AS BIGINT) AS fp,
               CAST(count_if(y = 0 AND sq <= 0) AS BIGINT) AS tn,
               CAST(count_if(y = 1 AND sq <= 0) AS BIGINT) AS fn
        FROM scored
    )
    SELECT CAST(tp + fp + tn + fn AS BIGINT) AS n,
           {sql_q4("(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)"
                   " / sqrt(((CAST(tp AS DOUBLE) + fp) * (tp + fn)"
                   " * (CAST(tn AS DOUBLE) + fp)) * (tn + fn))")} AS mcc,
           {sql_q4("0.5 * (CAST(tp AS DOUBLE) / (tp + fn)"
                   " + CAST(tn AS DOUBLE) / (tn + fp))")}
               AS balanced_accuracy,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fn)"
                   " + CAST(tn AS DOUBLE) / (tn + fp) - 1.0")} AS youden_j,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fp)"
                   " + CAST(tn AS DOUBLE) / (tn + fn) - 1.0")} AS markedness
    FROM c
    """,
)
def ml_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient + balanced accuracy + Youden's
    J + markedness for the deterministic scorer — the
    class-imbalance-robust readouts accuracy/F1 (ml_confusion_metrics)
    cannot give: MCC is the phi correlation of the 2x2 confusion
    matrix, J = TPR+TNR-1 is the informedness both classes share, and
    markedness = PPV+NPV-1 is its dual over predictions.

    Everything derives from the same four exact-integer confusion
    cells as ml_confusion_metrics (scores 1e-6-quantized before
    thresholding, so the boundary is engine-stable); the only floats
    are the final ratios. The MCC denominator groups the first three
    factors as doubles before the fourth so the product never forms a
    BIGINT overflow on either engine.

    Scale shape: one conditional aggregate (map-side partials, single
    reduce) — four counters at 100 TB, same as ml_confusion_metrics."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    c = scored.agg(
        F.count_if((F.col("y") == 1) & (F.col("sq") > 0)).cast("long").alias("tp"),
        F.count_if((F.col("y") == 0) & (F.col("sq") > 0)).cast("long").alias("fp"),
        F.count_if((F.col("y") == 0) & (F.col("sq") <= 0)).cast("long").alias("tn"),
        F.count_if((F.col("y") == 1) & (F.col("sq") <= 0)).cast("long").alias("fn"),
    )
    tp, fp, tn, fn = (F.col(k) for k in ("tp", "fp", "tn", "fn"))
    tpr = tp.cast("double") / (tp + fn)
    tnr = tn.cast("double") / (tn + fp)
    return c.select(
        (tp + fp + tn + fn).cast("long").alias("n"),
        q4(
            (tp.cast("double") * tn - fp.cast("double") * fn)
            / F.sqrt(
                ((tp.cast("double") + fp) * (tp + fn) * (tn.cast("double") + fp))
                * (tn + fn)
            )
        ).alias("mcc"),
        q4(F.lit(0.5) * (tpr + tnr)).alias("balanced_accuracy"),
        q4(tpr + tnr - F.lit(1.0)).alias("youden_j"),
        q4(
            tp.cast("double") / (tp + fp)
            + tn.cast("double") / (tn + fn)
            - F.lit(1.0)
        ).alias("markedness"),
    )


# ------------------------------ log loss / Hosmer-Lemeshow (r8 wave U)

# Per-row loss/probability terms are 1e-9-quantized to BIGINTs before
# summing so the aggregates are order-free on both engines; exp/ln on
# identical double inputs are the only libm calls.
_LL_Q = 1_000_000_000

# numerically stable -ln sigmoid((2y-1)*s): max(-t,0) + ln(1+exp(-|t|))
_LL_SQL = (
    "greatest(-((2 * (label % 2) - 1) * (({s}))), 0.0)"
    " + ln(1.0 + exp(-abs((2 * (label % 2) - 1) * (({s})))))"
).format(s="{s}")


@register(
    "ml_log_loss",
    oracle=f"""
    WITH terms AS (
        SELECT label % 2 AS y,
               CAST(floor(({_LL_SQL.format(s=_SCORE_SQL)}) * {_LL_Q} + 0.5)
                    AS BIGINT) AS llq
        FROM embeddings
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(y = 1) AS BIGINT) AS n_pos,
               CAST(sum(llq) AS BIGINT) AS sllq
        FROM terms
    )
    SELECT n, n_pos,
           {sql_q4(f"CAST(sllq AS DOUBLE) / {_LL_Q} / n")} AS log_loss,
           {sql_q4(
               "-(CAST(n_pos AS DOUBLE) / n)"
               " * ln(CAST(n_pos AS DOUBLE) / n)"
               " - (1.0 - CAST(n_pos AS DOUBLE) / n)"
               " * ln(1.0 - CAST(n_pos AS DOUBLE) / n)"
           )} AS baseline_log_loss
    FROM s
    """,
)
def ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy (log loss) of the deterministic scorer
    under a sigmoid link, next to the no-skill baseline (the entropy
    of the base rate — a model is only calibrated-useful below it):
    the proper scoring rule ml_brier_score's quadratic loss
    complements, and the training objective ml_logreg_irls_step
    minimizes.

    Per row the stable form max(-t,0) + ln(1+exp(-|t|)) with
    t = (2y-1)·score avoids overflow for any score; each term is
    1e-9-quantized to a BIGINT before the sum so the reduce is
    order-free. Baseline derives from exact integer counts only.

    Scale shape: one conditional aggregate — two counters and one
    integer sum at 100 TB."""
    e = table(spark, sf_dir, "embeddings")
    t = (2 * (F.col("label") % 2) - 1).cast("double") * _score_col()
    ll = F.greatest(-t, F.lit(0.0)) + F.log(F.lit(1.0) + F.exp(-F.abs(t)))
    terms = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(ll * _LL_Q + F.lit(0.5)).cast("long").alias("llq"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("y") == 1).cast("long").alias("n_pos"),
        F.sum("llq").cast("long").alias("sllq"),
    )
    p = F.col("n_pos").cast("double") / F.col("n")
    return s.select(
        "n",
        "n_pos",
        q4(F.col("sllq").cast("double") / _LL_Q / F.col("n")).alias("log_loss"),
        q4(-p * F.log(p) - (F.lit(1.0) - p) * F.log(F.lit(1.0) - p)).alias(
            "baseline_log_loss"
        ),
    )


_HL_BINS = 10


@register(
    "ml_hosmer_lemeshow",
    oracle=f"""
    WITH probs AS (
        SELECT label % 2 AS y,
               CAST(floor(1.0 / (1.0 + exp(-({_SCORE_SQL}))) * {_LL_Q} + 0.5)
                    AS BIGINT) AS pq
        FROM embeddings
    ), binned AS (
        SELECT y, pq,
               least({_HL_BINS - 1}, pq // {_LL_Q // _HL_BINS}) AS bin
        FROM probs
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(y = 1) AS BIGINT) AS obs_pos,
           {sql_q4(f"CAST(sum(pq) AS DOUBLE) / {_LL_Q}")} AS exp_pos,
           {sql_q4(
               f"power(count_if(y = 1) - CAST(sum(pq) AS DOUBLE) / {_LL_Q}, 2)"
               f" / (CAST(sum(pq) AS DOUBLE) / {_LL_Q}"
               f" * (1.0 - CAST(sum(pq) AS DOUBLE) / {_LL_Q} / count(*)))"
           )} AS hl_contrib
    FROM binned GROUP BY bin
    """,
)
def ml_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit table for the sigmoid-linked
    scorer: fixed-width predicted-probability bins, each with observed
    vs expected positives and its chi-square contribution
    (O-E)^2 / (E(1-E/n)) — summing hl_contrib gives the HL statistic
    (chi2, df = bins-2). The calibration-table complement of
    ml_calibration_bins (which bins raw scores): HL bins the
    PROBABILITY scale and tests, rather than plots, the fit.

    Fixed-width probability fences instead of rank deciles on
    purpose: deciles need a global quantile pass, fixed fences are a
    pure map-side expression. Probabilities are 1e-9-quantized before
    binning AND before the expected-count sum, so bin membership and
    E are identical on both engines.

    Scale shape: one pass, one hash aggregate to <=10 bins."""
    e = table(spark, sf_dir, "embeddings")
    pq = (
        F.floor(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_score_col())) * _LL_Q
            + F.lit(0.5)
        )
        .cast("long")
        .alias("pq")
    )
    probs = e.select((F.col("label") % 2).alias("y"), pq)
    binned = probs.select(
        "y",
        "pq",
        F.least(
            F.lit(_HL_BINS - 1),
            F.expr(f"pq DIV {_LL_Q // _HL_BINS}"),
        ).alias("bin"),
    )
    ex = F.sum("pq").cast("double") / _LL_Q
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("y") == 1).cast("long").alias("obs_pos"),
        q4(ex).alias("exp_pos"),
        q4(
            F.pow(F.count_if(F.col("y") == 1) - ex, F.lit(2.0))
            / (ex * (F.lit(1.0) - ex / F.count(F.lit(1))))
        ).alias("hl_contrib"),
    )


# ----------------------------------------- Fleiss' kappa (r8 wave V)

# Three deterministic pseudo-raters = the shared scorer at three
# operating points (strict / neutral / lenient thresholds on the
# 1e-6-quantized score) — annotators that agree on clear cases and
# disagree near the boundary, which is exactly the structure Fleiss'
# kappa measures.
_FK_THRESH = (-500_000, 0, 500_000)
_FK_M = len(_FK_THRESH)


@register(
    "ml_fleiss_kappa",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), votes AS (
        SELECT {" + ".join(f"CASE WHEN sq > {t} THEN 1 ELSE 0 END" for t in _FK_THRESH)}
               AS n_pos
        FROM scored
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_pos) AS BIGINT) AS tot_pos,
               CAST(sum(n_pos * (n_pos - 1)
                    + ({_FK_M} - n_pos) * ({_FK_M} - 1 - n_pos))
                    AS BIGINT) AS agree2
        FROM votes
    )
    SELECT n, CAST({_FK_M} AS BIGINT) AS n_raters,
           {sql_q4(f"CAST(agree2 AS DOUBLE) / n / ({_FK_M} * ({_FK_M} - 1))")}
               AS p_bar,
           {sql_q4(f"power(CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)"
                   f" + power(1.0 - CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)")}
               AS p_e,
           {sql_q4(
               f"(CAST(agree2 AS DOUBLE) / n / ({_FK_M} * ({_FK_M} - 1))"
               f" - (power(CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)"
               f" + power(1.0 - CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)))"
               f" / (1.0 - (power(CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)"
               f" + power(1.0 - CAST(tot_pos AS DOUBLE) / n / {_FK_M}, 2)))"
           )} AS kappa
    FROM s
    """,
)
def ml_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for THREE raters over binary categories — the
    multi-rater generalization of ml_cohen_kappa that annotation
    pipelines report when more than two labelers vote: kappa =
    (P_bar - P_e)/(1 - P_e), with per-item agreement P_i =
    sum_j n_ij(n_ij - 1) / (m(m-1)) and chance agreement P_e from the
    pooled category shares. Raters are the deterministic scorer at
    strict/neutral/lenient thresholds, so near-boundary items carry
    the disagreement.

    Both kappa ingredients fold as exact integers: agree2 sums
    n_pos(n_pos-1) + n_neg(n_neg-1) per item (n_pos in 0..3), tot_pos
    counts votes; the final row is pure arithmetic on three BIGINTs.

    Scale shape: one pass, one aggregate, three counters at 100 TB."""
    e = table(spark, sf_dir, "embeddings")
    sq = F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long")
    n_pos = sum(
        F.when(sq > t, 1).otherwise(0) for t in _FK_THRESH
    ).alias("n_pos")
    votes = e.select(n_pos)
    m = _FK_M
    s = votes.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
        F.sum(
            F.col("n_pos") * (F.col("n_pos") - 1)
            + (m - F.col("n_pos")) * (m - 1 - F.col("n_pos"))
        )
        .cast("long")
        .alias("agree2"),
    )
    p1 = F.col("tot_pos").cast("double") / F.col("n") / m
    p_e = F.pow(p1, F.lit(2.0)) + F.pow(F.lit(1.0) - p1, F.lit(2.0))
    p_bar = F.col("agree2").cast("double") / F.col("n") / (m * (m - 1))
    return s.select(
        "n",
        F.lit(m).cast("long").alias("n_raters"),
        q4(p_bar).alias("p_bar"),
        q4(p_e).alias("p_e"),
        q4((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


# ------------------------------------ Krippendorff's alpha (r14 wave A)


@register(
    "ml_krippendorff_alpha",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), votes AS (
        SELECT {" + ".join(f"CASE WHEN sq > {t} THEN 1 ELSE 0 END" for t in _FK_THRESH)}
               AS n_pos
        FROM scored
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(n_pos) AS BIGINT) AS p,
               CAST(sum(n_pos * n_pos) AS BIGINT) AS p2
        FROM votes
    )
    SELECT n_units,
           CAST(n_units * {_FK_M} AS BIGINT) AS n_values,
           {sql_q4(f"CAST(2 * ({_FK_M} * p - p2) AS DOUBLE)"
                   f" / (n_units * {_FK_M} * ({_FK_M} - 1))")} AS d_obs,
           {sql_q4(f"CAST(2 * p * (n_units * {_FK_M} - p) AS DOUBLE)"
                   f" / (CAST(n_units * {_FK_M} AS DOUBLE)"
                   f" * (n_units * {_FK_M} - 1))")} AS d_exp,
           CASE WHEN p = 0 OR p = n_units * {_FK_M} THEN NULL ELSE
           {sql_q4(
               f"1.0 - (CAST(2 * ({_FK_M} * p - p2) AS DOUBLE)"
               f" / (n_units * {_FK_M} * ({_FK_M} - 1)))"
               f" / (CAST(2 * p * (n_units * {_FK_M} - p) AS DOUBLE)"
               f" / (CAST(n_units * {_FK_M} AS DOUBLE)"
               f" * (n_units * {_FK_M} - 1)))"
           )} END AS alpha
    FROM s
    """,
)
def ml_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal level, complete binary data) over
    the SAME three deterministic pseudo-raters as ml_fleiss_kappa —
    the agreement coefficient annotation teams report when the chance
    model must come from the VALUE distribution rather than per-rater
    marginals: alpha = 1 - D_obs/D_exp, with observed disagreement
    from the per-unit coincidence counts (2·n_pos·n_neg ordered
    disagreeing pairs per unit over m(m-1) pairable values) and
    expected disagreement from pooling all n = N·m values
    (2·P·(n-P)/(n(n-1)) — note the finite-sample n-1, the term that
    distinguishes alpha from Fleiss' pi-style chance). Degenerate
    all-one-category data (D_exp = 0) publishes NULL on both engines.

    Both ingredients reduce to three exact BIGINTs in ONE pass
    (N, sum n_pos, sum n_pos²): per-unit disagreement folds as
    2(m·P - P2) because 2·n_pos·(m-n_pos) summed is 2(m·ΣP - ΣP²).

    Scale shape: one scan, one global hash aggregate, pure arithmetic
    on the 1-row result — three counters at 100 TB."""
    e = table(spark, sf_dir, "embeddings")
    m = _FK_M
    sq = F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long")
    n_pos = sum(F.when(sq > t, 1).otherwise(0) for t in _FK_THRESH).alias(
        "n_pos"
    )
    s = e.select(n_pos).agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("n_pos").cast("long").alias("p"),
        F.sum(F.col("n_pos") * F.col("n_pos")).cast("long").alias("p2"),
    )
    nu, p, p2 = F.col("n_units"), F.col("p"), F.col("p2")
    d_obs = (2 * (m * p - p2)).cast("double") / (nu * m * (m - 1))
    d_exp = (2 * p * (nu * m - p)).cast("double") / (
        (nu * m).cast("double") * (nu * m - 1)
    )
    return s.select(
        "n_units",
        (nu * m).cast("long").alias("n_values"),
        q4(d_obs).alias("d_obs"),
        q4(d_exp).alias("d_exp"),
        F.when((p == 0) | (p == nu * m), F.lit(None).cast("double"))
        .otherwise(q4(F.lit(1.0) - d_obs / d_exp))
        .alias("alpha"),
    )


# ------------------------------ linear-time MMD two-sample test (r14 wave A)

_MMD_B = 16  # deterministic pairing buckets (vec_id mod B); B scales
#              with N in production — fixed here for oracle parity
_MMD_2S2 = 128.0  # 2*sigma^2 with sigma^2 = d = 64 (bandwidth-by-dim
#                   convention — data-independent, unlike the median
#                   heuristic, so the kernel is a shared constant)
_MMD_Q = 1_000_000_000  # fixed-point quantum for the h-statistic fold

# Exactness cap (enforced with raise_error since r15 — the hoeffding
# precedent for documented-but-unenforced bounds): |h| <= 2 so each
# quantized term is <= 2e9 + 1, and the published h_sum_nano column is
# itself a BIGINT, so the fold must stay under 2^63 - 1; n_pairs <=
# floor((2^63 - 1) / (2*1e9 + 1)) ~ 4.61e9.  4.6e9 leaves a margin.
# Past the cap, publish the mean from per-bucket partial sums instead
# of the global integer (see docstring).  Derivation pinned in
# tests/test_r15_advice.py without spelling the literal.
_MMD_PAIR_CAP = 4_600_000_000

_SQL_MMD_N2 = (
    "list_aggregate(list_transform({c}, x ->"
    " CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')"
)
_SQL_MMD_DOT = (
    "list_aggregate([CAST({u}[i] AS DOUBLE)*CAST({v}[i] AS DOUBLE)"
    " for i in range(1, 65)], 'sum')"
)


def _sql_mmd_k(u: str, v: str) -> str:
    n2u = _SQL_MMD_N2.format(c=u)
    n2v = _SQL_MMD_N2.format(c=v)
    dot = _SQL_MMD_DOT.format(u=u, v=v)
    return f"exp(-((({n2u}) + ({n2v})) - 2.0*({dot})) / {_MMD_2S2})"


@register(
    "embed_mmd_linear",
    oracle=f"""
    WITH two AS (
        SELECT label, vec_id, embedding, vec_id % {_MMD_B} AS bkt
        FROM embeddings WHERE label IN (0, 1)
    ), rk AS (
        SELECT label, bkt, embedding,
               row_number() OVER (PARTITION BY label, bkt
                                  ORDER BY vec_id) AS rx
        FROM two
    ), pr AS (
        SELECT label, bkt, (rx + 1) // 2 AS p, rx % 2 AS side, embedding
        FROM rk
    ), ao AS (SELECT label, bkt, p, embedding AS a FROM pr WHERE side = 1),
    ae AS (SELECT label, bkt, p, embedding AS b FROM pr WHERE side = 0),
    pairs AS (
        SELECT ao.label, ao.bkt, ao.p, ao.a, ae.b
        FROM ao JOIN ae
          ON ao.label = ae.label AND ao.bkt = ae.bkt AND ao.p = ae.p
    ), j AS (
        SELECT x.a AS xa, x.b AS xb, y.a AS ya, y.b AS yb
        FROM (SELECT * FROM pairs WHERE label = 0) x
        JOIN (SELECT * FROM pairs WHERE label = 1) y
          ON x.bkt = y.bkt AND x.p = y.p
    ), terms AS (
        SELECT CAST(floor((
                   ({_sql_mmd_k("xa", "xb")}) + ({_sql_mmd_k("ya", "yb")})
                 - ({_sql_mmd_k("xa", "yb")}) - ({_sql_mmd_k("xb", "ya")})
               ) * {_MMD_Q} + 0.5) AS BIGINT) AS hq
        FROM j
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           -- loud-failure parity with the Spark build's raise_error:
           -- past the documented BIGINT exactness cap the key must
           -- FAIL with a remedy, not publish a wrapped integer
           CASE WHEN count(*) > {_MMD_PAIR_CAP}
                THEN error('embed_mmd_linear: n_pairs exceeds the '
                           'BIGINT exactness cap on h_sum_nano; '
                           'publish per-bucket partial sums instead')
                ELSE CAST(sum(hq) AS BIGINT) END AS h_sum_nano,
           {sql_q4(f"CAST(sum(hq) AS DOUBLE) / {_MMD_Q} / count(*)"
                   f" * 1000000.0")} AS mmd2_micro
    FROM terms
    """,
)
def embed_mmd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gretton's LINEAR-TIME MMD² estimator (NeurIPS 2009 / JMLR 2012
    §6) between the label-0 and label-1 embedding populations with an
    RBF kernel — the embedding-space two-sample test a curation
    pipeline runs to ask "did this source drift in representation
    space?".  The quadratic all-pairs U-statistic is the textbook
    form; at 100 TB it is unrunnable, and THE published answer is the
    linear estimator: pair up samples, average
    h((x1,y1),(x2,y2)) = k(x1,x2)+k(y1,y2)-k(x1,y2)-k(x2,y1)
    over disjoint quadruples — an unbiased MMD² estimate from ONE
    pass, any fixed measurable pairing being valid.

    Pairing is deterministic and shuffle-friendly: vec_id mod 16
    buckets, adjacent-by-vec_id pairs within (label, bucket) (odd
    leftovers drop; X-pairs inner-join Y-pairs on (bucket, pair), so
    unmatched tails drop symmetrically).  The ranking window is
    partitioned by (label, bucket); in production B grows with N so
    a bucket stays executor-sized — the estimator is indifferent to
    the pairing, so re-bucketing never changes its validity.

    Numerics: squared distance via the shared exact-order folds
    (norm² + norm² - 2·dot, same operation order as the oracle's
    list_aggregate), bandwidth 2sigma² = 128 (sigma² = d) so the exp
    argument is a shared derived double; each quadruple's h is
    fixed-point quantized (x1e9, floor+0.5) so the global sum is an
    exact BIGINT on both engines.  h_sum_nano is the exact integer
    statistic; mmd2_micro is its q4-quantized mean in micro-units.
    Exactness bound: |h| <= 2 so each term is <= 2e9; BIGINT holds the
    fold to ~4.6e9 pairs (~9e9 vectors) — ENFORCED with raise_error
    (mirrored by the oracle's error()) since r15, because the non-ANSI
    long sum would otherwise WRAP silently past 2^63; past the cap,
    publish the mean from per-bucket partial sums instead of the
    global integer.

    Scale shape: one scan, one bucketed rank, one (bucket, pair)
    equi-join of two halves of the SAME aggregated frame (persisted
    per the SCALE.md r13 rule), one global hash aggregate — O(N)
    kernel evaluations, never O(N²)."""
    e = table(spark, sf_dir, "embeddings").where(F.col("label").isin(0, 1))
    w = Window.partitionBy("label", "bkt").orderBy("vec_id")
    r = (
        e.select(
            "label",
            "vec_id",
            "embedding",
            (F.col("vec_id") % _MMD_B).alias("bkt"),
        )
        .select(
            "label",
            "bkt",
            "embedding",
            F.row_number().over(w).alias("rx"),
        )
        .select(
            "label",
            "bkt",
            F.expr("(rx + 1) div 2").alias("p"),
            (F.col("rx") % 2).alias("side"),
            "embedding",
        )
    )
    # the paired frame feeds BOTH join sides (X half and Y half) —
    # DATA-SCALED, persist() per the SCALE.md r13 rule
    g = reuse(
        r.groupBy("label", "bkt", "p")
        .agg(
            F.first(
                F.when(F.col("side") == 1, F.col("embedding")), ignorenulls=True
            ).alias("a"),
            F.first(
                F.when(F.col("side") == 0, F.col("embedding")), ignorenulls=True
            ).alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    x = g.where(F.col("label") == 0).select(
        "bkt", "p", F.col("a").alias("xa"), F.col("b").alias("xb")
    )
    y = g.where(F.col("label") == 1).select(
        "bkt", "p", F.col("a").alias("ya"), F.col("b").alias("yb")
    )
    j = x.join(y, ["bkt", "p"])

    def k(u: str, v: str):
        sq = (_norm2(F.col(u)) + _norm2(F.col(v))) - 2.0 * _dot64(
            F.col(u), F.col(v)
        )
        return F.exp(-sq / _MMD_2S2)

    h = k("xa", "xb") + k("ya", "yb") - k("xa", "yb") - k("xb", "ya")
    terms = j.select(
        F.floor(h * _MMD_Q + 0.5).cast("long").alias("hq")
    )
    # loud-failure guard (ADVICE r14, the hoeffding precedent): the
    # non-ANSI long sum WRAPS silently past 2^63, so the wrapped value
    # must never be published — past the documented pair cap the key
    # fails with a remedy, identically on both engines.  The guard is a
    # projection over the one-row aggregate: no extra scan, and the
    # wrapped sum is discarded unevaluated when the guard fires.
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("hq").cast("long").alias("h_sum_raw"),
    ).select(
        "n_pairs",
        F.when(
            F.col("n_pairs") > F.lit(_MMD_PAIR_CAP),
            F.raise_error(
                F.lit(
                    "embed_mmd_linear: n_pairs exceeds the BIGINT "
                    "exactness cap on h_sum_nano; publish per-bucket "
                    "partial sums instead"
                )
            ),
        )
        .otherwise(F.col("h_sum_raw"))
        .cast("long")
        .alias("h_sum_nano"),
        q4(
            F.col("h_sum_raw").cast("double")
            / _MMD_Q
            / F.col("n_pairs")
            * 1000000.0
        ).alias("mmd2_micro"),
    )


# ---------------------- chi2 feature selection / KS separation (r8 wave X)

_CHI2_NFEAT = 8


@register(
    "ml_chi2_select",
    oracle=f"""
    WITH feats AS (
        SELECT label % 2 AS y, i,
               CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN 1 ELSE 0 END
                   AS f
        FROM embeddings, range(1, {_CHI2_NFEAT + 1}) t(i)
    ), cells AS (
        SELECT CAST(i AS BIGINT) AS feature_idx,
               CAST(count_if(f = 1 AND y = 1) AS BIGINT) AS a,
               CAST(count_if(f = 1 AND y = 0) AS BIGINT) AS b,
               CAST(count_if(f = 0 AND y = 1) AS BIGINT) AS c,
               CAST(count_if(f = 0 AND y = 0) AS BIGINT) AS d
        FROM feats GROUP BY i
    )
    SELECT feature_idx, a + b + c + d AS n,
           {sql_q4(
               "(a + b + c + d) * power(CAST(a AS DOUBLE) * d"
               " - CAST(b AS DOUBLE) * c, 2)"
               " / ((CAST(a AS DOUBLE) + b) * (c + d))"
               " / ((CAST(a AS DOUBLE) + c) * (b + d))"
           )} AS chi2,
           CAST({sql_q4(
               "(a + b + c + d) * power(CAST(a AS DOUBLE) * d"
               " - CAST(b AS DOUBLE) * c, 2)"
               " / ((CAST(a AS DOUBLE) + b) * (c + d))"
               " / ((CAST(a AS DOUBLE) + c) * (b + d))"
           )} > 3.8415 AS BOOLEAN) AS selected
    FROM cells
    """,
)
def ml_chi2_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square univariate feature selection: the signed-ness of
    each of the first {_CHI2_NFEAT} embedding dimensions scored
    against the parity label with the 2x2 chi-square statistic
    (df = 1; selected at the 0.05 critical value 3.8415) — the
    sklearn-SelectKBest-style screen, run entirely relationally so
    every feature's score comes from one shared pass.

    The feature axis is a compile-time constant fan-out (explode of
    range({_CHI2_NFEAT}), not a per-feature job): one conditional
    aggregate produces all four confusion cells per feature, and the
    chi2 ratio is arithmetic over exact BIGINT counts. Denominator
    factors are grouped in double pairs to dodge BIGINT overflow.

    Scale shape: {_CHI2_NFEAT}x row fan-out, one hash aggregate to
    {_CHI2_NFEAT} rows — no joins, no windows."""
    e = table(spark, sf_dir, "embeddings")
    feats = e.select(
        (F.col("label") % 2).alias("y"),
        F.explode(F.sequence(F.lit(1), F.lit(_CHI2_NFEAT))).alias("i"),
        F.col("embedding"),
    ).select(
        "y",
        "i",
        F.when(
            F.element_at("embedding", F.col("i")).cast("double") > 0, 1
        )
        .otherwise(0)
        .alias("f"),
    )
    cells = feats.groupBy(F.col("i").cast("long").alias("feature_idx")).agg(
        F.count_if((F.col("f") == 1) & (F.col("y") == 1)).cast("long").alias("a"),
        F.count_if((F.col("f") == 1) & (F.col("y") == 0)).cast("long").alias("b"),
        F.count_if((F.col("f") == 0) & (F.col("y") == 1)).cast("long").alias("c"),
        F.count_if((F.col("f") == 0) & (F.col("y") == 0)).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(k) for k in "abcd")
    n = a + b + c + d
    chi2 = (
        n
        * F.pow(a.cast("double") * d - b.cast("double") * c, F.lit(2.0))
        / ((a.cast("double") + b) * (c + d))
        / ((a.cast("double") + c) * (b + d))
    )
    return cells.select(
        "feature_idx",
        n.alias("n"),
        q4(chi2).alias("chi2"),
        (q4(chi2) > 3.8415).alias("selected"),
    )


@register(
    "ml_ks_separation",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), grp AS (
        SELECT sq, CAST(count_if(y = 1) AS BIGINT) AS pos,
               CAST(count_if(y = 0) AS BIGINT) AS neg
        FROM scored GROUP BY sq
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(neg) AS BIGINT) AS n0
        FROM grp
    ), cum AS (
        SELECT sq,
               CAST(sum(pos) OVER (ORDER BY sq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cpos,
               CAST(sum(neg) OVER (ORDER BY sq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cneg
        FROM grp
    ), gaps AS (
        SELECT sq, CAST(abs(cneg * n1 - cpos * n0) AS BIGINT) AS gapq
        FROM cum, tot
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           {sql_q4("CAST((SELECT max(gapq) FROM gaps) AS DOUBLE)"
                   " / n0 / n1")} AS ks_stat,
           CAST((SELECT max(sq) FROM gaps
                 WHERE gapq = (SELECT max(gapq) FROM gaps)) AS BIGINT)
               AS ks_threshold_q
    FROM tot
    """,
)
def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the scorer: KS = max over
    thresholds of |F_neg(s) - F_pos(s)| plus the threshold achieving
    it — the credit-scoring discrimination headline (the two-sample
    stat_ks_test applied to the score distributions of the two
    classes), with the score at the max gap as the natural cutoff.

    Scores collapse to distinct 1e-6-quantized values first
    (groupBy sq), so the CDF prefix runs over the bounded score
    GRID: the same two-level prefix as ml_roc_auc — per-bucket
    offsets over an order-preserving coarse bucket table, then the
    within-bucket prefix partitioned by bucket — so no window ever
    sees a single global partition. The gap is kept as the exact
    integer cross-difference |cneg*n1 - cpos*n0| and the argmax
    breaks ties by MAX sq (a scalar compare, never an engine-
    dependent arg_max); only the reported KS divides.

    Scale shape at 100 TB: one shuffle to the score grid, bounded
    prefix, single-row output."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    grp = scored.groupBy("sq").agg(
        F.count_if(F.col("y") == 1).cast("long").alias("pos"),
        F.count_if(F.col("y") == 0).cast("long").alias("neg"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum("neg").cast("long").alias("n0"),
    )
    # two-level prefix over the score grid (see ml_roc_auc)
    grp = grp.withColumn("bkt", F.floor(F.col("sq") / F.lit(1_000_000)))
    btot = grp.groupBy("bkt").agg(
        F.sum("pos").cast("long").alias("bpos"),
        F.sum("neg").cast("long").alias("bneg"),
    )
    wboff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bkt",
        F.coalesce(F.sum("bpos").over(wboff), F.lit(0)).alias("opos"),
        F.coalesce(F.sum("bneg").over(wboff), F.lit(0)).alias("oneg"),
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grp.join(F.broadcast(boff), "bkt").select(
        "sq",
        (F.col("opos") + F.sum("pos").over(win)).cast("long").alias("cpos"),
        (F.col("oneg") + F.sum("neg").over(win)).cast("long").alias("cneg"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "sq",
        F.abs(F.col("cneg") * F.col("n1") - F.col("cpos") * F.col("n0"))
        .cast("long")
        .alias("gapq"),
    )
    mg = gaps.agg(F.max("gapq").alias("mg"))
    thr = (
        gaps.crossJoin(F.broadcast(mg))
        .where(F.col("gapq") == F.col("mg"))
        .agg(
            F.max("sq").cast("long").alias("ks_threshold_q"),
            F.max("mg").cast("long").alias("mgv"),
        )
    )
    return tot.crossJoin(F.broadcast(thr)).select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        q4(
            F.col("mgv").cast("double") / F.col("n0") / F.col("n1")
        ).alias("ks_stat"),
        "ks_threshold_q",
    )


# ----------------- DeLong AUC CI / decision-stump split (r8 wave Y)

_DL_Q = 1_000_000_000


def _score_cdf_grid(e: DataFrame) -> DataFrame:
    """Shared scaffold for the threshold-sweep evaluators
    (ml_ks_separation / ml_auc_delong_ci / ml_gini_impurity_split):
    collapse rows to the distinct 1e-6-quantized score grid with
    per-class counts and INCLUSIVE cumulative counts, via the
    ml_roc_auc two-level prefix (per-bucket offsets over the bounded
    bucket table, within-bucket prefix partitioned by bucket — no
    global single-partition window)."""
    scored = e.select(
        (F.col("label") % 2).alias("y"),
        F.floor(_score_col() * 1e6 + F.lit(0.5)).cast("long").alias("sq"),
    )
    # score-grid-sized (bounded by the 1e-6 quantization domain) and
    # consumed by the bucket totals AND the final prefix join — lazy
    # checkpoint per the SCALE.md r13 rule
    grp = scored.groupBy("sq").agg(
        F.count_if(F.col("y") == 1).cast("long").alias("pos"),
        F.count_if(F.col("y") == 0).cast("long").alias("neg"),
    ).localCheckpoint(eager=False)
    grp = grp.withColumn("bkt", F.floor(F.col("sq") / F.lit(1_000_000)))
    btot = grp.groupBy("bkt").agg(
        F.sum("pos").cast("long").alias("bpos"),
        F.sum("neg").cast("long").alias("bneg"),
    )
    wboff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bkt",
        F.coalesce(F.sum("bpos").over(wboff), F.lit(0)).alias("opos"),
        F.coalesce(F.sum("bneg").over(wboff), F.lit(0)).alias("oneg"),
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # every caller fans the cumulative grid into several consumers
    # (totals + placement + variance folds) — checkpoint at the
    # source, the trade_edges pattern (12 embeddings scans in
    # ml_auc_delong_ci before r13)
    return grp.join(F.broadcast(boff), "bkt").select(
        "sq",
        "pos",
        "neg",
        (F.col("opos") + F.sum("pos").over(win)).cast("long").alias("cpos"),
        (F.col("oneg") + F.sum("neg").over(win)).cast("long").alias("cneg"),
    ).localCheckpoint(eager=False)


# shared oracle CTE text for the same grid (single-level prefix is
# fine for DuckDB — the two-level form is a Spark scale shape)
_GRID_SQL = f"""
    scored AS (
        SELECT label % 2 AS y,
               CAST(floor(({_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings
    ), grid AS (
        SELECT sq, CAST(count_if(y = 1) AS BIGINT) AS pos,
               CAST(count_if(y = 0) AS BIGINT) AS neg
        FROM scored GROUP BY sq
    ), cum AS (
        SELECT sq, pos, neg,
               CAST(sum(pos) OVER (ORDER BY sq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cpos,
               CAST(sum(neg) OVER (ORDER BY sq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cneg
        FROM grid
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(neg) AS BIGINT) AS n0
        FROM grid
    )
"""


@register(
    "ml_auc_delong_ci",
    oracle=f"""
    WITH {_GRID_SQL},
    plc AS (
        SELECT pos, neg,
               2 * (cneg - neg) + neg AS w10,
               2 * (n1 - cpos) + pos AS w01,
               n1, n0
        FROM cum, tot
    ), auc AS (
        SELECT CAST(sum(pos * w10) AS BIGINT) AS auc2num, n1, n0
        FROM plc GROUP BY n1, n0
    ), vars AS (
        SELECT
            CAST(sum(CAST(floor(pos * power(CAST(w10 AS DOUBLE) / (2 * p.n0)
                 - CAST(auc2num AS DOUBLE) / (2.0 * p.n1 * p.n0), 2)
                 * {_DL_Q} + 0.5) AS BIGINT)) AS BIGINT) AS s10q,
            CAST(sum(CAST(floor(neg * power(CAST(w01 AS DOUBLE) / (2 * p.n1)
                 - CAST(auc2num AS DOUBLE) / (2.0 * p.n1 * p.n0), 2)
                 * {_DL_Q} + 0.5) AS BIGINT)) AS BIGINT) AS s01q
        FROM plc p, auc
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           {sql_q4("CAST(auc2num AS DOUBLE) / (2.0 * n1 * n0)")} AS auc,
           {sql_q4(
               f"sqrt(CAST(s10q AS DOUBLE) / {_DL_Q} / (n1 - 1) / n1"
               f" + CAST(s01q AS DOUBLE) / {_DL_Q} / (n0 - 1) / n0)"
           )} AS se,
           {sql_q4(
               f"CAST(auc2num AS DOUBLE) / (2.0 * n1 * n0)"
               f" - 1.96 * sqrt(CAST(s10q AS DOUBLE) / {_DL_Q} / (n1 - 1) / n1"
               f" + CAST(s01q AS DOUBLE) / {_DL_Q} / (n0 - 1) / n0)"
           )} AS ci_lo,
           {sql_q4(
               f"CAST(auc2num AS DOUBLE) / (2.0 * n1 * n0)"
               f" + 1.96 * sqrt(CAST(s10q AS DOUBLE) / {_DL_Q} / (n1 - 1) / n1"
               f" + CAST(s01q AS DOUBLE) / {_DL_Q} / (n0 - 1) / n0)"
           )} AS ci_hi
    FROM auc, vars
    """,
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong confidence interval for the scorer's ROC AUC: the
    placement-value variance estimator (S10 over positives, S01 over
    negatives) that gives a distribution-free 95% CI WITHOUT
    bootstrap resampling — the statistically honest companion to
    ml_roc_auc's point estimate.

    Placement values stay integral: DOUBLED placements 2·n0·V10 =
    2·neg_below + neg_at (and symmetrically for V01) come straight
    from the inclusive score-grid prefix, the AUC numerator
    sum(pos·w10) folds as an exact BIGINT, and the two variance
    folds quantize each grid cell's squared deviation at 1e-9
    (bounded by 1 per unit count, so the fold is order-free and far
    inside 2^63). One broadcast of the single-row AUC frame feeds
    the deviation pass.

    Scale shape at 100 TB: one shuffle to the score grid, the
    two-level bounded prefix (shared _score_cdf_grid scaffold), two
    tiny aggregates."""
    e = table(spark, sf_dir, "embeddings")
    cum = _score_cdf_grid(e)
    tot = cum.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum("neg").cast("long").alias("n0"),
    )
    plc = cum.crossJoin(F.broadcast(tot)).select(
        "pos",
        "neg",
        (2 * (F.col("cneg") - F.col("neg")) + F.col("neg")).alias("w10"),
        (2 * (F.col("n1") - F.col("cpos")) + F.col("pos")).alias("w01"),
        "n1",
        "n0",
    ).localCheckpoint(eager=False)
    auc = plc.groupBy("n1", "n0").agg(
        F.sum(F.col("pos") * F.col("w10")).cast("long").alias("auc2num")
    )
    j = plc.crossJoin(F.broadcast(auc.select("auc2num")))
    a = F.col("auc2num").cast("double") / (
        2.0 * F.col("n1") * F.col("n0")
    )
    d10 = F.col("w10").cast("double") / (2 * F.col("n0")) - a
    d01 = F.col("w01").cast("double") / (2 * F.col("n1")) - a
    vars_ = j.agg(
        F.sum(
            F.floor(F.col("pos") * F.pow(d10, F.lit(2.0)) * _DL_Q + F.lit(0.5))
            .cast("long")
        )
        .cast("long")
        .alias("s10q"),
        F.sum(
            F.floor(F.col("neg") * F.pow(d01, F.lit(2.0)) * _DL_Q + F.lit(0.5))
            .cast("long")
        )
        .cast("long")
        .alias("s01q"),
    )
    out = auc.crossJoin(F.broadcast(vars_))
    auc_v = F.col("auc2num").cast("double") / (
        2.0 * F.col("n1") * F.col("n0")
    )
    se = F.sqrt(
        F.col("s10q").cast("double") / _DL_Q / (F.col("n1") - 1) / F.col("n1")
        + F.col("s01q").cast("double") / _DL_Q / (F.col("n0") - 1) / F.col("n0")
    )
    return out.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        q4(auc_v).alias("auc"),
        q4(se).alias("se"),
        q4(auc_v - 1.96 * se).alias("ci_lo"),
        q4(auc_v + 1.96 * se).alias("ci_hi"),
    )


_GINI_Q = 1_000_000_000_000


@register(
    "ml_gini_impurity_split",
    oracle=f"""
    WITH {_GRID_SQL},
    gains AS (
        SELECT sq,
               CAST(floor((
                   (1.0 - (power(CAST(n1 AS DOUBLE), 2)
                         + power(CAST(n0 AS DOUBLE), 2))
                        / power(CAST(n1 + n0 AS DOUBLE), 2))
                   - (CAST(cpos + cneg AS DOUBLE) / (n1 + n0))
                     * (1.0 - (power(CAST(cpos AS DOUBLE), 2)
                             + power(CAST(cneg AS DOUBLE), 2))
                          / power(CAST(cpos + cneg AS DOUBLE), 2))
                   - (CAST(n1 + n0 - cpos - cneg AS DOUBLE) / (n1 + n0))
                     * (1.0 - (power(CAST(n1 - cpos AS DOUBLE), 2)
                             + power(CAST(n0 - cneg AS DOUBLE), 2))
                          / power(CAST(n1 + n0 - cpos - cneg AS DOUBLE), 2))
               ) * {_GINI_Q} + 0.5) AS BIGINT) AS gainq,
               cpos, cneg, n1, n0
        FROM cum, tot
        WHERE cpos + cneg < n1 + n0
    )
    SELECT (SELECT CAST(max(sq) AS BIGINT) FROM gains
            WHERE gainq = (SELECT max(gainq) FROM gains)) AS threshold_q,
           {sql_q4(f"CAST((SELECT max(gainq) FROM gains) AS DOUBLE)"
                   f" / {_GINI_Q}")} AS gini_gain,
           {sql_q4("1.0 - (power(CAST(n1 AS DOUBLE), 2)"
                   " + power(CAST(n0 AS DOUBLE), 2))"
                   " / power(CAST(n1 + n0 AS DOUBLE), 2)")} AS gini_parent,
           (SELECT CAST(cpos + cneg AS BIGINT) FROM gains
            WHERE gainq = (SELECT max(gainq) FROM gains)
              AND sq = (SELECT max(sq) FROM gains
                        WHERE gainq = (SELECT max(gainq) FROM gains)))
               AS n_left
    FROM tot
    """,
)
def ml_gini_impurity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a decision stump relationally: the best split threshold
    on the scorer by Gini impurity reduction — gain(t) =
    G(parent) - (n_l/n)·G(left) - (n_r/n)·G(right) evaluated at EVERY
    distinct score from one cumulative pass, argmax with a
    deterministic max-sq tie-break. The CART building block
    (ml_gbm_histogram's split search, isolated and exactly
    verifiable).

    Candidate thresholds are the score grid, so the sweep costs one
    bounded prefix (shared _score_cdf_grid scaffold) + one scan of
    the grid; gains are quantized to 1e-12 BIGINTs so the argmax
    compares integers, never engine-ordered doubles. The empty-right
    split is excluded by construction.

    Scale shape at 100 TB: identical to ml_ks_separation — grid
    shuffle, bounded prefix, two single-row reductions."""
    e = table(spark, sf_dir, "embeddings")
    cum = _score_cdf_grid(e)
    tot = cum.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum("neg").cast("long").alias("n0"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    n = (F.col("n1") + F.col("n0")).cast("double")
    nl = (F.col("cpos") + F.col("cneg")).cast("double")
    nr = n - nl
    g_par = F.lit(1.0) - (
        F.pow(F.col("n1").cast("double"), F.lit(2.0))
        + F.pow(F.col("n0").cast("double"), F.lit(2.0))
    ) / F.pow(n, F.lit(2.0))
    g_l = F.lit(1.0) - (
        F.pow(F.col("cpos").cast("double"), F.lit(2.0))
        + F.pow(F.col("cneg").cast("double"), F.lit(2.0))
    ) / F.pow(nl, F.lit(2.0))
    g_r = F.lit(1.0) - (
        F.pow((F.col("n1") - F.col("cpos")).cast("double"), F.lit(2.0))
        + F.pow((F.col("n0") - F.col("cneg")).cast("double"), F.lit(2.0))
    ) / F.pow(nr, F.lit(2.0))
    # the empty-right-side split is excluded by making gainq TOTAL
    # (when-guard inside the expression, not only a filter): Catalyst
    # may push a later gainq predicate below the row filter, and the
    # guard keeps g_r's division from ever seeing nr = 0 there
    gains = j.select(
        "sq",
        (F.col("cpos") + F.col("cneg")).cast("long").alias("nl"),
        F.when(
            F.col("cpos") + F.col("cneg") < F.col("n1") + F.col("n0"),
            F.floor(
                (g_par - nl / n * g_l - nr / n * g_r) * _GINI_Q + F.lit(0.5)
            ).cast("long"),
        ).alias("gainq"),
    ).where(F.col("gainq").isNotNull()).localCheckpoint(eager=False)
    mg = gains.agg(F.max("gainq").alias("mg"))
    best = (
        gains.crossJoin(F.broadcast(mg))
        .where(F.col("gainq") == F.col("mg"))
        .agg(
            F.max("sq").cast("long").alias("threshold_q"),
            F.max("mg").cast("long").alias("mgv"),
            F.max_by("nl", F.col("sq")).cast("long").alias("n_left"),
        )
    )
    return tot.crossJoin(F.broadcast(best)).select(
        "threshold_q",
        q4(F.col("mgv").cast("double") / _GINI_Q).alias("gini_gain"),
        q4(
            F.lit(1.0)
            - (
                F.pow(F.col("n1").cast("double"), F.lit(2.0))
                + F.pow(F.col("n0").cast("double"), F.lit(2.0))
            )
            / F.pow((F.col("n1") + F.col("n0")).cast("double"), F.lit(2.0))
        ).alias("gini_parent"),
        "n_left",
    )


# ------------------------------- simplified silhouette (r8 wave Z)

_SIL_CQ = 1_000_000      # per-component centroid quantization
_SIL_SQ = 1_000_000_000  # per-point silhouette quantization


@register(
    "ml_silhouette_simplified",
    oracle=f"""
    WITH comp AS (
        SELECT label, i,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_SIL_CQ}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sq,
               CAST(count(*) AS BIGINT) AS n
        FROM embeddings, range(1, 65) t(i)
        GROUP BY label, i
    ), cents AS (
        SELECT label AS clabel,
               list(CAST(sq AS DOUBLE) / {_SIL_CQ} / n ORDER BY i) AS cent
        FROM comp GROUP BY label
    ), dists AS (
        SELECT e.vec_id, e.label, c.clabel,
               sqrt(list_aggregate([power(CAST(e.embedding[d] AS DOUBLE)
                    - c.cent[d], 2) for d in range(1, 65)], 'sum')) AS dist
        FROM embeddings e, cents c
    ), ab AS (
        SELECT vec_id, label,
               min(CASE WHEN clabel = label THEN dist END) AS a,
               min(CASE WHEN clabel <> label THEN dist END) AS b
        FROM dists GROUP BY vec_id, label
    ), sil AS (
        SELECT label,
               CAST(floor((b - a) / greatest(a, b) * {_SIL_SQ} + 0.5)
                    AS BIGINT) AS silq
        FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           {sql_q4(f"CAST(sum(silq) AS DOUBLE) / {_SIL_SQ} / count(*)")}
               AS mean_silhouette,
           CAST(count_if(silq < 0) AS BIGINT) AS n_misplaced
    FROM sil GROUP BY label
    """,
)
def ml_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label cluster:
    s = (b - a)/max(a, b) with a = distance to the OWN centroid and
    b = the nearest OTHER centroid — the O(n·k) clustering-quality
    score sklearn calls silhouette on medoids, avoiding the O(n^2)
    pairwise definition entirely; n_misplaced counts points whose
    nearest centroid is foreign (s < 0). Complements
    embed_centroid_inertia (dispersion) with a separation-aware
    readout.

    Centroids are exact: per-component sums fold 1e-6-quantized
    BIGINTs, so both engines divide identical integers; distances
    are one JVM fold per (point, centroid) against the broadcast
    k-row centroid-array table; per-point silhouettes are
    1e-9-quantized before the per-cluster mean so the reduce is
    order-free.

    Scale shape at 100 TB: one component-grid aggregate (64k rows),
    a broadcast nested-loop fan-out of k per point (k = |labels|,
    bounded), one hash aggregate back to k rows."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "x"),
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * _SIL_CQ + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    ).groupBy("label", "i").agg(
        F.sum("xq").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cents_t = comp.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("i").alias("i"),
                        (F.col("sq").cast("double") / _SIL_CQ / F.col("n"))
                        .alias("c"),
                    )
                )
            ),
            lambda s: s.getField("c"),
        ).alias("cent")
    )
    dists = e.crossJoin(F.broadcast(cents_t)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("cent"),
                    lambda x, c: (x.cast("double") - c)
                    * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("dist"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias(
            "b"
        ),
    )
    sil = ab.select(
        "label",
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest("a", "b")
            * _SIL_SQ
            + F.lit(0.5)
        )
        .cast("long")
        .alias("silq"),
    )
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        q4(
            F.sum("silq").cast("double") / _SIL_SQ / F.count(F.lit(1))
        ).alias("mean_silhouette"),
        F.count_if(F.col("silq") < 0).cast("long").alias("n_misplaced"),
    )


# ------------------------------ variance spectrum (r8 wave AA)

_VS_Q = 1_000_000


@register(
    "embed_variance_spectrum",
    oracle=f"""
    WITH comp AS (
        SELECT i,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_VS_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_VS_Q}
                    + 0.5) AS BIGINT)
                    * CAST(floor(CAST(embedding[i] AS DOUBLE) * {_VS_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS s2
        FROM embeddings, range(1, 65) t(i)
        GROUP BY i
    ), vars AS (
        SELECT CAST(i AS BIGINT) AS dim,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                   / (n - 1) / {_VS_Q} / {_VS_Q} AS v
        FROM comp
    ), tot AS (
        SELECT CAST(sum(CAST(floor(v * {_VS_Q} + 0.5) AS BIGINT)) AS BIGINT)
                   AS vtq,
               CAST(sum(CAST(floor(v * v * {_VS_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS v2q
        FROM vars
    ), ranked AS (
        SELECT dim, v,
               CAST(row_number() OVER (ORDER BY v DESC, dim) AS BIGINT)
                   AS rank,
               CAST(sum(CAST(floor(v * {_VS_Q} + 0.5) AS BIGINT))
                    OVER (ORDER BY v DESC, dim
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cvq
        FROM vars
    )
    SELECT dim, rank,
           {sql_q4("v")} AS variance,
           {sql_q4(f"CAST(floor(v * {_VS_Q} + 0.5) AS DOUBLE) / vtq")}
               AS share,
           {sql_q4("CAST(cvq AS DOUBLE) / vtq")} AS cum_share,
           {sql_q4(f"power(CAST(vtq AS DOUBLE) / {_VS_Q}, 2)"
                   f" / (CAST(v2q AS DOUBLE) / {_VS_Q})")} AS effective_dims
    FROM ranked, tot
    """,
)
def embed_variance_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance spectrum of the embedding space, ranked
    descending with cumulative explained-variance share and the
    participation ratio (sum v)^2 / sum v^2 as the effective
    dimensionality — the PCA-free scree plot that tells a retrieval
    pipeline how anisotropic its space is (cf. embed_isotropy) and
    how far matryoshka truncation (embed_matryoshka_topk) can go
    before recall collapses.

    Per-dimension moments fold as exact 1e-6 fixed-point BIGINTs
    (one 64-way compile-time fan-out, one hash aggregate to 64
    rows); the ranking window and cumulative share run on the
    64-row spectrum (bounded by the declared dimensionality), and
    shares divide the same quantized integers on both engines.

    Scale shape at 100 TB: one fan-out pass, one 64-row aggregate —
    the spectrum never depends on corpus size."""
    e = table(spark, sf_dir, "embeddings")
    xq = F.floor(F.col("x").cast("double") * _VS_Q + F.lit(0.5)).cast("long")
    comp = (
        e.select(F.posexplode("embedding").alias("i0", "x"))
        .select((F.col("i0") + 1).alias("dim"), xq.alias("xq"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xq").cast("long").alias("s1"),
            F.sum(F.col("xq") * F.col("xq")).cast("long").alias("s2"),
        )
    )
    v = (
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - 1)
        / _VS_Q
        / _VS_Q
    )
    vars_ = comp.select(F.col("dim").cast("long").alias("dim"), v.alias("v"))
    vq = F.floor(F.col("v") * _VS_Q + F.lit(0.5)).cast("long")
    tot = vars_.agg(
        F.sum(vq).cast("long").alias("vtq"),
        F.sum(
            F.floor(F.col("v") * F.col("v") * _VS_Q + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("v2q"),
    )
    wr = Window.orderBy(F.col("v").desc(), "dim")
    wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = vars_.select(
        "dim",
        "v",
        F.row_number().over(wr).cast("long").alias("rank"),
        F.sum(vq).over(wc).cast("long").alias("cvq"),
    )
    out = ranked.crossJoin(F.broadcast(tot))
    return out.select(
        "dim",
        "rank",
        q4(F.col("v")).alias("variance"),
        q4(vq.cast("double") / F.col("vtq")).alias("share"),
        q4(F.col("cvq").cast("double") / F.col("vtq")).alias("cum_share"),
        q4(
            F.pow(F.col("vtq").cast("double") / _VS_Q, F.lit(2.0))
            / (F.col("v2q").cast("double") / _VS_Q)
        ).alias("effective_dims"),
    )


# ------------------------------- weighted Cohen's kappa (r8 wave AC)

_WK_K = 10  # ordinal scale size (labels 0-9 vs binned score deciles)


@register(
    "ml_weighted_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT label AS r1,
               least({_WK_K - 1}, greatest(0,
                   CAST(floor((({_SCORE_SQL}) + 3.0) / 0.6) AS BIGINT)))
                   AS r2
        FROM embeddings
    ), cells AS (
        SELECT r1, r2, CAST(count(*) AS BIGINT) AS o
        FROM rated GROUP BY r1, r2
    ), m1 AS (
        SELECT r1, CAST(sum(o) AS BIGINT) AS n1 FROM cells GROUP BY r1
    ), m2 AS (
        SELECT r2, CAST(sum(o) AS BIGINT) AS n2 FROM cells GROUP BY r2
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
    ), obs AS (
        SELECT CAST(sum((c.r1 - c.r2) * (c.r1 - c.r2) * c.o) AS BIGINT)
                   AS wo
        FROM cells c
    ), exp AS (
        SELECT CAST(sum((m1.r1 - m2.r2) * (m1.r1 - m2.r2) * m1.n1 * m2.n2)
                   AS BIGINT) AS we
        FROM m1, m2
    )
    SELECT n,
           {sql_q4("1.0 - CAST(wo AS DOUBLE) * n / we")} AS kappa_quadratic,
           {sql_q4("CAST(wo AS DOUBLE) / n")} AS mean_sq_disagreement
    FROM tot, obs, exp
    """,
)
def ml_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between the true ordinal
    label (0-9) and the scorer binned to the same 10-point scale:
    kappa_w = 1 - sum w_ij O_ij / sum w_ij E_ij with w_ij = (i-j)^2 —
    THE agreement metric for ordinal raters (graded relevance, essay
    scoring), where ml_cohen_kappa's unweighted form throws away how
    FAR a disagreement missed.

    Everything is exact integers: the 10x10 observed cells from one
    hash aggregate, the expected weighted disagreement as a
    marginals cross product (sum (i-j)^2 n1_i n2_j — a 10x10
    broadcast join), and the identity kappa_w = 1 - N·WO/WE divides
    once. Also reports the raw mean squared disagreement.

    Scale shape at 100 TB: one pass to 100 cells; everything
    downstream is bounded-row arithmetic."""
    e = table(spark, sf_dir, "embeddings")
    r2 = F.least(
        F.lit(_WK_K - 1),
        F.greatest(
            F.lit(0), F.floor((_score_col() + 3.0) / 0.6).cast("long")
        ),
    )
    rated = e.select(F.col("label").cast("long").alias("r1"), r2.alias("r2"))
    cells = rated.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=False)
    m1 = cells.groupBy("r1").agg(F.sum("o").cast("long").alias("n1"))
    m2 = cells.groupBy("r2").agg(F.sum("o").cast("long").alias("n2"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    obs = cells.agg(
        F.sum(
            (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")) * F.col("o")
        )
        .cast("long")
        .alias("wo")
    )
    expd = (
        F.broadcast(m1)
        .crossJoin(m2)
        .agg(
            F.sum(
                (F.col("r1") - F.col("r2"))
                * (F.col("r1") - F.col("r2"))
                * F.col("n1")
                * F.col("n2")
            )
            .cast("long")
            .alias("we")
        )
    )
    out = tot.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(expd))
    return out.select(
        "n",
        q4(
            F.lit(1.0)
            - F.col("wo").cast("double") * F.col("n") / F.col("we")
        ).alias("kappa_quadratic"),
        q4(F.col("wo").cast("double") / F.col("n")).alias(
            "mean_sq_disagreement"
        ),
    )


# ------------------------- linear CKA between halves (r8 wave AG)

_CKA_Q = 1_000_000
_CKA_D = 32  # each half of the 64-dim embedding


@register(
    "embed_cka_halves",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               [CAST(floor(CAST(embedding[i] AS DOUBLE) * {_CKA_Q} + 0.5)
                     AS BIGINT) for i in range(1, 65)] AS eq
        FROM embeddings
    ), means AS (
        SELECT i, CAST(sum(eq[i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT)
                   AS n
        FROM q, range(1, 65) t(i) GROUP BY i
    ), cross_sums AS (
        SELECT i, j,
               CAST(sum(eq[i] * eq[j + {_CKA_D}]) AS BIGINT) AS sxy,
               CAST(sum(eq[i] * eq[j]) AS BIGINT) AS sxx,
               CAST(sum(eq[i + {_CKA_D}] * eq[j + {_CKA_D}]) AS BIGINT)
                   AS syy
        FROM q, range(1, {_CKA_D + 1}) a(i), range(1, {_CKA_D + 1}) b(j)
        GROUP BY i, j
    ), cov AS (
        SELECT c.i, c.j,
               (CAST(c.sxy AS DOUBLE) - CAST(mi.s AS DOUBLE) * mj2.s / mi.n)
                   / mi.n / ({_CKA_Q}.0 * {_CKA_Q}) AS cxy,
               (CAST(c.sxx AS DOUBLE) - CAST(mi.s AS DOUBLE) * mj1.s / mi.n)
                   / mi.n / ({_CKA_Q}.0 * {_CKA_Q}) AS cxx,
               (CAST(c.syy AS DOUBLE) - CAST(mi2.s AS DOUBLE) * mj2.s / mi.n)
                   / mi.n / ({_CKA_Q}.0 * {_CKA_Q}) AS cyy
        FROM cross_sums c
        JOIN means mi ON mi.i = c.i
        JOIN means mi2 ON mi2.i = c.i + {_CKA_D}
        JOIN means mj1 ON mj1.i = c.j
        JOIN means mj2 ON mj2.i = c.j + {_CKA_D}
    ), norms AS (
        SELECT CAST(sum(CAST(floor(cxy * cxy * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS hxy,
               CAST(sum(CAST(floor(cxx * cxx * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS hxx,
               CAST(sum(CAST(floor(cyy * cyy * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS hyy
        FROM cov
    )
    SELECT CAST({_CKA_D} AS BIGINT) AS dims_per_half,
           {sql_q4("CAST(hxy AS DOUBLE)"
                   " / sqrt(CAST(hxx AS DOUBLE) * hyy)")} AS cka_linear
    FROM norms
    """,
)
def embed_cka_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Centered Kernel Alignment between the two 32-dim halves
    of the embedding: CKA = ||cov(X,Y)||_F^2 / (||cov(X,X)||_F ·
    ||cov(Y,Y)||_F) — the representation-similarity score deep-
    learning analysis uses to compare layers/models (Kornblith et
    al.'s linear case, computed in FEATURE space so nothing is ever
    n x n). High CKA between halves means the dimensions are
    redundant; low means the halves carry distinct subspaces
    (actionable for matryoshka truncation alongside
    embed_variance_spectrum).

    All second moments fold as exact 1e-6 fixed-point BIGINTs over a
    compile-time 32x32 fan-out (three covariance matrices from ONE
    pass); centering happens analytically from the per-dimension
    mean sums (covariances back in REAL units before squaring), and
    the three Frobenius folds quantize per-cell at 1e-12. Only the
    final ratio divides.

    Scale shape at 100 TB: one fan-out pass, one 1024-row aggregate,
    two broadcast 1-row frames — independent of corpus size."""
    e = table(spark, sf_dir, "embeddings")
    q = reuse(e.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _CKA_Q + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("eq")
    ))
    means = (
        q.select(F.posexplode("eq").alias("i0", "x"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(
            F.sum("x").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    d = _CKA_D
    ij = q.select(
        "eq",
        F.explode(F.sequence(F.lit(1), F.lit(d))).alias("i"),
    ).select(
        "eq",
        "i",
        F.explode(F.sequence(F.lit(1), F.lit(d))).alias("j"),
    )
    cross = ij.groupBy("i", "j").agg(
        F.sum(
            F.element_at("eq", F.col("i").cast("int"))
            * F.element_at("eq", (F.col("j") + d).cast("int"))
        )
        .cast("long")
        .alias("sxy"),
        F.sum(
            F.element_at("eq", F.col("i").cast("int"))
            * F.element_at("eq", F.col("j").cast("int"))
        )
        .cast("long")
        .alias("sxx"),
        F.sum(
            F.element_at("eq", (F.col("i") + d).cast("int"))
            * F.element_at("eq", (F.col("j") + d).cast("int"))
        )
        .cast("long")
        .alias("syy"),
    )
    mi = means.select(
        F.col("i").alias("mi_i"), F.col("s").alias("mi_s"), F.col("n")
    )
    mi2 = means.select(
        (F.col("i") - d).alias("mi2_i"), F.col("s").alias("mi2_s")
    )
    mj1 = means.select(F.col("i").alias("mj1_j"), F.col("s").alias("mj1_s"))
    mj2 = means.select(
        (F.col("i") - d).alias("mj2_j"), F.col("s").alias("mj2_s")
    )
    cov = (
        cross.join(F.broadcast(mi), cross.i == F.col("mi_i"))
        .join(F.broadcast(mi2), cross.i == F.col("mi2_i"))
        .join(F.broadcast(mj1), cross.j == F.col("mj1_j"))
        .join(F.broadcast(mj2), cross.j == F.col("mj2_j"))
    )
    n = F.col("n")
    qq = float(_CKA_Q) * _CKA_Q
    cxy = (F.col("sxy").cast("double") - F.col("mi_s").cast("double") * F.col("mj2_s") / n) / n / qq
    cxx = (F.col("sxx").cast("double") - F.col("mi_s").cast("double") * F.col("mj1_s") / n) / n / qq
    cyy = (F.col("syy").cast("double") - F.col("mi2_s").cast("double") * F.col("mj2_s") / n) / n / qq
    norms = cov.agg(
        F.sum(F.floor(cxy * cxy * 1e12 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("hxy"),
        F.sum(F.floor(cxx * cxx * 1e12 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("hxx"),
        F.sum(F.floor(cyy * cyy * 1e12 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("hyy"),
    )
    return norms.select(
        F.lit(d).cast("long").alias("dims_per_half"),
        q4(
            F.col("hxy").cast("double")
            / F.sqrt(F.col("hxx").cast("double") * F.col("hyy"))
        ).alias("cka_linear"),
    )


# --------------------- Johnson-Lindenstrauss projection (r8 wave AL)

_JL_D = 16        # target dimensionality
_JL_XQ = 1_000_000
_JL_RQ = 1_000_000_000
# deterministic +-1 sign matrix: s_ij = 1 - 2*((73 i + 149 j + i j) % 2)
_JL_SIGN_SQL = "(1 - 2 * ((73 * i + 149 * j + i * j) % 2))"


@register(
    "embed_random_projection",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               [CAST(floor(CAST(embedding[i] AS DOUBLE) * {_JL_XQ} + 0.5)
                     AS BIGINT) for i in range(1, 65)] AS eq
        FROM embeddings WHERE vec_id < {HAM_NQ}
    ), proj AS (
        SELECT vec_id, eq,
               [list_aggregate([eq[i] * {_JL_SIGN_SQL}
                    for i in range(1, 65)], 'sum')
                for j in range(1, {_JL_D + 1})] AS y
        FROM q
    ), pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_aggregate([(a.eq[i] - b.eq[i]) * (a.eq[i] - b.eq[i])
                    for i in range(1, 65)], 'sum') AS d64,
               list_aggregate([(a.y[j] - b.y[j]) * (a.y[j] - b.y[j])
                    for j in range(1, {_JL_D + 1})], 'sum') AS dproj
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    ), ratios AS (
        SELECT CAST(floor(CAST(dproj AS DOUBLE) / {_JL_D} / d64 * {_JL_RQ}
                   + 0.5) AS BIGINT) AS rq
        FROM pairs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {sql_q4(f"CAST(sum(rq) AS DOUBLE) / {_JL_RQ} / count(*)")}
               AS mean_ratio,
           {sql_q4(f"CAST(min(rq) AS DOUBLE) / {_JL_RQ}")} AS min_ratio,
           {sql_q4(f"CAST(max(rq) AS DOUBLE) / {_JL_RQ}")} AS max_ratio,
           {sql_q4(f"CAST(count_if(rq BETWEEN {int(0.8 * _JL_RQ)}"
                   f" AND {int(12 * _JL_RQ) // 10}) AS DOUBLE) / count(*)")}
               AS frac_within_20pct
    FROM ratios
    """,
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss audit: project the 50-query block from
    64 to {_JL_D} dimensions with a deterministic +-1 sign matrix
    (the Achlioptas database-friendly construction) and measure the
    pairwise squared-distance distortion ratio d_proj^2/(k·d^2) over
    all C(50,2) pairs — mean/min/max and the fraction inside +-20%,
    the empirical check behind using random projections as the cheap
    first stage of ANN at 100 TB (project once, filter, re-rank
    exact).

    Components quantize at 1e-6 so projections are exact BIGINT sign
    combinations; both squared distances fold as exact integers, and
    per-pair ratios quantize at 1e-9 before the order-free summary
    folds.

    Scale shape: the projection is a per-row JVM fold (64x{_JL_D}
    compile-time signs, no matrix shuffle); the pair audit is the
    bounded 50-block self-join."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < HAM_NQ).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _JL_XQ + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("eq"),
    )
    proj_expr = F.expr(
        f"transform(sequence(1, {_JL_D}), j -> aggregate(sequence(1, 64),"
        f" 0L, (acc, i) -> acc + element_at(eq, i)"
        f" * CAST(1 - 2 * ((73 * i + 149 * j + i * j) % 2) AS BIGINT)))"
    )
    proj = q.select("vec_id", "eq", proj_expr.alias("y"))
    a = proj.select(
        F.col("vec_id").alias("ia"),
        F.col("eq").alias("ea"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("ib"),
        F.col("eq").alias("eb"),
        F.col("y").alias("yb"),
    )
    d64 = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dproj = F.aggregate(
        F.zip_with(F.col("ya"), F.col("yb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("ia") < F.col("ib"))
        .select(d64.alias("d64"), dproj.alias("dproj"))
    )
    ratios = pairs.select(
        F.floor(
            F.col("dproj").cast("double") / _JL_D / F.col("d64") * _JL_RQ
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rq")
    )
    lo, hi = int(0.8 * _JL_RQ), int(12 * _JL_RQ) // 10
    return ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        q4(F.sum("rq").cast("double") / _JL_RQ / F.count(F.lit(1))).alias(
            "mean_ratio"
        ),
        q4(F.min("rq").cast("double") / _JL_RQ).alias("min_ratio"),
        q4(F.max("rq").cast("double") / _JL_RQ).alias("max_ratio"),
        q4(
            F.count_if(F.col("rq").between(lo, hi)).cast("double")
            / F.count(F.lit(1))
        ).alias("frac_within_20pct"),
    )


# ------------------------------- multiclass F1 report (r8 wave AO)


@register(
    "ml_multiclass_f1",
    oracle=f"""
    WITH rated AS (
        SELECT label AS y,
               least(9, greatest(0,
                   CAST(floor((({_SCORE_SQL}) + 3.0) / 0.6) AS BIGINT)))
                   AS pred
        FROM embeddings
    ), per AS (
        SELECT c AS class,
               CAST((SELECT count(*) FROM rated WHERE y = c AND pred = c)
                   AS BIGINT) AS tp,
               CAST((SELECT count(*) FROM rated WHERE y <> c AND pred = c)
                   AS BIGINT) AS fp,
               CAST((SELECT count(*) FROM rated WHERE y = c AND pred <> c)
                   AS BIGINT) AS fn
        FROM range(0, 10) t(c)
    ), macro AS (
        SELECT CAST(sum(tp) AS BIGINT) AS stp, CAST(sum(fp) AS BIGINT)
                   AS sfp, CAST(sum(fn) AS BIGINT) AS sfn,
               CAST(sum(CAST(floor(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                    ELSE 2.0 * tp / (2 * tp + fp + fn) END * 1000000000
                    + 0.5) AS BIGINT)) AS BIGINT) AS f1q,
               CAST(count(*) AS BIGINT) AS k
        FROM per
    )
    SELECT CAST(class AS BIGINT) AS class, tp + fn AS support,
           {sql_q4("CASE WHEN tp + fp = 0 THEN 0.0"
                   " ELSE CAST(tp AS DOUBLE) / (tp + fp) END")} AS precision_,
           {sql_q4("CASE WHEN tp + fn = 0 THEN 0.0"
                   " ELSE CAST(tp AS DOUBLE) / (tp + fn) END")} AS recall_,
           {sql_q4("CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0"
                   " ELSE 2.0 * tp / (2 * tp + fp + fn) END")} AS f1,
           {sql_q4("CAST(f1q AS DOUBLE) / 1000000000 / k")} AS macro_f1,
           {sql_q4("2.0 * stp / (2 * stp + sfp + sfn)")} AS micro_f1
    FROM per, macro
    """,
)
def ml_multiclass_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 with macro- and micro-averages
    for the 10-class problem (true label vs the scorer binned to the
    same scale) — the MULTICLASS classification report every existing
    binary eval (ml_confusion_metrics, ml_matthews_corr) can't give:
    macro-F1 weights classes equally (exposes minority-class
    failure), micro-F1 weights rows (and equals accuracy here since
    every row gets exactly one prediction).

    The Spark side computes all 10 one-vs-rest cells from ONE
    conditional aggregate over the (class fan-out x rows) frame; the
    oracle spells them as correlated scalar subqueries per class.
    Macro averages quantize per-class F1 at 1e-9 before the fold so
    the mean is order-free.

    Scale shape at 100 TB: a 10x compile-time fan-out, one hash
    aggregate to 10 rows, two broadcast 1-row frames."""
    e = table(spark, sf_dir, "embeddings")
    pred = F.least(
        F.lit(9),
        F.greatest(F.lit(0), F.floor((_score_col() + 3.0) / 0.6).cast("long")),
    )
    rated = e.select(F.col("label").cast("long").alias("y"), pred.alias("pred"))
    fan = rated.select(
        "y", "pred", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("c")
    )
    per = fan.groupBy(F.col("c").cast("long").alias("class")).agg(
        F.count_if((F.col("y") == F.col("c")) & (F.col("pred") == F.col("c")))
        .cast("long")
        .alias("tp"),
        F.count_if((F.col("y") != F.col("c")) & (F.col("pred") == F.col("c")))
        .cast("long")
        .alias("fp"),
        F.count_if((F.col("y") == F.col("c")) & (F.col("pred") != F.col("c")))
        .cast("long")
        .alias("fn"),
    )
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, 0.0).otherwise(
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    macro = per.agg(
        F.sum("tp").cast("long").alias("stp"),
        F.sum("fp").cast("long").alias("sfp"),
        F.sum("fn").cast("long").alias("sfn"),
        F.sum(F.floor(f1 * 1_000_000_000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("f1q"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    out = per.crossJoin(F.broadcast(macro))
    return out.select(
        "class",
        (F.col("tp") + F.col("fn")).cast("long").alias("support"),
        q4(
            F.when(F.col("tp") + F.col("fp") == 0, 0.0).otherwise(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
            )
        ).alias("precision_"),
        q4(
            F.when(F.col("tp") + F.col("fn") == 0, 0.0).otherwise(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
            )
        ).alias("recall_"),
        q4(f1).alias("f1"),
        q4(F.col("f1q").cast("double") / 1_000_000_000 / F.col("k")).alias(
            "macro_f1"
        ),
        q4(
            2.0 * F.col("stp") / (2 * F.col("stp") + F.col("sfp") + F.col("sfn"))
        ).alias("micro_f1"),
    )


# -------------------------------- round-9 wave D: intrinsic dimension

_ID_K = 10  # neighbors per anchor for the Levina-Bickel MLE
_ID_ANCHOR_MOD = 25  # anchors = vec_id % 25 == 0 (query-side bounded)
_ID_Q = 1_000_000


@register(
    "embed_intrinsic_dim",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id % {_ID_ANCHOR_MOD} = 0
    ), pairs AS (
        SELECT a.qid, b.vec_id AS cid,
               list_aggregate([pow(CAST(a.qe[i] AS DOUBLE)
                    - CAST(b.embedding[i] AS DOUBLE), 2)
                    for i in range(1, 65)], 'sum') AS d2
        FROM anchors a JOIN embeddings b ON b.vec_id <> a.qid
    ), ranked AS (
        SELECT qid, d2,
               row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
        FROM pairs WHERE d2 > 0
    ), per_anchor AS (
        SELECT qid,
               2.0 * ({_ID_K} - 1)
               / (({_ID_K} - 1) * ln(max(CASE WHEN rn = {_ID_K} THEN d2 END))
                  - sum(CASE WHEN rn < {_ID_K} THEN ln(d2) ELSE 0 END))
                   AS id_mle
        FROM ranked WHERE rn <= {_ID_K} GROUP BY qid
    ), q AS (
        SELECT CAST(floor(id_mle * {_ID_Q} + 0.5) AS BIGINT) AS idq
        FROM per_anchor
    )
    SELECT CAST(count(*) AS BIGINT) AS n_anchors,
           CAST({_ID_K} AS BIGINT) AS k,
           {sql_q4(f"CAST(sum(idq) AS DOUBLE) / {_ID_Q} / count(*)")}
               AS mean_intrinsic_dim,
           {sql_q4(f"CAST(min(idq) AS DOUBLE) / {_ID_Q}")} AS min_id,
           {sql_q4(f"CAST(max(idq) AS DOUBLE) / {_ID_Q}")} AS max_id
    FROM q
    """,
)
def embed_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levina-Bickel maximum-likelihood intrinsic dimensionality of
    the embedding manifold (NeurIPS 2004, public): per anchor x with
    k-NN distances T_1 <= ... <= T_k, m(x) = [(1/(k-1))·Σ ln(T_k/
    T_j)]⁻¹, averaged over a deterministic anchor set (vec_id %
    25 == 0). Embeddings advertising 64 dims routinely live on a
    ~10-20-dim manifold — this number decides how aggressively
    embed_random_projection / matryoshka truncation / PQ codebooks
    can compress before recall collapses.

    The distance work runs on SQUARED distances (rank-equivalent, no
    sqrt in the hot loop; the MLE absorbs the 1/2 via ln d² = 2 ln d),
    zero-distance duplicates are excluded per the estimator's
    support, ranking ties break on candidate id so both engines pick
    identical neighbor sets, and per-anchor estimates quantize at
    1e-6 before the order-free mean fold.

    Scale shape at 100 TB: anchors are a FIXED-rate sample (corpus/25
    rows — in production a bounded query set), so the candidate join
    is anchors × corpus with the per-anchor top-k reduced by a
    partitioned window — the same query-side-bounded brute-force
    shape as sim_topk_exact; an IVF-blocked variant drops in via
    sim_ann_ivf's centroid machinery when anchors stop being
    bounded."""
    e = table(spark, sf_dir, "embeddings")
    anchors = e.where(F.col("vec_id") % _ID_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cand = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("qe"),
            F.col("ce"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        anchors.join(cand, F.col("cid") != F.col("qid"))
        .select("qid", "cid", d2.alias("d2"))
        .where(F.col("d2") > 0)
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    ranked = pairs.select(
        "qid", "d2", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= _ID_K)
    per_anchor = ranked.groupBy("qid").agg(
        (
            2.0
            * (_ID_K - 1)
            / (
                (_ID_K - 1)
                * F.log(F.max(F.when(F.col("rn") == _ID_K, F.col("d2"))))
                - F.sum(
                    F.when(F.col("rn") < _ID_K, F.log("d2")).otherwise(0.0)
                )
            )
        ).alias("id_mle")
    )
    qv = per_anchor.select(
        F.floor(F.col("id_mle") * _ID_Q + 0.5).cast("long").alias("idq")
    )
    return qv.agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.lit(_ID_K).cast("long").alias("k"),
        q4(F.sum("idq").cast("double") / _ID_Q / F.count(F.lit(1))).alias(
            "mean_intrinsic_dim"
        ),
        q4(F.min("idq").cast("double") / _ID_Q).alias("min_id"),
        q4(F.max("idq").cast("double") / _ID_Q).alias("max_id"),
    )


# ---------------------------- round-9 wave F: Brier decomposition

_MURPHY_Q = 1_000_000_000_000


@register(
    "ml_brier_decomposition",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 AS y,
               least(9, greatest(0,
                   CAST(floor((({_SCORE_SQL}) + 3.0) / 0.6) AS BIGINT)))
                   AS bin
        FROM embeddings
    ), bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_k,
               CAST(count_if(y = 1) AS BIGINT) AS pos_k
        FROM scored GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(n_k) AS BIGINT) AS n,
               CAST(sum(pos_k) AS BIGINT) AS pos
        FROM bins
    ), folds AS (
        SELECT CAST(sum(CAST(floor(n_k * pow((bin + 0.5) / 10.0
                   - CAST(pos_k AS DOUBLE) / n_k, 2) * {_MURPHY_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS relq,
               CAST(sum(CAST(floor(n_k * pow(CAST(pos_k AS DOUBLE) / n_k
                   - CAST(pos AS DOUBLE) / n, 2) * {_MURPHY_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS resq
        FROM bins CROSS JOIN tot
    )
    SELECT n,
           {sql_q4(f"CAST(relq AS DOUBLE) / {_MURPHY_Q} / n")} AS reliability,
           {sql_q4(f"CAST(resq AS DOUBLE) / {_MURPHY_Q} / n")} AS resolution,
           {sql_q4("CAST(pos AS DOUBLE) / n * (1.0 - CAST(pos AS DOUBLE) / n)")}
               AS uncertainty,
           {sql_q4(f"CAST(relq AS DOUBLE) / {_MURPHY_Q} / n"
                   f" - CAST(resq AS DOUBLE) / {_MURPHY_Q} / n"
                   f" + CAST(pos AS DOUBLE) / n"
                   f" * (1.0 - CAST(pos AS DOUBLE) / n)")} AS brier_score
    FROM folds CROSS JOIN tot
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the BINNED
    forecaster (bin midpoints as forecast probabilities, the same 10
    fixed bins as ml_calibration_bins): BS = REL - RES + UNC, where
    reliability charges miscalibration (forecast vs observed rate per
    bin), resolution credits how far the bins pull apart from the
    base rate, and uncertainty is the irreducible ō(1-ō). The
    decomposition is an EXACT identity when forecasts are constant
    within bins — which the midpoint construction guarantees — so the
    reported brier_score is the sum by construction, and the three
    terms answer 'is my model bad because it's miscalibrated or
    because it can't discriminate?' (ml_brier_score alone can't).

    Per-bin terms quantize at 1e-12 before the 10-row fold; all
    ingredients are exact counts.

    Scale shape at 100 TB: one scan, one 10-row hash aggregate, one
    broadcast totals frame."""
    e = table(spark, sf_dir, "embeddings")
    binned = e.select(
        (F.col("label") % 2).alias("y"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor((_score_col() + 3.0) / 0.6).cast("long")
            ),
        ).alias("bin"),
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_k"),
        F.count_if(F.col("y") == 1).cast("long").alias("pos_k"),
    )
    tot = bins.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("pos_k").cast("long").alias("pos"),
    )
    o_k = F.col("pos_k").cast("double") / F.col("n_k")
    p_k = (F.col("bin") + 0.5) / 10.0
    obar = F.col("pos").cast("double") / F.col("n")
    folds = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(F.col("n_k") * F.pow(p_k - o_k, 2) * _MURPHY_Q + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("relq"),
        F.sum(
            F.floor(F.col("n_k") * F.pow(o_k - obar, 2) * _MURPHY_Q + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("resq"),
    )
    rel = F.col("relq").cast("double") / _MURPHY_Q / F.col("n")
    res = F.col("resq").cast("double") / _MURPHY_Q / F.col("n")
    unc = obar * (1.0 - obar)
    return folds.crossJoin(F.broadcast(tot)).select(
        "n",
        q4(rel).alias("reliability"),
        q4(res).alias("resolution"),
        q4(unc).alias("uncertainty"),
        q4(rel - res + unc).alias("brier_score"),
    )


# --------------------------- round-9 wave I: Procrustes half-alignment

_PR_Q = 1_000_000


def _pr_sign(i: int, j: int) -> float:
    return 1.0 if (i * 31 + j * 17) % 2 == 0 else -1.0


def _pr_proj_sql(col: str, lo: int, axis: int) -> str:
    terms = " + ".join(
        f"CAST({col}[{lo + i}] AS DOUBLE) * ({_pr_sign(lo + i, axis)})"
        for i in range(32)
    )
    return f"(({terms}) / sqrt(32.0))"


def _pr_proj(col, lo: int, axis: int):
    acc = F.lit(0.0)
    for i in range(32):
        acc = acc + F.element_at(col, lo + i).cast("double") * F.lit(
            _pr_sign(lo + i, axis)
        )
    return acc / F.lit(float(32) ** 0.5)


@register(
    "embed_procrustes_2d",
    oracle=f"""
    WITH proj AS (
        SELECT CAST(floor({_pr_proj_sql("embedding", 1, 1)} * {_PR_Q} + 0.5)
                   AS BIGINT) AS a1,
               CAST(floor({_pr_proj_sql("embedding", 1, 2)} * {_PR_Q} + 0.5)
                   AS BIGINT) AS a2,
               CAST(floor({_pr_proj_sql("embedding", 33, 1)} * {_PR_Q} + 0.5)
                   AS BIGINT) AS b1,
               CAST(floor({_pr_proj_sql("embedding", 33, 2)} * {_PR_Q} + 0.5)
                   AS BIGINT) AS b2
        FROM embeddings
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a1) AS BIGINT) AS sa1, CAST(sum(a2) AS BIGINT) AS sa2,
               CAST(sum(b1) AS BIGINT) AS sb1, CAST(sum(b2) AS BIGINT) AS sb2,
               CAST(sum(CAST(a1 AS HUGEINT)*b1) AS HUGEINT) AS s11,
               CAST(sum(CAST(a1 AS HUGEINT)*b2) AS HUGEINT) AS s12,
               CAST(sum(CAST(a2 AS HUGEINT)*b1) AS HUGEINT) AS s21,
               CAST(sum(CAST(a2 AS HUGEINT)*b2) AS HUGEINT) AS s22,
               CAST(sum(CAST(a1 AS HUGEINT)*a1 + CAST(a2 AS HUGEINT)*a2)
                   AS HUGEINT) AS ssa,
               CAST(sum(CAST(b1 AS HUGEINT)*b1 + CAST(b2 AS HUGEINT)*b2)
                   AS HUGEINT) AS ssb
        FROM proj
    ), m AS (
        SELECT n,
               (CAST(s11 AS DOUBLE) - CAST(sa1 AS DOUBLE)*sb1/n) AS m11,
               (CAST(s12 AS DOUBLE) - CAST(sa1 AS DOUBLE)*sb2/n) AS m12,
               (CAST(s21 AS DOUBLE) - CAST(sa2 AS DOUBLE)*sb1/n) AS m21,
               (CAST(s22 AS DOUBLE) - CAST(sa2 AS DOUBLE)*sb2/n) AS m22,
               (CAST(ssa AS DOUBLE)
                 - (CAST(sa1 AS DOUBLE)*sa1 + CAST(sa2 AS DOUBLE)*sa2)/n)
                   AS ssa_c,
               (CAST(ssb AS DOUBLE)
                 - (CAST(sb1 AS DOUBLE)*sb1 + CAST(sb2 AS DOUBLE)*sb2)/n)
                   AS ssb_c
        FROM s
    )
    SELECT n,
           {sql_q4("atan2(m12 - m21, m11 + m22)")} AS rotation_rad,
           {sql_q4(f"sqrt(pow(m11 + m22, 2) + pow(m12 - m21, 2))"
                   f" / sqrt(ssa_c * ssb_c)")} AS congruence,
           {sql_q4(f"(ssa_c + ssb_c"
                   f" - 2.0*sqrt(pow(m11 + m22, 2) + pow(m12 - m21, 2)))"
                   f" / ({_PR_Q}.0 * {_PR_Q})")} AS procrustes_d2
    FROM m
    """,
)
def embed_procrustes_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment between the 2-D random-
    projection shadows of the embedding's two HALVES (dims 1-32 vs
    33-64, each projected by a deterministic ±1/√32 map): the optimal
    rotation angle atan2(M12-M21, M11+M22), the congruence
    coefficient max_R tr(RᵀM)/√(SSa·SSb) ∈ [0,1], and the residual
    Procrustes distance — 'do the two halves carry the same mutual
    geometry up to rotation?', the ROTATIONAL companion of
    embed_cka_halves (CKA is invariant to any isotropy-preserving
    map; Procrustes pins down the actual aligning rotation, which is
    what a dimension-truncation or matryoshka decision needs). In 2-D
    the SVD underlying Procrustes collapses to one closed-form atan2
    — no iteration, no linear-algebra library.

    Exactness: projections quantize at 1e-6 per vector, all cross/
    self products fold as decimal(38,0)/HUGEINT, centering uses the
    Σxy - ΣxΣy/n identity, and the three outputs are fixed double
    expressions.

    Scale shape at 100 TB: ONE scan with per-row JVM arithmetic, ONE
    hash-aggregate fold, single-row output."""
    e = table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    proj = e.select(
        F.floor(_pr_proj(F.col("embedding"), 1, 1) * _PR_Q + 0.5)
        .cast("long")
        .alias("a1"),
        F.floor(_pr_proj(F.col("embedding"), 1, 2) * _PR_Q + 0.5)
        .cast("long")
        .alias("a2"),
        F.floor(_pr_proj(F.col("embedding"), 33, 1) * _PR_Q + 0.5)
        .cast("long")
        .alias("b1"),
        F.floor(_pr_proj(F.col("embedding"), 33, 2) * _PR_Q + 0.5)
        .cast("long")
        .alias("b2"),
    )

    def d(c):
        return F.col(c).cast(dec)

    s = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a1").cast("long").alias("sa1"),
        F.sum("a2").cast("long").alias("sa2"),
        F.sum("b1").cast("long").alias("sb1"),
        F.sum("b2").cast("long").alias("sb2"),
        F.sum(d("a1") * F.col("b1")).alias("s11"),
        F.sum(d("a1") * F.col("b2")).alias("s12"),
        F.sum(d("a2") * F.col("b1")).alias("s21"),
        F.sum(d("a2") * F.col("b2")).alias("s22"),
        F.sum(d("a1") * F.col("a1") + d("a2") * F.col("a2")).alias("ssa"),
        F.sum(d("b1") * F.col("b1") + d("b2") * F.col("b2")).alias("ssb"),
    )
    n = F.col("n").cast("double")
    m11 = F.col("s11").cast("double") - F.col("sa1").cast("double") * F.col("sb1") / n
    m12 = F.col("s12").cast("double") - F.col("sa1").cast("double") * F.col("sb2") / n
    m21 = F.col("s21").cast("double") - F.col("sa2").cast("double") * F.col("sb1") / n
    m22 = F.col("s22").cast("double") - F.col("sa2").cast("double") * F.col("sb2") / n
    ssa_c = F.col("ssa").cast("double") - (
        F.col("sa1").cast("double") * F.col("sa1")
        + F.col("sa2").cast("double") * F.col("sa2")
    ) / n
    ssb_c = F.col("ssb").cast("double") - (
        F.col("sb1").cast("double") * F.col("sb1")
        + F.col("sb2").cast("double") * F.col("sb2")
    ) / n
    tr = F.sqrt(F.pow(m11 + m22, 2) + F.pow(m12 - m21, 2))
    return s.select(
        "n",
        q4(F.atan2(m12 - m21, m11 + m22)).alias("rotation_rad"),
        q4(tr / F.sqrt(ssa_c * ssb_c)).alias("congruence"),
        q4((ssa_c + ssb_c - 2.0 * tr) / (float(_PR_Q) * _PR_Q)).alias(
            "procrustes_d2"
        ),
    )
