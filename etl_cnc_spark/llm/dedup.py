"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.10; mandated beyond the reference surface).

Five flavors, each the scalable shape for its tier:
- exact:        content hash → groupBy (one shuffle on the hash)
- simhash:      per-doc bit-vote fingerprint (pure relational —
                shuffle on (doc, bit), then (doc); no pairwise work)
- n-gram LSH-free Jaccard: inverted shingle index join (candidates
                only where at least one shingle collides — never the
                full cross product)
- MinHash+LSH:  ml.feature MinHashLSH banded similarity join
- embedding:    cosine near-dup pairs (bounded brute force here; the
                LSH variant in llm/similarity.py is the scale path)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import REGISTRY, register, reuse
from ..utils import checkpoint_round, q4, spread_scan, sql_q4

HEX_HIGH = ["8", "9", "a", "b", "c", "d", "e", "f"]


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS h, count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: per-hash copy counts plus the
    deterministic keeper (min doc_id). The fixtures contain no exact
    duplicates, so every n_copies is 1 — the per-hash output keeps
    the oracle hash meaningful anyway (SURVEY §2.10)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), bits AS (
        SELECT doc_id, g.j,
               CASE WHEN substring(md5(w), g.j, 1)
                    IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS v
        FROM words CROSS JOIN generate_series(1, 32) AS g(j)
    ), votes AS (
        SELECT doc_id, j, sum(v) AS tot FROM bits GROUP BY doc_id, j
    )
    SELECT doc_id,
           string_agg(CASE WHEN tot > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
             AS simhash32
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) document fingerprint, fully relational.

    Each word votes ±1 on 32 bit positions derived from its md5 hex
    digits (md5 is the cross-engine-deterministic hash; bit j is the
    high bit of hex digit j). Near-duplicate docs land on fingerprints
    within small Hamming distance. Scale shape: explode (doc×32) →
    two hash aggregations — linear in corpus size, no pairwise stage."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(32))).alias("j"),
        "w",
    ).select(
        "doc_id",
        "j",
        F.when(F.expr("substring(md5(w), j, 1)").isin(HEX_HIGH), 1).otherwise(-1).alias("v"),
    )
    votes = bits.groupBy("doc_id", "j").agg(F.sum("v").alias("tot"))
    bitchar = F.when(F.col("tot") > 0, "1").otherwise("0")
    return (
        votes.select("doc_id", F.struct("j", bitchar.alias("b")).alias("jb"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("jb")), lambda s: s["b"]), ""
            ).alias("simhash32")
        )
    )


_SHINGLE_SQL = """
        SELECT DISTINCT doc_id, unnest(
            [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        WHERE a.doc_id < 40 AND b.doc_id < 40
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {sql_q4("CAST(i AS DOUBLE) / (sa.n + sb.n - i)")} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.02
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-gram shingle Jaccard similarity via an inverted shingle
    index: candidate pairs come from the shingle equi-join (only
    docs sharing ≥1 shingle ever meet — the LSH-free scalable shape;
    bounded here to doc_id<40 on the pair side)."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 2 guard: sequence(1, 0) descends and element_at(w, 0)
    # throws; single-token docs have no shingles (oracle range empty).
    sh = w.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("sh"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where((F.col("a.doc_id") < 40) & (F.col("b.doc_id") < 40))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= 0.02)
        .select("doc_a", "doc_b", q4(jac).alias("jaccard"))
    )


def _dot64(qe, ce):
    """Exact-order fold of the 64-dim dot product in doubles (matches
    the oracle's list_transform+list_aggregate order bitwise).

    Measured note: the HOF fold beats a 64-term unrolled multiply-add
    chain ~4× here — the giant unrolled expression falls out of
    whole-stage codegen, while zip_with+aggregate stays a tight
    per-element loop over the array."""
    prods = F.zip_with(qe, ce, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm2(e):
    return F.aggregate(
        e, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


_SQL_NORM2 = (
    "list_aggregate(list_transform({col}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')"
)
_SQL_DOT = (
    "list_aggregate([CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)], 'sum')"
)


N_QUERIES = 50  # query block of the exact scan: the first 50 vectors
DEDUP_CENT_MOD = 64  # baseline centroid stride (1 centroid / 64 vectors)
CENT_BUDGET = 4096  # hard cap on centroid COUNT — C = min(N/64, 4096)
DEDUP_NPROBE = 4  # multi-probe width for the blocked candidate join
DEDUP_TAU = 0.3  # cosine near-dup threshold (fixture cosines top ~0.48)

# Deterministic capped centroid stride: step = max(64, ceil(N/4096)).
# Without the cap, C = N/64 grows linearly with the corpus and the
# assignment stage (corpus × broadcast(centroids)) degenerates to
# O(N²/64) dot products with a multi-GB broadcast at 10⁹ vectors.
# Capping C keeps the broadcast a fixed ≤4096×(64 floats + norm) ≈
# 1 MB and the assignment stage O(N·4096) — truly linear in N.  At
# fixture scale (N ≤ 50k) step = 64, so results are unchanged.
_SQL_CENT_STEP = (
    f"greatest({DEDUP_CENT_MOD}, CAST(ceil("
    f"(SELECT count(*) FROM embeddings) / {CENT_BUDGET}.0) AS BIGINT))"
)


def capped_centroids(e: DataFrame) -> DataFrame:
    """Coarse centroid set with a corpus-independent size cap.

    Centroids = vectors where ``vec_id % step = 0`` with
    ``step = max(64, ceil(N/4096))`` — the same deterministic rule the
    DuckDB oracles express via ``_SQL_CENT_STEP``.  N comes from a
    1-row broadcast aggregate, so the build stays lazy (no driver
    action) and the selection is a map-only filter.  At 100 TB a real
    deployment would swap this for offline k-means centroids; every
    downstream stage (assignment, probes, candidate join) is
    agnostic to how the fixed-size centroid set was chosen."""
    n = e.agg(F.count(F.lit(1)).alias("_n"))
    step = F.greatest(
        F.lit(DEDUP_CENT_MOD).cast("long"),
        F.ceil(F.col("_n") / F.lit(CENT_BUDGET)).cast("long"),
    )
    return (
        e.crossJoin(F.broadcast(n))
        .where(F.col("vec_id") % step == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("ce"),
            _norm2(F.col("embedding")).alias("cn2"),
        )
        # BOUNDED (<= 4096 rows by the cap) and fanned into several
        # consumers by every ANN key — lazily checkpointed AT THE
        # SOURCE (SCALE.md r13 rule; the trade_edges pattern): the
        # count pass + stride filter run once per query, not once
        # per consumer (sim_ann_ivfpq re-scanned embeddings 11x
        # before r13)
        .localCheckpoint(eager=False)
    )


def query_pairs(e: DataFrame, sf_dir: str, nq: int = N_QUERIES) -> DataFrame:
    """Every (query, candidate) pair of the exact cosine scan, scored
    once: the query block ``vec_id < nq`` of ``e`` is broadcast against
    all of ``e``, joined on ``qid != cid``.  Columns ``qid, cid,
    qlabel, clabel, qn2, cn2, dot``; callers form
    ``cos = dot / sqrt(qn2 * cn2)``, bitwise the oracles' fold.

    Each side's squared norm is folded once per row before the join
    (N + Q folds, not 2·N·Q) and the dot once per pair.  The candidate
    side goes through ``spread_scan``: the Q·N·d fold is compute-dense
    but the embeddings file is byte-small, so its scan plans one split
    and would run the whole fold on one task; at production scale the
    file plans enough splits and the spread is a no-op."""
    q = e.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = spread_scan(e, sf_dir, "embeddings", "vec_id").select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    return F.broadcast(q).join(c, F.col("qid") != F.col("cid")).select(
        "qid", "cid", "qlabel", "clabel", "qn2", "cn2",
        _dot64(F.col("qe"), F.col("ce")).alias("dot"),
    )


def cell_ranks(e: DataFrame) -> DataFrame:
    """Nearest-centroid rank of every vector of ``e`` over the capped
    centroid set: ``e``'s columns plus ``cent_id`` and ``cell_rank``
    (1 = the vector's IVF cell), ordered by squared L2
    ``n2 + cn2 - 2·dot`` with ``cent_id`` as tie-break — the rule
    every ``ranked_cells`` oracle CTE spells out.  The centroids are a
    bounded broadcast, so the pass is map-side N×C folds plus one
    window keyed on ``vec_id``.  The frame is data-scaled (N×C rows):
    a caller that reads it twice trims it to ids and ``reuse()``s it."""
    d2 = F.col("n2") + F.col("cn2") - 2 * _dot64(F.col("embedding"), F.col("ce"))
    w = Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cent_id"))
    return (
        e.withColumn("n2", _norm2(F.col("embedding")))
        .crossJoin(F.broadcast(capped_centroids(e)))
        .withColumn("cell_rank", F.row_number().over(w))
        .select(*e.columns, "cent_id", "cell_rank")
    )


_DEDUP_CELLS_SQL = f"""
    cent AS (
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
    )"""


@register(
    "dedup_embedding",
    oracle=f"""
    WITH {_DEDUP_CELLS_SQL},
    assign AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE cell_rank = 1
    ), probes AS (
        SELECT vec_id, cent_id AS cell FROM ranked_cells
        WHERE cell_rank <= {DEDUP_NPROBE}
    ), cand AS (
        SELECT DISTINCT least(p.vec_id, a2.vec_id) AS vec_a,
                        greatest(p.vec_id, a2.vec_id) AS vec_b
        FROM probes p JOIN assign a2
          ON p.cell = a2.cell AND p.vec_id <> a2.vec_id
    ), scored AS (
        SELECT c.vec_a, c.vec_b,
               {_SQL_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.vec_a
        JOIN embeddings b ON b.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, {sql_q4("cos")} AS cosine
    FROM scored WHERE cos >= {DEDUP_TAU}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.3) with
    IVF-blocked candidate generation — never the all-pairs join.

    Mechanics (deterministic end-to-end → full SQL oracle):
    1. Coarse centroids = capped_centroids(): stride-selected with
       C = min(N/64, 4096), so the centroid broadcast is a fixed
       ≤1 MB and assignment is O(N·C) with C bounded — map-only,
       same machinery as sim_ann_ivf.
    2. Candidate pairs = (probe cells of one) ∩ (assigned cell of the
       other): an equi-join on the cell id, so candidate volume is
       ~2·NPROBE/C of all pairs — the candidate stage is linear in N
       for fixed cell occupancy, vs the O(N²) of a brute-force
       pairwise join.  (With C capped, cell occupancy N/C grows past
       ~256M vectors; at that scale raise CENT_BUDGET with real
       k-means centroids — the plan shape is unchanged.)
    3. Exact cosine re-ranks candidates (bitwise-equal fold order on
       both engines); pairs with cos ≥ τ survive.
    Blocking recall is measured in tests/test_llm.py: 0.88 overall at
    fixture scale, rising with similarity (0.93 for cos ≥ 0.4) — the
    regime a real dedup threshold lives in; missed borderline pairs
    are the documented cost of de-quadratic candidate generation."""
    e = table(spark, sf_dir, "embeddings")
    # N x C assignment pass consumed twice (assign + probes) — trim
    # to ids and persist() per the SCALE.md r13 rule
    ranked_cells = reuse(cell_ranks(e).select("vec_id", "cent_id", "cell_rank"))
    assign = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("aid"), F.col("cent_id").alias("cell")
    )
    probes = ranked_cells.where(F.col("cell_rank") <= DEDUP_NPROBE).select(
        F.col("vec_id").alias("pid"), F.col("cent_id").alias("cell")
    )
    cand = (
        probes.join(assign, "cell")
        .where(F.col("pid") != F.col("aid"))
        .select(
            F.least("pid", "aid").alias("vec_a"),
            F.greatest("pid", "aid").alias("vec_b"),
        )
        .distinct()
    )
    a = e.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        _norm2(F.col("embedding")).alias("na2"),
    )
    b = e.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        _norm2(F.col("embedding")).alias("nb2"),
    )
    cos = _dot64(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na2") * F.col("nb2"))
    return (
        cand.join(a, F.col("vec_a") == F.col("ida"))
        .join(b, F.col("vec_b") == F.col("idb"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= DEDUP_TAU)
        .select("vec_a", "vec_b", q4(F.col("cos")).alias("cosine"))
    )


@register(
    "dedup_embedding_exact",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_q4(f"{_SQL_DOT} / sqrt("
                   + _SQL_NORM2.format(col="a.embedding") + " * "
                   + _SQL_NORM2.format(col="b.embedding") + ")")} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_SQL_DOT} /
          sqrt({_SQL_NORM2.format(col="a.embedding")}
               * {_SQL_NORM2.format(col="b.embedding")}) >= {DEDUP_TAU}
    """,
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXHAUSTIVE embedding near-dup pairs: ALL pairs with
    cos ≥ 0.3, no blocking — the exact contract `dedup_embedding`
    deliberately does NOT promise (its IVF blocking trades ~12% of
    true pairs — measured recall 0.88 — for de-quadratic candidate
    generation). Registered separately so the two contracts are
    explicit: consumers needing every pair use this key; consumers
    at scale use the blocked key.

    DELIBERATELY O(N²): an exhaustive pairwise guarantee admits no
    sub-quadratic plan. The triangular self-join broadcasts one side,
    so it is bounded-corpus only (≤ ~1M vectors / executor-mem
    broadcast); it exists as the correctness/recall baseline the
    blocked variant is measured against (tests/test_llm.py), the same
    exact-vs-ANN pairing as sim_topk_exact / sim_ann_*."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm2(F.col("embedding")).alias("na2"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm2(F.col("embedding")).alias("nb2"),
    )
    cos = _dot64(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na2") * F.col("nb2"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= DEDUP_TAU)
        .select("vec_a", "vec_b", q4(F.col("cos")).alias("cosine"))
    )


@register(
    "dedup_minhash",
    notes="MinHash-LSH similarity join — statistical by construction; "
    "tests/test_llm.py measures recall vs exact shingle Jaccard "
    "(SURVEY §2.10: document tolerance, don't pretend to hash-match).",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHashLSH over 2-gram shingle sets.

    Pipeline: shingles → HashingTF sparse vectors → MinHashLSH
    (fixed seed) → approxSimilarityJoin on Jaccard distance ≤ 0.98.
    This is the banded-LSH scale shape: candidates are generated by
    hash-bucket join, never the full cross product."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 2 guard: single-token docs have no 2-gram shingles —
    # MinHashLSH rejects empty (all-zero) vectors, and Spark's
    # sequence(1, 0) descends into element_at(w, 0).  The guard MUST
    # be followed by a lineage break: approxSimilarityJoin adds its
    # own isnotnull(hashes-UDF) predicate which pushdown inlines at
    # the scan, where codegen CSE evaluates the MinHash UDF chain
    # EAGERLY — before the size conjunct can short-circuit — so
    # without the break a single short doc crashes the whole join.
    # This frame is DATA-SCALED, but it stays a localCheckpoint: the
    # lineage TRUNCATION is load-bearing (verified against the
    # pushdown crash), while a cache boundary's pushdown behavior is
    # not a contract — the documented exception to the SCALE.md r13
    # data-scaled->persist rule.
    # (The relational twin dedup_minhash_relational is the 100 TB
    # path; this ml.feature variant carries the materialization.)
    sh = (
        w.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            ).alias("shingles"),
        )
        .localCheckpoint(eager=False)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.98, distCol="jaccard_dist")
    return (
        joined.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            q4(1 - F.col("jaccard_dist")).alias("est_jaccard"),
        )
    )


@register(
    "dedup_cluster",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.doc_id < b.doc_id
       AND md5(substr(a.text, 1, 40)) = md5(substr(b.text, 1, 40))
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over near-dup
    candidate pairs, so each group of mutual near-dups gets one
    canonical id (min doc_id) — the step after pair generation in
    every dedup pipeline (keep one doc per cluster).

    Candidates come from fingerprint blocking (md5 of the 40-char
    prefix — at scale: MinHash band buckets, same join shape).
    Components run as iterative min-label propagation: each round is
    one distributed join + min-aggregate (data never leaves
    executors; the driver only checks the converged-count, which is
    how every Pregel-style loop terminates). Fixture graphs have
    tiny diameters, so this converges in 2-3 rounds; the oracle is
    DuckDB's recursive CTE computing true reachability minima."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.substring("text", 1, 40)).alias("fp")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), "fp")
    b = d.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = a.join(b, "fp").where(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    # r15: explode-symmetrize (one pass over pairs) — the 2-way union
    # consumed `pairs` twice and replayed the fingerprint self-join.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    labels = min_label_components(edges)
    return labels.select(F.col("nid").alias("doc_id"), F.col("label").alias("cluster_id"))


# One executor's comfortable in-memory graph: 1M symmetric edge rows
# is ~16 MB over Arrow and a few hundred MB of union-find state —
# far under a normal executor heap. Above this, the distributed
# pointer-jumping loop runs instead.
LOCAL_CC_MAX_EDGES = 1_000_000


def _local_union_find(edges: DataFrame) -> DataFrame:
    """Finish connected components on ONE executor: gather the whole
    (small) edge frame into a single ``applyInPandas`` group and run
    union-find with the min-id-becomes-root rule, so each node's
    label is exactly the min reachable node id — the same output the
    distributed loop converges to. Arrow-batched, executor-side (no
    driver collect); one Spark job instead of O(log D) join rounds."""
    import numpy as np
    import pandas as pd

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        # Dense-code the node ids, union-find over numpy parents.
        codes, uniques = pd.factorize(
            np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()])
        )
        n = len(uniques)
        parent = np.arange(n)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        m = len(pdf)
        for cu, cv in zip(codes[:m], codes[m:]):
            ru, rv = find(cu), find(cv)
            if ru != rv:
                # min-ID union: the smaller node id stays the root,
                # so every root is its component's min node id
                if uniques[ru] <= uniques[rv]:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        labels = uniques[np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)]
        return pd.DataFrame({"nid": uniques.astype("int64"), "label": labels.astype("int64")})

    return (
        edges.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(uf, "nid long, label long")
    )


def min_label_components(
    edges: DataFrame,
    max_rounds: int = 15,
    local_max_edges: int = LOCAL_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over a symmetric ``(u, v)`` edge frame:
    returns ``(nid, label)`` with label = min reachable node id.

    TWO-PHASE, the standard production shape for connected components
    (cf. Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): the candidate graph that reaches this helper is
    orders of magnitude smaller than the corpus it came from (banded
    MinHash buckets, support-pruned co-purchase pairs, dense grid
    cells), so when it fits ONE executor (≤ ``local_max_edges``
    symmetric edge rows) the right plan is a single Arrow-batched
    union-find there — one job, no iteration. Only a genuinely large
    contracted graph pays for the distributed loop below.

    Distributed phase: min-label propagation with POINTER JUMPING —
    each round first takes the min label over direct neighbors, then
    shortcuts every node's label to its label's own label, so label
    information travels 2^round hops and a component of diameter D
    converges in O(log D) rounds (a 40-hop path needs 6 rounds, not
    40). The driver only ever sees the edge count and per-round
    changed COUNTS, each observed in the ``checkpoint_round`` job that
    truncates the frame's lineage (reliable every 3rd round, so a
    real cluster survives executor loss); labels stay on executors.
    Non-convergence within ``max_rounds`` raises instead of silently
    returning partial labels."""
    edges, m = checkpoint_round(edges, 0, n=F.count(F.lit(1)))
    if m["n"] <= local_max_edges:
        return _local_union_find(edges)
    labels = (
        edges.select(F.col("u").alias("nid"))
        .distinct()
        .select("nid", F.col("nid").alias("label"))
    )
    for rnd in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges["v"] == labels["nid"])
            .groupBy(edges["u"].alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            nbr_min, labels["nid"] == nbr_min["node"], "left"
        ).select(
            "nid",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: label <- label(label); labels only shrink,
        # so chasing one extra hop per round doubles propagation reach
        jump = stepped.select(
            F.col("nid").alias("pj_nid"), F.col("label").alias("pj_label")
        )
        updated, m = checkpoint_round(
            stepped.join(
                jump, stepped["label"] == jump["pj_nid"], "left"
            ).select(
                "nid",
                "old_label",
                F.coalesce("pj_label", "label").alias("label"),
            ),
            rnd,
            changed=F.count(F.when(F.col("label") != F.col("old_label"), 1)),
        )
        labels = updated.select("nid", "label")
        if m["changed"] == 0:
            return labels
    raise RuntimeError(
        f"min_label_components did not converge in {max_rounds} rounds "
        "(component diameter > 2^rounds); raise max_rounds"
    )


@register(
    "dedup_minhash_relational",
    bench=True,  # explode-heavy signature build + bucket join: the
    # LLM-dedup tier's cost representative in the bench set
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL.replace("FROM documents", "FROM documents WHERE doc_id < 60").replace("SELECT doc_id, string_split(text, ' ') AS w", "SELECT doc_id, string_split(text, ' ') AS w")}
    ), sig AS (
        SELECT doc_id, g.i AS h,
               min(md5(CAST(g.i AS VARCHAR) || '|' || sh)) AS mh
        FROM (SELECT * FROM sh WHERE doc_id < 60)
        CROSS JOIN generate_series(1, 16) AS g(i)
        GROUP BY doc_id, g.i
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.h = b.h AND a.mh = b.mh AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           {sql_q4("CAST(count(*) FILTER (WHERE sa.mh = sb.mh) AS DOUBLE)/16")}
               AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
    GROUP BY c.doc_a, c.doc_b
    """,
)
def dedup_minhash_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash entirely in relational algebra — unlike
    the ml.feature variant (seed-internal, rows-only check), this one
    is hash-verified end-to-end against DuckDB.

    Hash family: h_i(shingle) = md5(i || '|' || shingle), i=1..16;
    signature = per-doc min of each h_i (binary string min, identical
    collation both engines). Banding with r=1: any equal signature
    component makes a candidate pair (the LSH bucket join — candidates
    scale with collisions, never |docs|²); estimated Jaccard = equal
    components / 16. The exact same three shuffles (signature agg,
    bucket join, estimate agg) run at 100 TB with more hash rows."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    w = d.selectExpr("doc_id", "split(text, ' ') AS w")
    # size >= 2 guard: sequence(1, 0) descends and element_at(w, 0)
    # throws; single-token docs have no shingles (oracle range empty).
    # (r16: expression strings — one JVM parse per select instead of
    # ~40 py4j Column calls; identical trees, hash parity pins it.)
    sh = (
        w.where("size(w) >= 2")
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))"
            " AS sh",
        )
        .distinct()
    )
    # sig feeds both sides of the bucket self-join.  No cache: both
    # sides plan the same exchanges and AQE runs each once, where a
    # cached sig would stop that reuse and cost jobs of its own.
    sig = (
        sh.selectExpr("doc_id", "explode(sequence(1, 16)) AS h", "sh")
        .selectExpr(
            "doc_id", "h", "md5(concat(CAST(h AS STRING), '|', sh)) AS hv"
        )
        .groupBy("doc_id", "h")
        .agg(F.expr("min(hv) AS mh"))
    )
    a = sig.selectExpr("doc_id AS doc_a", "h AS ha", "mh AS mha")
    b = sig.selectExpr("doc_id AS doc_b", "h AS hb", "mh AS mhb")
    # r15 (guide §2.4): the bucket join ALREADY enumerates exactly the
    # matching signature components — one row per (pair, h) with equal
    # mh — so the per-pair match count IS count(*) of the join output.
    # The old shape re-derived it the oracle's way: distinct candidate
    # pairs, then TWO more joins back to the signature table and a
    # filtered count over all 16 slots — three extra shuffles
    # (distinct + 2 joins) for a value the first join already carries.
    # The oracle deliberately keeps its literal re-join formulation;
    # hash parity proves the equivalence.
    est = (
        a.join(b, (F.col("ha") == F.col("hb")) & (F.col("mha") == F.col("mhb")))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg((F.count(F.lit(1)).cast("double") / 16).alias("est_j"))
    )
    return est.select("doc_a", "doc_b", q4(F.col("est_j")).alias("est_jaccard"))


# ----------------------------------------- benchmark decontamination

_EVAL_MOD, _EVAL_REM = 20, 7  # doc_id % 20 == 7 -> held-out eval set
_GRAM_N = 8


@register(
    "dedup_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest([array_to_string(w[i:i+{_GRAM_N - 1}], ' ')
                       for i in range(1, len(w) - {_GRAM_N - 2})]) AS g
        FROM toks
    ), eval_grams AS (
        SELECT DISTINCT doc_id AS eval_id, g FROM grams
        WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}
    ), train_grams AS (
        SELECT DISTINCT doc_id, g FROM grams
        WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}
    )
    SELECT t.doc_id,
           CAST(count(DISTINCT t.g) AS BIGINT) AS shared_grams,
           CAST(count(DISTINCT e.eval_id) AS BIGINT) AS eval_docs_hit
    FROM train_grams t JOIN eval_grams e ON t.g = e.g
    GROUP BY t.doc_id
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene pass
    that removes documents overlapping a held-out eval set: any
    training doc sharing an 8-word shingle with any eval doc is
    flagged with its overlap mass (shared distinct shingles, eval
    docs hit). This is the standard n-gram-collision
    decontamination (GPT-3/PaLM style), expressed as distinct-
    shingle sets + one equi-join on the shingle.

    Scale shape: the eval side is tiny by construction (benchmarks
    are small) → broadcast; the train side streams through explode →
    distinct → join without ever materializing pairwise doc
    comparisons. Shingles could hash to 64-bit fingerprints to cut
    shuffle bytes (same plan, fingerprint collisions ~2^-64)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= _GRAM_N guard: shorter docs have no n-grams; Spark's
    # sequence(1, 0) descends and slice(w, 0, n) throws.
    grams = toks.where(F.size("w") >= _GRAM_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {_GRAM_N})))"
            )
        ).alias("g"),
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
    eval_grams = (
        grams.where(is_eval)
        .select(F.col("doc_id").alias("eval_id"), "g")
        .distinct()
    )
    train_grams = grams.where(~is_eval).distinct()
    return (
        train_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("shared_grams"),
            F.countDistinct("eval_id").alias("eval_docs_hit"),
        )
    )


@register(
    "dedup_keep_best",
    oracle="""
    WITH scored AS (
        SELECT doc_id, md5(text) AS h,
               CAST(len(string_split(text, ' ')) AS BIGINT) * 1000000
                   - doc_id AS pref
        FROM documents
    ), winners AS (
        SELECT h, CAST(max(pref) AS BIGINT) AS best FROM scored GROUP BY h
    )
    SELECT s.doc_id, s.h AS content_md5
    FROM scored s JOIN winners w ON s.h = w.h AND s.pref = w.best
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: among identical texts keep the
    BEST copy, not an arbitrary or min-id one — curation pipelines
    rank duplicates by a quality signal (here token count, the
    richer-metadata copy) before discarding. Implemented as max_by
    over a composite integer preference (quality*1e6 − doc_id, the
    deterministic-tiebreak encoding used by agg_mode): one groupBy
    over digests, so the shuffle carries 16-byte hashes + one
    preference long per row regardless of document size."""
    d = table(spark, sf_dir, "documents")
    pref = (
        F.size(F.split("text", " ")).cast("long") * 1000000
        - F.col("doc_id")
    )
    scored = d.select(
        "doc_id", F.md5("text").alias("h"), pref.alias("pref")
    )
    winners = scored.groupBy("h").agg(F.max("pref").alias("best"))
    return (
        scored.alias("s")
        .join(
            winners.alias("w"),
            (F.col("s.h") == F.col("w.h"))
            & (F.col("s.pref") == F.col("w.best")),
        )
        .select("s.doc_id", F.col("s.h").alias("content_md5"))
    )


# --------------------------------------- end-to-end curation capstone


@register(
    "pipeline_curate_e2e",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               (n_chars BETWEEN 50 AND 2000
                AND len(string_split(text, ' ')) >= 8) AS q,
               (doc_id % {_EVAL_MOD} = {_EVAL_REM}) AS is_eval
        FROM documents
    ), train AS (
        SELECT * FROM base WHERE NOT is_eval
    ), ranked AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY words DESC, doc_id) AS rn
        FROM train WHERE q
    ), uniq AS (
        SELECT doc_id FROM ranked WHERE rn = 1
    ), grams AS (
        SELECT doc_id,
               unnest([array_to_string(w[i:i+{_GRAM_N - 1}], ' ')
                       for i in range(1, len(w) - {_GRAM_N - 2})]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}
    ), cont AS (
        SELECT DISTINCT gr.doc_id
        FROM grams gr JOIN eval_grams e ON gr.g = e.g
        WHERE gr.doc_id IN (SELECT doc_id FROM uniq)
    ), flagged AS (
        SELECT t.lang, t.source, t.words, t.q,
               (u.doc_id IS NOT NULL) AS uniq_f,
               (u.doc_id IS NOT NULL AND c.doc_id IS NULL) AS clean_f
        FROM train t
        LEFT JOIN uniq u ON t.doc_id = u.doc_id
        LEFT JOIN cont c ON t.doc_id = c.doc_id
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(*) FILTER (WHERE q) AS BIGINT) AS n_quality,
           CAST(count(*) FILTER (WHERE uniq_f) AS BIGINT) AS n_unique,
           CAST(count(*) FILTER (WHERE clean_f) AS BIGINT) AS n_clean,
           CAST(COALESCE(sum(words) FILTER (WHERE clean_f), 0) AS BIGINT)
               AS tokens_clean
    FROM flagged GROUP BY lang, source
    """,
)
def pipeline_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation capstone — the full hygiene
    chain every LLM corpus goes through, composed as ONE lazy plan
    with per-stage survivor counts as the verifiable output:

      1. quality gate   — length window + minimum token count
                          (row-local, pushes to the scan);
      2. exact dedup    — keep the BEST copy per content digest
                          (most tokens, doc_id tie-break): one
                          shuffle of 16-byte digests;
      3. decontaminate  — drop survivors sharing any 8-gram with the
                          held-out eval split (doc_id % 20 == 7,
                          excluded from the corpus): eval grams are
                          benchmark-sized → broadcast, train grams
                          stream through explode+distinct;
      4. report         — per (lang, source): raw / quality / unique /
                          clean cardinalities + surviving token mass.

    The staged counts make the funnel itself the oracle artifact: a
    regression in ANY stage shifts a cardinality and breaks the hash.
    Scale shape: no pairwise stage anywhere — dedup is digest-grouped,
    contamination is an inverted-gram equi-join (dedup_contamination's
    plan), and the final report is one hash aggregate."""

    d = table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("long")
    base = reuse(d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        words.alias("words"),
        (F.col("n_chars").between(50, 2000) & (words >= 8)).alias("q"),
        (F.col("doc_id") % _EVAL_MOD == _EVAL_REM).alias("is_eval"),
    ))
    train = base.where(~F.col("is_eval"))
    w_best = Window.partitionBy(F.md5("text")).orderBy(
        F.col("words").desc(), "doc_id"
    )
    uniq = reuse(
        train.where("q")
        .withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    grams = (
        base.select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= _GRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                    f" i -> concat_ws(' ', slice(w, i, {_GRAM_N})))"
                )
            ).alias("g"),
        )
    )
    eval_grams = (
        grams.where(F.col("doc_id") % _EVAL_MOD == _EVAL_REM)
        .select("g")
        .distinct()
    )
    cont = (
        grams.join(uniq, "doc_id", "left_semi")
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    flagged = (
        train.join(
            uniq.withColumn("_u", F.lit(True)), "doc_id", "left"
        )
        .join(cont.withColumn("_c", F.lit(True)), "doc_id", "left")
        .select(
            "lang",
            "source",
            "words",
            "q",
            F.col("_u").isNotNull().alias("uniq_f"),
            (F.col("_u").isNotNull() & F.col("_c").isNull()).alias("clean_f"),
        )
    )
    return flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("q"), 1)).alias("n_quality"),
        F.count(F.when(F.col("uniq_f"), 1)).alias("n_unique"),
        F.count(F.when(F.col("clean_f"), 1)).alias("n_clean"),
        F.coalesce(F.sum(F.when(F.col("clean_f"), F.col("words"))), F.lit(0))
        .cast("long")
        .alias("tokens_clean"),
    )


NEARDUP_TAU = 0.1875  # 3/16 equal MinHash components

# the deterministic MinHash oracle registered above in this module,
# captured for composition (same pattern as sim_recall_report)
_MINHASH_ORACLE = REGISTRY["dedup_minhash_relational"].oracle


@register(
    "text_near_dup_cluster",
    bench=True,  # candidates → gate → components composition: the
    # MinHash chain plus one Arrow-batched union-find group
    oracle=f"""
    WITH RECURSIVE mh AS ({_MINHASH_ORACLE}),
    pairs AS (
        SELECT doc_a, doc_b FROM mh WHERE est_jaccard >= {NEARDUP_TAU}
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
    """,
)
def text_near_dup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate clustering: deterministic MinHash
    candidates (dedup_minhash_relational's banded bucket join, so the
    WHOLE chain is hash-verifiable — no seed-internal ml.feature
    stage) filtered at est_jaccard ≥ 3/16, then transitive closure
    via the pointer-jumping min-label components helper. This is the
    composition every dedup pipeline actually ships — candidates →
    similarity gate → clusters → keep one per cluster — with each
    stage individually verified elsewhere (dedup_minhash_relational,
    dedup_cluster) and the composition verified here against DuckDB's
    recursive-CTE reachability. Scale: the candidates come from
    dedup_minhash_relational's ``doc_id < 60`` scope, so the symmetric
    edge frame has at most 60·59 rows — far under
    ``LOCAL_CC_MAX_EDGES`` at any SF.  Components therefore go straight
    to the one-group union-find (``_local_union_find``): no eager
    checkpoint or edge count at build, so the build fires no job."""
    mh = REGISTRY["dedup_minhash_relational"].build(spark, sf_dir)
    pairs = mh.where(F.col("est_jaccard") >= NEARDUP_TAU).select(
        "doc_a", "doc_b"
    )
    # r15: symmetrize with ONE explode instead of a 2-way union — the
    # union consumed `pairs` twice, so the whole candidate chain
    # (bucket join + 16-slot md5 estimate aggregate) executed twice
    # per run (two identical ~2.5 s-exRun stages in the profile).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                ),
                F.struct(
                    F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                ),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    labels = _local_union_find(edges)
    return labels.select(
        F.col("nid").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT sha256(text) AS h, min(doc_id) AS canonical_id
        FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
    ), batch AS (
        SELECT doc_id, sha256(text) AS h FROM documents
        WHERE doc_id % 3 = 0
    ), in_batch AS (
        SELECT doc_id, h,
               min(doc_id) OVER (PARTITION BY h) AS batch_canonical
        FROM batch
    )
    SELECT b.doc_id,
           CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> b.batch_canonical THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           COALESCE(c.canonical_id,
               CASE WHEN b.doc_id <> b.batch_canonical
                    THEN b.batch_canonical END) AS canonical_id
    FROM in_batch b LEFT JOIN corpus c ON b.h = c.h
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the 'new crawl vs existing corpus'
    pattern every continuously-ingesting training pipeline runs:
    classify each NEW document (fixture split: doc_id % 3 = 0 is the
    incoming batch, the rest the standing corpus) as `dup_of_corpus`
    (content hash already present — points at the corpus canonical),
    `dup_in_batch` (first occurrence wins inside the batch), or
    `new`.

    Scale design: the corpus side collapses to one 32-byte digest +
    one id per distinct content BEFORE the join (at 100 TB the
    standing corpus's digest index is rebuilt incrementally, not
    rescanned — here it is an aggregate over the corpus slice); the
    batch joins it hash-to-hash (equi join on the digest — with AQE
    this is a broadcast when the daily batch is small relative to the
    index). Intra-batch dedup is a window min over the digest, not a
    self-join. Document text never shuffles — only digests and ids do."""
    d = table(spark, sf_dir, "documents")
    corpus = (
        d.where(F.col("doc_id") % 3 != 0)
        .groupBy(F.sha2("text", 256).alias("ch"))
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    batch = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.sha2("text", 256).alias("h")
    )

    in_batch = batch.withColumn(
        "batch_canonical", F.min("doc_id").over(Window.partitionBy("h"))
    )
    joined = in_batch.join(corpus, F.col("h") == F.col("ch"), "left")
    return joined.select(
        "doc_id",
        F.when(F.col("ch").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") != F.col("batch_canonical"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        F.coalesce(
            F.col("canonical_id"),
            F.when(
                F.col("doc_id") != F.col("batch_canonical"),
                F.col("batch_canonical"),
            ),
        ).alias("canonical_id"),
    )


CONTAIN_TAU = 0.15  # shingle-containment threshold (fixture containments top ~0.30)


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*) AS i
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        WHERE a.doc_id < 60 AND b.doc_id < 60
        GROUP BY 1, 2
    )
    SELECT doc_small, doc_big,
           {sql_q4("CAST(i AS DOUBLE) / sa.n")} AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_small
    WHERE CAST(i AS DOUBLE) / sa.n >= {CONTAIN_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / |A| — the right metric when one document quotes or
    wholly embeds another (Jaccard punishes the size mismatch, so a
    200-word article pasted inside a 10k-word page scores near 0
    Jaccard but ~1.0 containment; Broder's original resemblance/
    containment pair).

    Scale shape: identical inverted-shingle-index machinery as
    ``dedup_ngram_jaccard`` (candidates only where ≥1 shingle
    collides — the equi-join on the shingle, never all pairs), one
    extra join against the small-side size table. Direction matters:
    (small ⊂ big) and (big ⊂ small) are different rows; both emerge
    from the same candidate join. Bounded to doc_id<60 on the pair
    side at fixture scale; at 100 TB frequent-shingle stopwording
    caps the index's posting-list skew (same note as the Jaccard
    key)."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 2 guard: sequence(1, 0) descends and element_at(w, 0)
    # throws; single-token docs have no shingles (oracle range empty).
    sh = w.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("sh"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .where((F.col("a.doc_id") < 60) & (F.col("b.doc_id") < 60))
        .groupBy(
            F.col("a.doc_id").alias("doc_small"),
            F.col("b.doc_id").alias("doc_big"),
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    containment = F.col("i").cast("double") / F.col("sa.n")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_small"))
        .where(containment >= CONTAIN_TAU)
        .select("doc_small", "doc_big", q4(containment).alias("containment"))
    )


# ---------------------------------------- duplicated-passage spans

SPAN_K = 10  # shingle width (words) — spans shorter than K can't match


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), pos AS (
        SELECT doc_id,
               unnest(range(0, greatest(len(ws) - {SPAN_K} + 1, 0))) AS p
        FROM w
    ), sh AS (
        SELECT pos.doc_id, pos.p,
               md5(array_to_string(w.ws[pos.p + 1 : pos.p + {SPAN_K}], ' '))
                   AS sh
        FROM pos JOIN w ON pos.doc_id = w.doc_id
    ), dup AS (
        SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
    ), dpos AS (
        SELECT doc_id, p FROM sh WHERE sh IN (SELECT sh FROM dup)
    ), flagged AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         > {SPAN_K} THEN 1
                    WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         IS NULL THEN 1
                    ELSE 0 END AS new_span
        FROM dpos
    ), grouped AS (
        SELECT doc_id, p,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM flagged
    )
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + {SPAN_K} - 1 AS BIGINT) AS span_end,
           CAST(max(p) + {SPAN_K} - min(p) AS BIGINT) AS span_words,
           CAST(count(*) AS BIGINT) AS n_shingles
    FROM grouped GROUP BY doc_id, grp
    """,
    bench=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (the substring-level dedup
    of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", re-expressed relationally): every {SPAN_K}-word
    shingle occurring in ≥2 distinct documents marks its positions
    duplicated; overlapping/adjacent duplicated positions merge into
    maximal spans (gaps-and-islands over the position sequence) —
    the word ranges a curation pipeline would cut, not just a
    doc-level verdict.

    Scale shape: positional shingling is a narrow explode (~L rows
    per doc); the duplicate test is ONE digest-partitioned window
    (min/max doc_id per digest — r16, replacing the r13–r15
    aggregate + semi-join shape) — the 100 TB analogue of a
    suffix-array pass, but shuffle-partitioned by digest so no node
    ever holds the corpus. Span merging windows partition per doc
    (bounded by doc length). Only digests shuffle, never text; the
    positional frame crosses the wire exactly once (the old shape
    shuffled it twice — once combined into the aggregate, once whole
    as the semi-join probe — and needed a data-scaled persist so the
    md5 tree ran once for its two consumers; single-consumer now, so
    the cache is gone too)."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= SPAN_K
    )
    # Repartition BEFORE the ~L-per-doc explode (r15, the VERDICT r14
    # slope chase): scan splits are sized for INPUT bytes, so the
    # exploded+digested stream — and the persisted frame every
    # downstream consumer scans — would otherwise inherit a partition
    # count ~200x too small for the work it carries (the sf0.1 fixture
    # file plans TWO splits, serializing the md5 stage and every warm
    # cache scan).  Hashing on doc_id is deterministic and spreads the
    # expansion across the cluster; measured 1.25 -> 0.76 s at sf0.1
    # and 3.95 -> 1.51 s at sf1 warm.
    w = w.repartition("doc_id")
    sh = w.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("ws") - SPAN_K)).alias("p"),
        F.col("ws"),
    ).select(
        "doc_id",
        "p",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("p") + 1, SPAN_K))
        ).alias("sh"),
    )
    # "appears in >= 2 DISTINCT docs" == min(doc_id) != max(doc_id)
    # OVER the digest partition (r16, guide §2.4): the old shape
    # aggregated the digests (one shuffle of combined digests) and
    # then semi-joined the SAME positional frame back on the digest
    # (a second full shuffle of it, plus a persist so the md5 tree
    # ran once for the two consumers).  One partitioned window
    # computes the identical per-digest min/max in a single shuffle
    # of the positional frame, with ONE consumer — so the join, the
    # second shuffle AND the data-scaled cache are all gone.  Each
    # window group is one digest's occurrence list.  Skew bound: the
    # largest group, and so the largest window task, holds every
    # occurrence of the hottest shingle.  That is at most |docs| ×
    # occurrences per doc, and boilerplate shared corpus-wide reaches
    # it.  The window buffer spills past
    # spark.sql.windowExec.buffer.spill.threshold, so a hot shingle
    # costs one slow task, never a failure.  The fixtures' hottest
    # digest has 3 occurrences at sf0.01 and 4 at sf0.1; a corpus with
    # heavy boilerplate would need the digest salted, with a second
    # min/max fold per digest.
    wsh = Window.partitionBy("sh")
    dpos = (
        sh.select(
            "doc_id",
            "p",
            F.min("doc_id").over(wsh).alias("_d_lo"),
            F.max("doc_id").over(wsh).alias("_d_hi"),
        )
        .where(F.col("_d_lo") != F.col("_d_hi"))
        .select("doc_id", "p")
    )
    wlag = Window.partitionBy("doc_id").orderBy("p")
    flagged = dpos.withColumn(
        "new_span",
        F.when(F.col("p") - F.lag("p").over(wlag) > SPAN_K, 1)
        .when(F.lag("p").over(wlag).isNull(), 1)
        .otherwise(0),
    )
    wcum = Window.partitionBy("doc_id").orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grouped = flagged.withColumn("grp", F.sum("new_span").over(wcum))
    return grouped.groupBy("doc_id", "grp").agg(
        F.min("p").cast("long").alias("span_start"),
        (F.max("p") + SPAN_K - 1).cast("long").alias("span_end"),
        (F.max("p") + SPAN_K - F.min("p")).cast("long").alias("span_words"),
        F.count("*").cast("long").alias("n_shingles"),
    ).drop("grp")


# the two embedding-dedup oracles, captured for composition (same
# pattern as text_near_dup_cluster reusing the MinHash oracle)
_EXACT_DD_ORACLE = REGISTRY["dedup_embedding_exact"].oracle
_IVF_DD_ORACLE = REGISTRY["dedup_embedding"].oracle


@register(
    "dedup_recall_report",
    oracle=f"""
    WITH exact_pairs AS ({_EXACT_DD_ORACLE}),
    ivf_pairs AS ({_IVF_DD_ORACLE}),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_matched
        FROM exact_pairs e JOIN ivf_pairs i
          ON e.vec_a = i.vec_a AND e.vec_b = i.vec_b
    ), ce AS (
        SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_pairs
    ), ci AS (
        SELECT CAST(count(*) AS BIGINT) AS n_ivf FROM ivf_pairs
    )
    SELECT ce.n_exact, ci.n_ivf, m.n_matched,
           CAST(m.n_matched * 10000 // ce.n_exact AS BIGINT)
               AS recall_bps,
           CAST(m.n_matched * 10000 // ci.n_ivf AS BIGINT)
               AS precision_bps
    FROM ce CROSS JOIN ci CROSS JOIN m
    """,
)
def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the IVF-blocked embedding dedup
    against the exact all-pairs yardstick — the §2.10 discipline
    (approximate ops ship with a MEASURED quality gate, not an
    assertion) applied to the dedup family, the way sim_recall_report
    does for ANN search. Deterministic on both sides, so unlike the
    ANN recall keys this one is fully HASH-verified: recall and
    precision are integer basis points.

    Scale shape: composes two registered builds — candidates are
    banded/bucketed (dedup_embedding), the yardstick is the
    documented O(N²/cells) audit pass you run on a SAMPLE at 100 TB
    (dedup_embedding_exact's docstring); the join is on the
    (vec_a, vec_b) pair key, counts are metadata."""
    # both pair lists are consumed twice (the match join + their own
    # counts) and each replays an expensive composed build — DATA-
    # SCALED, persist() per the SCALE.md r13 rule (12 embeddings
    # scans before r13).  Composition stacks cache entries (the inner
    # builds persist their own intermediates — ranked cells,
    # centroids); that stacking is bounded to THIS key's lifetime:
    # the registry build scope releases every entry at the next
    # top-level build, and never mid-composition.
    exact = reuse(REGISTRY["dedup_embedding_exact"].build(spark, sf_dir))
    ivf = reuse(REGISTRY["dedup_embedding"].build(spark, sf_dir))
    m = exact.select("vec_a", "vec_b").join(
        ivf.select("vec_a", "vec_b"), ["vec_a", "vec_b"]
    ).agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    ce = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    ci = ivf.agg(F.count(F.lit(1)).cast("long").alias("n_ivf"))
    return (
        ce.crossJoin(F.broadcast(ci))
        .crossJoin(F.broadcast(m))
        .select(
            "n_exact",
            "n_ivf",
            "n_matched",
            F.expr("n_matched * 10000L DIV n_exact").alias("recall_bps"),
            F.expr("n_matched * 10000L DIV n_ivf").alias("precision_bps"),
        )
    )


# --------------------------------- content-defined chunk dedup (CDC)

CDC_W = 8  # boundary decision window (chars)
CDC_HEX0 = "0"  # boundary when md5(window) starts with this (1/16 rate)


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(range(2, greatest(strlen(text) - {CDC_W - 2}, 2)))
                   AS i
        FROM documents
    ), starts AS (
        SELECT doc_id, text, CAST(i AS BIGINT) AS s
        FROM pos
        WHERE substr(md5(substr(text, i, {CDC_W})), 1, 1) = '{CDC_HEX0}'
        UNION ALL
        SELECT doc_id, text, 1 FROM documents
    ), spans AS (
        SELECT doc_id, s,
               coalesce(lead(s) OVER (PARTITION BY doc_id ORDER BY s) - 1,
                        strlen(text)) AS e,
               text
        FROM starts
    ), chunks AS (
        SELECT doc_id, md5(substr(text, CAST(s AS INTEGER),
                    CAST(e - s + 1 AS INTEGER))) AS digest,
               e - s + 1 AS chunk_len
        FROM spans WHERE e >= s
    )
    SELECT digest,
           CAST(max(chunk_len) AS BIGINT) AS chunk_len,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occur
    FROM chunks GROUP BY digest
    HAVING count(*) >= 2
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS backup-dedup
    primitive, public): a chunk boundary fires wherever the hash of
    the LOCAL 8-char window has a fixed prefix (1/16 rate, ~16-char
    expected chunks), so an insertion early in a document shifts no
    downstream boundary - they depend only on local content, and an
    identical passage chunks identically wherever it sits. Repeated
    chunks across the corpus surface as shared digests - the
    sub-document dedup signal that positional shingling
    (dedup_substring_spans) approximates with fixed windows.

    Scale shape: the position explode is the only row expansion
    (linear in corpus chars, map-side); spans come from one per-doc
    lead() window; only DIGESTS aggregate globally (the shuffle
    carries 16-byte keys, never text), and the output is the
    duplicated-chunk catalog (HAVING n >= 2)."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(2),
                F.greatest(F.length("text") - (CDC_W - 2), F.lit(2)),
            )
        ).alias("i"),
    )
    # sequence() is end-INCLUSIVE (DuckDB's range is exclusive), so
    # clamp to the last full-window position explicitly
    bnd = pos.where(
        (F.col("i") <= F.length("text") - (CDC_W - 1))
        & (
            F.substring(F.md5(F.expr(f"substr(text, i, {CDC_W})")), 1, 1)
            == CDC_HEX0
        )
    ).select("doc_id", "text", F.col("i").cast("long").alias("s"))
    first = d.select("doc_id", "text", F.lit(1).cast("long").alias("s"))
    starts = bnd.unionByName(first)
    w = Window.partitionBy("doc_id").orderBy("s")
    spans = starts.select(
        "doc_id",
        "s",
        F.coalesce(
            F.lead("s").over(w) - 1, F.length("text").cast("long")
        ).alias("e"),
        "text",
    )
    chunks = spans.where(F.col("e") >= F.col("s")).select(
        "doc_id",
        F.md5(
            F.expr("substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))")
        ).alias("digest"),
        (F.col("e") - F.col("s") + 1).alias("chunk_len"),
    )
    return (
        chunks.groupBy("digest")
        .agg(
            F.max("chunk_len").cast("long").alias("chunk_len"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occur"),
        )
        .where(F.col("n_occur") >= 2)
    )


# ------------------------------------------- threshold sensitivity

SWEEP_TAUS = (625, 1250, 1875, 2500, 3750)  # est_jaccard in 1e-4 units


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH mh AS ({_MINHASH_ORACLE}),
    taus AS (
        SELECT unnest([{", ".join(str(t) for t in SWEEP_TAUS)}]) AS tau_bp
    ), hits AS (
        SELECT t.tau_bp,
               CAST(count(m.doc_a) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT m.doc_a) AS BIGINT) AS n_docs_a,
               CAST(count(DISTINCT m.doc_b) AS BIGINT) AS n_docs_b
        FROM taus t
        LEFT JOIN mh m ON m.est_jaccard * 10000 >= t.tau_bp
        GROUP BY t.tau_bp
    )
    SELECT CAST(tau_bp AS BIGINT) AS tau_bp,
           CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           n_docs_a, n_docs_b
    FROM hits
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for the MinHash dedup: candidate
    pair counts and affected-document counts at five est_jaccard
    cutoffs from ONE pass over the candidate table — the tuning
    curve you read before committing to a dedup threshold (too low
    deletes distinct content, too high leaves near-dups in; the
    elbow in n_pairs(τ) is the operating point).

    Scale shape: the expensive part (banded LSH candidates) runs
    once — this key composes dedup_minhash_relational's build and
    re-aggregates it per threshold via a broadcast 5-row tau table
    (a range join against metadata, NOT five scans). At 100 TB the
    sweep costs the same one candidate pass the chosen-threshold
    run costs."""
    mh = REGISTRY["dedup_minhash_relational"].build(spark, sf_dir)
    taus = spark.range(0).sparkSession.createDataFrame(
        [(t,) for t in SWEEP_TAUS], "tau_bp long"
    )
    hits = (
        F.broadcast(taus)
        .join(
            mh,
            mh["est_jaccard"] * 10000 >= taus["tau_bp"],
            "left",
        )
        .groupBy("tau_bp")
        .agg(
            F.count(F.col("doc_a")).cast("long").alias("n_pairs"),
            F.count_distinct("doc_a").cast("long").alias("n_docs_a"),
            F.count_distinct("doc_b").cast("long").alias("n_docs_b"),
        )
    )
    return hits.select("tau_bp", "n_pairs", "n_docs_a", "n_docs_b")
