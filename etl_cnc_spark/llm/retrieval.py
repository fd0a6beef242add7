"""Lexical and hybrid retrieval over the document corpus
(SURVEY.md §2.10 extension — the query side of a RAG data pipeline).

Two operators:

- ``text_bm25``: Okapi BM25 scoring of a fixed query-term set against
  the whole corpus — pure relational algebra (explode → tf/df
  aggregates → scalar scoring expression), no UDFs, fully
  whole-stage-codegen.
- ``sim_hybrid_rrf``: reciprocal-rank fusion of the BM25 lexical
  ranking with an embedding-cosine ranking — the standard hybrid
  retrieval pattern (lexical recall + semantic recall, fused without
  score calibration).

Float discipline (SURVEY.md §5): every scoring formula is written
with byte-identical literals and operation order on the Spark and
DuckDB sides; per-term partial scores sit in fixed slots (the oracle's
``sum(CASE term WHEN ...)``, the Spark side's row-local
``CASE WHEN tf > 0``) added in a fixed expression order, so no
floating-point sum depends on row order — the results are bitwise
reproducible at any parallelism.

No reference citations possible — /root/reference is empty (see
SURVEY.md §0); the surface derives from the public BM25/RRF
literature (Robertson & Zaragoza 2009; Cormack et al. 2009).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register, reuse
from ..utils import q4, sql_q4
from .dedup import _SQL_NORM2
from .similarity import _dot64, _norm2

# A fixed 4-term query: one rare, discriminative term (df≈25 of 500)
# plus three common ones — exercises the full idf dynamic range.
QUERY_TERMS = ("dup", "vector", "merge", "spark")
BM25_K1 = "1.2"
BM25_K1P1 = "2.2"  # k1 + 1, as ONE literal (1.2+1.0 != 2.2 bitwise)
BM25_B = "0.75"
BM25_OMB = "0.25"  # 1 - b, as one literal
TOP_N = 20
RRF_K = 60
HYB_QID = 0  # query vector for the hybrid key = embedding of vec_id 0
LIST_N = 100  # depth of each ranked list fed into the fusion

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# Per-term fixed score slots: each doc has at most ONE row per term,
# and x + 0.0 is exact, so these sums are order-independent; the
# final score adds the slots in a fixed expression order.
_SLOTS_SQL = ",\n           ".join(
    f"sum(CASE WHEN term = '{t}' THEN contrib ELSE 0.0 END) AS s{i}"
    for i, t in enumerate(QUERY_TERMS)
)
_SCORE_SQL = " + ".join(f"s{i}" for i in range(len(QUERY_TERMS)))

# BM25(term, doc) with identical literals/op-order on both engines:
#   idf  = ln(1.0 + ((N - df) + 0.5) / (df + 0.5))
#   norm = tf + k1 * ((1-b) + b * (dl / avgdl))
#   contrib = idf * (tf * (k1+1)) / norm
_CONTRIB_SQL = f"""
        ln(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
        * (CAST(t.tf AS DOUBLE) * {BM25_K1P1})
        / (t.tf + {BM25_K1} * ({BM25_OMB} + {BM25_B} * (l.dl / s.avgdl)))
"""

_BM25_CTE = f"""
    words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id
    ), stats AS (
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
               CAST((SELECT count(*) FROM words) AS DOUBLE)
                   / (SELECT count(*) FROM documents) AS avgdl
    ), qw AS (
        SELECT doc_id, term FROM words WHERE term IN ({_TERMS_SQL})
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM qw GROUP BY doc_id, term
    ), dfx AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM qw GROUP BY term
    ), scored AS (
        SELECT t.doc_id, t.term, {_CONTRIB_SQL} AS contrib
        FROM tf t
        JOIN dfx d USING (term)
        JOIN dl l ON t.doc_id = l.doc_id
        CROSS JOIN stats s
    ), per_doc AS (
        SELECT doc_id,
           {_SLOTS_SQL},
           CAST(count(*) AS BIGINT) AS n_terms
        FROM scored GROUP BY doc_id
    ), lex_ranked AS (
        SELECT doc_id, n_terms, {_SCORE_SQL} AS score,
               CAST(row_number() OVER (
                    ORDER BY {_SCORE_SQL} DESC, doc_id) AS BIGINT) AS rn
        FROM per_doc
    )
"""


# Spark-side expression STRINGS for the BM25 stage (r16, VERDICT r15
# item 1): the Column-object formulation built the same trees through
# hundreds of py4j round trips per bench run (~0.5 s of sim_hybrid_rrf's
# local wall was Python-side expression construction, measured r15);
# f-string templates parse JVM-side in one call per select.  Every
# literal keeps its exact double form via the `D` suffix (a bare SQL
# `0.5` would parse as DECIMAL and change the arithmetic type lattice).
_TF_EXPRS = [
    f"CAST(size(filter(ws, w -> w = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(QUERY_TERMS)
]
_STAT_EXPRS = [
    "CAST(count(1) AS BIGINT) AS n_docs",
    "CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl",
    *(
        f"CAST(count_if(tf{i} > 0) AS BIGINT) AS df{i}"
        for i in range(len(QUERY_TERMS))
    ),
]


def _contrib_spark(i: int) -> str:
    return (
        f"ln(1.0D + ((n_docs - df{i}) + 0.5D) / (df{i} + 0.5D))"
        f" * (CAST(tf{i} AS DOUBLE) * {BM25_K1P1}D)"
        f" / (tf{i} + {BM25_K1}D * ({BM25_OMB}D + {BM25_B}D * (dl / avgdl)))"
    )


# slot i = the term's contrib when the doc holds it, else 0.0 — what
# the oracle's per-doc sum(CASE term ...) yields, since each doc has at
# most one row per term and adding exact zeros changes no bit
_SLOT_EXPRS = [
    f"CASE WHEN tf{i} > 0 THEN {_contrib_spark(i)} ELSE 0.0D END AS s{i}"
    for i in range(len(QUERY_TERMS))
]
_SCORE_SPARK = " + ".join(f"s{i}" for i in range(len(QUERY_TERMS)))
_N_TERMS_SPARK = " + ".join(
    f"CAST(tf{i} > 0 AS BIGINT)" for i in range(len(QUERY_TERMS))
)


def _bm25_scores(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, n_terms, score, rn) for the top-``n`` BM25 docs — the
    shared lexical stage of both retrieval keys.

    Deliberately does NOT explode the corpus into words: per-term
    frequencies come from |Q| array folds per document (``filter`` +
    ``size`` over the split array), so tf and dl are row-local.  The
    query is a fixed set of |Q| = 4 terms, so ONE 1-row aggregate over
    the per-doc frame gives every corpus statistic — n_docs, avgdl and
    the df of each term — and the score is a row-local expression over
    that broadcast row: no exploded (doc, term) frame, no df shuffle,
    no per-doc score aggregate.  (An exploded-words formulation
    shuffles ~avg-doc-length× more rows twice; the oracle deliberately
    keeps that independent shape — tf/df/dl are integers either way,
    and each oracle slot sum adds one nonzero contrib to exact zeros,
    so the two formulations agree bitwise.)"""
    base = table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "split(text, ' ') AS ws"
    ).selectExpr("doc_id", "CAST(size(ws) AS BIGINT) AS dl", *_TF_EXPRS)
    stats = base.selectExpr(*_STAT_EXPRS)
    per_doc = (
        base.crossJoin(F.broadcast(stats))
        .where(" OR ".join(f"tf{i} > 0" for i in range(len(QUERY_TERMS))))
        .selectExpr("doc_id", f"{_N_TERMS_SPARK} AS n_terms", *_SLOT_EXPRS)
    )
    # Global top-n WITHOUT a corpus-sized single-partition window:
    # orderBy+limit plans as TakeOrderedAndProject (per-partition
    # top-n, merged at the driver-side take), and row_number then
    # runs over the already-bounded n rows.
    top = (
        per_doc.selectExpr("doc_id", "n_terms", f"{_SCORE_SPARK} AS score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(n)
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rn", F.row_number().over(w).cast("long"))


@register(
    "text_bm25",
    oracle=f"""
    WITH {_BM25_CTE}
    SELECT doc_id, n_terms, {sql_q4("score")} AS score, rn
    FROM lex_ranked WHERE rn <= {TOP_N}
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed 4-term query.

    Scale shape: tf/dl are row-local array folds (no corpus explode,
    no data-sized shuffle — see ``_bm25_scores``); df and corpus
    stats are broadcast; scoring is one scalar expression; the final
    top-N is TakeOrderedAndProject (per-partition top-N merge), so no
    stage ever concentrates the corpus on one task."""
    ranked = _bm25_scores(spark, sf_dir, TOP_N)
    return ranked.select(
        "doc_id", "n_terms", q4(F.col("score")).alias("score"), "rn"
    )


@register(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_CTE}, vec_scored AS (
        SELECT b.vec_id AS doc_id,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                               * CAST(b.embedding[i] AS DOUBLE)
                               for i in range(1, 65)], 'sum')
               / sqrt({_SQL_NORM2.format(col="a.embedding")}
                      * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id = {HYB_QID}
    ), vec_ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS BIGINT) AS rn
        FROM vec_scored
    ), fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               l.rn AS lex_rn, v.rn AS vec_rn,
               coalesce(1.0 / ({RRF_K} + l.rn), 0.0)
                 + coalesce(1.0 / ({RRF_K} + v.rn), 0.0) AS rrf
        FROM (SELECT doc_id, rn FROM lex_ranked WHERE rn <= {LIST_N}) l
        FULL OUTER JOIN
             (SELECT doc_id, rn FROM vec_ranked WHERE rn <= {LIST_N}) v
        ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rn, vec_rn, {sql_q4("rrf")} AS rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                AS BIGINT) AS rn
    FROM fused
    QUALIFY rn <= {TOP_N}
    """,
    bench=True,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    lexical top-100 and the cosine top-100 against the query
    embedding (vec_id 0), fused without score calibration.

    RRF needs only the two rank columns, so the fusion is a union of
    two already-bounded (≤100-row) lists grouped by doc_id — the
    rank each list gives a doc, NULL where the list lacks it, with no
    join at any corpus size; the expensive stages are the
    two rankers, each linear (BM25 above; cosine is one broadcast
    1-row query × corpus pass, same shape as ``sim_topk_exact``),
    and each takes its top-100 via TakeOrderedAndProject before any
    single-partition ranking window runs."""
    lex = _bm25_scores(spark, sf_dir, LIST_N).selectExpr(
        "doc_id", "rn AS lex_rn", "CAST(NULL AS BIGINT) AS vec_rn"
    )
    # same Catalyst trees as the r15 Column-object build (_dot64 /
    # _norm2 HOF folds), expressed as SQL strings — see the note on the
    # BM25 expression strings; hash parity at three SFs pins the
    # equivalence.
    norm2 = "aggregate({col}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    dot = (
        "aggregate(zip_with(qe, embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    e = table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == HYB_QID).selectExpr(
        "embedding AS qe", f"{norm2.format(col='embedding')} AS qn2"
    )
    wv = Window.orderBy(F.col("cos").desc(), "doc_id")
    vec = (
        e.crossJoin(F.broadcast(qv))
        .selectExpr(
            "vec_id AS doc_id",
            f"{dot} / sqrt(qn2 * {norm2.format(col='embedding')}) AS cos",
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(LIST_N)
        .withColumn("rn", F.row_number().over(wv).cast("long"))
        .selectExpr("doc_id", "CAST(NULL AS BIGINT) AS lex_rn", "rn AS vec_rn")
    )
    # each list holds a doc at most once, so max() per doc just picks
    # its rank from the list that has it (NULL where it is absent)
    fused = (
        lex.unionByName(vec)
        .groupBy("doc_id")
        .agg(F.expr("max(lex_rn) AS lex_rn"), F.expr("max(vec_rn) AS vec_rn"))
        .selectExpr(
            "doc_id",
            "lex_rn",
            "vec_rn",
            f"coalesce(1.0D / ({RRF_K} + lex_rn), 0.0D)"
            f" + coalesce(1.0D / ({RRF_K} + vec_rn), 0.0D) AS rrf",
        )
    )
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_N)
        .select("doc_id", "lex_rn", "vec_rn", q4(F.col("rrf")).alias("rrf"), "rn")
    )


# ------------------------------------------------- MMR diversification

MMR_QUERIES = 4  # query block: embeddings of vec_id 0..3
MMR_POOL = 30  # relevance pool depth fed into the re-ranker
MMR_K = 10  # diversified results returned per query
MMR_LAMBDA = 0.7  # relevance weight; 1-lambda penalizes redundancy


@register(
    "sim_mmr_diversify",
    notes="Maximal Marginal Relevance re-rank — the greedy argmax is "
    "inherently sequential per query (not SQL-expressible), so the "
    "driver records rows-only; tests/test_r7_wave_h.py re-derives the "
    "full selection with independent numpy and asserts exact ranks.",
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): after
    an exact cosine top-``MMR_POOL`` retrieval per query, greedily
    pick ``MMR_K`` results maximizing λ·relevance − (1−λ)·max-sim-to-
    already-picked — the standard diversification pass between
    retrieval and a RAG context window, killing near-duplicate hits
    that would waste prompt tokens.

    Scale shape: the candidate pool per query is BOUNDED (30 rows),
    so the sequential greedy loop runs inside ``applyInPandas`` per
    query group — thousands of queries diversify in parallel, each
    group doing a 30×30 numpy sim matrix and k=10 argmax sweeps;
    the unbounded part (scoring the corpus) stays relational
    (broadcast query block, partitioned top-k window). Ties break on
    candidate id, so the selection is fully deterministic."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < MMR_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.where(F.col("vec_id") >= MMR_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(
        F.col("qn2") * F.col("cn2")
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "cid")
    pool = (
        F.broadcast(q)
        .join(c)
        .select("qid", "cid", cos.alias("rel"), "ce")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )

    def _mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("cid").reset_index(drop=True)
        emb = np.array([np.asarray(v, dtype=np.float64) for v in pdf["ce"]])
        norms = np.sqrt((emb * emb).sum(axis=1))
        sims = (emb @ emb.T) / np.outer(norms, norms)
        rel = pdf["rel"].to_numpy()
        cids = pdf["cid"].to_numpy()
        picked: list[int] = []
        rows = []
        for rank in range(1, MMR_K + 1):
            best = -1
            best_score = None
            for i in range(len(cids)):
                if i in picked:
                    continue
                red = max(sims[i, j] for j in picked) if picked else 0.0
                score = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * red
                # strict > keeps the smallest cid on exact ties
                if best_score is None or score > best_score:
                    best, best_score = i, score
            picked.append(best)
            rows.append(
                (
                    int(pdf["qid"].iloc[0]),
                    rank,
                    int(cids[best]),
                    float(rel[best]),
                    float(best_score),
                )
            )
        return pd.DataFrame(
            rows, columns=["qid", "rank", "cid", "relevance", "mmr_score"]
        )

    out = pool.groupBy("qid").applyInPandas(
        _mmr,
        "qid long, rank long, cid long, relevance double, mmr_score double",
    )
    return out.select(
        "qid",
        "rank",
        "cid",
        q4(F.col("relevance")).alias("relevance"),
        q4(F.col("mmr_score")).alias("mmr_score"),
    )


# --------------------------------------- contrastive mining (r8 wave)

TRIPLET_NQ = 50  # anchor block (matches sim_topk_exact's query set)

_TM_DOT = (
    "list_aggregate([CAST(a.embedding[i] AS DOUBLE)"
    " * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)], 'sum')"
)


@register(
    "embed_triplet_mining",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS anchor, b.vec_id AS cid,
               (a.label = b.label) AS same,
               {_TM_DOT} /
               sqrt({_SQL_NORM2.format(col="a.embedding")}
                    * {_SQL_NORM2.format(col="b.embedding")}) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {TRIPLET_NQ}
    ), pos AS (
        SELECT anchor, cid AS pos_id, cos AS pos_cos FROM (
            SELECT anchor, cid, cos,
                   row_number() OVER (PARTITION BY anchor
                        ORDER BY cos DESC, cid) AS rn
            FROM scored WHERE same
        ) WHERE rn = 1
    ), sneg AS (
        SELECT anchor, cid AS sh_id, cos AS sh_cos FROM (
            SELECT s.anchor, s.cid, s.cos,
                   row_number() OVER (PARTITION BY s.anchor
                        ORDER BY s.cos DESC, s.cid) AS rn
            FROM scored s JOIN pos p ON p.anchor = s.anchor
            WHERE NOT s.same AND s.cos < p.pos_cos
        ) WHERE rn = 1
    ), hard AS (
        SELECT anchor, cid AS h_id, cos AS h_cos FROM (
            SELECT anchor, cid, cos,
                   row_number() OVER (PARTITION BY anchor
                        ORDER BY cos DESC, cid) AS rn
            FROM scored WHERE NOT same
        ) WHERE rn = 1
    )
    SELECT p.anchor, p.pos_id,
           {sql_q4("p.pos_cos")} AS pos_cos,
           coalesce(s.sh_id, h.h_id) AS neg_id,
           {sql_q4("coalesce(s.sh_cos, h.h_cos)")} AS neg_cos,
           {sql_q4("p.pos_cos - coalesce(s.sh_cos, h.h_cos)")} AS margin,
           (s.sh_id IS NOT NULL) AS semi_hard
    FROM pos p
    LEFT JOIN sneg s ON s.anchor = p.anchor
    LEFT JOIN hard h ON h.anchor = p.anchor
    """,
)
def embed_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard triplet mining over the embedding corpus (FaceNet's
    training-data selection rule, public): per anchor, the positive
    is the nearest same-label vector; the negative is the CLOSEST
    different-label vector still farther than the positive (semi-hard
    — informative but not label-noise), falling back to the hardest
    negative when nothing sits inside the margin band — the exact
    candidate-generation pass a contrastive-training pipeline runs
    over its corpus every epoch.

    Scale shape: the anchor block broadcasts against the corpus (at
    production scale: anchors are mini-batch-sized, or candidates
    come from the IVF/LSH bucket tiers instead of the full corpus);
    positive/semi-hard/hard selections are per-anchor bounded top-1
    windows over the same scored frame — one shuffle on anchor."""
    e = table(spark, sf_dir, "embeddings")
    a = e.where(F.col("vec_id") < TRIPLET_NQ).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("ae"),
        _norm2(F.col("embedding")).alias("an2"),
    )
    b = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("blabel"),
        F.col("embedding").alias("be"),
        _norm2(F.col("embedding")).alias("bn2"),
    )
    cos = _dot64(F.col("ae"), F.col("be")) / F.sqrt(F.col("an2") * F.col("bn2"))
    scored = reuse(
        F.broadcast(a)
        .join(b, F.col("anchor") != F.col("cid"))
        .select(
            "anchor",
            "cid",
            (F.col("alabel") == F.col("blabel")).alias("same"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.col("cos").desc(), "cid")
    pos = (
        scored.where(F.col("same"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("anchor", F.col("cid").alias("pos_id"), F.col("cos").alias("pos_cos"))
    )
    semi = (
        scored.where(~F.col("same"))
        .join(pos.select("anchor", "pos_cos"), "anchor")
        .where(F.col("cos") < F.col("pos_cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("anchor", F.col("cid").alias("sh_id"), F.col("cos").alias("sh_cos"))
    )
    hard = (
        scored.where(~F.col("same"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("anchor", F.col("cid").alias("h_id"), F.col("cos").alias("h_cos"))
    )
    return (
        pos.join(semi, "anchor", "left")
        .join(hard, "anchor", "left")
        .select(
            "anchor",
            "pos_id",
            q4(F.col("pos_cos")).alias("pos_cos"),
            F.coalesce("sh_id", "h_id").alias("neg_id"),
            q4(F.coalesce("sh_cos", "h_cos")).alias("neg_cos"),
            q4(F.col("pos_cos") - F.coalesce("sh_cos", "h_cos")).alias("margin"),
            F.col("sh_id").isNotNull().alias("semi_hard"),
        )
    )
