"""Build-time Spark jobs, pinned per key.

A flagship build fires no Spark job, nor do sim_auto's,
events_hmm_viterbi's and those of the twelve two-sample tests that
read ``stats._two_sample_ecdf``.  Building a key only constructs a
plan: table schemas come from parquet footers read on the driver
(``catalog.footer_schema``) and every strategy choice comes from
metadata (sim_auto's candidate count is the footer's row count,
``catalog.footer_row_count``), so all jobs run at collect.

The iterative keys do run jobs at build: each loop round is one eager
``utils.checkpoint_round``, whose job also fills the round's
convergence numbers.  Their counts are pinned by an upper bound that
may only go down.

Each key is built under its own job group, and the status tracker
(live with the UI off) reports the jobs of each group.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cnc_spark.registry import load_all, release_caches
from etl_cnc_spark.utils import checkpoint_round

REGISTRY = load_all()
FLAGSHIP = [k for k, q in REGISTRY.items() if q.bench]
TWO_SAMPLE_ECDF = [
    "stat_ks_test",
    "stat_mann_whitney",
    "stat_wasserstein_1d",
    "stat_cvm_test",
    "stat_anderson_darling",
    "stat_qq_table",
    "stat_energy_distance",
    "stat_cliffs_delta",
    "stat_ansari_bradley",
    "stat_kuiper_test",
    "stat_cucconi",
    "stat_watson_u2",
]
KEYS = FLAGSHIP + ["sim_auto", "events_hmm_viterbi"] + [
    k for k in TWO_SAMPLE_ECDF if k not in FLAGSHIP
]
# build jobs at sf0.001: one checkpoint_round per loop round (the
# three min_label_components callers pay one observed edge checkpoint)
MAX_BUILD_JOBS = {
    "graph_hierarchy_walk": 12,
    "graph_hierarchy_rollup": 21,
    "dedup_cluster": 2,
    "events_grid_cluster": 4,
    "graph_copurchase_components": 4,
}


def _build_jobs(jobs_in, spark, sf_dir, keys, tag: str) -> dict[str, int]:
    """Jobs each key's build fired, one job group per key."""
    fired = {}
    try:
        for key in keys:
            # resolve every table afresh, so a schema-inference job
            # cannot hide behind a handle an earlier test memoized
            spark.__dict__.pop("_etlcnc_tables", None)
            _, fired[key] = jobs_in(
                f"{tag}:{key}", lambda: REGISTRY[key].build(spark, sf_dir)
            )
    finally:
        release_caches(spark)
    return fired


def test_flagship_builds_fire_no_job(spark, sf_dir, jobs_in):
    assert len(FLAGSHIP) == 15, FLAGSHIP
    fired = _build_jobs(jobs_in, spark, sf_dir, KEYS, "build-jobs-pin")
    assert not {k: v for k, v in fired.items() if v}, fired


def test_iterative_build_jobs_bounded(spark, sf_dir, jobs_in):
    fired = _build_jobs(
        jobs_in, spark, sf_dir, list(MAX_BUILD_JOBS), "build-jobs-bound"
    )
    over = {k: v for k, v in fired.items() if v > MAX_BUILD_JOBS[k]}
    assert not over, (over, MAX_BUILD_JOBS)


def test_checkpoint_round_observes_in_the_checkpoint_job(spark, jobs_in):
    """A local round (0) and a reliable round (2): the observed metrics
    equal count()/sum() of the returned frame, the round fires no job
    beyond a bare checkpoint's own, and the reliable round sets a
    checkpoint dir when the session has none."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    saved = jsc.checkpointDir()

    def frame(k: int):
        return spark.range(100 + k).groupBy((F.col("id") % 7).alias("g")).agg(
            F.sum("id").alias("s")
        )

    try:
        for rnd, bare in ((0, "localCheckpoint"), (2, "checkpoint")):
            # no checkpoint dir: the reliable round must set its own
            getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
            (out, m), jobs = jobs_in(
                f"ckpt-round:{rnd}",
                lambda: checkpoint_round(
                    frame(rnd), rnd, n=F.count(F.lit(1)), total=F.sum("s")
                ),
            )
            if rnd == 2:
                assert sc.getCheckpointDir() is not None
            _, bare_jobs = jobs_in(
                f"ckpt-bare:{rnd}",
                lambda: getattr(frame(rnd + 10), bare)(eager=True),
            )
            assert jobs == bare_jobs, (rnd, jobs, bare_jobs)
            assert m["n"] == out.count() == 7
            assert m["total"] == out.agg(F.sum("s")).first()[0]
    finally:
        getattr(jsc, "checkpointDir_$eq")(saved)
