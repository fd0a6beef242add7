"""Workloads of the benchmark: which registry keys run, on which dataset.

Workload contents are fixed here, not read from the registry's
``bench`` flags, so a program change cannot silently change what the
benchmark measures.  The seed only permutes key order inside a pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The 15 flagship keys (``bench=True`` in the registry).
FLAGSHIP = (
    "agg_groupby",
    "dedup_minhash_relational",
    "dedup_substring_spans",
    "events_rfm",
    "join_multiway",
    "ml_survival_cindex",
    "multimodal_energy_segments",
    "sim_hybrid_rrf",
    "sim_topk_exact",
    "stat_wasserstein_1d",
    "stream_tumbling",
    "text_near_dup_cluster",
    "text_stats",
    "topk_per_group",
    "tpch_q21",
)

# The write side: eager writes and commit protocols, readers of
# non-parquet formats, dynamic partition pruning over written
# partitions, and micro-batch streaming.  Cut to fit the timed-run
# budget: scan_parquet (its 600k-row result costs ~12 s per execution
# to check), stream_stateful and sink_stream (the two slowest streams;
# stream_foreach_batch keeps micro-batches covered).  sink_python_ds is
# in KNOWN_FAILING below.
ETL_IO = (
    "sink_parquet",
    "sink_csv_json",
    "sink_partition_overwrite",
    "scan_parquet_pruned",
    "source_csv",
    "source_orc",
    "join_dynamic_partition_pruning",
    "lakehouse_manifest_snapshot",
    "stream_foreach_batch",
)


@dataclass(frozen=True)
class Dataset:
    name: str
    path: str
    rows: dict[str, int]
    generated: bool = False  # built by ``fixtures.ensure``, not vendored


_DIMS = {"region": 5, "nation": 25}


def _scaled(sf_rows: int) -> dict[str, int]:
    return {
        **_DIMS,
        "customer": 150 * sf_rows,
        "supplier": 10 * sf_rows,
        "part": 200 * sf_rows,
        "orders": 1500 * sf_rows,
        "lineitem": 6000 * sf_rows,
        "events": 1000 * sf_rows,
    }


DATASETS = {
    "sf0.001": Dataset(
        "sf0.001",
        os.path.join(HERE, "data", "sf0.001"),
        {**_scaled(1), "documents": 500, "embeddings": 500},
    ),
    "sf0.1": Dataset(
        "sf0.1",
        os.path.join(HERE, "data", "sf0.1"),
        {**_scaled(100), "documents": 5000, "embeddings": 2000},
    ),
    # ten key-shifted replicas of sf0.1 (tools/scale_probe.generate)
    "sf1": Dataset(
        "sf1",
        os.path.join(WORK, "sf1"),
        {**_scaled(1000), "documents": 50000, "embeddings": 20000},
        generated=True,
    ),
}


@dataclass(frozen=True)
class Workload:
    name: str
    dataset: str
    keys: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "flagship_sf0.1",
            "sf0.1",
            FLAGSHIP,
            "overhead-bound regime: build, planning and stage scheduling dominate",
        ),
        Workload(
            "etl_io_sf0.1",
            "sf0.1",
            ETL_IO,
            "write side: eager writes, commit protocols and micro-batches at build time",
        ),
        # Not listed in BENCHMARK.json (the timed-run budget holds two
        # workloads); run by hand with the same command.
        Workload(
            "flagship_sf1",
            "sf1",
            FLAGSHIP,
            "same build work on 10x data: execution, shuffle and scan dominate",
        ),
    )
}

# Every key of the timed workloads; each has per-key metrics
# (``<key>.s``, ``<key>.stages``).
KEYS = FLAGSHIP + ETL_IO

# Write-side keys that give a wrong result when rebuilt in one process,
# kept out of the timed workloads because a timed run may not fail.
# sink_python_ds appends to its output on every rebuild, so from its
# second execution on it returns each row twice or more ("row count 10
# vs oracle 5").  The self-test runs these keys and prints their
# failures; once one passes there, it belongs back in ETL_IO.
KNOWN_FAILING = ("sink_python_ds",)

# Self-test: tiny traced passes over every key of both timed workloads
# and the known-failing keys.
SELFTEST = Workload("selftest_sf0.001", "sf0.001", KEYS + KNOWN_FAILING, "parser self-test")


def key_of(metric: str) -> str | None:
    """The key a per-key metric belongs to: ``tpch_q21.s`` -> ``tpch_q21``."""
    key, _, what = metric.rpartition(".")
    return key if what in ("s", "stages") and key in KEYS else None


def family(module: str) -> str:
    """Module family of a build function: ``etl_cnc_spark.llm.dedup`` -> ``llm``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 2 else "other"
