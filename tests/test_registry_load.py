"""Loading the registry imports no pandas or pyarrow (~0.45 s): the
keys that use them import them inside their builds.  A SparkContext
still imports both while it starts (pyspark's py4j numpy converter
loads ``pyspark.testing.utils``), so the saving is the registry's own
load time, not a session's."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_load_all_imports_no_pandas_or_pyarrow():
    code = (
        "import sys\n"
        "from etl_cnc_spark.registry import load_all\n"
        "assert len(load_all()) > 0\n"
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == "[]", out
