"""Result digests for the per-execution oracle check.

Both sides go through the program's own ``etl_cnc_spark.oracle.canonical_rows``
(columns sorted by name, cells canonicalized, rows sorted), so a digest
match means exactly what a ``python -m etl_cnc_spark.check`` pass means.
"""

from __future__ import annotations

import hashlib


def digest_frame(pdf) -> dict:
    from etl_cnc_spark.oracle import canonical_rows

    rows = canonical_rows(pdf)
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"columns": sorted(map(str, pdf.columns)), "rows": len(rows), "sha256": h.hexdigest()}


def digest_rows(rows: list, columns: list[str]) -> dict:
    """Digest of collected ``Row`` objects, converted the way ``toPandas`` lays them out."""
    import pandas as pd

    return digest_frame(pd.DataFrame.from_records(rows, columns=columns))


def mismatch(got: dict, expected: dict) -> str | None:
    """Why ``got`` differs from the oracle digest, or None when it matches."""
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} vs oracle {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"row count {got['rows']} vs oracle {expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return f"values differ from oracle in some of {got['rows']} rows"
    return None
