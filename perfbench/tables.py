"""Read the parquet tables the program wrote, for the correctness checks.

Spark's partition directories (``_bucket=3``) start with ``_``, which
pyarrow's dataset discovery skips, so the files are listed here.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names
                if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return sorted(out)


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """Every row of every data file under ``path`` (partition columns,
    which live in directory names, are not included)."""
    rows: list[dict] = []
    for f in parquet_files(path):
        rows += pq.read_table(f, columns=columns).to_pylist()
    return rows
