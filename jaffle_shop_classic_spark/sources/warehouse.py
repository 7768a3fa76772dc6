"""Warehouse relations: one parquet directory per seed or table model.

A directory holds a complete relation once Spark's output committer
has written its ``_SUCCESS`` marker, and the marker's mtime is when the
relation was stored. A verb that only reads relations (`test`, `docs`,
and `run` for the seeds) uses the stored copy while it is no older than
the files it was built from, as dbt's verbs act on what is already in
the warehouse; otherwise the caller rebuilds it.

Readers pass the schema a relation was written with
(``spark.read.schema(...)``): no schema-inference job opens a parquet
footer, and file sources read every column as nullable either way.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def success_marker(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


def is_fresh(path: str, inputs: Iterable[str]) -> bool:
    """True when ``path`` holds a complete stored relation that is no
    older than every file in ``inputs``. A missing marker or input file
    is never fresh: the caller cannot tell, so it rebuilds."""
    try:
        stored = os.path.getmtime(success_marker(path))
        return all(os.path.getmtime(p) <= stored for p in inputs)
    except OSError:
        return False


def write_relation(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the number
    of rows written, counted by an Observation on the write itself (no
    second job scans the fresh output)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
    return obs.get["rows"]

