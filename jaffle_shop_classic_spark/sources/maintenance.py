"""Table maintenance — the OPTIMIZE/compaction half of the lakehouse
story (SCALING.md: Z-order computes the layout KEY; this module applies
a layout to files).

Small-file proliferation is the classic long-running-pipeline failure:
every incremental batch, streaming trigger, or over-parallel write adds
files, and a year later the table is a million 2 MB parquet files whose
footer/open overhead dominates every scan. Compaction rewrites the data
into few large files — optionally range-clustered + sorted on chosen
columns so each output file carries a tight min/max envelope and
predicate pushdown can skip whole files (the OPTIMIZE ZORDER effect
when the sort key is a Morton key).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from .warehouse import write_relation

TARGET_FILE_BYTES = 128 * 1024 * 1024  # the canonical HDFS/parquet target


def _data_files(path: str) -> list[str]:
    """All parquet data files under ``path``, RECURSIVELY — a
    hive-partitioned table keeps its files in key=value subdirectories,
    and a top-level-only listing would report 0 input bytes (collapsing
    the byte-derived target to one giant file)."""
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def compact_table(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_files: int | None = None,
    cluster_cols: tuple[str, ...] = (),
) -> dict:
    """Rewrite `in_path` into `target_files` parquet files at
    `out_path`; returns a stats dict. With `cluster_cols`, rows are
    range-partitioned AND sorted on those columns, giving every output
    file a disjoint min/max envelope on the leading column (file
    skipping). Without them, a plain repartition balances bytes.

    target_files defaults to input_bytes / 128 MB (min 1) — at 100 TB
    that is the whole point: the count derives from data volume, not
    from whatever parallelism the writer happened to have.
    """
    before = _data_files(in_path)
    df = spark.read.parquet(in_path)
    if target_files is None:
        in_bytes = sum(os.path.getsize(f) for f in before)
        target_files = max(1, math.ceil(in_bytes / TARGET_FILE_BYTES))
    if cluster_cols:
        out = df.repartitionByRange(target_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        out = df.repartition(target_files)
    rows = write_relation(out, out_path)  # counted on the write itself
    after = _data_files(out_path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "rows": rows,
    }
