"""Table statistics from parquet footers — no Spark job, no data read.

Queries that need a bound on a key column (e.g. the bucketed prefix
sum behind sequence packing, `operators/packing.py`) should NOT pay a
full-table `agg(max(...))` pass just to learn a number the storage
layer already knows: parquet row-group footers carry per-column
min/max, and on an Iceberg-backed catalog the same bounds live in the
manifest files (`lower_bounds`/`upper_bounds` per data file) — this
module is the file-layout twin of that manifest lookup. Reading the
footers of a table's files is O(files) metadata IO on the driver, not
a cluster scan; at 100 TB the Iceberg manifest path answers in one
metadata-JSON read.

The bound feeds bucket WIDTH only (`ordinal.bucketed_prefix_sum`
clamps bucket ids), so a stale-but-close value degrades balance, never
correctness.
"""

from __future__ import annotations

import glob
import os


def _parquet_files(path: str) -> list[str]:
    """A parquet 'table path' is either a single file or a directory of
    part files (Spark's writer layout)."""
    if os.path.isfile(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return files


def parquet_column_max(path: str, col: str) -> int | float | None:
    """Max of ``col`` across all row groups of all files, from footer
    statistics. Returns None when the table is empty or no row group
    recorded min/max for the column (writers may omit stats)."""
    import pyarrow.parquet as pq

    best = None
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema != col:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                if best is None or st.max > best:
                    best = st.max
    return best


def key_bound(path: str, col: str) -> float:
    """Exclusive upper bound for a non-negative key column, suitable as
    the ``bound`` argument of the bucketed ordinal/prefix-sum family.
    Falls back to 1 (single bucket, still correct) on an empty table or
    stats-less files."""
    mx = parquet_column_max(path, col)
    if mx is None:
        return 1.0
    return float(mx) + 1.0
