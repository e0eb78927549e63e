"""Wide-column structural operators on Catalyst: latest-version filter and
composite-key split/compose.

The read path does these steps in the Arrow scan kernel
(sources/datasource.py::_pivot_partition); the operators here serve the
DataFrames that are not a scan: ``latest_cells`` keeps the newest versions
when compaction rewrites a store (sources/cells.py), and
``split_row_key`` / ``compose_row_key`` map between a relational key and
its joined row key (reference src/execute_plan.rs:226-251,
composer.rs:141).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_cells(cells: DataFrame, versions: int = 1) -> DataFrame:
    """Keep the newest ``versions`` cells per (row_key, qualifier) —
    Bigtable's ``CellsPerColumnLimitFilter`` (reference
    src/datasource/composer.rs:257-261).

    Note the reference semantics: the limit applies per *column*, so when
    qualifiers were written at different timestamps the subsequent pivot
    still emits one row per distinct (row_key, ts) — we mirror that.
    """
    w = Window.partitionBy("row_key", "qualifier").orderBy(F.desc("ts"))
    return (
        cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= versions)
        .drop("_rn")
    )


def split_row_key(
    df: DataFrame,
    partition_cols: Sequence[str],
    separator: str = "#",
    key_col: str = "row_key",
) -> DataFrame:
    """Composite row key → one string column per component (reference
    src/execute_plan.rs:226-251; single-component keys skip the split)."""
    if len(partition_cols) == 1:
        return df.withColumn(partition_cols[0], F.col(key_col))
    # -1 limit: trailing empty components are preserved, like Rust's split.
    parts = F.split(F.col(key_col), _re_escape(separator), -1)
    for i, name in enumerate(partition_cols):
        df = df.withColumn(name, parts.getItem(i))
    return df


def compose_row_key(cols: Sequence[Column | str], separator: str = "#") -> Column:
    """Components → composite key (reference composer.rs:141 ``parts.join``)."""
    norm = [F.col(c) if isinstance(c, str) else c for c in cols]
    if len(norm) == 1:
        return norm[0].cast("string")
    return F.concat_ws(separator, *[c.cast("string") for c in norm])


def _re_escape(sep: str) -> str:
    """F.split takes a Java regex; escape the separator literally."""
    import re

    return re.escape(sep)
