"""Spark-side kernels shared by the three table formats — the home lake
(`pipelines`), Delta (`delta_log`) and Iceberg (`iceberg`).

Each format keeps its own metadata codec (log replay, Avro manifests,
deletion-vector decode, home-lake manifests) and resolves a snapshot to
data files plus delete relations; what happens to those on the Spark
side is decided here, once:

- `row_address` — the physical (file basename, row ordinal) address
  that position deletes and deletion vectors name;
- `apply_deletes` — the one join that subtracts a delete relation
  (`left_anti`) or selects the rows it names (`left_semi`), with the
  broadcast-vs-shuffle size guard;
- `multiset_diff` — the exact change set between two snapshots.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Delete relations at or under this many rows are broadcast to the join;
# above it the hint is dropped and the join shuffles, so a table carrying
# millions of deletes cannot OOM every executor on a giant broadcast.
# ~5M (file, pos) or key tuples is tens of MB serialized.
DELETE_BROADCAST_MAX_ROWS = 5_000_000


def row_address(df: DataFrame) -> DataFrame:
    """`df` plus `_file_base` (the data file's basename) and `_pos` (the
    row's ordinal in that file, which is Iceberg's position-delete `pos`
    and Delta's deletion-vector ordinal). `df` must still be a direct
    parquet scan: `_metadata` does not survive unions or projections."""
    return df.select(
        "*",
        F.substring_index(F.col("_metadata.file_path"), "/", -1).alias(
            "_file_base"
        ),
        F.col("_metadata.row_index").alias("_pos"),
    )


def apply_deletes(
    df: DataFrame,
    deletes: DataFrame,
    cond: Column | list[str],
    n_rows: int,
    how: str = "left_anti",
) -> DataFrame:
    """Join `df` to a delete relation of `n_rows` rows on `cond`:
    `left_anti` keeps the surviving rows, `left_semi` the deleted ones.
    The relation is broadcast while `n_rows` is within
    DELETE_BROADCAST_MAX_ROWS; past it Catalyst picks the strategy from
    the relation's size statistics. `n_rows` comes from metadata the
    format already holds, so the decision costs no Spark job."""
    if n_rows <= DELETE_BROADCAST_MAX_ROWS:
        deletes = F.broadcast(deletes)
    return df.join(deletes, cond, how)


def _fresh_name(base: str, cols: list[str]) -> str:
    """`base` prefixed with underscores until no column of `cols` has
    that name (compared case-insensitively, as Spark resolves them)."""
    taken = {c.lower() for c in cols}
    while base.lower() in taken:
        base = "_" + base
    return base


def multiset_diff(
    before: DataFrame, after: DataFrame, cols: list[str]
) -> DataFrame:
    """The rows of `after` not in `before` tagged `_change_type`
    'insert', and those of `before` not in `after` tagged 'delete', as
    multisets over `cols` — the result of `after.exceptAll(before)` and
    `before.exceptAll(after)` — with each side scanned once: union the
    rows weighted +1 / -1, sum the weights per distinct row (NULLs
    group as equal, as exceptAll compares them) and replicate each row
    |sum| times."""
    w = _fresh_name("_w", cols)
    d = _fresh_name("_d", cols)
    delta = (
        after.select(*cols, F.lit(1).alias(w))
        .unionAll(before.select(*cols, F.lit(-1).alias(w)))
        .groupBy(*cols)
        .agg(F.sum(w).alias(d))
        .filter(F.col(d) != 0)
    )
    # the sum is a long; under ANSI mode (Spark 4's default, which the
    # session keeps) the int cast raises rather than wraps if one row's
    # multiplicity change exceeds 2^31 - 1
    return delta.select(
        *cols,
        F.explode(
            F.when(
                F.col(d) > 0,
                F.array_repeat(F.lit("insert"), F.col(d).cast("int")),
            ).otherwise(
                F.array_repeat(F.lit("delete"), (-F.col(d)).cast("int"))
            )
        ).alias("_change_type"),
    )
