"""Persistent catalog (metastore) management — the durable sibling of the
per-session temp views in `io.register_views`.

Three table shapes, each mapped to the scale problem it solves:

- **external parquet tables**: `CREATE TABLE ... USING parquet LOCATION` —
  the catalog points at data in place (an object-store prefix at 100 TB);
  dropping the table never deletes data, and every session sees the same
  name without re-registering views.
- **bucketed managed tables**: `bucketBy(n, key).sortBy(key)` — both sides
  of a recurring big-big join pre-hashed into the same bucket layout join
  with ZERO Exchange (the dominant shuffle at 100 TB is paid once at
  write time, then amortized over every downstream join/agg on that key).
- **partitioned managed tables**: `partitionBy(col)` — low-cardinality
  date/region partitions give partition PRUNING (PartitionFilters in the
  scan): a predicate on the partition column skips whole directories
  before any I/O.

Local note: the warehouse lives at `spark.sql.warehouse.dir`
(/tmp/ndspark-warehouse) with the default in-memory catalog per JVM; on a
cluster the same calls target a Hive metastore / Unity-style catalog —
the API below is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import schemas


def create_external_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> list[str]:
    """Register the test tables as *external* parquet tables in the
    catalog (idempotent, data stays in place). Unlike temp views these
    survive `spark.catalog.dropTempView` and are visible to plain SQL in
    any downstream session sharing the metastore.

    Schemas are PINNED from `schemas.TABLES` rather than inferred — the
    same drift protection as the path reads. `ext_events` pins the µs
    TimestampType schema (the current testdata encoding); for
    TIMESTAMP(NANOS) files use the encoding-sniffing path reader
    (`io.load_table`) — a catalog table can't carry the read-time
    conversion those files need."""
    out = []
    for name in tables or list(schemas.TABLES):
        path = f"{sf_dir}/{name}.parquet"
        spark.sql(f"DROP TABLE IF EXISTS ext_{name}")
        schema = schemas.TABLES.get(name)
        if schema is not None:
            spark.catalog.createTable(
                f"ext_{name}", path=path, source="parquet", schema=schema
            )
        else:
            spark.sql(f"CREATE TABLE ext_{name} USING parquet LOCATION '{path}'")
        out.append(f"ext_{name}")
    return out


def save_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write `df` as a bucketed (and bucket-sorted) managed table.

    Joins and aggregations keyed on `key` between tables bucketed with the
    SAME bucket count read co-located buckets and skip the Exchange
    entirely; `sortBy` additionally removes the Sort under a SortMergeJoin.
    Pick `n_buckets` so one bucket of the larger table fits an executor
    core's working set (at 100 TB: thousands, not 16)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(*(sort_cols or [key]))
        .saveAsTable(name)
    )


def save_partitioned(
    df: DataFrame,
    name: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write `df` as a partitioned managed table (directory per partition
    value). Only for low-cardinality columns — a high-cardinality
    partition key is the classic small-files failure at scale."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df.write.mode(mode).partitionBy(*partition_cols).saveAsTable(name)

