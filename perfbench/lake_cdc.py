"""lake_cdc: change-data-capture cycles on `orders` in three table formats.

The same `orders` table is held in the home lake (`pipelines`), Delta
(`sources/delta_log`) and Iceberg (`sources/iceberg`). One pass is one
cycle:

1. a seeded batch of 0.5 % of the keys gets `o_totalprice + 1.0`, applied
   through each format's upsert verb (`update_rows_cow`,
   `merge_into_delta_table`, `merge_into_iceberg_table`);
2. each format is read twice: a scan-aggregate over every column, and its
   change feed since the previous commit (`table_changes`,
   `read_delta_change_feed`, `read_iceberg_changes`);
3. each format's housekeeping returns it to the state every cycle starts
   from (`vacuum_versions`, `compact_delta_table`, an Iceberg overwrite of
   its resolved state).

The seed picks each batch and the order of formats within each step.
After every cycle, outside the timed region, each scan-aggregate must
equal the expected table and each change feed must hold exactly the
batch's before and after images.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import geomean

SF = 0.01
BATCH_FRACTION = 0.005
FORMATS = ("home", "delta", "iceberg")
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
KEY = "o_orderkey"
# Delta's feed names the two halves of an update by image
FEED_KIND = {"insert": "insert", "delete": "delete",
             "update_postimage": "insert", "update_preimage": "delete"}


def _dir_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _epoch_us(v) -> int:
    # collected timestamps are naive local datetimes; .timestamp() reads
    # them back in the same local zone
    return int(round(v.timestamp() * 1e6))


def canon_row(values) -> tuple:
    """(key, cust, status, price, date as epoch µs, priority)."""
    k, c, s, p, d, pr = values
    return (int(k), int(c), s, float(p), _epoch_us(d) if not
            isinstance(d, (int, np.integer)) else int(d), pr)


def expected_scan(table: dict, hashes: dict) -> dict:
    """status -> (row count, sum of row hashes) over the expected table."""
    out: dict = {}
    for key, row in table.items():
        n, h = out.get(row[2], (0, 0))
        out[row[2]] = (n + 1, h + hashes[key])
    return out


def check_scan(rows, table: dict, hashes: dict) -> bool:
    got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
    return got == expected_scan(table, hashes)


def check_feed(rows, before: list[tuple], after: list[tuple]) -> bool:
    """The feed holds exactly the batch's delete and insert images."""
    got = sorted((FEED_KIND.get(r["_change_type"], r["_change_type"]),
                  canon_row([r[c] for c in COLS])) for r in rows)
    want = sorted([("delete", r) for r in before]
                  + [("insert", r) for r in after])
    return got == want


class LakeCdc:
    name = "lake_cdc"
    LAYER_METRICS = {
        **{f"{f}.bytes_per_commit": "bytes" for f in FORMATS},
        **{f"{f}.files_per_commit": "count" for f in FORMATS},
        **{f"lake.write_amp.{f}": "ratio" for f in FORMATS},
    }

    def __init__(self, spark, root: str, rng: np.random.Generator, h):
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.root = root
        self.rng = rng
        self.h = h
        self.n_prepared = 0

    # set-up -------------------------------------------------------------

    def generate(self) -> None:
        """Generate `orders` into a fresh directory; the last generation
        is the one the tables are built from."""
        self.data = f"{self.root}/data{self.n_prepared}"
        self.n_prepared += 1
        os.makedirs(self.data)
        pq.write_table(datagen.build_tables(SF)["orders"],
                       f"{self.data}/orders.parquet")

    def build(self) -> None:
        """Build the three tables from the generated `orders`."""
        from novelti_dingo_spark import pipelines
        from novelti_dingo_spark.sources import delta_log, iceberg
        from novelti_dingo_spark.sources.io import load_table

        self.paths = {f: f"{self.root}/lake/{f}" for f in FORMATS}
        orders = load_table(self.spark, self.data, "orders").select(*COLS)
        self.schema = orders.schema
        self.version = {
            "home": pipelines.publish_versioned(orders, self.paths["home"]),
            "delta": delta_log.write_delta_table(
                orders, self.paths["delta"], enable_change_feed=True),
            "iceberg": iceberg.write_iceberg_table(
                orders, self.paths["iceberg"]),
        }

    def check_prep(self) -> None:
        """Expected table and per-row hashes, computed once, outside the
        timed region; each cycle then updates them for its batch."""
        from novelti_dingo_spark.sources.io import load_table

        tbl = pq.read_table(f"{self.data}/orders.parquet").select(COLS)
        cols = tbl.to_pydict()
        dates = tbl.column("o_orderdate").cast(pa.int64()).to_pylist()
        self.table = {}
        for i, key in enumerate(cols[KEY]):
            row = [cols[c][i] for c in COLS]
            row[4] = dates[i]
            self.table[key] = canon_row(row)
        self.keys = np.array(sorted(self.table), dtype=np.int64)
        self.n_batch = max(1, int(len(self.keys) * BATCH_FRACTION))
        self.hashes = self._row_hashes(
            load_table(self.spark, self.data, "orders"))

    def _row_hashes(self, df) -> dict:
        F = self.F
        return {int(r[0]): int(r[1]) for r in df.select(
            KEY, F.xxhash64(*COLS)).collect()}

    # one cycle ----------------------------------------------------------

    def _scan_agg(self, df):
        F = self.F
        return (df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)),
                     F.sum(F.xxhash64(*COLS).cast("decimal(20,0)"))))

    def _read(self, name: str, open_df, shape=None):
        """Open a read (log replay or manifest walk), plan it, run it."""
        h = self.h
        with h.step(f"{name.split('.')[0]}.open"):
            df = open_df()
        if shape is not None:
            df = shape(df)
        h.tracer.plan(df)
        with h.step("spark.execute"):
            return df.collect()

    def run_pass(self) -> None:
        from novelti_dingo_spark import pipelines
        from novelti_dingo_spark.sources import delta_log, iceberg

        F, h, spark, p = self.F, self.h, self.spark, self.paths
        keys = sorted(int(k) for k in self.rng.choice(
            self.keys, self.n_batch, replace=False))
        before = [self.table[k] for k in keys]
        after = [r[:3] + (r[3] + 1.0,) + r[4:] for r in before]
        batch = pa.table({c: [r[i] for r in after]
                          for i, c in enumerate(COLS)})
        batch = batch.set_column(4, "o_orderdate", pa.array(
            [r[4] for r in after], pa.int64()).cast(pa.timestamp("us")))
        source = spark.createDataFrame(batch.to_pandas(), schema=self.schema)
        new_hashes = self._row_hashes(source)
        prev = dict(self.version)

        merges = {
            "home": lambda: pipelines.update_rows_cow(
                spark, p["home"], KEY, keys,
                {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)})[0],
            "delta": lambda: delta_log.merge_into_delta_table(
                spark, p["delta"], source, on=[KEY]),
            "iceberg": lambda: iceberg.merge_into_iceberg_table(
                spark, p["iceberg"], source, on=[KEY]),
        }
        for fmt in self.rng.permutation(FORMATS):
            size0, files0 = _dir_stats(p[fmt])
            _, self.version[fmt] = h.timed(f"{fmt}.merge", merges[fmt])
            if h.tracer.enabled:
                size1, files1 = _dir_stats(p[fmt])
                h.tracer.add(f"{fmt}.commit_bytes", size1 - size0)
                h.tracer.add(f"{fmt}.commit_files", files1 - files0)
                h.tracer.add(f"{fmt}.commits", 1)
                h.tracer.add(f"{fmt}.batch_bytes", batch.nbytes)
        for k, r in zip(keys, after):
            self.table[k] = r
        self.hashes.update(new_hashes)

        v = self.version
        scans = {
            "home": lambda: pipelines.read_version(spark, p["home"])[0],
            "delta": lambda: delta_log.read_delta_table(spark, p["delta"]),
            "iceberg": lambda: iceberg.read_iceberg_table(
                spark, p["iceberg"]),
        }
        feeds = {
            "home": lambda: pipelines.table_changes(
                spark, p["home"], prev["home"], v["home"]),
            "delta": lambda: delta_log.read_delta_change_feed(
                spark, p["delta"], v["delta"], v["delta"]),
            "iceberg": lambda: iceberg.read_iceberg_changes(
                spark, p["iceberg"], prev["iceberg"], v["iceberg"]),
        }
        reads = [(f, kind) for f in FORMATS for kind in ("scan", "feed")]
        for i in self.rng.permutation(len(reads)):
            fmt, kind = reads[i]
            name = f"{fmt}.{kind}"
            if kind == "scan":
                op_id, rows = h.timed(name, lambda: self._read(
                    name, scans[fmt], self._scan_agg))
                h.check(op_id, check_scan(rows, self.table, self.hashes),
                        f"{name}: table differs from the expected table")
            else:
                op_id, rows = h.timed(name, lambda: self._read(
                    name, feeds[fmt]))
                h.check(op_id, check_feed(rows, before, after),
                        f"{name}: feed differs from the batch images")

        housekeeping = {
            "home.vacuum": lambda: pipelines.vacuum_versions(
                spark, p["home"], keep_last=2),
            "delta.compact": lambda: delta_log.compact_delta_table(
                spark, p["delta"]),
            "iceberg.rewrite": lambda: iceberg.write_iceberg_table(
                iceberg.read_iceberg_table(spark, p["iceberg"]),
                p["iceberg"], mode="overwrite"),
        }
        for name in self.rng.permutation(sorted(housekeeping)):
            _, out = h.timed(name, housekeeping[name])
            if name == "delta.compact":
                self.version["delta"] = out
            elif name == "iceberg.rewrite":
                self.version["iceberg"] = out

    # results ------------------------------------------------------------

    def summary(self) -> dict:
        """Write and read latencies scored apart (reported beside the
        end-to-end metrics, in the summary line and the trace file)."""
        h = self.h
        writes = [h.op_median_ms(f"{f}.merge") for f in FORMATS]
        reads = [h.op_median_ms(f"{f}.{k}") for f in FORMATS
                 for k in ("scan", "feed")]
        return {"write_geomean_ms": geomean(writes),
                "read_geomean_ms": geomean(reads)}

    def per_layer(self, tracer) -> dict:
        """Bytes and files each merge commits, and write amplification:
        committed bytes over the batch's in-memory Arrow size."""
        counters = tracer.counters
        out = {}
        for f in FORMATS:
            commits = counters.get(f"{f}.commits", 0) or 1
            out[f"{f}.bytes_per_commit"] = counters.get(
                f"{f}.commit_bytes", 0) / commits
            out[f"{f}.files_per_commit"] = counters.get(
                f"{f}.commit_files", 0) / commits
            batch = counters.get(f"{f}.batch_bytes", 0) / commits
            out[f"lake.write_amp.{f}"] = (
                out[f"{f}.bytes_per_commit"] / batch if batch else 0.0)
        return out
