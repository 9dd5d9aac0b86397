"""corpus_batch: long batch jobs over the document and embedding corpus.

One op is `spec.fn(spark, data)` followed by collecting its result, so
the driver-side training loops inside the build count. The results are
small (10 and 26 rows), so collecting them costs what the noop-sink write
of `opt_sweep --e2e` costs, and the collected rows feed the output check
without a second execution. The
ops are a residual IVF-PQ index build and query
(`ivf_pq_residual_knn_top10`: k-means and PQ codebook training loops)
and PPJoin near-duplicate detection
(`jaccard_pairs_prefix_filter`). The seed picks the op order within each
pass.

Outputs are checked outside the timed region: PPJoin against its DuckDB
oracle, and the ANN query against exact top-10 neighbours computed with
NumPy.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

import datagen

SF = 0.01
IVF, PPJOIN = "ivf_pq_residual_knn_top10", "jaccard_pairs_prefix_filter"
OPS = (IVF, PPJOIN)
# recall@10 of the IVF-PQ query against exact neighbours, as measured on
# the generated corpus when this benchmark was written; a faster index
# must not find fewer true neighbours
IVF_MIN_RECALL = 0.5


def exact_top10(emb_path: str) -> set[int]:
    """Exact top-10 neighbours of vector 0 by cosine, itself excluded."""
    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)
                    ).astype(np.float64)
    sims = vecs @ vecs[ids == 0][0]
    order = sorted((i for i in range(len(ids)) if ids[i] != 0),
                   key=lambda i: (-sims[i], ids[i]))
    return {int(ids[i]) for i in order[:10]}


def check_ivf(rows, exact: set[int]) -> bool:
    """Ten distinct neighbours, query excluded, scores descending, and
    recall@10 against the exact neighbours above the floor."""
    ids = [int(r["vec_id"]) for r in rows]
    sims = [r["pq_sim"] for r in rows]
    return (len(ids) == 10 and len(set(ids)) == 10 and 0 not in ids
            and sims == sorted(sims, reverse=True)
            and len(set(ids) & exact) / 10 >= IVF_MIN_RECALL)


class CorpusBatch:
    name = "corpus_batch"
    LAYER_METRICS = {**{f"{n}.jobs": "count" for n in OPS},
                     "ppjoin.pairs_per_candidate": "ratio"}

    def __init__(self, spark, root: str, rng: np.random.Generator, h):
        from novelti_dingo_spark import registry

        self.spark = spark
        self.root = root
        self.rng = rng
        self.h = h
        self.specs = {n: registry.all_specs()[n] for n in OPS}
        self.n_prepared = 0

    def generate(self) -> None:
        """Generate the input tables into a fresh directory; the last
        generation is the one the ops read."""
        self.data = f"{self.root}/data{self.n_prepared}"
        self.n_prepared += 1
        datagen.write_tables(self.data, SF)

    def build(self) -> None:
        """Nothing beyond the tables: indexes are built inside the ops."""

    def check_prep(self) -> None:
        import duckdb

        from novelti_dingo_spark import schemas
        from tools.check_oracle import value_hash

        con = duckdb.connect()
        try:
            for t in schemas.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data}/{t}.parquet'")
            res = con.sql(self.specs[PPJOIN].oracle)
            cols = [d[0] for d in res.description]
            self.ppjoin_hash = value_hash(cols, res.fetchall())
        finally:
            con.close()
        self.exact = exact_top10(os.path.join(self.data,
                                              "embeddings.parquet"))

    def _op(self, name: str):
        h = self.h
        with h.step(f"{name}.build"):
            df = self.specs[name].fn(self.spark, self.data)
        h.tracer.plan(df)
        with h.step("spark.execute"):
            return df.columns, [r.asDict() for r in df.collect()]

    def run_pass(self) -> None:
        for i in self.rng.permutation(len(OPS)):
            name = OPS[i]
            op_id, (cols, rows) = self.h.timed(name, lambda: self._op(name))
            if self.h.tracer.enabled:
                self.h.tracer.ops[-1]["out_rows"] = len(rows)
            self.check(op_id, name, cols, rows)

    def check(self, op_id: int, name: str, cols: list[str], rows: list):
        if name == PPJOIN:
            from tools.check_oracle import value_hash

            ok = value_hash(
                cols, [tuple(r[c] for c in cols) for r in rows]
            ) == self.ppjoin_hash
        else:
            ok = check_ivf(rows, self.exact)
        self.h.check(op_id, ok, f"{name}: output check failed")

    def summary(self) -> dict:
        """Index training and PPJoin, scored apart."""
        return {"train_s": self.h.op_median_ms(IVF) / 1e3,
                "dedup_s": self.h.op_median_ms(PPJOIN) / 1e3}

    def per_layer(self, tracer) -> dict:
        """Jobs per op, and PPJoin output pairs per candidate pair (rows
        out of its largest join)."""
        out = {}
        for name in OPS:
            recs = [r for r in tracer.ops if r["name"] == name]
            out[f"{name}.jobs"] = (statistics.median(r["jobs"] for r in recs)
                                   if recs else 0)
        ratios = [r["out_rows"] / r["max_join_rows"] for r in tracer.ops
                  if r["name"] == PPJOIN and r.get("max_join_rows")]
        out["ppjoin.pairs_per_candidate"] = (statistics.median(ratios)
                                             if ratios else 0.0)
        return out
