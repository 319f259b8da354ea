"""``bulk_scan``: a generated ``lineitem`` table written once per set-up
through ``arrowipc`` (zstd, file encoding) as eight files clustered on
``l_orderkey``, then scanned.

Each timed round: two full-scan aggregates that decode only their five input
columns (``columns`` option), two stats-pruned range filters, one global sort
of whole rows into a ``noop`` sink, one small append, a delete of the
appended rows and a vacuum.  Every result is checked against pyarrow over the generated rows
plus the rows appended so far.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

import gen
from common import Op, dir_bytes, table_hash
from probes import probe_read, probe_write

OPTS = {"compression": "zstd", "snapshots": "true"}
N_FILES = 8
#: The aggregate's input columns: the reader decodes only these (``columns``
#: option), as a caller that knows its projection would ask.
AGG_COLS = "l_returnflag,l_linestatus,l_quantity,l_extendedprice,l_discount"


class BulkScan:
    name = "bulk_scan"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_orders = 2_500 if ctx.smoke else 75_000

    def generate(self) -> None:
        self.base = gen.lineitem(self.ctx.seed, self.n_orders)
        gen.write_parquet({"lineitem": self.base}, self.ctx.input_dir)

    def build_fixture(self) -> str:
        from bossarrowstorageengine_spark.catalog import load_table

        path = os.path.join(self.ctx.data_dir, "lineitem")
        df = self.ctx.timed_load_table(load_table, "lineitem")
        (df.repartitionByRange(N_FILES, "l_orderkey").sortWithinPartitions("l_orderkey")
         .write.format("arrowipc").options(**OPTS).mode("append").save(path))
        return path

    def use_fixture(self, path: str) -> None:
        self.path = path
        self.schema = self.ctx.spark.read.format("arrowipc").load(path).schema
        self.parts = [self.base]
        self.next_order = self.n_orders + 1
        self.size = dir_bytes(path)
        self.ctx.fixture_mb = self.base.nbytes / 1e6
        if self.ctx.tracer.enabled:
            shadow = os.path.join(self.ctx.data_dir, "shadow_lineitem")
            self.ctx.probe_record(probe_write(
                self.ctx.tracer, shadow, OPTS, self.schema, self.base),
                linked=False)

    @property
    def model(self) -> pa.Table:
        return pa.concat_tables(self.parts)

    def _load(self, **options):
        r = self.ctx.spark.read.format("arrowipc")
        for k, v in options.items():
            r = r.option(k, v)
        return r.load(self.path)

    def _op(self, kind, run, expected, probe_opts=None, filters=()):
        def check(res):
            if not filters:  # every op without a filter scans the whole table
                self.ctx.current.rows = self.model.num_rows
            want = expected()
            if self.ctx.corrupt_check:
                want = want.slice(1)
            if table_hash(res) != table_hash(want):
                return f"{kind}: got {res.to_pylist()[:3]}, want {want.to_pylist()[:3]}"
            return None

        def probe(res):
            got = probe_read(self.ctx.tracer, self.path, probe_opts or {},
                             list(filters))
            got["files_visible"] = self._visible()
            self.ctx.probe_record(got)

        return Op(kind, "read", run, check, probe if probe_opts is not None else None)

    def _visible(self) -> int:
        from bossarrowstorageengine_spark.sources.maintenance import history_arrowipc

        return history_arrowipc(self.path)[-1]["visible_files"]

    def round_ops(self, r: int) -> list[Op]:
        """Timed rounds run the aggregate and the filter twice each, so the
        read latencies have more than one sample per kind; round 0 (the
        warm-up) runs each kind once."""
        rng = np.random.default_rng([self.ctx.seed, 20, r])
        reps = 2 if r else 1
        width = max(2, self.n_orders // 200)
        ops = [self._agg() for _ in range(reps)]
        for _ in range(reps):
            lo = int(rng.integers(1, self.n_orders - width))
            ops.append(self._filter(lo, lo + width))
        first = self.next_order
        ops += [self._sort(), self._append(r),
                self._delete(first, self.next_order - 1), self._vacuum()]
        return ops

    def _agg(self) -> Op:
        keys = ["l_returnflag", "l_linestatus"]

        def run():
            return (self._load(columns=AGG_COLS).groupBy(*keys).agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_price"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("sum_disc_price"),
                F.count(F.lit(1)).alias("n")).toArrow())

        def expected():
            t = self.model
            t = t.append_column("disc_price", pc.multiply(
                t["l_extendedprice"], pc.subtract(1.0, t["l_discount"])))
            g = t.group_by(keys).aggregate([
                ("l_quantity", "sum"), ("l_extendedprice", "sum"),
                ("disc_price", "sum"), ("l_orderkey", "count")])
            names = {"l_quantity_sum": "sum_qty", "l_extendedprice_sum": "sum_price",
                     "disc_price_sum": "sum_disc_price", "l_orderkey_count": "n"}
            return g.rename_columns([names.get(c, c) for c in g.column_names])

        return self._op("full_agg", run, expected, probe_opts={"columns": AGG_COLS})

    def _filter(self, lo: int, hi: int) -> Op:
        def run():
            return (self._load().filter(F.col("l_orderkey").between(lo, hi)).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("q"),
                F.sum("l_extendedprice").alias("p")).toArrow())

        def expected():
            t = self.model
            ok = t["l_orderkey"]
            t = t.filter(pc.and_(pc.greater_equal(ok, lo), pc.less_equal(ok, hi)))
            return pa.table({"n": [t.num_rows], "q": [pc.sum(t["l_quantity"]).as_py()],
                             "p": [pc.sum(t["l_extendedprice"]).as_py()]})

        return self._op("filtered_scan", run, expected, probe_opts={},
                        filters=[GreaterThanOrEqual(("l_orderkey",), lo),
                                 LessThanOrEqual(("l_orderkey",), hi)])

    def _sort(self) -> Op:
        def run():
            obs = Observation("sorted")
            (self._load()
             .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
             .observe(obs, F.count(F.lit(1)).alias("n"),
                      F.sum("l_quantity").alias("q"))
             .write.format("noop").mode("overwrite").save())
            got = obs.get
            return pa.table({"n": [got["n"]], "q": [got["q"]]})

        def expected():
            t = self.model
            return pa.table({"n": [t.num_rows], "q": [pc.sum(t["l_quantity"]).as_py()]})

        return self._op("sort_noop", run, expected)

    def _append(self, r: int) -> Op:
        batch = gen.lineitem(self.ctx.seed + 7919 * (r + 1), 10, self.next_order)
        self.next_order += 10

        def run():
            (self.ctx.spark.createDataFrame(batch, schema=self.schema)
             .coalesce(1).write.format("arrowipc").options(**OPTS)
             .mode("append").save(self.path))
            return batch.num_rows

        def check(_):
            self.parts.append(batch)
            self.size = dir_bytes(self.path)
            self.ctx.count("arrowipc.manifest_versions", 1)
            return None

        def probe(_):
            shadow = os.path.join(self.ctx.data_dir, "shadow_append")
            self.ctx.probe_record(probe_write(
                self.ctx.tracer, shadow, OPTS, self.schema, batch))

        return Op("append", "write", run, check, probe)

    def _delete(self, lo: int, hi: int) -> Op:
        """Retention delete of the rows this round appended: a copy-on-write
        mutation whose match scan covers the whole table."""
        from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

        pred = f"l_orderkey BETWEEN {lo} AND {hi}"

        def run():
            return delete_arrowipc(self.ctx.spark, self.path, pred, compression="zstd",
                                   predicate_columns=["l_orderkey"], schema=self.schema)

        def check(res):
            gone = self.parts.pop()
            before = self.size
            self.size = dir_bytes(self.path)
            self.ctx.count("maintenance.delete.bytes_rewritten", max(0, self.size - before))
            self.ctx.count("maintenance.delete.changed_bytes", gone.nbytes)
            self.ctx.count("maintenance.files_rewritten", res["files_rewritten"])
            self.ctx.count("arrowipc.manifest_versions", 1)
            if res["rows_deleted"] != gone.num_rows:
                return f"delete {pred}: {res['rows_deleted']} != {gone.num_rows}"
            return None

        return Op("delete", "mutate", run, check)

    def _vacuum(self) -> Op:
        from bossarrowstorageengine_spark.sources.maintenance import vacuum_arrowipc

        def run():
            return vacuum_arrowipc(self.path, keep_versions=1)

        def check(res):
            before, self.size = self.size, dir_bytes(self.path)
            self.ctx.count("maintenance.bytes_reclaimed", before - self.size)
            if len(res["retained_versions"]) != 1:
                return f"vacuum: retained {res['retained_versions']}"
            return None

        return Op("vacuum", "maintain", run, check)

    def final_figures(self) -> dict:
        return {"stored_bytes_per_user_byte": dir_bytes(self.path) / self.model.nbytes}
