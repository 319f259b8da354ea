"""``storage_ops``: a seeded closed-loop mix of small storage actions on a
snapshotted lz4 ``arrowipc`` table built from a ``documents`` table and
clustered on ``doc_id`` into eight files.  Compaction rewrites it into one
file; the appends and copy-on-write rewrites after it land in small files
with narrow ``doc_id`` ranges, which stats pruning skips.

Each timed round runs two point reads, one range read and one ``version=``
read in a seeded order, a 50-row append after the first two reads and a
delete after the last two, then ``compact_arrowipc`` and ``vacuum_arrowipc``.
A pyarrow model of the table (one snapshot per manifest version) checks every
read by order-insensitive hash and every mutation by its reported row count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

import gen
from common import Op, dir_bytes, table_hash
from probes import probe_read, probe_write

OPTS = {"compression": "lz4", "snapshots": "true"}
N_FILES = 8


def _listing(path: str) -> dict[str, int]:
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


class StorageOps:
    name = "storage_ops"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = 400 if ctx.smoke else 4000

    # -- inputs and fixture ------------------------------------------------
    def generate(self) -> None:
        self.docs = gen.documents(self.ctx.seed, self.n_docs)
        gen.write_parquet({"documents": self.docs}, self.ctx.input_dir)

    def build_fixture(self) -> str:
        from bossarrowstorageengine_spark.catalog import load_table

        path = os.path.join(self.ctx.data_dir, "docs")
        df = self.ctx.timed_load_table(load_table, "documents")
        (df.repartitionByRange(N_FILES, "doc_id").sortWithinPartitions("doc_id")
         .write.format("arrowipc").options(**OPTS).mode("append").save(path))
        return path

    def use_fixture(self, path: str) -> None:
        from bossarrowstorageengine_spark.sources.maintenance import history_arrowipc

        self.path = path
        self.history = history_arrowipc
        self.model = self.docs
        self.versions = {self._head(): self.model}
        self.next_id = self.n_docs
        self.listing = _listing(path)
        self.shadow = os.path.join(self.ctx.data_dir, "shadow_docs")
        self.ctx.fixture_mb = self.docs.nbytes / 1e6
        self.schema = self.ctx.spark.read.format("arrowipc").load(path).schema

    def _head(self) -> int:
        return self.history(self.path)[-1]["version"]

    # -- model bookkeeping -------------------------------------------------
    def _commit(self, model: pa.Table) -> None:
        head = self._head()
        if head not in self.versions:
            self.ctx.count("arrowipc.manifest_versions", 1)
        self.model = model
        self.versions[head] = model

    def _rewritten(self, changed: pa.Table, kind: str) -> None:
        after = _listing(self.path)
        new = {p: s for p, s in after.items() if p not in self.listing}
        self.listing = after
        self.ctx.count(f"maintenance.{kind}.bytes_rewritten", sum(new.values()))
        self.ctx.count(f"maintenance.{kind}.changed_bytes", changed.nbytes)

    def _range(self, rng, width: int) -> tuple[int, int]:
        lo = int(rng.integers(0, max(1, self.next_id - width)))
        return lo, lo + width - 1

    def _between(self, t: pa.Table, lo: int, hi: int) -> pa.Array:
        ids = t.column("doc_id")
        return pc.and_(pc.greater_equal(ids, lo), pc.less_equal(ids, hi))

    # -- ops ---------------------------------------------------------------
    def _read(self, kind, where, mask, filters, pick=None) -> Op:
        """A filtered read; ``pick`` (a uniform draw) selects a retained
        manifest version for a ``version=`` read when the op runs, since
        earlier ops of the round may have published new versions."""
        spark, path, state = self.ctx.spark, self.path, {}

        def run():
            r = spark.read.format("arrowipc")
            state["v"] = None
            if pick is not None:
                vs = sorted(self.versions)
                state["v"] = vs[min(len(vs) - 1, int(pick * len(vs)))]
                r = r.option("version", str(state["v"]))
            return r.load(path).filter(where).toArrow()

        def check(res):
            base = self.model if state["v"] is None else self.versions[state["v"]]
            want = base.filter(mask(base))
            if self.ctx.corrupt_check:
                want = want.slice(1)
            if table_hash(res) != table_hash(want):
                return (f"{kind} {where} v={state['v']}: {res.num_rows} rows, "
                        f"model has {want.num_rows}")
            return None

        def probe(res):
            opts = {} if state["v"] is None else {"version": str(state["v"])}
            got = probe_read(self.ctx.tracer, path, opts, filters)
            hist = {h["version"]: h for h in self.history(path)}
            v = self._head() if state["v"] is None else state["v"]
            got["files_visible"] = hist[v]["visible_files"]
            self.ctx.probe_record(got)

        return Op(kind, "read", run, check, probe)

    def _range_read(self, kind, rng, width, pick=None) -> Op:
        lo, hi = self._range(rng, width)
        return self._read(
            kind, f"doc_id BETWEEN {lo} AND {hi}",
            lambda t: self._between(t, lo, hi),
            [GreaterThanOrEqual(("doc_id",), lo), LessThanOrEqual(("doc_id",), hi)],
            pick)

    def round_ops(self, r: int) -> list[Op]:
        """Two reads, an append, two reads, a delete, then compaction and
        vacuum.  The writes sit in fixed slots, so every seed reads a table
        in the same state; the seed orders the reads among their slots and
        picks every constant.  Round 0 (the warm-up) has one point read
        instead of two."""
        rng = np.random.default_rng([self.ctx.seed, 10, r])
        reads = [self._point_read(rng) for _ in range(2 if r else 1)]
        reads.append(self._range_read("range_read", rng, max(10, self.next_id // 50)))
        reads.append(self._range_read("version_read", rng, max(20, self.next_id // 25),
                                      pick=float(rng.random())))
        reads = [reads[i] for i in rng.permutation(len(reads))]
        delete = self._delete(rng)  # drawn before the append reserves new ids
        return (reads[:2] + [self._append(rng, r)] + reads[2:] + [delete]
                + [self._compact(), self._vacuum()])

    def _point_read(self, rng) -> Op:
        live = self.model.column("doc_id")
        x = int(live[int(rng.integers(0, len(live)))].as_py())
        return self._read("point_read", f"doc_id = {x}",
                          lambda t: pc.equal(t["doc_id"], x),
                          [EqualTo(("doc_id",), x)])

    def _append(self, rng, r: int) -> Op:
        batch = gen.documents(self.ctx.seed + 7919 * (r + 1), 50, self.next_id)
        self.next_id += 50
        spark, path = self.ctx.spark, self.path

        def run():
            (spark.createDataFrame(batch.to_pandas(), schema=self.schema)
             .coalesce(1).write.format("arrowipc").options(**OPTS)
             .mode("append").save(path))

        def check(_):
            self._commit(pa.concat_tables([self.model, batch]))
            self.listing = _listing(path)

        def probe(_):
            self.ctx.probe_record(probe_write(
                self.ctx.tracer, self.shadow, OPTS, self.schema, batch))

        return Op("append", "write", run, check, probe)

    def _delete(self, rng) -> Op:
        from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

        lo, hi = self._range(rng, 10)
        pred = f"doc_id BETWEEN {lo} AND {hi}"

        def run():
            return delete_arrowipc(self.ctx.spark, self.path, pred,
                                   compression="lz4", predicate_columns=["doc_id"],
                                   schema=self.schema)

        def check(res):
            hit = self._between(self.model, lo, hi)
            gone = self.model.filter(hit)
            self._commit(self.model.filter(pc.invert(hit)))
            self._rewritten(gone, "delete")
            self.ctx.count("maintenance.files_rewritten", res["files_rewritten"])
            if res["rows_deleted"] != gone.num_rows:
                return f"delete {pred}: {res['rows_deleted']} != {gone.num_rows}"
            return None

        return Op("delete", "mutate", run, check)

    def _compact(self) -> Op:
        from bossarrowstorageengine_spark.sources.maintenance import compact_arrowipc

        def run():
            return compact_arrowipc(self.ctx.spark, self.path, target_files=1,
                                    compression="lz4", schema=self.schema)

        def check(res):
            self._commit(self.model)
            self._rewritten(self.model, "compact")
            self.ctx.count("maintenance.files_rewritten", res["files_after"])
            if res["rows"] != self.model.num_rows:
                return f"compact: {res['rows']} rows != {self.model.num_rows}"
            return None

        return Op("compact", "mutate", run, check)

    def _vacuum(self) -> Op:
        from bossarrowstorageengine_spark.sources.maintenance import vacuum_arrowipc

        def run():
            return vacuum_arrowipc(self.path, keep_versions=1)

        def check(res):
            before = sum(self.listing.values())
            self.listing = _listing(self.path)
            self.ctx.count("maintenance.bytes_reclaimed",
                           before - sum(self.listing.values()))
            self.versions = {v: self.versions[v] for v in res["retained_versions"]}
            if set(self.versions) != {self._head()}:
                return f"vacuum: retained {sorted(self.versions)}"
            return None

        return Op("vacuum", "maintain", run, check)

    # -- end of run ----------------------------------------------------------
    def final_figures(self) -> dict:
        return {"stored_bytes_per_user_byte": dir_bytes(self.path) / self.model.nbytes}
