"""The engine's benchmark: one workload per invocation, one closed-loop client.

    python3 perfbench/run.py --workload storage_ops --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run

1. generates its inputs from ``--seed`` under ``.perfbench-work/`` (nothing
   outside the checkout is read or written);
2. sets up: builds the Spark session (``local[nproc]``), builds the
   workload's fixture table through the engine and runs one warm-up round of
   every op;
3. runs whole rounds of the workload's op mix until ``--seconds`` have
   passed, each op starting when the previous one returned, and checks every
   result against a model;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

A traced run alternates traced and untraced rounds.  Traced rounds tag each
op's Spark jobs with ``setJobGroup(op_id)``, record spans around the calls
into each layer, and after every ``arrowipc`` read or write call the data
source in-process on the same path and options.  Spans, the per-layer
self-time table and the metric vector are written to
``.perfbench-work/out/``.  ``--smoke`` shrinks every input for the
self-test; ``--corrupt-check`` corrupts every expected result, so the run
must fail.

Exit status: 0 when every op passed its check, 1 when any failed, 2 when
the engine cannot be imported (no result line is printed then).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

from common import (ROOT, OpRecord, RssSampler, Tracer, geomean, median,
                    steal_ticks)
from probes import covered, read_event_log

WORKLOADS = ("storage_ops", "bulk_scan")
#: Whatever --seconds says, stop starting rounds past this process age so a
#: run ends well inside its 180 s limit.
HARD_STOP_S = 140.0

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
    "read_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "catalog.load_table_ms": "ms",
    "arrowipc.schema_ms": "ms",
    "arrowipc.plan_ms": "ms",
    "arrowipc.files_visible": "count",
    "arrowipc.files_planned": "count",
    "arrowipc.prune_ratio": "ratio",
    "arrowipc.read_hop_ms": "ms",
    "arrowipc.write_hop_ms": "ms",
    "arrowipc.decode_ms": "ms",
    "arrowipc.decode_rows_per_s": "rows/s",
    "arrowipc.batches_read": "count",
    "arrowipc.bytes_read": "bytes",
    "arrowipc.encode_ms": "ms",
    "arrowipc.encode_mb_per_s": "MB/s",
    "arrowipc.compression_ratio": "ratio",
    "arrowipc.commit_ms": "ms",
    "arrowipc.manifest_versions": "count",
    "maintenance.delete_ms": "ms",
    "maintenance.vacuum_ms": "ms",
    "maintenance.files_rewritten": "count",
    "maintenance.bytes_rewritten": "bytes",
    "maintenance.rewrite_amplification": "ratio",
    "maintenance.bytes_reclaimed": "bytes",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jobs_per_op": "count",
    "driver.gap_s": "s",
    "write_p50_ms": "ms",
    "mutate_p50_ms": "ms",
    "scan_rows_per_s": "rows/s",
    "write_mb_per_s": "MB/s",
    "stored_bytes_per_user_byte": "ratio",
    "trace.overhead_ratio": "ratio",
}


class Ctx:
    """State a workload shares with the runner."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.smoke = args.smoke
        self.corrupt_check = args.corrupt_check
        self.input_dir = os.path.join(work, "input")
        self.data_dir = os.path.join(work, "data")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.current: OpRecord | None = None
        self.counts: dict[str, float] = {}
        self.probes: list[dict] = []
        self.load_table_ms: list[float] = []
        self.fixture_mb = 0.0  # Arrow MB one fixture build writes

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def probe_record(self, got: dict, linked: bool = True) -> None:
        """Keep a probe's figures; ``linked`` ties them to the Spark op that
        just ran, whose wall the hop metrics subtract from."""
        got["spark_ms"] = self.current.ms if linked else None
        self.probes.append(got)

    def timed_load_table(self, load_table, name: str):
        with self.tracer.span("catalog.load_table") as s:
            df = load_table(self.spark, self.input_dir, name)
        self.load_table_ms.append(s.ms)
        return df


def make_workload(name: str, ctx: Ctx):
    if name == "storage_ops":
        from wl_storage import StorageOps
        return StorageOps(ctx)
    from wl_bulk import BulkScan
    return BulkScan(ctx)


def build_session(ctx: Ctx, work: str, trace: bool):
    from bossarrowstorageengine_spark.session import build_session as engine_build
    from bossarrowstorageengine_spark.sources import register_arrowipc

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # No hsperfdata file under the system /tmp: a run writes only inside
        # its checkout.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        ctx.event_log_dir = os.path.join(work, "eventlog")
        os.makedirs(ctx.event_log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ctx.event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    with ctx.tracer.span("session.build_session") as s:
        spark = engine_build("perfbench", master=f"local[{cpus}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        register_arrowipc(spark)
        spark.range(1).collect()
    return spark, s.ms / 1000.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _gc_ms(spark) -> int:
    """Collection time so far of the JVM, which in local mode runs both the
    driver and the executors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def run_round(ctx: Ctx, wl, r: int, traced: bool, counted: list) -> dict:
    sc = ctx.spark.sparkContext
    ops = wl.round_ops(r)
    records = []
    ctx.counts = {}
    gc0 = _gc_ms(ctx.spark) if traced else 0
    start = time.perf_counter()
    for i, op in enumerate(ops):
        op_id = f"{wl.name}-r{r}-{i}-{op.kind}"
        if traced:
            sc.setJobGroup(op_id, op.kind)
            ctx.tracer.op_id = op_id
        t0, p0, res, err = time.time(), time.perf_counter(), None, None
        try:
            with ctx.tracer.span(f"op.{op.kind}") if traced else contextlib.nullcontext():
                res = op.run()
        except Exception as exc:  # an op failure is a result, not a crash
            err = f"{type(exc).__name__}: {exc}"
        rec = OpRecord(op.kind, op.cls, r, op_id, t0, t0 + time.perf_counter() - p0,
                       False)
        ctx.current = rec
        if err is None:
            try:
                err = op.check(res)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"
        rec.ok, rec.error = err is None, err
        if err is not None:
            print(f"FAIL {op_id}: {err}", file=sys.stderr)
        elif traced and op.probe is not None:
            op.probe(res)
        counted.append(rec)
        records.append(rec)
    wall_s = time.perf_counter() - start
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ctx.tracer.op_id = None
        ctx.count("jvm_gc_s", (_gc_ms(ctx.spark) - gc0) / 1000.0)
    ctx.current = None
    return {"round": r, "traced": traced, "records": records,
            "wall_s": wall_s, "counts": ctx.counts}


def _ms(records, pred=lambda r: True) -> list[float]:
    return [r.ms for r in records if r.ok and pred(r)]


def _spark_op(r: OpRecord) -> bool:
    """Ops that run Spark jobs.  ``vacuum`` is a few milliseconds of file
    deletes whose relative jitter would swamp the latency figures; it is
    reported as ``maintenance.vacuum_ms``."""
    return r.cls != "maintain"


def end_to_end(setup_s: float, rounds: list[dict], peak_rss: int) -> dict:
    recs = [r for rd in rounds for r in rd["records"] if _spark_op(r)]
    kinds = sorted({r.kind for r in recs})
    return {
        "setup_s": setup_s,
        "round_s": median(sum(_ms(rd["records"], _spark_op)) / 1000.0
                          for rd in rounds),
        "op_p50_ms": median(_ms(recs)),
        "op_geomean_ms": geomean(
            median(_ms(recs, lambda r, k=k: r.kind == k)) for k in kinds),
        "read_p50_ms": median(_ms(recs, lambda r: r.cls == "read")),
        "peak_rss_mb": peak_rss / 1e6,
    }


def per_layer(ctx: Ctx, setup: dict, rounds: list[dict], wl) -> dict:
    traced = [rd for rd in rounds if rd["traced"]]
    plain = [rd for rd in rounds if not rd["traced"]] or traced
    trecs = [r for rd in traced for r in rd["records"]]
    precs = [r for rd in plain for r in rd["records"]]
    out = {k: 0.0 for k in PER_LAYER}
    out["session.build_s"] = setup["build_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["catalog.load_table_ms"] = median(ctx.load_table_ms)

    reads = [p for p in ctx.probes if "decode_ms" in p]
    writes = [p for p in ctx.probes if "encode_ms" in p]
    if reads:
        for k in ("schema_ms", "plan_ms", "decode_ms", "files_visible",
                  "files_planned"):
            out[f"arrowipc.{k}"] = median(p[k] for p in reads)
        out["arrowipc.batches_read"] = median(p["batches"] for p in reads)
        out["arrowipc.bytes_read"] = median(p["bytes"] for p in reads)
        out["arrowipc.read_hop_ms"] = median(
            p["spark_ms"] - p["schema_ms"] - p["plan_ms"] - p["decode_ms"]
            for p in reads)
        dec_s = sum(p["decode_ms"] for p in reads) / 1000.0
        out["arrowipc.decode_rows_per_s"] = sum(p["rows"] for p in reads) / dec_s
        filt = [p for p in reads if p["filtered"]]
        if filt:
            out["arrowipc.prune_ratio"] = 1.0 - (
                sum(p["files_planned"] for p in filt)
                / sum(p["files_visible"] for p in filt))
    if writes:
        out["arrowipc.encode_mb_per_s"] = (
            sum(p["arrow_bytes"] for p in writes) / 1e6
            / (sum(p["encode_ms"] for p in writes) / 1000.0))
        out["arrowipc.compression_ratio"] = (sum(p["arrow_bytes"] for p in writes)
                                             / sum(p["disk_bytes"] for p in writes))
        # Per-call figures come from the probes of Spark appends only; the
        # bulk fixture probe would mix one large write into their median.
        linked = [p for p in writes if p["spark_ms"] is not None]
        if linked:
            out["arrowipc.encode_ms"] = median(p["encode_ms"] for p in linked)
            out["arrowipc.commit_ms"] = median(p["commit_ms"] for p in linked)
            out["arrowipc.write_hop_ms"] = median(
                p["spark_ms"] - p["encode_ms"] - p["commit_ms"] for p in linked)

    def per_round(name):
        return median(rd["counts"].get(name, 0) for rd in traced)

    out["arrowipc.manifest_versions"] = per_round("arrowipc.manifest_versions")
    for kind in ("delete", "vacuum"):
        ms = _ms(trecs, lambda r, k=kind: r.kind == k)
        if ms:
            out[f"maintenance.{kind}_ms"] = median(ms)
    out["maintenance.files_rewritten"] = per_round("maintenance.files_rewritten")
    out["maintenance.bytes_reclaimed"] = per_round("maintenance.bytes_reclaimed")
    out["maintenance.bytes_rewritten"] = median(
        sum(v for k, v in rd["counts"].items() if k.endswith(".bytes_rewritten"))
        for rd in traced)
    deleted = sum(rd["counts"].get("maintenance.delete.changed_bytes", 0)
                  for rd in traced)
    if deleted:
        out["maintenance.rewrite_amplification"] = sum(
            rd["counts"].get("maintenance.delete.bytes_rewritten", 0)
            for rd in traced) / deleted

    log = read_event_log(ctx.event_log_dir)
    by_group: dict[str, list] = {}
    for jid, j in log["jobs"].items():
        by_group.setdefault(j["group"], []).append((jid, j))
    job_round = {jid: rec.round for rec in trecs
                 for jid, _ in by_group.get(rec.op_id, [])}
    sums: dict[int, dict] = {rd["round"]: {
        "jobs": 0, "stages": set(), "tasks": 0, "run": 0.0, "cpu": 0.0,
        "shuffle": 0.0, "spill": 0.0, "gap": 0.0} for rd in traced}
    plan_ms = []
    for rec in trecs:
        jobs = by_group.get(rec.op_id, [])
        s = sums[rec.round]
        s["jobs"] += len(jobs)
        ends = [(j["start"], j["end"] or rec.t1) for _, j in jobs]
        s["gap"] += (rec.t1 - rec.t0) - covered(ends, rec.t0, rec.t1)
        first_job: dict = {}
        for _, j in jobs:
            if j["sql"] is not None:
                eid = int(j["sql"])
                first_job[eid] = min(first_job.get(eid, j["start"]), j["start"])
        for eid, js in first_job.items():
            if eid in log["sql_start"]:
                plan_ms.append(js * 1000.0 - log["sql_start"][eid])
    for t in log["tasks"]:
        rnd = job_round.get(t["job"])
        if rnd is None:
            continue
        s = sums[rnd]
        s["stages"].add(t["stage"])
        s["tasks"] += 1
        s["run"] += t["run_ms"] / 1000.0
        s["cpu"] += t["cpu_ns"] / 1e9
        s["shuffle"] += t["shuffle_write"] / 1e6
        s["spill"] += t["spill"] / 1e6
    rs = list(sums.values())
    if plan_ms:
        out["spark.plan_ms"] = median(plan_ms)
    for name, key in (("spark.jobs", "jobs"), ("spark.tasks", "tasks"),
                      ("spark.executor_run_s", "run"), ("spark.executor_cpu_s", "cpu"),
                      ("spark.shuffle_write_mb", "shuffle"),
                      ("spark.spill_mb", "spill"), ("driver.gap_s", "gap")):
        out[name] = median(s[key] for s in rs)
    out["spark.stages"] = median(len(s["stages"]) for s in rs)
    out["spark.gc_s"] = per_round("jvm_gc_s")
    out["spark.jobs_per_op"] = sum(s["jobs"] for s in rs) / max(1, len(trecs))

    # Workload figures, from the untraced rounds of this run.
    for name, cls in (("write_p50_ms", "write"), ("mutate_p50_ms", "mutate")):
        ms = _ms(precs, lambda r, c=cls: r.cls == c)
        if ms:
            out[name] = median(ms)
    scans = [r for r in precs if r.ok and r.rows]
    if scans:
        out["scan_rows_per_s"] = median(r.rows / (r.ms / 1000.0) for r in scans)
    out["write_mb_per_s"] = ctx.fixture_mb / setup["fixture_s"]
    out.update(wl.final_figures())
    out["trace.overhead_ratio"] = (median(rd["wall_s"] for rd in traced)
                                   / median(rd["wall_s"] for rd in plain))
    return out


def layer_table(ctx: Ctx) -> list[dict]:
    """Per span name: calls and self time, printed and saved with the spans."""
    calls: dict[str, int] = {}
    for s in ctx.tracer.spans:
        calls[s.name] = calls.get(s.name, 0) + 1
    return [{"layer": name, "calls": calls[name], "self_s": round(t, 6)}
            for name, t in sorted(ctx.tracer.self_times().items(),
                                  key=lambda kv: -kv[1])]


def measure(args, ctx: Ctx, wl, work: str, stamps: dict, process_start: float):
    """Set up, warm up and run the timed rounds; returns the metrics, every
    op record (warm-up included) and the setup breakdown."""
    with RssSampler() as rss:
        t = time.perf_counter()
        wl.generate()
        stamps["generate_s"] = time.perf_counter() - t
        ctx.spark, build_s = build_session(ctx, work, bool(args.trace))
        with ctx.tracer.span("setup.fixture") as s:
            path = wl.build_fixture()
        fixture_s = s.ms / 1000.0
        wl.use_fixture(path)
        counted: list[OpRecord] = []
        with ctx.tracer.span("setup.warmup") as s:
            run_round(ctx, wl, 0, False, counted)
        setup = {"build_s": build_s, "fixture_s": fixture_s,
                 "warmup_s": s.ms / 1000.0}

        rounds, start, r = [], time.perf_counter(), 1
        while True:
            traced = bool(args.trace) and len(rounds) % 2 == 0
            rounds.append(run_round(ctx, wl, r, traced, counted))
            r += 1
            now = time.perf_counter()
            enough = now - start >= args.seconds and (
                not args.trace or len(rounds) >= 2)
            if enough or now - process_start > HARD_STOP_S:
                break
        stamps["timed_s"] = time.perf_counter() - start
        stamps["rounds"] = len(rounds)
    stop_session(ctx.spark)
    ctx.spark = None
    if args.trace:
        metrics = per_layer(ctx, setup, rounds, wl)
    else:
        setup_s = setup["build_s"] + setup["fixture_s"] + setup["warmup_s"]
        metrics = end_to_end(setup_s, rounds, rss.peak)
    return metrics, counted, setup


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's self-test")
    ap.add_argument("--corrupt-check", action="store_true",
                    help="corrupt every expected result; the run must fail")
    args = ap.parse_args(argv)
    process_start = time.perf_counter()

    sys.path.insert(0, str(ROOT))
    try:
        import bossarrowstorageengine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    base = ROOT / ".perfbench-work"
    work = base / f"run-{args.workload}-{os.getpid()}"
    out_dir = base / "out"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work / "tmp")
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine by module path, and every temp file
    # of the session stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    ctx = Ctx(args, str(work))
    wl = make_workload(args.workload, ctx)
    steal0 = steal_ticks()
    stamps = {"loadavg_before": os.getloadavg()[0],
              "cpus": len(os.sched_getaffinity(0)), "workload": args.workload,
              "seed": args.seed, "trace": args.trace}
    try:
        metrics, counted, setup = measure(args, ctx, wl, str(work), stamps,
                                          process_start)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r.ok for r in counted)
    steal1 = steal_ticks()
    stamps.update({
        "loadavg_after": os.getloadavg()[0],
        "steal_ticks": None if steal0 is None or steal1 is None else steal1 - steal0,
        "setup": setup,
    })
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(counted),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"stamps": stamps, **result,
              "ops": [[r.op_id, round(r.ms, 1), r.error] for r in counted]}
    if args.trace:
        table = layer_table(ctx)
        ctx.tracer.dump(out_dir / f"{tag}.spans.json")
        record["layers"] = table
        print(f"{'layer':<34}{'calls':>7}{'self_s':>12}", file=sys.stderr)
        for row in table:
            print(f"{row['layer']:<34}{row['calls']:>7}{row['self_s']:>12.3f}",
                  file=sys.stderr)
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"stamps": stamps}), file=sys.stderr)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
