"""Traced-run instruments: in-process calls into the ``arrowipc`` data source
and a reader for Spark's event log.

The probes call the data source's public methods directly, on the same path
and options a workload just read or wrote through Spark, so a traced round
can set the in-process plan/decode/encode/commit cost beside the Spark wall
of the same action.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa

from common import Tracer


def probe_read(tracer: Tracer, path: str, options: dict, filters: list) -> dict:
    """schema() → reader().pushFilters() → partitions() → read() of every
    partition, each under its own span; returns the counts."""
    from bossarrowstorageengine_spark.sources.arrowipc import ArrowIPCDataSource

    opts = {"path": path, **options}
    with tracer.span("arrowipc.schema") as s_schema:
        ds = ArrowIPCDataSource(opts)
        schema = ds.schema()
    with tracer.span("arrowipc.plan") as s_plan:
        reader = ds.reader(schema)
        list(reader.pushFilters(list(filters)))
        parts = reader.partitions()
    rows = batches = nbytes = 0
    with tracer.span("arrowipc.decode") as s_decode:
        for part in parts:
            for b in reader.read(part):
                rows += b.num_rows
                batches += 1
                nbytes += b.nbytes
    planned = {p.path for p in parts if p.path}
    return {"schema_ms": s_schema.ms, "plan_ms": s_plan.ms,
            "decode_ms": s_decode.ms, "files_planned": len(planned),
            "filtered": bool(filters), "rows": rows, "batches": batches,
            "bytes": nbytes}


def probe_write(tracer: Tracer, path: str, options: dict, spark_schema,
                table: pa.Table) -> dict:
    """writer().write() of ``table``'s batches, then commit(), into ``path``
    (a shadow table written with the same options as the Spark write)."""
    from bossarrowstorageengine_spark.sources.arrowipc import ArrowIPCDataSource

    ds = ArrowIPCDataSource({"path": path, **options})
    writer = ds.writer(spark_schema, False)
    with tracer.span("arrowipc.encode") as s_encode:
        msg = writer.write(iter(table.to_batches(max_chunksize=65536)))
    with tracer.span("arrowipc.commit") as s_commit:
        writer.commit([msg])
    disk = sum(os.path.getsize(p) for p in (msg.final_paths or []))
    return {"encode_ms": s_encode.ms, "commit_ms": s_commit.ms,
            "arrow_bytes": table.nbytes, "disk_bytes": disk}


def read_event_log(log_dir: str) -> dict:
    """Jobs, SQL executions and task metrics from the event log files
    under ``log_dir`` (read after the session stopped and flushed them)."""
    jobs: dict[int, dict] = {}
    sql_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for f in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "sql": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_start[ev["executionId"]] = ev["time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "sql_start": sql_start, "tasks": tasks}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
