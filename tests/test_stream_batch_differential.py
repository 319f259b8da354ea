"""Batch-face ↔ streaming-face differential tests for the B.9 family
(round-4 verdict item 6): each declared event-time query must produce the
SAME result whether its transformation runs in batch mode (the oracle face)
or through the Structured Streaming micro-batch harness on identical,
in-order input (so no watermark drops — late-data semantics are asserted
separately in tests/test_streaming.py).

Method: a crafted event set is written as an ``events.parquet`` fixture dir
so the REGISTERED query callables run on it unchanged (the exact batch code
the driver attests), while the streaming side replays the same rows through
``FileStreamHarness`` with the equivalent streaming build.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _crafted_rows():
    """72 in-order events, 3 users × 4 types, gaps spanning minutes→hours so
    tumbling/sliding/session windows and hour buckets all get multi-member
    and singleton groups.  event_id ascends with ts (so first-arrival ≡
    min-event_id dedup)."""
    rows = []
    eid = 0
    base_min = 0
    for step in range(24):
        # gap pattern: mostly 7 min, every 6th step jumps 95 min (new
        # session + new hour bucket)
        base_min += 95 if step % 6 == 5 else 7
        for u in (1, 2, 3):
            eid += 1
            h, m = divmod(base_min + u, 60)
            rows.append({
                "event_id": eid,
                "ts": f"2024-01-01 {h:02d}:{m:02d}:00",
                "user_id": u,
                "event_type": ["click", "view", "purchase", "click"][step % 4],
                "value": round(1.0 + (eid % 7) * 0.25, 2),
                "props": "{}",
            })
    return rows


@pytest.fixture(scope="module")
def fixture_dir(spark):
    """Write the crafted rows as an events.parquet fixture the registered
    batch queries can load."""
    rows = _crafted_rows()
    path = f"/tmp/spark_graft_test/diff-{uuid.uuid4().hex}"
    os.makedirs(path, exist_ok=True)
    df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"],
          r["value"], r["props"]) for r in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet"))
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _run_stream(spark, build, mode):
    """Replay the crafted rows through the micro-batch harness in 3 chunks
    (in ts order → watermarks never drop anything) and return the final
    sink content."""
    from bossarrowstorageengine_spark.streaming.harness import (
        FileStreamHarness,
    )

    rows = _crafted_rows()
    h = FileStreamHarness(spark, build, mode=mode)
    try:
        third = len(rows) // 3
        for lo in range(0, len(rows), third):
            h.push(rows[lo:lo + third])
        out = h.step()
        return out.toPandas()
    finally:
        h.stop()


def _sorted(pdf):
    cols = sorted(pdf.columns)
    return (pdf[cols].sort_values(cols).reset_index(drop=True)
            .round(6))


def _assert_same(batch_pdf, stream_pdf):
    import pandas as pd

    b, s = _sorted(batch_pdf), _sorted(stream_pdf)
    pd.testing.assert_frame_equal(b, s, check_dtype=False)


def test_differential_stream_tumbling(spark, fixture_dir):
    batch = QUERIES["q_stream_tumbling"](spark, fixture_dir).toPandas()

    def build(src):
        return (
            src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    "event_type", "n_events", "sum_value")
        )

    _assert_same(batch, _run_stream(spark, build, "complete"))


def test_differential_stream_sliding(spark, fixture_dir):
    batch = QUERIES["q_stream_sliding"](spark, fixture_dir).toPandas()

    def build(src):
        return (
            src.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"),
                        "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    "event_type", "n_events", "sum_value")
        )

    _assert_same(batch, _run_stream(spark, build, "complete"))


def test_differential_stream_session(spark, fixture_dir):
    batch = QUERIES["q_stream_session"](spark, fixture_dir).toPandas()

    def build(src):
        per_session = (
            src.groupBy("user_id",
                        F.session_window("ts", "10 minutes").alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return per_session.select(
            "user_id", "n_events",
            F.unix_millis(F.col("sw.start")).alias("start_ms"),
        )

    sessions = _run_stream(spark, build, "complete")
    rolled = (
        sessions.groupby("user_id")
        .agg(n_sessions=("n_events", "size"),
             n_events=("n_events", "sum"),
             start_checksum_ms=("start_ms", "sum"))
        .reset_index()
    )
    _assert_same(batch, rolled)


def test_differential_stream_dedup(spark, fixture_dir):
    batch = QUERIES["q_stream_dedup"](spark, fixture_dir).toPandas()

    def build(src):
        return (src.withWatermark("ts", "10 hours")
                .dropDuplicates(["user_id", "event_type"])
                .select("user_id", "event_type",
                        F.col("event_id").alias("first_event_id")))

    stream = _run_stream(spark, build, "append")
    # The streaming face emits only the surviving row per key (no dupe
    # counts) — compare the survivor identity columns.
    _assert_same(batch[["user_id", "event_type", "first_event_id"]], stream)


def test_differential_dedup_within_window(spark, fixture_dir):
    batch = QUERIES["q_dedup_within_window"](spark, fixture_dir).toPandas()

    def build(src):
        bucket = 3600 * 1_000_000
        e = F.unix_micros(F.col("ts"))
        hbin = ((e - F.pmod(e, F.lit(bucket))) / bucket).cast("long")
        return (
            src.withColumn("hbin", hbin)
            .withWatermark("ts", "10 hours")
            .dropDuplicatesWithinWatermark(["user_id", "event_type", "hbin"])
            .select("user_id", "event_type", "event_id", "value")
        )

    kept = _run_stream(spark, build, "append")
    rolled = (
        kept.groupby(["user_id", "event_type"])
        .agg(n_kept=("event_id", "size"),
             kept_id_checksum=("event_id", "sum"),
             kept_value_sum=("value", "sum"))
        .reset_index()
    )
    rolled["kept_value_sum"] = rolled["kept_value_sum"].round(2)
    _assert_same(batch, rolled)


def test_differential_stream_static_enrichment(spark, fixture_dir):
    """Stream-static broadcast enrichment: per-micro-batch joins against a
    static dimension must equal the one-shot batch join — unmatched users
    keep null dimension columns in both faces."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        enrich_with_dim)

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string")
    events = spark.read.parquet(
        os.path.join(fixture_dir, "events.parquet"))
    batch = enrich_with_dim(events, dim).toPandas()

    stream = _run_stream(
        spark, lambda src: enrich_with_dim(src, dim), "append")
    assert len(batch) == 72
    assert batch["tier"].isna().sum() == 24  # user 3 unmatched, kept
    _assert_same(batch, stream)


def test_differential_watermark_drop_face(spark):
    """q_stream_late's declared semantics, differentially (VERDICT r5 item
    9): a late event behind the watermark must be DROPPED by the streaming
    face, and the surviving closed windows must equal a batch recompute
    over (all rows − the late row) restricted to windows closed by the
    terminal watermark.  This is the one B.9 face the in-order
    differential tests above cannot exercise."""
    import pandas as pd

    from bossarrowstorageengine_spark.streaming.harness import (
        FileStreamHarness,
    )
    from bossarrowstorageengine_spark.streaming.pipelines import (
        tumbling_counts,
    )

    def ev(eid, ts, etype):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": etype, "value": 1.0, "props": "{}"}

    in_order = [
        ev(1, "2024-01-01 00:10:00", "click"),
        ev(2, "2024-01-01 00:20:00", "view"),
        ev(3, "2024-01-01 00:40:00", "click"),
        ev(4, "2024-01-01 01:15:00", "view"),
        ev(5, "2024-01-01 02:30:00", "click"),   # watermark → 01:30
    ]
    late = [ev(6, "2024-01-01 00:05:00", "click")]   # behind 01:30 → dropped
    advance = [ev(7, "2024-01-01 06:00:00", "view")]  # watermark → 05:00

    h = FileStreamHarness(spark, tumbling_counts, mode="append")
    try:
        # step() between pushes so the watermark COMMITS before the late
        # batch runs (a single step can race the wm update across
        # back-to-back triggers and the late row would survive).
        h.push(in_order)
        h.step()
        h.push(late)
        prog = None
        h.step()
        prog = h.query.lastProgress
        assert prog["stateOperators"][0]["numRowsDroppedByWatermark"] == 1
        h.push(advance)
        out = h.step().toPandas()[["win_start", "event_type", "n_events"]]
    finally:
        h.stop()
    out["win_start"] = pd.to_datetime(out["win_start"])
    out = out.sort_values(["win_start", "event_type"]).reset_index(drop=True)

    # Batch recompute: drop the late row, bucket into 1 h windows, keep
    # windows whose END ≤ terminal watermark (max ts − 1 h = 05:00).
    surv = pd.DataFrame(in_order + advance)
    surv["ts"] = pd.to_datetime(surv["ts"])
    surv["win_start"] = surv["ts"].dt.floor("h")
    terminal_wm = surv["ts"].max() - pd.Timedelta(hours=1)
    closed = surv[surv["win_start"] + pd.Timedelta(hours=1) <= terminal_wm]
    expect = (closed.groupby(["win_start", "event_type"])
              .size().rename("n_events").reset_index()
              .sort_values(["win_start", "event_type"]).reset_index(drop=True))

    assert len(out) == len(expect) == 4
    for col in ("win_start", "event_type"):
        assert list(out[col]) == list(expect[col])
    assert list(out["n_events"].astype(int)) == list(expect["n_events"])
    # The late event really was dropped: its window (00:00) shows 3, not 4.
    h0 = out[out["win_start"] == pd.Timestamp("2024-01-01 00:00:00")]
    assert int(h0[h0["event_type"] == "click"]["n_events"].iloc[0]) == 2
