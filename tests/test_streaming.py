"""Structured Streaming tests (SURVEY.md §5.3/§2.B9): micro-batch file
source, watermark late-data semantics — the behaviors no batch oracle can
check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.streaming.harness import FileStreamHarness
from bossarrowstorageengine_spark.streaming.pipelines import (
    running_user_totals,
    sessionized_counts,
    streaming_dedup,
    tumbling_counts,
)


def _ev(eid, ts, user=1, etype="click", value=1.0):
    return {"event_id": eid, "ts": ts, "user_id": user,
            "event_type": etype, "value": value, "props": "{}"}


def test_tumbling_append_emits_closed_windows_and_drops_late(spark):
    """Append mode only emits a window once the watermark passes its end;
    an event arriving behind the watermark is dropped from state."""
    h = FileStreamHarness(spark, tumbling_counts, mode="append")
    try:
        # batch 1: two events in hour-0, one in hour-1
        h.push([_ev(1, "2024-01-01 00:10:00"), _ev(2, "2024-01-01 00:20:00"),
                _ev(3, "2024-01-01 01:05:00")])
        out1 = h.step().toPandas()
        assert len(out1) == 0  # nothing closed yet (watermark = max-1h)

        # batch 2: jump event time to 02:30 → watermark 01:30 → hour-0 closes
        h.push([_ev(4, "2024-01-01 02:30:00")])
        out2 = h.step().toPandas()
        out2["w"] = [str(t) for t in out2["win_start"]]
        assert "2024-01-01 00:00:00" in set(out2["w"])
        assert out2[out2["w"] == "2024-01-01 00:00:00"]["n_events"].iloc[0] == 2

        # batch 3: LATE event for hour-0 (behind watermark) then advance time
        h.push([_ev(5, "2024-01-01 00:40:00")])  # late: watermark is 01:30
        h.push([_ev(6, "2024-01-01 04:00:00")])  # watermark → 03:00, hour-1+2 close
        out3 = h.step().toPandas()
        out3["w"] = [str(t) for t in out3["win_start"]]
        h0 = out3[out3["w"] == "2024-01-01 00:00:00"]
        # hour-0 was already emitted with 2 events and the late row was dropped:
        # no second emission with 3 events may appear
        assert list(h0["n_events"]) == [2]
    finally:
        h.stop()


def test_streaming_dedup_within_watermark(spark):
    h = FileStreamHarness(spark, streaming_dedup, mode="append")
    try:
        h.push([_ev(1, "2024-01-01 00:00:00", user=1, etype="click"),
                _ev(2, "2024-01-01 00:01:00", user=1, etype="click"),
                _ev(3, "2024-01-01 00:02:00", user=2, etype="view")])
        out = h.step().toPandas()
        assert len(out) == 2  # one per (user, type)
        h.push([_ev(4, "2024-01-01 00:03:00", user=1, etype="click")])
        out2 = h.step().toPandas()
        assert len(out2) == 2  # duplicate suppressed by state
    finally:
        h.stop()


def test_custom_stateful_running_totals(spark):
    """applyInPandasWithState keeps per-user (count, sum) across micro-
    batches; each batch emits refreshed running totals, and the final
    state matches the batch-mode aggregate of all pushed events."""
    h = FileStreamHarness(spark, running_user_totals, mode="update")
    rows1 = [_ev(1, "2024-01-01 00:00:00", user=1, value=2.0),
             _ev(2, "2024-01-01 00:01:00", user=1, value=3.0),
             _ev(3, "2024-01-01 00:02:00", user=2, value=5.0)]
    rows2 = [_ev(4, "2024-01-01 00:03:00", user=1, value=10.0)]
    try:
        h.push(rows1)
        out1 = h.step().toPandas()
        u1 = out1[out1["user_id"] == 1].iloc[-1]
        assert (u1["n_events"], u1["total_value"]) == (2, 5.0)

        h.push(rows2)
        out2 = h.step().toPandas()
        u1b = out2[out2["user_id"] == 1].iloc[-1]
        assert (u1b["n_events"], u1b["total_value"]) == (3, 15.0)
        # user 2 untouched by batch 2 — latest emission still (1, 5.0)
        u2 = out2[out2["user_id"] == 2].iloc[-1]
        assert (u2["n_events"], u2["total_value"]) == (1, 5.0)

        # batch-mode equivalence on the union of all pushed rows
        batch = spark.createDataFrame(
            [(r["event_id"], r["user_id"], r["value"]) for r in rows1 + rows2],
            "event_id long, user_id long, value double")
        got = {r.user_id: (r.n_events, r.total_value)
               for r in running_user_totals(batch).collect()}
        assert got == {1: (3, 15.0), 2: (1, 5.0)}
    finally:
        h.stop()


def test_session_window_gap_merge(spark):
    """Events ≤gap apart merge into one session; a >gap hole splits."""
    h = FileStreamHarness(spark, sessionized_counts, mode="append")
    try:
        h.push([_ev(1, "2024-01-01 00:00:00"), _ev(2, "2024-01-01 00:05:00"),
                _ev(3, "2024-01-01 00:30:00")])  # 25-min hole → 2 sessions
        h.push([_ev(4, "2024-01-01 03:00:00")])  # advance watermark, close both
        out = h.step().toPandas().sort_values("session_start")
        assert list(out["n_events"]) == [2, 1]
        starts = [str(t) for t in out["session_start"]]
        assert starts == ["2024-01-01 00:00:00", "2024-01-01 00:30:00"]
    finally:
        h.stop()


def test_stateful_profile_across_micro_batches(spark):
    """The user_event_profile stateful operator under REAL streaming
    execution: per-user totals + per-type counts survive across
    micro-batches; the final emission matches the batch-mode profile of
    all pushed events.  Where ``google.protobuf`` exists this runs the
    Spark 4 transformWithStateInPandas (StatefulProcessor) path; without
    it, the applyInPandasWithState fallback — same operator, same
    assertions, still incremental state in the RocksDB store."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        ROCKSDB_PROVIDER,
        user_event_profile,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        h = FileStreamHarness(spark, user_event_profile, mode="update")
        rows1 = [_ev(1, "2024-01-01 00:00:00", user=1, etype="view", value=2.0),
                 _ev(2, "2024-01-01 00:01:00", user=1, etype="click", value=3.0),
                 _ev(3, "2024-01-01 00:02:00", user=2, etype="view", value=5.0)]
        rows2 = [_ev(4, "2024-01-01 00:03:00", user=1, etype="click", value=10.0),
                 _ev(5, "2024-01-01 00:04:00", user=1, etype="error", value=0.5)]
        try:
            h.push(rows1)
            out1 = h.step().toPandas()
            u1 = out1[out1["user_id"] == 1].iloc[-1]
            assert (u1["n_events"], u1["total_value"], u1["n_types"]) == (2, 5.0, 2)
            assert u1["top_type"] == "click"  # tie view/click → lexicographic

            h.push(rows2)
            out2 = h.step().toPandas()
            u1b = out2[out2["user_id"] == 1].iloc[-1]
            # 4 events, 2 clicks → modal type now unambiguous
            assert (u1b["n_events"], u1b["total_value"], u1b["n_types"]) == (4, 15.5, 3)
            assert u1b["top_type"] == "click"

            # batch-mode equivalence on the union of all pushed rows
            batch = spark.createDataFrame(
                [(r["event_id"], r["user_id"], r["event_type"], r["value"])
                 for r in rows1 + rows2],
                "event_id long, user_id long, event_type string, value double")
            got = {r.user_id: (r.n_events, r.total_value, r.n_types, r.top_type)
                   for r in user_event_profile(batch).collect()}
            assert got == {1: (4, 15.5, 3, "click"), 2: (1, 5.0, 1, "view")}
        finally:
            h.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_profile_batch_mode(spark):
    """Batch branch of user_event_profile: counts, sums, distinct types,
    modal type with lexicographic tie-break."""
    from bossarrowstorageengine_spark.streaming.pipelines import user_event_profile

    batch = spark.createDataFrame(
        [(1, 1, "view", 2.0), (2, 1, "click", 3.0), (3, 2, "view", 5.0),
         (4, 1, "click", 10.0), (5, 1, "error", 0.5)],
        "event_id long, user_id long, event_type string, value double")
    got = {r.user_id: (r.n_events, r.total_value, r.n_types, r.top_type)
           for r in user_event_profile(batch).collect()}
    assert got == {1: (4, 15.5, 3, "click"), 2: (1, 5.0, 1, "view")}


def test_stream_stream_interval_join(spark):
    """Stream-stream join with watermarks: only clicks within 5 minutes
    after a view (same user) pair up; out-of-window and cross-user clicks
    never appear, and results match the batch-mode join."""
    from bossarrowstorageengine_spark.streaming.pipelines import view_click_followups

    h = FileStreamHarness(spark, view_click_followups, mode="append")
    rows = [
        _ev(1, "2024-01-01 00:00:00", user=1, etype="view"),
        _ev(2, "2024-01-01 00:02:00", user=1, etype="click"),   # in window
        _ev(3, "2024-01-01 00:10:00", user=1, etype="click"),   # too late
        _ev(4, "2024-01-01 00:01:00", user=2, etype="click"),   # other user
    ]
    try:
        h.push(rows)
        # advance both watermarks far enough to emit and evict
        h.push([_ev(9, "2024-01-01 05:00:00", user=9, etype="view")])
        out = h.step().toPandas()
        assert list(zip(out["view_id"], out["click_id"])) == [(1, 2)]

        batch = spark.createDataFrame(
            [(r["event_id"], r["ts"], r["user_id"], r["event_type"]) for r in rows],
            "event_id long, ts string, user_id long, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = [(r.view_id, r.click_id)
               for r in view_click_followups(batch).collect()]
        assert got == [(1, 2)]
    finally:
        h.stop()


def test_foreach_batch_merge_snapshot(spark):
    """foreachBatch CDC merge: the parquet snapshot always holds the
    newest version per (user_id, event_type) across micro-batches."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.streaming.harness import FileStreamHarness
    from bossarrowstorageengine_spark.streaming.pipelines import (
        EVENTS_SCHEMA,
        merge_stream_into_snapshot,
    )

    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    snap, ckpt, src = f"{base}/snap", f"{base}/ckpt", f"{base}/src"
    os.makedirs(src, exist_ok=True)

    # hand-rolled harness: foreachBatch returns a query, not a DataFrame
    stream = spark.readStream.schema(EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 1).json(src)
    q = merge_stream_into_snapshot(stream, snap, ckpt)

    import pandas as pd

    def push(name, rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        tmp, final = os.path.join(src, f".{name}.tmp"), os.path.join(src, name)
        pdf.to_json(tmp, orient="records", lines=True)
        os.replace(tmp, final)

    try:
        push("b0.json", [_ev(1, "2024-01-01 00:00:00", user=1, etype="click", value=1.0),
                         _ev(2, "2024-01-01 00:01:00", user=2, etype="view", value=2.0)])
        q.processAllAvailable()
        s1 = {(r.user_id, r.event_type): (r.event_id, r.value)
              for r in spark.read.parquet(snap).collect()}
        assert s1 == {(1, "click"): (1, 1.0), (2, "view"): (2, 2.0)}

        # newer version for user 1 + out-of-order stale row for user 2
        push("b1.json", [_ev(5, "2024-01-01 00:09:00", user=1, etype="click", value=9.0),
                         _ev(3, "2024-01-01 00:00:30", user=2, etype="view", value=0.5)])
        q.processAllAvailable()
        s2 = {(r.user_id, r.event_type): (r.event_id, r.value)
              for r in spark.read.parquet(snap).collect()}
        assert s2 == {(1, "click"): (5, 9.0), (2, "view"): (2, 2.0)}
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_foreach_batch_partitioned_table_sink(spark):
    """foreachBatch partitioned sink: micro-batches land under col=value
    directories with one manifest commit per batch, and a replayed batch
    id is a no-op (the high-water-mark idempotence)."""
    import glob as _glob
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.maintenance import (
        history_arrowipc)
    from bossarrowstorageengine_spark.streaming.pipelines import (
        EVENTS_SCHEMA,
        stream_to_partitioned_table,
    )

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table, ckpt, src = f"{base}/table", f"{base}/ckpt", f"{base}/src"
    os.makedirs(src, exist_ok=True)
    os.makedirs(table, exist_ok=True)

    stream = spark.readStream.schema(EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 1).json(src)
    q = stream_to_partitioned_table(stream, table, "event_type", ckpt)

    import pandas as pd

    def push(name, rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.strftime(
            "%Y-%m-%dT%H:%M:%S.%f")
        tmp, final = os.path.join(src, f".{name}.tmp"), os.path.join(src, name)
        pdf.to_json(tmp, orient="records", lines=True)
        os.replace(tmp, final)

    try:
        push("b0.json", [
            _ev(1, "2024-01-01 00:00:00", user=1, etype="click", value=1.0),
            _ev(2, "2024-01-01 00:01:00", user=2, etype="view", value=2.0)])
        push("b1.json", [
            _ev(3, "2024-01-01 00:02:00", user=3, etype="click", value=3.0)])
        q.processAllAvailable()

        assert _glob.glob(os.path.join(table, "event_type=click", "*.arrows"))
        assert _glob.glob(os.path.join(table, "event_type=view", "*.arrows"))
        hist = history_arrowipc(table)
        assert len(hist) == 2  # one manifest commit per micro-batch
        back = (spark.read.format("arrowipc")
                .option("snapshots", "true").load(table))
        assert sorted(r.event_id for r in back.collect()) == [1, 2, 3]
        assert back.filter(F.col("event_type") == "click").count() == 2
    finally:
        q.stop()

    # The idempotence mark recorded the last committed batch for THIS
    # stream identity (one file per identity): a restarted query
    # replaying batch ids ≤ 1 skips.
    import hashlib
    import json
    sid = hashlib.sha256(
        os.path.abspath(ckpt).encode()).hexdigest()[:16]
    hwm = json.load(
        open(os.path.join(table, f"_streaming-batch-hwm.{sid}.json")))
    assert hwm["batch_id"] == 1
    shutil.rmtree(base, ignore_errors=True)


def test_manifest_mode_stream_reader(spark):
    """On a snapshotted table the stream reader uses manifest-version
    offsets: micro-batches deliver exactly the files each commit ADDED
    (partitioned layouts included), and a commit that removes files
    (compaction) fails the stream unless ignoreChanges=true."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc)

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    df1 = spark.range(0, 5).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"))
    (df1.coalesce(1).write.format("arrowipc")
     .option("partitionBy", "grp").option("snapshots", "true")
     .mode("append").save(table))                              # v1

    name = f"mm_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc").load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 5

        df2 = spark.range(5, 8).select(
            "id", (F.col("id") % 2).cast("string").alias("grp"))
        (df2.coalesce(1).write.format("arrowipc")
         .option("partitionBy", "grp").option("snapshots", "true")
         .mode("append").save(table))                          # v2
        q.processAllAvailable()
        got = sorted(r.id for r in spark.table(name).collect())
        assert got == list(range(8))  # only v2's ADDED files re-delivered

        compact_arrowipc(spark, table, target_files=1)         # v3: removes
        with pytest.raises(Exception, match="ignoreChanges"):
            q.processAllAvailable()
    finally:
        q.stop()

    # ignoreChanges=true streams through the compaction commit (rewritten
    # rows re-delivered, by documented contract).
    name2 = f"mm2_{_uuid.uuid4().hex[:8]}"
    q2 = (spark.readStream.format("arrowipc")
          .option("ignoreChanges", "true").load(table)
          .writeStream.format("memory").queryName(name2)
          .option("checkpointLocation", f"{base}/ckpt2").start())
    try:
        q2.processAllAvailable()
        # From a fresh checkpoint the stream covers v1+v2 (8 rows) AND the
        # compaction commit's added file (the same 8 rows rewritten) —
        # exactly the re-delivery ignoreChanges contracts for.
        assert sorted(r.id for r in spark.table(name2).collect()) == \
            sorted(list(range(8)) * 2)
    finally:
        q2.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_snapshotted_sink_chains_into_manifest_mode_reader(spark):
    """End-to-end streaming chain on ONE snapshotted table: the native
    streaming sink commits a manifest per micro-batch, and a downstream
    streaming reader consumes those commits via manifest-version offsets —
    every row written is delivered exactly once while both queries run."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.pipelines import EVENTS_SCHEMA

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table, src = f"{base}/table", f"{base}/src"
    os.makedirs(src, exist_ok=True)

    up = (spark.readStream.schema(EVENTS_SCHEMA)
          .option("maxFilesPerTrigger", 1).json(src)
          .writeStream.format("arrowipc")
          .option("snapshots", "true")
          .option("path", table)
          .option("checkpointLocation", f"{base}/ckpt-up").start())

    import pandas as pd

    def push(name, rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.strftime(
            "%Y-%m-%dT%H:%M:%S.%f")
        tmp, final = os.path.join(src, f".{name}.tmp"), os.path.join(src, name)
        pdf.to_json(tmp, orient="records", lines=True)
        os.replace(tmp, final)

    down = None
    try:
        push("b0.json", [_ev(1, "2024-01-01 00:00:00", user=1),
                         _ev(2, "2024-01-01 00:01:00", user=2)])
        up.processAllAvailable()

        # Downstream starts AFTER the first commit exists → manifest mode.
        name = f"chain_{_uuid.uuid4().hex[:8]}"
        down = (spark.readStream.format("arrowipc").load(table)
                .writeStream.format("memory").queryName(name)
                .option("checkpointLocation", f"{base}/ckpt-down").start())
        down.processAllAvailable()
        assert sorted(r.event_id for r in spark.table(name).collect()) == [1, 2]

        push("b1.json", [_ev(3, "2024-01-01 00:02:00", user=3)])
        up.processAllAvailable()
        down.processAllAvailable()
        assert sorted(r.event_id for r in spark.table(name).collect()) == \
            [1, 2, 3]
    finally:
        up.stop()
        if down is not None:
            down.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_partitioned_sink_idempotence_is_checkpoint_scoped(spark):
    """ADVICE r5: Spark batch ids restart at 0 under a fresh checkpoint, so
    the partitioned sink's idempotence mark is scoped to a stream identity
    (hash of the checkpoint dir).  (a) a NEW query with a fresh checkpoint
    appending to an EXISTING table must not be gated by the stale mark —
    the unscoped version silently dropped every micro-batch (data loss);
    (b) within ONE identity, a replayed batch id ≤ the mark is skipped."""
    import hashlib
    import json
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.pipelines import (
        EVENTS_SCHEMA,
        stream_to_partitioned_table,
    )

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table, src_a, src_b = f"{base}/table", f"{base}/src_a", f"{base}/src_b"
    os.makedirs(src_a, exist_ok=True)
    os.makedirs(src_b, exist_ok=True)
    os.makedirs(table, exist_ok=True)

    import pandas as pd

    def push(src, name, rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.strftime(
            "%Y-%m-%dT%H:%M:%S.%f")
        tmp, final = os.path.join(src, f".{name}.tmp"), os.path.join(src, name)
        pdf.to_json(tmp, orient="records", lines=True)
        os.replace(tmp, final)

    def hwm_of(ckpt):
        sid = hashlib.sha256(
            os.path.abspath(ckpt).encode()).hexdigest()[:16]
        return os.path.join(table, f"_streaming-batch-hwm.{sid}.json")

    # --- query A: two micro-batches → mark file for A with batch_id=1 ---
    stream_a = (spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1).json(src_a))
    qa = stream_to_partitioned_table(
        stream_a, table, "event_type", f"{base}/ckpt_a")
    try:
        push(src_a, "a0.json", [_ev(1, "2024-01-01 00:00:00")])
        push(src_a, "a1.json", [_ev(2, "2024-01-01 00:01:00")])
        qa.processAllAvailable()
    finally:
        qa.stop()
    assert json.load(open(hwm_of(f"{base}/ckpt_a")))["batch_id"] == 1

    # --- query B: FRESH checkpoint, same table.  Its batch 0 (≤ 1) must
    # still be written: the mark belongs to a different stream identity. ---
    stream_b = (spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1).json(src_b))
    qb = stream_to_partitioned_table(
        stream_b, table, "event_type", f"{base}/ckpt_b")
    try:
        push(src_b, "b0.json", [_ev(3, "2024-01-01 00:02:00")])
        qb.processAllAvailable()

        back = (spark.read.format("arrowipc")
                .option("snapshots", "true").load(table))
        assert sorted(r.event_id for r in back.collect()) == [1, 2, 3]
        # BOTH identities keep their own mark FILES (no shared state —
        # concurrent writers cannot clobber each other's replay guard).
        assert json.load(open(hwm_of(f"{base}/ckpt_a")))["batch_id"] == 1
        assert json.load(open(hwm_of(f"{base}/ckpt_b")))["batch_id"] == 0

        # --- (b) same-identity replay: raise B's own mark above the next
        # batch id — the crash-recovery replay path — and push again.  The
        # batch must be SKIPPED (no new rows, mark untouched, A's file
        # untouched). ---
        sid_b = hashlib.sha256(
            os.path.abspath(f"{base}/ckpt_b").encode()).hexdigest()[:16]
        with open(hwm_of(f"{base}/ckpt_b"), "w") as f:
            json.dump({"stream_id": sid_b, "batch_id": 5}, f)
        push(src_b, "b1.json", [_ev(4, "2024-01-01 00:03:00")])
        qb.processAllAvailable()
        back = (spark.read.format("arrowipc")
                .option("snapshots", "true").load(table))
        assert sorted(r.event_id for r in back.collect()) == [1, 2, 3]
        assert json.load(open(hwm_of(f"{base}/ckpt_b")))["batch_id"] == 5
        assert json.load(open(hwm_of(f"{base}/ckpt_a")))["batch_id"] == 1
    finally:
        qb.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_changefeed_streams_into_incremental_consumer(spark):
    """End-to-end CDC chain (the q_storage_changefeed story continued):
    change batches appended to a snapshotted feed table are consumed by
    the manifest-mode stream reader exactly once per commit, and a
    foreachBatch consumer maintains an incremental net-delta aggregate
    that converges to the batch recompute — the downstream half of the
    diff → materialize → consume pipeline."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    feed = f"{base}/feed"
    state: dict[str, dict] = {}

    def write_feed(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, change string, delta long")
        (df.write.format("arrowipc").option("snapshots", "true")
         .mode("append").save(feed))

    # commit 1: two updates + a delete
    write_feed([(1, "en", "update", 10), (2, "de", "update", -3),
                (3, "en", "delete", -50)])

    def apply_batch(batch_df, batch_id):
        for r in batch_df.groupBy("lang").agg(
                F.sum("delta").alias("d"),
                F.count(F.lit(1)).alias("n")).collect():
            s = state.setdefault(r["lang"], {"net": 0, "n": 0})
            s["net"] += r["d"]
            s["n"] += r["n"]

    q = (spark.readStream.format("arrowipc").load(feed)
         .writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert state == {"en": {"net": -40, "n": 2},
                        "de": {"net": -3, "n": 1}}

        # commit 2: more changes — delivered incrementally (only the new
        # commit's rows), not as a re-read of the whole feed
        write_feed([(4, "en", "update", 7), (5, "fr", "insert", 100)])
        q.processAllAvailable()
        assert state == {"en": {"net": -33, "n": 3},
                        "de": {"net": -3, "n": 1},
                        "fr": {"net": 100, "n": 1}}
    finally:
        q.stop()

    # convergence: incremental state equals the batch recompute over the
    # full feed (exactly-once across both commits)
    batch = {r["lang"]: {"net": r["net"], "n": r["n"]}
             for r in (spark.read.format("arrowipc")
                       .option("snapshots", "true").load(feed)
                       .groupBy("lang")
                       .agg(F.sum("delta").cast("long").alias("net"),
                            F.count(F.lit(1)).cast("long").alias("n"))
                       .collect())}
    assert batch == state
    shutil.rmtree(base, ignore_errors=True)


def test_stream_chunk_dedup_probes_index_incrementally(spark):
    """Streaming CDC chunk dedup (batch-differential): two micro-batches
    of documents processed through chunk_dedup_batch must (a) build an
    index equal to the batch-mode distinct chunk set, (b) report batch-2
    dups against BOTH the index and intra-batch repeats, matching a
    reference computed from the same _cdc_chunks core, and (c) treat a
    replayed batch id as a no-op (index and reports unchanged)."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.operators.llm_pipeline import _cdc_chunks
    from bossarrowstorageengine_spark.streaming.chunk_dedup import (
        MIN_TOKENS,
        chunk_dedup_batch,
    )

    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    idx, rep = f"{base}/index", f"{base}/report"
    os.makedirs(idx, exist_ok=True)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    try:
        chunk_dedup_batch(b1, 0, idx, rep)
        chunk_dedup_batch(b2, 1, idx, rep)

        # (a) index == batch-mode distinct chunk set over the full corpus
        got_idx = {r.chunk_hash for r in
                   spark.read.parquet(f"{idx}/data").collect()}
        ref_all = {r.chunk_hash for r in
                   _cdc_chunks(docs).filter(F.col("n_tokens") >= MIN_TOKENS)
                   .select("chunk_hash").distinct().collect()}
        assert got_idx == ref_all

        # (b) per-doc dup counts vs a python reference replaying the
        # same batch order and the same (doc_id, chunk_id) tiebreak
        seen: set = set()
        ref: dict = {}
        for b in (b1, b2):
            rows = (_cdc_chunks(b).filter(F.col("n_tokens") >= MIN_TOKENS)
                    .orderBy("doc_id", "chunk_id").collect())
            batch_first: set = set()
            for r in rows:
                dup = r.chunk_hash in seen or r.chunk_hash in batch_first
                n, d = ref.get(r.doc_id, (0, 0))
                ref[r.doc_id] = (n + 1, d + (1 if dup else 0))
                batch_first.add(r.chunk_hash)
            seen |= batch_first
        got = {r.doc_id: (r.n_chunks, r.n_dup_chunks)
               for r in spark.read.parquet(rep).collect()}
        assert got == ref
        # the corpus HAS cross-batch dups, else (b) is vacuous
        assert any(d for _, d in ref.values())

        # (c) replay of batch 1 is a no-op
        n_rep = spark.read.parquet(rep).count()
        chunk_dedup_batch(b2, 1, idx, rep)
        assert spark.read.parquet(rep).count() == n_rep
        assert {r.chunk_hash for r in
                spark.read.parquet(f"{idx}/data").collect()} == ref_all
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_chunk_dedup_replay_without_marker_is_identical(spark):
    """The crash-window guarantee: a batch that wrote its index rows but
    DIED before its marker re-runs from scratch on redelivery — and must
    reproduce byte-identical state, because the probe excludes the
    current batch id's own index rows (without that, the replay would
    see its own hashes and poison the report with all-dup rows)."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.streaming.chunk_dedup import (
        chunk_dedup_batch,
    )

    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    idx, rep = f"{base}/index", f"{base}/report"
    os.makedirs(idx, exist_ok=True)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        chunk_dedup_batch(b1, 0, idx, rep)
        chunk_dedup_batch(b2, 1, idx, rep)
        before_rep = sorted(
            (r.batch_id, r.doc_id, r.n_chunks, r.n_dup_chunks, r.dup_tokens)
            for r in spark.read.parquet(rep).collect())
        before_idx = sorted(
            r.chunk_hash for r in
            spark.read.parquet(f"{idx}/data").collect())
        assert any(d for *_x, d, _t in
                   [(r[0], r[1], r[2], r[3], r[4]) for r in before_rep]), \
            "no dups at all — replay check would be vacuous"

        # simulate the crash window: marker lost, index rows present
        os.remove(os.path.join(idx, "_batch-1.done"))
        chunk_dedup_batch(b2, 1, idx, rep)

        after_rep = sorted(
            (r.batch_id, r.doc_id, r.n_chunks, r.n_dup_chunks, r.dup_tokens)
            for r in spark.read.parquet(rep).collect())
        after_idx = sorted(
            r.chunk_hash for r in
            spark.read.parquet(f"{idx}/data").collect())
        assert after_rep == before_rep
        assert after_idx == before_idx
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_chunk_dedup_rejects_uri_schemes(spark):
    """index/report dirs are probed with driver-local filesystem calls,
    so an object-store URI would silently see no index (every batch
    reports all-unseen) before crashing on the marker write — the
    contract is enforced loudly up front instead."""
    import uuid as _uuid

    import pytest

    from bossarrowstorageengine_spark.streaming.chunk_dedup import (
        chunk_dedup_batch,
        stream_chunk_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(1)
    local = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    with pytest.raises(ValueError, match="POSIX path"):
        chunk_dedup_batch(docs, 0, "s3://bucket/index", local)
    with pytest.raises(ValueError, match="POSIX path"):
        chunk_dedup_batch(docs, 0, local, "hdfs://nn/report")
    with pytest.raises(ValueError, match="POSIX path"):
        stream_chunk_dedup(docs, "s3://bucket/index", local, local)


def test_stream_chunk_dedup_tolerates_uncommitted_index_dir(spark):
    """A crash after data_dir creation but before any committed parquet
    file (only a _temporary dir remains) must read as NO index — a bare
    isdir probe would try spark.read.parquet on it and fail schema
    inference on every subsequent batch until manual cleanup."""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.streaming.chunk_dedup import (
        chunk_dedup_batch,
    )

    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    idx, rep = f"{base}/index", f"{base}/report"
    # simulate the orphan: a batch partition dir holding only _temporary
    os.makedirs(f"{idx}/data/batch=0/_temporary/0", exist_ok=True)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 10 == 0)
    try:
        chunk_dedup_batch(b1, 1, idx, rep)  # must not raise
        rows = spark.read.parquet(rep).collect()
        assert rows and all(r.batch_id == 1 for r in rows)
        # index now holds committed data, so a later batch probes it
        assert spark.read.parquet(f"{idx}/data").count() > 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_session_gap_matches_batch_twin(spark):
    """session_gap_annotate streamed across micro-batches must emit, for
    every event, EXACTLY the batch twin's prefix-final columns (gap,
    session ordinal, position, burst count) — including a same-timestamp
    tie group (the RANGE frame counts the whole group for each member)
    and a session boundary that spans a batch boundary."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        session_gap_annotate,
    )

    rows1 = [
        _ev(1, "2024-01-01 00:00:00", user=1),
        _ev(2, "2024-01-01 00:02:00", user=1),
        # tie group (same ts) inside one batch, order by event_id
        _ev(3, "2024-01-01 00:04:00", user=1),
        _ev(4, "2024-01-01 00:04:00", user=1),
        _ev(5, "2024-01-01 00:01:00", user=2),
    ]
    rows2 = [
        # continues user 1's session (4 min gap), burst window slides
        _ev(6, "2024-01-01 00:08:00", user=1),
        # > 30 min gap for user 2 → new session across the batch boundary
        _ev(7, "2024-01-01 01:00:00", user=2),
    ]
    h = FileStreamHarness(spark, session_gap_annotate, mode="update")
    try:
        h.push(rows1)
        h.step()
        h.push(rows2)
        # the memory sink ACCUMULATES update-mode emissions, so the table
        # after the second step holds every event's single emission
        import pandas as pd

        streamed = h.step().toPandas()
        assert sorted(streamed["event_id"]) == list(range(1, 8))

        batch = spark.createDataFrame(
            [(r["event_id"], r["user_id"], r["ts"]) for r in rows1 + rows2],
            "event_id long, user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        want = {r.event_id: (r.gap_ms, r.session_seq, r.pos_in_session,
                             r.n_burst_5min)
                for r in session_gap_annotate(batch).collect()}
        got = {int(r.event_id): (
                   None if pd.isna(r.gap_ms) else int(r.gap_ms),
                   int(r.session_seq), int(r.pos_in_session),
                   int(r.n_burst_5min))
               for r in streamed.itertuples()}
        assert got == want
        # the tie group must see the full group count on BOTH members
        assert got[3][3] == got[4][3]
        # session split across the batch boundary: user 2's second event
        # starts session 2 at position 1
        assert got[7][1:3] == (2, 1)
    finally:
        h.stop()


def test_stream_session_gap_real_events_two_batches(spark):
    """The same equivalence on REAL events (sf0.001), streamed as two
    micro-batches split at an event-time boundary (tie groups never
    straddle the split, per the operator contract)."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        session_gap_annotate,
    )

    from bossarrowstorageengine_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts")
    rows = ev.orderBy("ts", "event_id").collect()
    split_ts = rows[len(rows) // 2].ts
    # move the split AFTER the full tie group at split_ts
    b1 = [r for r in rows if r.ts <= split_ts]
    b2 = [r for r in rows if r.ts > split_ts]
    assert b1 and b2

    def to_push(rs):
        return [{"event_id": r.event_id, "ts": str(r.ts),
                 "user_id": r.user_id, "event_type": "x", "value": 0.0,
                 "props": "{}"} for r in rs]

    h = FileStreamHarness(spark, session_gap_annotate, mode="update")
    try:
        import pandas as pd

        h.push(to_push(b1))
        h.step()
        h.push(to_push(b2))
        streamed = h.step().toPandas()  # memory sink accumulates
        want = {r.event_id: (r.gap_ms, r.session_seq, r.pos_in_session,
                             r.n_burst_5min)
                for r in session_gap_annotate(ev).collect()}
        got = {int(r.event_id): (
                   None if pd.isna(r.gap_ms) else int(r.gap_ms),
                   int(r.session_seq), int(r.pos_in_session),
                   int(r.n_burst_5min))
               for r in streamed.itertuples()}
        assert got == want
    finally:
        h.stop()


def test_stream_session_gap_reordered_matches_batch_twin(spark):
    """session_gap_annotate_reordered must produce the batch twin's exact
    annotations from a stream delivered OUT of event-time order across
    micro-batches (including a same-µs tie group split across batches) —
    the delivery the bare operator correctly REJECTS.  The watermark
    (120 s here — the disorder must stay within it, or Spark's own
    late-row filter drops the event before the buffer sees it) bounds
    the disorder; sentinel far-future events advance
    it so every real event is released, and the sentinel user itself
    stays buffered (never emitted)."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        session_gap_annotate_reordered,
    )

    real = [
        _ev(1, "2024-01-01 00:00:00", user=1),
        _ev(2, "2024-01-01 00:00:30", user=1),
        # same-timestamp tie group, SPLIT across batches below
        _ev(3, "2024-01-01 00:02:00", user=1),
        _ev(4, "2024-01-01 00:02:00", user=1),
        _ev(5, "2024-01-01 00:03:00", user=1),
        _ev(6, "2024-01-01 00:00:10", user=2),
    ]
    h = FileStreamHarness(
        spark, lambda df: session_gap_annotate_reordered(df, 120),
        mode="update")
    try:
        import pandas as pd

        # out-of-order delivery: a later event first, the tie group split
        h.push([real[2], real[0]])
        h.step()
        h.push([real[1], real[3], real[5]])
        h.step()
        h.push([real[4]])
        h.step()
        # two sentinel batches: the first advances the watermark past
        # every real event, the second triggers the event-time timeouts
        # that flush users absent from it
        h.push([_ev(100, "2024-01-01 00:10:00", user=999)])
        h.step()
        h.push([_ev(101, "2024-01-01 00:11:00", user=999)])
        streamed = h.step().toPandas()
        streamed = streamed[streamed["user_id"] != 999]
        assert sorted(streamed["event_id"]) == [1, 2, 3, 4, 5, 6]

        batch = spark.createDataFrame(
            [(r["event_id"], r["user_id"], r["ts"]) for r in real],
            "event_id long, user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        want = {r.event_id: (r.gap_ms, r.session_seq, r.pos_in_session,
                             r.n_burst_5min)
                for r in session_gap_annotate_reordered(batch).collect()}
        got = {int(r.event_id): (
                   None if pd.isna(r.gap_ms) else int(r.gap_ms),
                   int(r.session_seq), int(r.pos_in_session),
                   int(r.n_burst_5min))
               for r in streamed.itertuples()}
        assert got == want
        # the split tie group sees the FULL group count on both members
        assert got[3][3] == got[4][3]
    finally:
        h.stop()


@pytest.mark.parametrize("second_ts, kind", [
    ("2024-01-01 00:04:00", "tie group split"),       # == last emitted ts
    ("2024-01-01 00:03:00", "out-of-order arrival"),  # < last emitted ts
])
def test_stream_session_gap_contract_violation_fails_loudly(
        spark, second_ts, kind):
    """A source that splits a same-microsecond tie group across
    micro-batches (or delivers out of order) must FAIL the query with a
    violation naming the cause — not silently emit burst counts that
    diverge from the batch twin (VERDICT r10 item 5: the contract used
    to be documented but unenforced)."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        session_gap_annotate,
    )

    h = FileStreamHarness(spark, session_gap_annotate, mode="update")
    try:
        h.push([_ev(1, "2024-01-01 00:00:00", user=1),
                _ev(2, "2024-01-01 00:04:00", user=1)])
        out = h.step().toPandas()
        assert sorted(out["event_id"]) == [1, 2]
        h.push([_ev(3, second_ts, user=1)])
        with pytest.raises(Exception) as ei:
            h.step()
            h.query.awaitTermination(30)
        msg = str(ei.value)
        assert "contract violation" in msg and kind in msg
    finally:
        h.stop()


def test_stream_session_gap_multi_chunk_group(spark):
    """A user whose micro-batch rows span SEVERAL Arrow chunks (group
    larger than arrow.maxRecordsPerBatch) must still be processed as one
    sorted whole — per-chunk sorting/tie-counting was the code-review
    regression: chunks arrive in arbitrary order, so a per-chunk pass
    mis-orders gaps and undercounts straddling tie groups."""
    from bossarrowstorageengine_spark.streaming.pipelines import (
        session_gap_annotate,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # 40 events for ONE user: ties every 4th event, a session break
        # in the middle — far more rows than one 7-row Arrow chunk
        rows = []
        base = 0
        for i in range(1, 41):
            if i == 21:
                base += 3600  # > 30 min gap → second session
            sec = base + (i // 4) * 60  # groups of ~4 share a timestamp
            rows.append(_ev(i, f"2024-01-01 0{sec // 3600}:"
                               f"{(sec % 3600) // 60:02d}:{sec % 60:02d}"))
        h = FileStreamHarness(spark, session_gap_annotate, mode="update")
        try:
            import pandas as pd

            h.push(rows)
            streamed = h.step().toPandas()
            assert sorted(streamed["event_id"]) == list(range(1, 41))
            batch = spark.createDataFrame(
                [(r["event_id"], r["user_id"], r["ts"]) for r in rows],
                "event_id long, user_id long, ts string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            want = {r.event_id: (r.gap_ms, r.session_seq, r.pos_in_session,
                                 r.n_burst_5min)
                    for r in session_gap_annotate(batch).collect()}
            got = {int(r.event_id): (
                       None if pd.isna(r.gap_ms) else int(r.gap_ms),
                       int(r.session_seq), int(r.pos_in_session),
                       int(r.n_burst_5min))
                   for r in streamed.itertuples()}
            assert got == want
            assert max(s for _, s, _, _ in got.values()) == 2
        finally:
            h.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_stream_session_gap_reordered_drop_accounting(caplog):
    """The reorder buffer's too-late drop branch must COUNT and WARN, not
    silently thin the stream (ADVICE r11): a source whose disorder
    exceeds delay_seconds is observable via the per-user lifetime
    counter in state and a warning naming the user and batch count.

    Driven against a stub GroupState because a REAL stream cannot reach
    the branch — Spark's late filter removes ts < watermark rows first
    and everything emitted is strictly below the watermark; the branch
    guards the two thresholds ever diverging."""
    import logging

    import pandas as pd

    from bossarrowstorageengine_spark.streaming.pipelines import (
        _sgap_annotate_reordered,
    )

    base_us = 1_700_000_000_000_000  # any fixed µs epoch

    class _StubState:
        exists = True
        # last emitted ts = base; one prior session; empty buffer; 0 drops
        get = (base_us, 1, 1, [base_us], [], [], 0)

        def __init__(self):
            self.updated = None

        def getCurrentWatermarkMs(self):
            # watermark well below everything buffered → nothing releases
            return (base_us - 10_000_000) // 1000

        def update(self, tup):
            self.updated = tup

        def setTimeoutTimestamp(self, ts_ms):
            self.timeout_ms = ts_ms

    # batch: one row AT the last emitted ts (dropped), one behind it
    # (dropped), one ahead (buffered, not released — below watermark
    # is required for release and wm sits behind it)
    pdf = pd.DataFrame({
        "event_id": [10, 11, 12],
        "ts": pd.to_datetime(
            [base_us, base_us - 5_000_000, base_us + 5_000_000], unit="us"),
    })
    state = _StubState()
    with caplog.at_level(logging.WARNING,
                         logger="bossarrowstorageengine_spark.streaming"
                                ".pipelines"):
        out = pd.concat(list(_sgap_annotate_reordered(
            (7,), iter([pdf]), state)))
    assert len(out) == 0  # nothing released
    last_ts, seq, pos, recent, buf_ts, buf_id, dropped = state.updated
    assert dropped == 2  # both too-late rows counted
    assert buf_id == [12] and buf_ts == [base_us + 5_000_000]
    assert (last_ts, seq, pos) == (base_us, 1, 1)  # annotation untouched
    warn = [r for r in caplog.records if "dropped 2 too-late" in r.message]
    assert warn and "user 7" in warn[0].message

    # a second batch with no late rows must NOT warn again (lifetime
    # counter persists; the warning is per-batch-with-new-drops)
    caplog.clear()
    state2 = _StubState()
    state2.get = state.updated
    pdf2 = pd.DataFrame({
        "event_id": [13],
        "ts": pd.to_datetime([base_us + 6_000_000], unit="us"),
    })
    with caplog.at_level(logging.WARNING,
                         logger="bossarrowstorageengine_spark.streaming"
                                ".pipelines"):
        pd.concat(list(_sgap_annotate_reordered((7,), iter([pdf2]), state2)))
    assert not [r for r in caplog.records if "too-late" in r.message]
    assert state2.updated[-1] == 2  # lifetime counter carried forward


def test_stream_mv_maintain_matches_batch_twin(spark):
    """The streaming MV maintainer must roll the persisted aggregate
    through the feed's commits to EXACTLY the batch key's version table
    (q_mv_maintain is oracle-gated; this differential pins the stream to
    it): one micro-batch per feed commit via manifest-version offsets,
    one MV version per batch, commit 2 arriving while the stream runs.
    Then the crash window: re-applying an already-absorbed batch id must
    be a no-op (the MV ledger's src_batch provenance, no markers)."""
    import uuid as _uuid

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.operators.scans import (
        _commit_changes,
        _mutation_snap,
        _write_mutation_history,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        FEED_SCHEMA,
        MV_SCHEMA,
        apply_feed_batch,
        mv_maintain_stream,
        seed_mv,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    src, feed, mv, ckpt = (f"{base}/{d}" for d in
                           ("src", "feed", "mv", "ckpt"))
    _write_mutation_history(spark, sf, src)
    v1, v2, v3 = (_mutation_snap(spark, src, v) for v in ("1", "2", None))

    def _commit(pre, post, seq):
        (_commit_changes(pre, post, seq)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .option("snapshots", "true").option("compression", "lz4")
         .mode("append").save(feed))

    base_agg = v1.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
    seed_mv(mv, base_agg)
    _commit(v1, v2, 1)  # lands before the stream starts -> batch 0
    q = mv_maintain_stream(spark, feed, mv, ckpt)
    try:
        q.processAllAvailable()
        _commit(v2, v3, 2)  # arrives live -> batch 1
        q.processAllAvailable()
    finally:
        q.stop()

    def _mv_rows(path):
        return (spark.read.format("arrowipc").option("snapshots", "true")
                .schema(MV_SCHEMA).load(path)).collect()

    mv_rows = _mv_rows(mv)
    got = {(r.mv_version, r.lang): (r.docs, r.chars) for r in mv_rows}
    batch_twin = entrymod.queries()["q_mv_maintain"](spark, sf).collect()
    want = {(r.mv_version, r.lang): (r.docs, r.chars) for r in batch_twin}
    assert got == want
    assert all(r.consistent for r in batch_twin)
    # one version per commit, feed-position provenance stamped
    assert {r.mv_version for r in mv_rows} == {1, 2, 3}
    assert {r.src_commit for r in mv_rows} == {0, 1, 2}

    # crash-window replay: commit 2 is redelivered — under a FRESH
    # checkpoint-scoped batch id (99), which must not matter: the ledger
    # keys on feed position, so the already-absorbed commit is a no-op.
    # A fresh load() per action, per the engine's documented rule
    # (arrowipc.pushFilters: the JVM plan cache on a shared Python
    # data-source relation makes mixed filtered/unfiltered reuse of one
    # load() result unsafe).
    def _feed_df():
        return (spark.read.format("arrowipc")
                .option("snapshots", "true")
                .option("columns", "lang,change,delta,commit_seq")
                .schema(FEED_SCHEMA).load(feed))

    apply_feed_batch(_feed_df().filter(F.col("commit_seq") == 2), 99, mv)
    assert {(r.mv_version, r.lang): (r.docs, r.chars)
            for r in _mv_rows(mv)} == want
    # ...and an empty new batch bumps nothing either
    apply_feed_batch(_feed_df().filter(F.lit(False)), 100, mv)
    assert len(_mv_rows(mv)) == len(mv_rows)

    # fresh-checkpoint backlog: a restarted maintainer's FIRST batch
    # spans the whole feed (latestOffset jumps to the newest manifest
    # version) — one batch, both commits, still one MV version PER
    # COMMIT, identical to the per-commit delivery above
    mv2 = f"{base}/mv2"
    seed_mv(mv2, base_agg)
    apply_feed_batch(_feed_df(), 0, mv2)
    assert {(r.mv_version, r.lang): (r.docs, r.chars)
            for r in _mv_rows(mv2)} == want


def test_stream_vocab_refresh_matches_batch_trainer(spark):
    """The vocab refresher's final refresh must equal the oracle-gated
    batch trainer's seed vocabulary on the union corpus (q_unigram_train
    rows projected to (piece, freq, logp_micro)); the drift report must
    attribute entering/leaving pieces to the refresh that caused them;
    and a replayed micro-batch — with AND without its fast-path marker —
    must leave both state tables bit-identical (overwrite semantics, not
    append)."""
    import os as _os
    import uuid as _uuid

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.vocab_refresh import (
        accumulated_words,
        apply_doc_batch,
        read_vocab,
        vocab_drift,
        vocab_refresh_stream,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    docs, words, vocab, ckpt = (f"{base}/{d}" for d in
                                ("docs", "words", "vocab", "ckpt"))
    _os.makedirs(words), _os.makedirs(vocab)
    d = load_table(spark, sf, "documents").select("doc_id", "text", "lang")

    def _commit(df):
        (df.select("doc_id", "text").write.format("arrowipc")
         .option("snapshots", "true").option("compression", "lz4")
         .mode("append").save(docs))

    # batch 0 = English only, batch 1 = the rest (incl. zh) — guarantees
    # the second refresh sees pieces the first could not (non-vacuous
    # drift: zh chars are absent from an en-only corpus).
    _commit(d.filter("lang = 'en'"))
    q = vocab_refresh_stream(spark, docs, words, vocab, ckpt,
                             refresh_every=1)
    try:
        q.processAllAvailable()
        _commit(d.filter("lang <> 'en'"))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.piece, r.freq, r.logp_micro)
           for r in read_vocab(spark, vocab).collect()}
    want = {(r.piece, r.freq, r.logp_micro)
            for r in entrymod.queries()["q_unigram_train"](spark, sf)
            .collect()}
    assert got == want and got

    drift = {r.refresh_id: (r.n_entering, r.n_leaving, r.n_kept)
             for r in vocab_drift(spark, vocab).collect()}
    assert set(drift) == {1}  # one adjacent pair: refresh 0 -> refresh 1
    entering, leaving, kept = drift[1]
    assert entering > 0, "zh chars must enter at refresh 1 — vacuous drift"
    assert kept > 0
    v0 = read_vocab(spark, vocab, refresh_id=0)
    assert read_vocab(spark, vocab, refresh_id=1).count() \
        == v0.count() - leaving + entering

    # -- replay idempotence ------------------------------------------------
    def _state():
        wc = sorted(map(tuple, accumulated_words(spark, words).collect()))
        vc = sorted(map(tuple, read_vocab(spark, vocab).collect()))
        return wc, vc

    before = _state()
    # commit 2's DELTA (a manifest version is the cumulative snapshot,
    # so replay the batch from the same relational split that wrote it)
    batch1 = d.filter("lang <> 'en'").select("text")
    # marker present: cheap no-op
    apply_doc_batch(batch1, 1, words, vocab, refresh_every=1)
    assert _state() == before
    # marker lost (crash between publish and marker): the overwrite
    # semantics make the recomputation land on identical state
    _os.remove(_os.path.join(words, "_batch-1.done"))
    apply_doc_batch(batch1, 1, words, vocab, refresh_every=1)
    assert _state() == before


def test_stream_vocab_refresh_stride(spark):
    """refresh_every=2 must skip the intermediate refresh: two applied
    batches produce exactly ONE vocab version, keyed by the triggering
    (second) batch id."""
    import os as _os
    import uuid as _uuid

    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.streaming.vocab_refresh import (
        _refresh_ids,
        apply_doc_batch,
    )

    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    words, vocab = f"{base}/words", f"{base}/vocab"
    _os.makedirs(words), _os.makedirs(vocab)
    d = load_table(spark, sf, "documents").select("text", "lang")
    apply_doc_batch(d.filter("lang = 'en'"), 0, words, vocab,
                    refresh_every=2)
    assert _refresh_ids(vocab) == []  # stride not complete yet
    apply_doc_batch(d.filter("lang <> 'en'"), 1, words, vocab,
                    refresh_every=2)
    assert _refresh_ids(vocab) == [1]


def test_stream_mv_maintain_through_feed_compaction(spark):
    """Feed compaction racing a live tailing consumer — the composition
    q_feed_compact + streaming.mv_maintain must already be safe:

    (a) DEFAULT consumer: the compaction commit removes part files, so
        the stream FAILS LOUDLY (rewritten rows would re-deliver);
    (b) ledgered consumer (ignore_changes=True): the checkpoint's
        re-delivered rows carry their original commit_seq, so the MV
        ledger filters absorbed commits to a NO-OP (no spurious version)
        while the next real commit still rolls the MV forward;
    (c) a FRESH consumer over the compacted feed bootstraps with one
        BATCH apply of the head read (each logical row exactly once by
        manifest construction) and derives the identical version
        history — NOT by tailing the manifest log from zero, which
        would deliver a commit's original partition and its checkpoint
        copy in the same micro-batch (the documented intra-batch
        double-delivery hazard the ledger cannot dedupe)."""
    import uuid as _uuid

    from bossarrowstorageengine_spark.operators.scans import (
        _commit_changes,
        _mutation_snap,
        _write_mutation_history,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        MV_SCHEMA,
        mv_maintain_stream,
        seed_mv,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    src, feed, mv, mv2 = (f"{base}/{d}" for d in
                          ("src", "feed", "mv", "mv2"))
    _write_mutation_history(spark, sf, src)
    v1, v2, v3 = (_mutation_snap(spark, src, v) for v in ("1", "2", None))

    def _commit(pre, post, seq):
        (_commit_changes(pre, post, seq)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .option("snapshots", "true").option("compression", "lz4")
         .mode("append").save(feed))

    def _mv_rows(path):
        return (spark.read.format("arrowipc").option("snapshots", "true")
                .schema(MV_SCHEMA).load(path)).collect()

    base_agg = v1.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
    seed_mv(mv, base_agg)
    _commit(v1, v2, 1)

    # (a) default consumer dies at the compaction commit, naming it
    q = mv_maintain_stream(spark, feed, mv, f"{base}/ckpt_a")
    q.processAllAvailable()  # absorbs commit 1 -> MV version 2
    after_c1 = {(r.mv_version, r.lang): (r.docs, r.chars)
                for r in _mv_rows(mv)}
    assert {v for v, _ in after_c1} == {1, 2}
    compact_feed_thru(spark, feed, thru=1)
    with pytest.raises(Exception, match="removes|ignoreChanges"):
        q.processAllAvailable()
        q.awaitTermination(30)
    q.stop()

    # (b) the ledgered consumer streams through the rewrite: no spurious
    # MV version from the re-delivered commit-1 rows...
    q2 = mv_maintain_stream(spark, feed, mv, f"{base}/ckpt_b",
                            ignore_changes=True)
    try:
        q2.processAllAvailable()
        assert {(r.mv_version, r.lang): (r.docs, r.chars)
                for r in _mv_rows(mv)} == after_c1
        # ...while the next real commit still rolls the MV forward
        _commit(v2, v3, 2)
        q2.processAllAvailable()
    finally:
        q2.stop()
    want = {(r.mv_version, r.lang): (r.docs, r.chars)
            for r in _mv_rows(mv)}
    assert {v for v, _ in want} == {1, 2, 3}

    # (c) fresh consumer: bootstrap from the HEAD read (checkpoint +
    # tail, each commit exactly once), the fresh-checkpoint backlog
    # pattern — identical history, proving compaction changed nothing
    # any correctly-bootstrapped consumer derives
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        FEED_SCHEMA,
        apply_feed_batch,
    )

    seed_mv(mv2, base_agg)
    head = (spark.read.format("arrowipc").option("snapshots", "true")
            .option("columns", "lang,change,delta,commit_seq")
            .schema(FEED_SCHEMA).load(feed))
    apply_feed_batch(head, 0, mv2)
    assert {(r.mv_version, r.lang): (r.docs, r.chars)
            for r in _mv_rows(mv2)} == want


def test_stream_ann_index_maintain_matches_rebuild(spark):
    """The streaming index maintainer must converge to EXACTLY the
    from-scratch re-bucketing of the final corpus (the batch key's own
    audit basis): one delta segment per feed commit, commit 2 arriving
    live; replay (redelivered batch under a fresh batch id) is a no-op
    by segment high-water; LSM compaction physically removes tombstones
    and folds segments without changing the logical index."""
    import os as _os
    import uuid as _uuid

    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_bucketed,
        _ann_idx_changes,
        _ann_snap,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        update_arrowipc,
    )
    from bossarrowstorageengine_spark.streaming.ann_index import (
        INDEX_SCHEMA,
        ann_index_stream,
        apply_index_batch,
        compact_index,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    src, feed, idx = (f"{base}/{d}" for d in ("src", "feed", "idx"))
    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ANN_IDX_DELETE_PRED,
        _ANN_IDX_UPDATE_PRED,
        _ANN_IDX_UPDATE_SET,
    )

    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    (e.repartition(4).write.format("arrowipc")
     .option("snapshots", "true").option("compression", "lz4")
     .mode("append").save(src))
    update_arrowipc(spark, src, _ANN_IDX_UPDATE_PRED, _ANN_IDX_UPDATE_SET,
                    compression="lz4", predicate_columns=["vec_id"],
                    schema=e.schema)
    delete_arrowipc(spark, src, _ANN_IDX_DELETE_PRED, compression="lz4",
                    predicate_columns=["vec_id"], schema=e.schema)
    b1, b2, b3 = (_ann_bucketed(_ann_snap(spark, src, v))
                  for v in ("1", "2", None))

    def _commit(pre, post, seq):
        (_ann_idx_changes(pre, post, seq)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .option("snapshots", "true").option("compression", "lz4")
         .mode("append").save(feed))

    seed_index(idx, b1)
    _commit(b1, b2, 1)  # lands before the stream starts
    # round 14: the maintainer also registers as a named consumer group
    q = ann_index_stream(spark, feed, idx, f"{base}/ckpt",
                         offsets_dir=f"{base}/offsets", group="lsm-index")
    try:
        q.processAllAvailable()
        _commit(b2, b3, 2)  # arrives live
        q.processAllAvailable()
    finally:
        q.stop()

    from bossarrowstorageengine_spark.sources.feed_consume import (
        committed_position,
        consumer_lag,
    )

    assert committed_position(spark, f"{base}/offsets", "lsm-index") == 2
    assert {(r.group, r.position, r.lag) for r in
            consumer_lag(spark, feed, f"{base}/offsets").collect()} \
        == {("lsm-index", 2, 0)}

    def idx_state():
        return sorted(map(tuple, read_index(spark, idx).collect()))

    want = sorted(map(tuple, b3.collect()))
    got = idx_state()
    assert got == want and got

    def raw():
        return (spark.read.format("arrowipc").option("snapshots", "true")
                .schema(INDEX_SCHEMA).load(idx))

    assert {r.seg for r in raw().select("seg").distinct().collect()} \
        == {0, 1, 2}
    n_tomb = raw().filter("tombstone").count()
    assert n_tomb > 0, "the delete commit must write tombstones — vacuous"

    # replay: the whole feed redelivered under a fresh batch id — the
    # segment high-water makes it a no-op (fresh load per the plan-cache
    # rule)
    replay = (spark.read.format("arrowipc").option("snapshots", "true")
              .option("columns", "vec_id,bucket,change,commit_seq")
              .schema("vec_id long, bucket int, change string, "
                      "commit_seq long").load(feed))
    apply_index_batch(replay, 99, idx)
    assert idx_state() == got
    assert {r.seg for r in raw().select("seg").distinct().collect()} \
        == {0, 1, 2}

    # LSM major compaction: logical state unchanged, tombstones gone,
    # segments folded, files reclaimed from the manifest
    res = compact_index(spark, idx, thru=2)
    assert res["files_after"] < res["files_before"]
    assert idx_state() == got
    assert raw().filter("tombstone").count() == 0
    assert {r.seg for r in raw().select("seg").distinct().collect()} \
        == {2}
    # the high-water survives the fold: replaying the feed again after
    # compaction still applies nothing
    apply_index_batch(replay, 100, idx)
    assert idx_state() == got


def test_ann_index_compact_refuses_future_segments(spark, tmp_path):
    """Folding past the absorbed high-water would stamp the merged
    segment above commits that never arrived, and the high-water ledger
    would silently skip them — the compactor must refuse."""
    import pytest

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        compact_index,
        seed_index,
    )

    register_arrowipc(spark)
    idx = str(tmp_path / "idx")
    seed_index(idx, spark.range(5).selectExpr(
        "id AS vec_id", "CAST(id % 3 AS INT) AS bucket"))
    with pytest.raises(ValueError, match="high-water"):
        compact_index(spark, idx, thru=7)


def test_stream_drift_monitor_matches_batch_key(spark):
    """The streamed drift report must agree with the oracle-gated batch
    key on the same split (reference = even vec_ids, live = odd vec_ids
    streamed in two micro-batches): identical half sizes, and the L2
    centroid shift within 1e-6 of the batch key's (SURVEY §8 rule 1 —
    double sums are association-order-dependent; the report rounds to
    4dp exactly like the key).  Replay of a batch — marker present and
    marker lost — leaves the accumulated partials bit-identical."""
    import os as _os
    import uuid as _uuid

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.drift_monitor import (
        apply_embedding_batch,
        drift_monitor_stream,
        drift_report,
        seed_reference,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    emb_dir, stats, ref = (f"{base}/{d}" for d in ("emb", "stats", "ref"))
    _os.makedirs(stats)
    e = load_table(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding")
    seed_reference(ref, e.filter("vec_id % 2 = 0"))
    live = e.filter("vec_id % 2 = 1")

    def _commit(df):
        (df.select("label", "embedding").write.format("arrowipc")
         .option("snapshots", "true").option("compression", "lz4")
         .mode("append").save(emb_dir))

    _commit(live.filter("vec_id % 4 = 1"))  # batch 0
    q = drift_monitor_stream(spark, emb_dir, stats, f"{base}/ckpt")
    try:
        q.processAllAvailable()
        _commit(live.filter("vec_id % 4 = 3"))  # batch 1, live
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.label: r for r in drift_report(spark, stats, ref).collect()}
    want = {r.label: r
            for r in entrymod.queries()["q_embedding_drift"](spark, sf)
            .collect()}
    assert set(got) == set(want) and got
    for lbl, w in want.items():
        g = got[lbl]
        assert (g.n_ref, g.n_live) == (w.n_half0, w.n_half1)
        assert abs(g.centroid_shift - w.centroid_shift) < 1e-6, lbl

    # replay idempotence, with and without the fast-path marker
    def _partials():
        return sorted(map(tuple, (
            spark.read.option("basePath", stats)
            .schema("label int, dim int, sum_x double, n long, "
                    "batch long")
            .parquet(stats).collect())))

    before = _partials()
    batch1 = live.filter("vec_id % 4 = 3").select("label", "embedding")
    apply_embedding_batch(batch1, 1, stats)
    assert _partials() == before
    _os.remove(_os.path.join(stats, "_batch-1.done"))
    apply_embedding_batch(batch1, 1, stats)
    assert _partials() == before


# ---------------------------------------------------------------------------
# round 13: snapshot-then-follow tailing (startingVersion / skipChangeCommits)
# and declared-schema validation on the stream read path (SURVEY §7 runway 1)
# ---------------------------------------------------------------------------


def _snap_append(spark, table, lo, hi):
    df = spark.range(lo, hi).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"))
    (df.coalesce(1).write.format("arrowipc")
     .option("snapshots", "true").mode("append").save(table))


def test_stream_bootstrap_then_tail_after_backlog(spark):
    """The standard CDC consumer pattern the r12 coexistence test left
    open: batch-bootstrap from the head at version V, then tail with
    startingVersion=V+1 — the tail delivers ONLY post-bootstrap commits,
    and bootstrap ∪ tail == the table at every point."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions)

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    _snap_append(spark, table, 0, 5)          # v1
    _snap_append(spark, table, 5, 8)          # v2  (backlog)

    head = spark.read.format("arrowipc").load(table)
    boot = sorted(r.id for r in head.collect())
    v = _manifest_versions(table)[-1]
    assert boot == list(range(8)) and v == 2

    name = f"tail_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .option("startingVersion", str(v + 1)).load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0   # backlog NOT re-delivered

        _snap_append(spark, table, 8, 11)       # v3 — post-bootstrap
        q.processAllAvailable()
        tail = sorted(r.id for r in spark.table(name).collect())
        assert tail == [8, 9, 10]
        assert sorted(boot + tail) == list(range(11))
    finally:
        q.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_stream_skip_change_commits(spark):
    """skipChangeCommits=true drops a rewrite commit ENTIRELY (no
    re-delivery), and the stream keeps tailing appends after it — the
    right contract for checkpoint/small-file compaction commits, which
    add no logical rows."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc)

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    _snap_append(spark, table, 0, 5)          # v1
    _snap_append(spark, table, 5, 8)          # v2

    name = f"scc_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .option("skipChangeCommits", "true").load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(name).collect()) == \
            list(range(8))

        compact_arrowipc(spark, table, target_files=1)   # v3: rewrite
        q.processAllAvailable()
        # the rewrite commit contributed NOTHING (vs ignoreChanges'
        # duplicate re-delivery)
        assert sorted(r.id for r in spark.table(name).collect()) == \
            list(range(8))

        _snap_append(spark, table, 8, 10)     # v4 — appends still flow
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(name).collect()) == \
            list(range(10))
    finally:
        q.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_stream_bootstrap_after_compaction_then_tail(spark):
    """Snapshot-then-follow ACROSS maintenance: bootstrap from a
    compacted head, tail with startingVersion=head+1 AND
    skipChangeCommits=true — later compactions don't poison the tail and
    nothing is double-counted."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions)
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc)

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    _snap_append(spark, table, 0, 5)                     # v1
    _snap_append(spark, table, 5, 8)                     # v2
    compact_arrowipc(spark, table, target_files=1)       # v3: rewrite

    boot = sorted(r.id for r in
                  spark.read.format("arrowipc").load(table).collect())
    v = _manifest_versions(table)[-1]
    assert boot == list(range(8)) and v == 3

    name = f"bct_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .option("startingVersion", str(v + 1))
         .option("skipChangeCommits", "true").load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0
        _snap_append(spark, table, 8, 12)                # v4
        compact_arrowipc(spark, table, target_files=1)   # v5: rewrite
        _snap_append(spark, table, 12, 14)               # v6
        q.processAllAvailable()
        tail = sorted(r.id for r in spark.table(name).collect())
        assert tail == list(range(8, 14))    # v4+v6 once, v5 skipped
        assert sorted(boot + tail) == list(range(14))
    finally:
        q.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_stream_starting_version_latest(spark):
    """startingVersion=latest: only commits made AFTER stream start."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    _snap_append(spark, table, 0, 6)          # v1 — pre-existing backlog

    name = f"lat_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .option("startingVersion", "latest").load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0
        _snap_append(spark, table, 6, 9)      # v2
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(name).collect()) == [6, 7, 8]
    finally:
        q.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_stream_reader_option_validation(spark, tmp_path):
    """Option contract errors fire at reader construction with actionable
    messages: ignoreChanges+skipChangeCommits are mutually exclusive;
    startingVersion needs a snapshotted table; version 0 is rejected."""
    import pyarrow as pa

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader)
    from pyspark.sql.types import StructType

    snap = str(tmp_path / "snap")
    df = spark.range(3).toDF("id")
    (df.write.format("arrowipc").option("snapshots", "true")
     .mode("append").save(snap))
    plain = str(tmp_path / "plain")
    df.write.format("arrowipc").mode("append").save(plain)

    schema = StructType.fromDDL("id bigint")
    with pytest.raises(ValueError, match="mutually exclusive"):
        ArrowIPCStreamReader(schema, {
            "path": snap, "ignoreChanges": "true",
            "skipChangeCommits": "true"})
    with pytest.raises(ValueError, match="snapshotted"):
        ArrowIPCStreamReader(schema, {"path": plain, "startingVersion": "2"})
    with pytest.raises(ValueError, match="start at 1"):
        ArrowIPCStreamReader(schema, {"path": snap, "startingVersion": "0"})
    # valid spellings construct fine
    r = ArrowIPCStreamReader(schema, {"path": snap, "startingversion": "2"})
    assert r.initialOffset() == {"v": 1}
    r = ArrowIPCStreamReader(schema, {"path": snap,
                                      "startingVersion": "latest"})
    assert r.initialOffset() == {"v": 1}   # table head is v1


def test_stream_declared_schema_mismatch_names_column(spark):
    """A declared stream schema whose type disagrees with the file's
    Arrow schema fails NAMING THE COLUMN — not the opaque JVM
    getUTF8String accessor error (SURVEY §7 runway 1, hit first-hand
    building the drift monitor)."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    df = spark.range(4).select("id", (F.col("id") % 3)
                               .cast("int").alias("label"))
    df.coalesce(1).write.format("arrowipc").mode("append").save(table)

    name = f"bad_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .schema("id bigint, label string").load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        with pytest.raises(Exception) as exc:
            q.processAllAvailable()
        msg = str(exc.value)
        assert "label" in msg and "string" in msg and "int" in msg
        assert "getUTF8String" not in msg
    finally:
        q.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_validate_declared_schema_unit():
    """Unit contract of the validator: dictionary/large_string physical
    encodings don't false-positive; missing columns pass (evolution
    null-fills); unmapped arrow types degrade to skipped; a genuine
    mismatch names the column."""
    import pyarrow as pa

    from bossarrowstorageengine_spark.sources.arrowipc import (
        _validate_declared_schema)
    from pyspark.sql.types import StructType

    declared = StructType.fromDDL("id bigint, label string, score double")
    ok = pa.schema([
        pa.field("id", pa.int64()),
        pa.field("label", pa.dictionary(pa.int32(), pa.large_string())),
        # score absent: evolution null-fills
    ])
    _validate_declared_schema(declared, ok, "/t/part-0.arrows")

    bad = pa.schema([pa.field("id", pa.int64()),
                     pa.field("label", pa.int32())])
    with pytest.raises(ValueError, match="'label'.*string.*int"):
        _validate_declared_schema(declared, bad, "/t/part-0.arrows")
    # projection excludes the bad column -> passes
    _validate_declared_schema(declared, bad, "/t/part-0.arrows",
                              columns=["id"])


def test_stream_native_maintained_index_tails_feed(spark):
    """The r13 composition END TO END: the LSM index maintainer runs as
    an actual foreachBatch consumer of the arrowipc STREAM READER with
    startingVersion + skipChangeCommits — snapshot-bootstrap the index
    from the feed head, tail only post-bootstrap commits, survive a
    mid-stream feed checkpoint compaction, and converge to the
    from-scratch re-bucketing of the final corpus.  (Round-14 runway
    item 1, pulled forward: until now the harness drove
    apply_index_batch directly.)"""
    import os
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_bucketed,
        _ann_idx_changes,
        _ann_snap,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        update_arrowipc,
    )
    from bossarrowstorageengine_spark.streaming.ann_index import (
        FEED_SCHEMA,
        apply_index_batch,
        read_index,
        seed_index,
    )
    from bossarrowstorageengine_spark.catalog import load_table

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    src, feed, idx = f"{base}/src", f"{base}/feed", f"{base}/idx"
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding")
    (e.repartition(2).write.format("arrowipc")
     .option("snapshots", "true").mode("append").save(src))       # src v1
    schema = e.schema

    def _feed_append(pre_v, post_v, seq):
        b_pre = _ann_bucketed(_ann_snap(spark, src, pre_v))
        b_post = _ann_bucketed(_ann_snap(spark, src, post_v))
        (_ann_idx_changes(b_pre, b_post, seq)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .option("snapshots", "true").mode("append").save(feed))

    # backlog: commit 1 (the UPDATE's re-buckets), already in the feed
    update_arrowipc(spark, src, "vec_id % 7 = 3",
                    {"embedding": "transform(embedding, x -> -x)"},
                    predicate_columns=["vec_id"], schema=schema)  # src v2
    _feed_append("1", "2", 1)                                     # feed v1

    # BOOTSTRAP: seed from src v1, batch-absorb the feed backlog
    seed_index(idx, _ann_bucketed(_ann_snap(spark, src, "1")))
    backlog = (spark.read.format("arrowipc").option("snapshots", "true")
               .option("columns", "vec_id,bucket,change,commit_seq")
               .schema(FEED_SCHEMA).load(feed))
    apply_index_batch(backlog, -1, idx)
    boot_head = _manifest_versions(feed)[-1]

    # TAIL: only post-bootstrap feed commits; rewrite commits skipped
    q = (spark.readStream.format("arrowipc")
         .option("startingVersion", str(boot_head + 1))
         .option("skipChangeCommits", "true")
         .option("columns", "vec_id,bucket,change,commit_seq")
         .schema(FEED_SCHEMA).load(feed)
         .writeStream.foreachBatch(
             lambda df, bid: apply_index_batch(df, bid, idx))
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()   # nothing new yet — backlog NOT replayed
        delete_arrowipc(spark, src, "vec_id % 5 = 0",
                        predicate_columns=["vec_id"], schema=schema)
        _feed_append("2", "3", 2)                                 # feed v2
        q.processAllAvailable()

        compact_feed_thru(spark, feed, thru=2)   # feed v3: rewrite commit
        q.processAllAvailable()                  # skipped entirely

        update_arrowipc(spark, src, "vec_id % 11 = 7",
                        {"embedding": "transform(embedding, x -> -x)"},
                        predicate_columns=["vec_id"], schema=schema)
        _feed_append("3", None, 3)                                # feed v4
        q.processAllAvailable()
    finally:
        q.stop()

    # converged: merge-on-read state == from-scratch re-bucketing of head
    state = read_index(spark, idx)
    direct = _ann_bucketed(_ann_snap(spark, src, None))
    assert state.exceptAll(direct).count() == 0
    assert direct.exceptAll(state).count() == 0
    assert state.count() > 0

    # replay safety: a FRESH checkpoint over the same tail re-applies
    # nothing (segment high-water idempotence), state unchanged
    before = sorted(map(tuple, state.collect()))
    q2 = (spark.readStream.format("arrowipc")
          .option("startingVersion", str(boot_head + 1))
          .option("skipChangeCommits", "true")
          .option("columns", "vec_id,bucket,change,commit_seq")
          .schema(FEED_SCHEMA).load(feed)
          .writeStream.foreachBatch(
              lambda df, bid: apply_index_batch(df, bid, idx))
          .option("checkpointLocation", f"{base}/ckpt2").start())
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(map(tuple, read_index(spark, idx).collect())) == before
    shutil.rmtree(base, ignore_errors=True)


def test_stream_guarded_index_fails_loudly_on_resurrection(spark):
    """Streaming face of the purge guard: a foreachBatch index tail
    wrapped in apply_index_batch_guarded KILLS the stream query with
    PurgeViolation when a resurrection commit arrives — the purge is
    enforced at the consumer, not just in the batch key — and the index
    state is untouched by the refused batch."""
    import shutil
    import uuid as _uuid

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        FEED_SCHEMA,
        apply_index_batch_guarded,
        read_index,
        record_purge,
        seed_index,
    )

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    feed, idx, ledger = f"{base}/feed", f"{base}/idx", f"{base}/ledger"

    seed_index(idx, spark.createDataFrame(
        [(1, 10), (2, 20)], "vec_id long, bucket int"))
    record_purge(spark.createDataFrame([(2,)], "vec_id long"),
                 ledger, purged_at=1)

    def _push(rows, seq):
        (spark.createDataFrame(rows, FEED_SCHEMA)
         .coalesce(1).write.format("arrowipc")
         .option("partitionBy", "commit_seq")
         .option("snapshots", "true").mode("append").save(feed))

    _push([(2, None, "delete", 1)], 1)   # the purge's own delete commit

    q = (spark.readStream.format("arrowipc")
         .option("columns", "vec_id,bucket,change,commit_seq")
         .schema(FEED_SCHEMA).load(feed)
         .writeStream.foreachBatch(
             lambda df, bid: apply_index_batch_guarded(
                 df, bid, idx, ledger))
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()          # delete commit passes the guard
        assert read_index(spark, idx).filter("vec_id = 2").count() == 0

        _push([(2, 21, "insert", 2)], 2)  # resurrection
        with pytest.raises(Exception, match="purged"):
            q.processAllAvailable()
    finally:
        q.stop()
    # refused batch left no segment behind
    assert read_index(spark, idx).filter("vec_id = 2").count() == 0
    assert sorted(r.vec_id for r in read_index(spark, idx).collect()) == [1]
    shutil.rmtree(base, ignore_errors=True)


def test_stream_starting_timestamp(spark):
    """startingTimestamp resolves to the first commit at-or-after the
    anchor (Delta's other tailing anchor): a tail anchored between v1
    and v2 delivers v2 onward only; an anchor past the head fails
    actionably; both anchors together are rejected; epoch and ISO forms
    parse.  New manifests carry the commit ts in the doc; resolution
    falls back to manifest mtime for pre-existing tables."""
    import shutil
    import time as _time
    import uuid as _uuid

    import pytest as _pytest

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader,
        _commit_ts,
    )
    from pyspark.sql.types import StructType

    register_arrowipc(spark)
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    table = f"{base}/table"
    _snap_append(spark, table, 0, 5)          # v1
    _time.sleep(0.3)
    between = _time.time()
    _time.sleep(0.3)
    _snap_append(spark, table, 5, 8)          # v2
    assert _commit_ts(table, 1) < between < _commit_ts(table, 2)

    name = f"tst_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("arrowipc")
         .option("startingTimestamp", str(between)).load(table)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{base}/ckpt").start())
    try:
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(name).collect()) == \
            [5, 6, 7]                          # v1 excluded, v2 included
        _snap_append(spark, table, 8, 10)      # v3 keeps flowing
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(name).collect()) == \
            list(range(5, 10))
    finally:
        q.stop()

    schema = StructType.fromDDL("id bigint, grp string")
    with _pytest.raises(ValueError, match="mutually exclusive"):
        ArrowIPCStreamReader(schema, {
            "path": table, "startingVersion": "2",
            "startingTimestamp": str(between)})
    with _pytest.raises(ValueError, match="after the latest commit"):
        ArrowIPCStreamReader(schema, {
            "path": table, "startingTimestamp": str(_time.time() + 3600)})
    with _pytest.raises(ValueError, match="neither epoch"):
        ArrowIPCStreamReader(schema, {
            "path": table, "startingTimestamp": "not-a-time"})
    # ISO form resolves like the epoch form
    from datetime import datetime, timezone
    iso = datetime.fromtimestamp(between, tz=timezone.utc).isoformat()
    r = ArrowIPCStreamReader(schema, {"path": table,
                                      "startingTimestamp": iso})
    assert r.initialOffset() == {"v": 1}       # first batch = v2 onward
    shutil.rmtree(base, ignore_errors=True)


def test_stream_mv_fanout_matches_batch_twin(spark):
    """The N-grain fanout maintainer (round 14): ONE foreachBatch rolls
    BOTH grain ledgers forward to EXACTLY the oracle-gated batch key's
    version table (q_mv_fanout — this differential pins the stream to
    it), fine-grain deltas computed once and the coarse grain a rollup.
    Then the replay arms the vector-of-ledgers design adds: full
    redelivery is a no-op on every grain; a crash BETWEEN two grains'
    writes of the same commit (fine absorbed it, coarse did not)
    re-applies only the grain that missed it."""
    import os
    import uuid as _uuid

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _grain_schema,
        apply_fanout_batch,
        mv_fanout_stream,
        seed_mv_fanout,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    # 1. the batch twin builds the shared fixture (src + feed) and
    #    returns the oracle-gated two-grain version table
    batch_twin = entrymod.queries()["q_mv_fanout"](spark, sf).collect()
    assert all(r.consistent for r in batch_twin)
    want = {(r.grain, r.mv_version, r.lang, r.source): (r.docs, r.chars)
            for r in batch_twin}

    fixture = os.path.join(_SCRATCH_ROOT, os.path.basename(sf),
                           "mv_fanout")
    src, feed = os.path.join(fixture, "src"), os.path.join(fixture, "feed")
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    grains = [(f"{base}/mv_fine", ["lang", "source"]),
              (f"{base}/mv_coarse", ["lang"])]

    base_fine = (spark.read.format("arrowipc").option("version", "1")
                 .option("columns", "lang,source,n_chars")
                 .schema("lang string, source string, n_chars long")
                 .load(src)
                 .groupBy("lang", "source").agg(
                     F.count(F.lit(1)).alias("docs"),
                     F.sum("n_chars").alias("chars")))
    seed_mv_fanout(grains, base_fine)

    # 2. stream the feed (one write job published both commits → the
    #    fresh-checkpoint BACKLOG shape: one micro-batch, two commits,
    #    still one version per commit per grain)
    q = mv_fanout_stream(spark, feed, grains, f"{base}/ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def _rows(mv_dir, keys):
        return (spark.read.format("arrowipc").option("snapshots", "true")
                .schema(_grain_schema(keys)).load(mv_dir)).collect()

    def _got():
        fine = {("lang_source", r.mv_version, r.lang, r.source):
                (r.docs, r.chars)
                for r in _rows(grains[0][0], ["lang", "source"])}
        coarse = {("lang", r.mv_version, r.lang, "*"): (r.docs, r.chars)
                  for r in _rows(grains[1][0], ["lang"])}
        return {**fine, **coarse}

    assert _got() == want
    # feed-position provenance on every grain
    assert {r.src_commit for r in _rows(grains[0][0], ["lang", "source"])} \
        == {0, 1, 2}
    assert {r.src_commit for r in _rows(grains[1][0], ["lang"])} == \
        {0, 1, 2}

    def _feed_df():
        return (spark.read.format("arrowipc").option("snapshots", "true")
                .option("columns", "lang,source,change,delta,commit_seq")
                .schema("lang string, source string, change string, "
                        "delta long, commit_seq long").load(feed))

    # 3. full redelivery under a fresh batch id: no-op on every grain
    apply_fanout_batch(_feed_df(), 99, grains)
    assert _got() == want

    # 4. partial-crash replay: a second pair where the FINE grain
    #    absorbed both commits but the coarse ledger crashed before its
    #    writes — redelivery must advance ONLY the coarse grain, to the
    #    identical final state
    grains2 = [(f"{base}/mv_fine2", ["lang", "source"]),
               (f"{base}/mv_coarse2", ["lang"])]
    seed_mv_fanout(grains2, base_fine)
    apply_fanout_batch(_feed_df(), 0, grains2[:1])   # fine only (crash)
    apply_fanout_batch(_feed_df(), 1, grains2)       # recovery replay
    fine2 = {("lang_source", r.mv_version, r.lang, r.source):
             (r.docs, r.chars)
             for r in _rows(grains2[0][0], ["lang", "source"])}
    coarse2 = {("lang", r.mv_version, r.lang, "*"): (r.docs, r.chars)
               for r in _rows(grains2[1][0], ["lang"])}
    assert {**fine2, **coarse2} == want

    # 5. an empty micro-batch bumps nothing
    apply_fanout_batch(_feed_df().filter(F.lit(False)), 100, grains)
    assert _got() == want

    # 6. a non-subset grain is rejected up front
    with pytest.raises(ValueError, match="not a subset"):
        seed_mv_fanout([(f"{base}/mv_bad", ["lang"]),
                        (f"{base}/mv_bad2", ["lang", "source"])],
                       base_fine)


def test_stream_mv_fanout_commits_consumer_group_position(spark):
    """The LIVE fanout maintainer as a named consumer group (round 14):
    each micro-batch's applies advance the group's position in the
    shared offsets table, so consumer_lag reports the streaming
    maintainer next to every batch consumer of the feed.  A restart
    from a FRESH checkpoint re-observes the whole backlog: the grain
    ledgers no-op (per-grain replay safety) and the position commit is
    skipped rather than tripping the forward-only guard."""
    import os
    import uuid as _uuid

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_consume import (
        committed_position,
        consumer_lag,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _grain_head,
        mv_fanout_stream,
        seed_mv_fanout,
    )

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    entrymod.queries()["q_mv_fanout"](spark, sf).collect()   # fixture
    fixture = os.path.join(_SCRATCH_ROOT, os.path.basename(sf),
                           "mv_fanout")
    src, feed = os.path.join(fixture, "src"), os.path.join(fixture, "feed")
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    offsets = os.path.join(base, "offsets")
    grains = [(f"{base}/mv_fine", ["lang", "source"]),
              (f"{base}/mv_coarse", ["lang"])]
    base_fine = (spark.read.format("arrowipc").option("version", "1")
                 .option("columns", "lang,source,n_chars")
                 .schema("lang string, source string, n_chars long")
                 .load(src)
                 .groupBy("lang", "source").agg(
                     F.count(F.lit(1)).alias("docs"),
                     F.sum("n_chars").alias("chars")))
    seed_mv_fanout(grains, base_fine)

    q = mv_fanout_stream(spark, feed, grains, f"{base}/ckpt",
                         offsets_dir=offsets, group="live-fanout")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_position(spark, offsets, "live-fanout") == 2
    lag = {r.group: (r.position, r.lag)
           for r in consumer_lag(spark, feed, offsets).collect()}
    assert lag == {"live-fanout": (2, 0)}
    _, ver_fine, _ = _grain_head(spark, grains[0][0], grains[0][1])

    # fresh-checkpoint restart: whole backlog re-observed — ledgers
    # no-op, position stays, no regression-guard trip
    q2 = mv_fanout_stream(spark, feed, grains, f"{base}/ckpt2",
                          offsets_dir=offsets, group="live-fanout")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert committed_position(spark, offsets, "live-fanout") == 2
    _, ver_after, _ = _grain_head(spark, grains[0][0], grains[0][1])
    assert ver_after == ver_fine

    # both-or-neither validation
    with pytest.raises(ValueError, match="come together"):
        mv_fanout_stream(spark, feed, grains, f"{base}/ckpt3",
                         offsets_dir=offsets)
