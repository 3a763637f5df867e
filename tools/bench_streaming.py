"""Streaming throughput at sf1 scale (VERDICT r07 #5): measured
events/sec and state-store rows for the four stateful gate families —
TTL dedup, sessionization, stream-stream interval join, and IVM —
so the "unbounded feed" claims in streaming/*.py docstrings cite a
measured rate instead of an argument.

Inputs come from the sf1 replica set built by tools/bench_sf1.py
(events: 1M rows; documents: 50k rows). Each family is driven through
the same file-source replay shape its correctness gate uses, over
multiple triggers so the stateful operator actually carries state
across micro-batches. Wall-clock covers start() .. processAllAvailable()
(steady ingestion, not Spark session startup). State rows come from the
query's own progress metrics (stateOperators.numRowsTotal).

Usage: python tools/bench_streaming.py  (prints one JSON line per family)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sf1 import SF1_DIR
from tools.replica_util import SCRATCH as SCRATCH_ROOT

SF10_STREAM = os.path.join(SCRATCH_ROOT, "sf10_stream")
SF100_STREAM = os.path.join(SCRATCH_ROOT, "sf100_stream")
SCRATCH = os.path.join(SCRATCH_ROOT, "stream_bench")

# events source for the event-driven families — the `decade`/
# `decade100` modes re-point this at the 10M/100M-row replicas so the
# same bench functions produce the second/third-decade table rows
# (VERDICT r09 #4 and the round-10 extension)
EVENTS_SF = SF1_DIR
DOCS_SF = SF1_DIR
SCALE_TAG = "sf1"


def build_events_sf10(spark) -> None:
    """10M-event replica (10 x sf1 events, keys offset by 1<<28 —
    above sf1's max key of ~10*(1<<24) — timestamps shifted r seconds
    so the event-time profile is preserved for the watermark slicing).
    Sentinel on _SUCCESS so an interrupted build is retried."""
    from tools.replica_util import replicate

    if os.path.exists(
        os.path.join(SF10_STREAM, "events.parquet", "_SUCCESS")
    ):
        return
    os.makedirs(SF10_STREAM, exist_ok=True)
    replicate(
        spark, SF1_DIR, SF10_STREAM, "events",
        ["event_id", "user_id"], replicas=10, key_offset=1 << 28,
        ts_col="ts", parts_out=64,
    )


def build_docs_sf10(spark) -> None:
    """500k-doc replica (10 x sf1 documents, doc_id offset by 1<<28)
    for the IVM decade row."""
    from tools.replica_util import replicate

    if os.path.exists(
        os.path.join(SF10_STREAM, "documents.parquet", "_SUCCESS")
    ):
        return
    os.makedirs(SF10_STREAM, exist_ok=True)
    replicate(
        spark, SF1_DIR, SF10_STREAM, "documents", ["doc_id"],
        replicas=10, key_offset=1 << 28, parts_out=64,
    )


def build_docs_sf100(spark) -> None:
    """5M-doc replica (10 x the sf10 docs, doc_id offset by 1<<33) for
    the IVM trickle third point — the scale where the bucketed
    layout's wall crosses over (the plain layout's full rewrite
    dominates; the bucketed commit cost stays flat)."""
    from tools.replica_util import replicate

    build_docs_sf10(spark)
    if os.path.exists(
        os.path.join(SF100_STREAM, "documents.parquet", "_SUCCESS")
    ):
        return
    os.makedirs(SF100_STREAM, exist_ok=True)
    replicate(
        spark, SF10_STREAM, SF100_STREAM, "documents", ["doc_id"],
        replicas=10, key_offset=1 << 33, parts_out=128,
    )


def build_events_sf100(spark) -> None:
    """100M-event replica (10 x the sf10 replica, keys offset by
    1<<33 — above sf10's ~2.7e9 max key). ~2 GB parquet; the bounded
    TTL-dedup feed doubles it to 200M delivered rows."""
    from tools.replica_util import replicate

    build_events_sf10(spark)
    if os.path.exists(
        os.path.join(SF100_STREAM, "events.parquet", "_SUCCESS")
    ):
        return
    os.makedirs(SF100_STREAM, exist_ok=True)
    replicate(
        spark, SF10_STREAM, SF100_STREAM, "events",
        ["event_id", "user_id"], replicas=10, key_offset=1 << 33,
        ts_col="ts", parts_out=128,
    )


def state_rows(q) -> int:
    for p in reversed(q.recentProgress):
        ops = p.get("stateOperators") or []
        if ops:
            return sum(int(o.get("numRowsTotal", 0)) for o in ops)
    return 0


def write_batches(df, key_col, out_dir, n):
    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    for b in range(n):
        (
            df.filter(F.pmod(F.col(key_col), F.lit(n)) == b)
            .coalesce(4)
            .write.mode("append")
            .parquet(out_dir)
        )


def bench_ttl_dedup(spark) -> dict:
    """2M-row at-least-once feed (every event delivered twice) through
    dropDuplicatesWithinWatermark, 4 triggers."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming.dedup import dedup_stream

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    feed = ev.unionByName(ev)  # duplicate every delivery
    src = os.path.join(SCRATCH, "ttl_feed")
    write_batches(feed, "event_id", src, 4)
    n_in = feed.count()
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    out = dedup_stream(stream, key_cols=("event_id",), watermark="365 days")
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(SCRATCH, "ttl_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
        st = state_rows(q)
    finally:
        q.stop()
    return {
        "family": "ttl_dedup",
        "input_rows": n_in,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        "state_rows": st,
    }


def bench_sessionize(spark) -> dict:
    """1M events through applyInPandasWithState sessionization."""
    from vector_database_watermarking_spark.streaming.sessions import (
        sessionize_stream,
    )

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    src = os.path.join(SCRATCH, "sess_feed")
    write_batches(ev, "event_id", src, 4)
    n_in = ev.count()
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    out = sessionize_stream(stream, watermark="365 days")
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(SCRATCH, "sess_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
        st = state_rows(q)
    finally:
        q.stop()
    return {
        "family": "sessionization",
        "input_rows": n_in,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        "state_rows": st,
    }


def bench_interval_join(spark) -> dict:
    """view/purchase slices of the 1M-event table through the
    watermarked stream-stream interval join."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming.joins import (
        attribution_join_streams,
    )

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    vsrc = os.path.join(SCRATCH, "ij_views")
    psrc = os.path.join(SCRATCH, "ij_purch")
    write_batches(views, "event_id", vsrc, 3)
    write_batches(purchases, "event_id", psrc, 3)
    n_in = views.count() + purchases.count()
    schema = "event_id long, user_id long, ts timestamp, value double"
    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(vsrc)
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(psrc)
    )
    out = attribution_join_streams(vs, ps, horizon="1 hour", watermark="365 days")
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(SCRATCH, "ij_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
        st = state_rows(q)
    finally:
        q.stop()
    return {
        "family": "interval_join",
        "input_rows": n_in,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        "state_rows": st,
    }


def bench_ivm(spark) -> dict:
    """50k-doc base, 25k-change CDC feed (upserts + deletes) through
    the delta-only MERGE + view maintenance loop, 4 batches."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming import cdc, ivm

    docs = spark.read.parquet(f"{DOCS_SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    base = docs
    n_docs = docs.count()
    changes = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) < 2)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
            "source",
            F.lit(1).alias("seq"),
            F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 0, "delete")
            .otherwise("upsert")
            .alias("op"),
        )
    )
    n_changes = changes.count()
    scratch = os.path.join(SCRATCH, "ivm")
    shutil.rmtree(scratch, ignore_errors=True)
    changes_dir = os.path.join(scratch, "changes")
    table_dir = os.path.join(scratch, "table")
    agg_dir = os.path.join(scratch, "view")
    cdc.init_table(base, table_dir)
    ivm.init_view(base, agg_dir, group_col="source", value_expr="length(text)")
    write_batches(changes, "doc_id", changes_dir, 4)
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(changes_dir)
    )
    t0 = time.monotonic()
    q = ivm.ivm_agg_stream(
        stream,
        table_dir,
        agg_dir,
        group_col="source",
        value_expr="length(text)",
        checkpoint_dir=os.path.join(scratch, "ckpt"),
        retain=1,
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
    finally:
        q.stop()
    view_rows = cdc.read_current(spark, agg_dir).count()
    return {
        "family": "ivm",
        "base_rows": n_docs,
        "input_rows": n_changes,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_changes / wall),
        "view_rows": view_rows,
    }


def _unique_bytes(root: str) -> int:
    """Bytes on disk under ``root`` counting each inode once — hard
    links across snapshot versions share bytes, and that sharing IS
    the bucketed layout's claim."""
    seen, total = set(), 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def bench_ivm_trickle(spark) -> dict:
    """The trickle-CDC regime (VERDICT r10 #4): ~25-key micro-batches
    against the FULL documents base through the identical IVM trigger,
    plain snapshot layout vs bucketed (n_buckets=256), retain=0 so
    every version's write cost stays on disk to be measured. The plain
    layout rewrites the whole base per trigger — O(snapshot); the
    bucketed layout rewrites only the ~25 touched buckets and
    hard-links the rest — O(changed buckets). ``*_bytes_written``
    counts unique inodes, so shared (linked) files are counted once —
    exactly the bytes a 100 TB object store would ingest per commit.
    Hash bucketing spreads keys uniformly, so the win requires batch
    keys ≲ n_buckets (trickle); a batch with keys >> n_buckets
    converges back to the full rewrite."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming import cdc, ivm

    docs = spark.read.parquet(f"{DOCS_SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    n_docs = docs.count()
    # trickle regime: ~25 keys per batch REGARDLESS of base size (the
    # whole point is batch keys << n_buckets; ~250-key batches over 64
    # buckets touch every bucket and converge to the full rewrite —
    # measured, and stated in the docstring)
    n_batches, per_batch_mod = 8, max(1, n_docs // 25)
    batches = []
    for b in range(n_batches):
        batches.append(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(per_batch_mod)) == b)
            .select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                "source",
                F.lit(b + 1).alias("seq"),
                F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 0, "delete")
                .otherwise("upsert")
                .alias("op"),
            )
            .localCheckpoint(eager=True)
        )
    n_changes = sum(b.count() for b in batches)
    n_buckets = 256
    out: dict = {
        "family": "ivm_trickle",
        "base_rows": n_docs,
        "batches": n_batches,
        "change_rows": n_changes,
        "n_buckets": n_buckets,
    }
    scratch = os.path.join(SCRATCH, "ivm_trickle")
    for layout in ("plain", "bucketed"):
        shutil.rmtree(scratch, ignore_errors=True)
        table_dir = os.path.join(scratch, "table")
        agg_dir = os.path.join(scratch, "view")
        if layout == "bucketed":
            cdc.init_table_bucketed(
                docs, table_dir, key="doc_id", n_buckets=n_buckets
            )
        else:
            cdc.init_table(docs, table_dir)
        ivm.init_view(docs, agg_dir, "source", "length(text)")
        base_bytes = _unique_bytes(table_dir)
        t0 = time.monotonic()
        for b in batches:
            ivm.apply_batch(
                b, table_dir, agg_dir, "source", "length(text)", retain=0
            )
        wall = time.monotonic() - t0
        out[f"{layout}_wall_sec"] = round(wall, 2)
        out[f"{layout}_commit_bytes"] = _unique_bytes(table_dir) - base_bytes
        # the defining invariant must hold in both layouts
        view = {
            tuple(r)
            for r in cdc.read_current(spark, agg_dir).collect()
        }
        recomputed = {
            tuple(r)
            for r in ivm.group_contrib(
                cdc.read_current(spark, table_dir), "source", "length(text)"
            ).collect()
        }
        assert view == recomputed, f"IVM invariant broken in {layout} layout"
    out["bytes_ratio"] = round(
        out["plain_commit_bytes"] / max(out["bucketed_commit_bytes"], 1), 1
    )
    shutil.rmtree(scratch, ignore_errors=True)
    return out


# ------------------------------------------------------- bounded watermark
# The replay benches above deliberately pin the watermark past the
# fixture horizon (watermark="365 days") so NOTHING is evicted and the
# measured state size is the worst case. The *_bounded variants below
# (VERDICT r08 #4) measure the production configuration instead: a
# 2-hour watermark over the same sf1 feed delivered in EVENT-TIME order
# (8 time slices, one per trigger), plus a held-back 0.1% late slice
# (drawn from the first half of the timeline, delivered last) so the
# run also demonstrates late-row dropping. Evidence recorded from the
# query's own progress metrics: state peaks at ~one trigger's ingest
# and collapses to the ≤ watermark(+horizon) frontier at the end —
# state_rows_final << distinct input keys — and the late rows land in
# numRowsDroppedByWatermark instead of the output.


def _state_metrics(q) -> dict:
    peak = final = dropped = 0
    mem_peak = 0  # provider-reported state memory (bytes)
    rocks_mem_peak = rocks_sst_peak = 0  # RocksDB custom metrics
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        total = sum(int(o.get("numRowsTotal", 0)) for o in ops)
        peak = max(peak, total)
        final = total
        dropped += sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
        mem_peak = max(
            mem_peak, sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
        )
        for o in ops:
            cm = o.get("customMetrics") or {}
            rocks_mem_peak = max(
                rocks_mem_peak, int(cm.get("rocksdbTotalMemoryUsageBytes", 0))
            )
            rocks_sst_peak = max(
                rocks_sst_peak, int(cm.get("rocksdbSstFileSize", 0))
            )
    out = {
        "state_rows_peak": peak,
        "state_rows_final": final,
        "rows_dropped_late": dropped,
        "state_mem_peak_bytes": mem_peak,
    }
    if rocks_mem_peak or rocks_sst_peak:
        out["rocksdb_mem_peak_bytes"] = rocks_mem_peak
        out["rocksdb_sst_peak_bytes"] = rocks_sst_peak
    return out


def write_time_batches(df, ts_col, key_col, out_dir, n, late_mod=1000):
    """n batches sliced by EVENT TIME (batch i = i-th slice of the
    [min ts, max ts] range) so a file-source replay advances the
    watermark once per trigger, plus one final LATE batch: rows with
    pmod(key, late_mod)==0 from the first half of the timeline are
    held back and delivered after everything else — far behind the
    bounded watermark by construction. Sequential writes give the file
    source monotonically increasing mod-times, so triggers consume the
    slices in time order. Returns (on_time_rows, late_rows)."""
    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    ts_s = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    lo, hi = df.agg(F.min(ts_s), F.max(ts_s)).first()
    span = (hi - lo) + 1
    slice_id = F.least(
        F.lit(n - 1), F.floor((ts_s - F.lit(lo)) * n / F.lit(span))
    )
    is_late = (
        (F.pmod(F.col(key_col), F.lit(late_mod)) == 0) & (slice_id < n // 2)
    )
    on_time = df.filter(~is_late)
    late = df.filter(is_late)
    for b in range(n):
        (
            on_time.filter(slice_id == b)
            .coalesce(4)
            .write.mode("append")
            .parquet(out_dir)
        )
    late.coalesce(4).write.mode("append").parquet(out_dir)
    return on_time.count(), late.count()


def _run_noop(out, ckpt: str):
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
        metrics = _state_metrics(q)
    finally:
        q.stop()
    return wall, metrics


def bench_ttl_dedup_bounded(spark) -> dict:
    """Same 2M-row at-least-once feed as bench_ttl_dedup, 2-hour
    watermark, event-time-ordered delivery: dedup state holds only the
    keys inside the late horizon instead of all 1M."""
    from pyspark.sql import functions as F  # noqa: F401

    from vector_database_watermarking_spark.streaming.dedup import dedup_stream

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    feed = ev.unionByName(ev)
    src = os.path.join(SCRATCH, "ttlb_feed")
    n_on_time, n_late = write_time_batches(feed, "ts", "event_id", src, 8)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    out = dedup_stream(stream, key_cols=("event_id",), watermark="2 hours")
    wall, metrics = _run_noop(out, os.path.join(SCRATCH, "ttlb_ckpt"))
    n_in = n_on_time + n_late
    return {
        "family": "ttl_dedup_bounded",
        "watermark": "2 hours",
        "input_rows": n_in,
        "distinct_keys": n_in // 2,
        "late_rows_fed": n_late,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        **metrics,
    }


def _session_feed(spark, tag: str):
    """Shared sessionization-bench feed (review round 11: the three
    tier benches each hand-copied this block): the events table sliced
    into 8 event-time batches plus the held-back late slice, read back
    as a 4-files-per-trigger stream. Returns (stream, run) where run
    drives a session DataFrame to the noop sink and assembles the
    metrics row for the given family name."""
    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    src = os.path.join(SCRATCH, f"{tag}_feed")
    n_on_time, n_late = write_time_batches(ev, "ts", "event_id", src, 8)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )

    def run(out, family: str) -> dict:
        wall, metrics = _run_noop(out, os.path.join(SCRATCH, f"{tag}_ckpt"))
        n_in = n_on_time + n_late
        n_users = ev.select("user_id").distinct().count()
        return {
            "family": family,
            "watermark": "2 hours",
            "input_rows": n_in,
            "distinct_keys": n_users,
            "late_rows_fed": n_late,
            "wall_sec": round(wall, 2),
            "events_per_sec": int(n_in / wall),
            **metrics,
        }

    return stream, run


def bench_window_agg_bounded(spark) -> dict:
    """The fundamental watermarked Structured Streaming shape —
    tumbling-window counts per event type (the stream behind the
    graded ``stream_window_topk_replay``) — at the bounded production
    config: 1-day windows, 2-hour watermark, event-time delivery with
    the held-back late slice. State is O(active windows × event
    types), not O(rows) — the smallest state footprint of any family
    here — and the far-behind late slice lands in
    ``numRowsDroppedByWatermark`` (unlike the graded feed's one-
    trigger holdback, which stays above the eviction frontier)."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming.windows import (
        windowed_counts,
    )

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    src = os.path.join(SCRATCH, "winb_feed")
    n_on_time, n_late = write_time_batches(ev, "ts", "event_id", src, 8)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    out = windowed_counts(
        stream.drop("event_id"), window="1 day", watermark="2 hours"
    )
    wall, metrics = _run_noop(out, os.path.join(SCRATCH, "winb_ckpt"))
    n_in = n_on_time + n_late
    n_keys = (
        ev.select(F.date_trunc("day", "ts"), "event_type").distinct().count()
    )
    return {
        "family": "window_agg_bounded",
        "watermark": "2 hours",
        "window": "1 day",
        "input_rows": n_in,
        "distinct_window_keys": n_keys,
        "late_rows_fed": n_late,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        **metrics,
    }


def bench_sessionize_bounded(spark) -> dict:
    """1M events, applyInPandasWithState sessionization, 2-hour
    watermark: state carries only sessions still open near the
    frontier; closed sessions are emitted and their state dropped."""
    from vector_database_watermarking_spark.streaming.sessions import (
        sessionize_stream,
    )

    stream, run = _session_feed(spark, "sessb")
    return run(sessionize_stream(stream, watermark="2 hours"),
               "sessionization_bounded")


def _native_session_query(stream):
    """The engine-native gap-sessionization query shared by the
    default-provider and RocksDB-provider benches below."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def bench_sessionize_native_bounded(spark) -> dict:
    """Same feed as bench_sessionize_bounded, engine-NATIVE gap
    sessionization: ``F.session_window`` — the JVM merging-session
    state operator (batch semantics graded by
    rel_events_session_window + the pack's session_window_check).
    This is the measured scale-safe alternative the decade table was
    missing (VERDICT r10 #2): the applyInPandasWithState tier is
    honestly near-linear in PYTHON compute (213 s at sf10), while this
    tier keeps the whole merge loop JVM-side — no Python worker, no
    Arrow transfer, state rows merged by the native session-window
    store. Same 30-minute gap, same 2-hour watermark, same
    event-time-ordered delivery with a held-back late batch."""
    stream, run = _session_feed(spark, "sessn")
    return run(_native_session_query(stream), "sessionization_native")


def bench_sessionize_native_bounded_rocksdb(spark) -> dict:
    """The SAME native session query with the RocksDB state store
    provider (VERDICT r13 #4): the HDFS-backed default keeps every
    state map on the JVM heap — at the 100M decade the session store
    competes with execution memory and GC; RocksDB keeps state
    off-heap with its own block cache and spills to SST files, the
    production answer for state larger than memory. Scoped to this
    query (conf restored after), graded replays untouched. The row
    carries the provider's own memory/SST metrics so the decade table
    shows where the state actually lives."""
    stream, run = _session_feed(spark, "sessnr")
    out = _native_session_query(stream)
    pkey = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(pkey, None)
    spark.conf.set(
        pkey,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run(out, "sessionization_native_rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(pkey)
        else:
            spark.conf.set(pkey, prev)


def bench_sessionize_tws_bounded(spark) -> dict:
    """Same feed, transformWithState (state-v2) tier — the third
    sessionization tier, output-identical to the graded v1 tier (the
    parity test pins it). Python-stateful like v1, so it measures the
    state-v2 protocol's overhead, not a scale escape; the scale escape
    is the native row above. Skips (with a recorded reason) when no
    protobuf runtime is available — the pb_shim export must happen
    before the JVM starts (main() does it)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return {
            "family": "sessionization_tws",
            "skipped": "no protobuf runtime (pip or pb_shim)",
        }
    from vector_database_watermarking_spark.streaming.sessions import (
        sessionize_stream_tws,
    )

    stream, run = _session_feed(spark, "sesst")
    out = sessionize_stream_tws(stream, watermark="2 hours")
    # state-v2 needs multiple column families — RocksDB provider only
    # (the HDFS-backed default refuses); scoped to this query, restored
    # after, like the parity test does
    pkey = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(pkey, None)
    spark.conf.set(
        pkey,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run(out, "sessionization_tws")
    finally:
        if prev is None:
            spark.conf.unset(pkey)
        else:
            spark.conf.set(pkey, prev)


def bench_interval_join_bounded(spark) -> dict:
    """view/purchase interval join, 2-hour watermark + 1-hour horizon:
    each side buffers only rows within watermark+horizon of the
    frontier instead of the whole fixture."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.streaming.joins import (
        attribution_join_streams,
    )

    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    vsrc = os.path.join(SCRATCH, "ijb_views")
    psrc = os.path.join(SCRATCH, "ijb_purch")
    v_on, v_late = write_time_batches(views, "ts", "event_id", vsrc, 8)
    p_on, p_late = write_time_batches(purchases, "ts", "event_id", psrc, 8)
    schema = "event_id long, user_id long, ts timestamp, value double"
    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(vsrc)
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(psrc)
    )
    out = attribution_join_streams(vs, ps, horizon="1 hour", watermark="2 hours")
    wall, metrics = _run_noop(out, os.path.join(SCRATCH, "ijb_ckpt"))
    n_in = v_on + v_late + p_on + p_late
    return {
        "family": "interval_join_bounded",
        "watermark": "2 hours",
        "horizon": "1 hour",
        "input_rows": n_in,
        "late_rows_fed": v_late + p_late,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        **metrics,
    }


def bench_manifest_sink(spark) -> dict:
    """1M-row stateless feed through the custom manifest_jsonl
    STREAMING sink (per-batch atomic manifests), 4 triggers — the
    write-path throughput number for the connector's streaming tier
    (correctness is the pack's manifest_stream_check; this is rate).
    JSONL is the deliberate trade: human-readable, engine-agnostic
    landing data at single-host line-serialization speed."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.sources.synthetic import (
        read_manifest_jsonl,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    ev = spark.read.parquet(f"{EVENTS_SF}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    src = os.path.join(SCRATCH, "sink_feed")
    write_batches(ev, "event_id", src, 4)
    n_in = ev.count()
    out_dir = os.path.join(SCRATCH, "sink_out")
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts_us long, cents long"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    t0 = time.monotonic()
    q = (
        stream.writeStream.format("manifest_jsonl")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(SCRATCH, "sink_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.monotonic() - t0
    finally:
        q.stop()
    _, total = read_manifest_jsonl(spark, out_dir)
    assert total == n_in, (total, n_in)  # exactly-once accounting

    # maintenance path under REAL replay churn (VERDICT r09 #8): drive
    # the sink's own replay mechanics — re-commit the final micro-batch
    # with the SAME batch id and the same rows (what Structured
    # Streaming does after a restart that lost the sink's ack) — so the
    # first attempt's staged files become orphans; then vacuum and
    # re-check the exactly-once invariant.
    import glob as _glob

    from vector_database_watermarking_spark.sources.synthetic import (
        ManifestJsonlStreamWriter,
        vacuum_manifest_jsonl,
    )

    last_manifest = sorted(_glob.glob(os.path.join(out_dir, "_MANIFEST-*")))[-1]
    with open(last_manifest) as f:
        last = json.load(f)
    replay_rows = spark.read.json(
        [os.path.join(out_dir, e["file"]) for e in last["files"]]
    ).collect()
    w = ManifestJsonlStreamWriter(
        {"path": out_dir, "checkpointlocation": os.path.join(SCRATCH, "sink_ckpt")}
    )
    w.commit([w.write(iter(replay_rows))], batchId=last["batch_id"])
    staged_before = len(_glob.glob(os.path.join(out_dir, "part-*.jsonl")))
    reclaimed = vacuum_manifest_jsonl(out_dir, grace_seconds=0)
    assert reclaimed == len(last["files"]), (reclaimed, len(last["files"]))
    _, total_after = read_manifest_jsonl(spark, out_dir)
    assert total_after == n_in, (total_after, n_in)  # invariant holds
    return {
        "family": "manifest_jsonl_sink",
        "input_rows": n_in,
        "wall_sec": round(wall, 2),
        "events_per_sec": int(n_in / wall),
        "state_rows": 0,
        "vacuum_orphans_reclaimed": reclaimed,
        "vacuum_staged_files_before": staged_before,
        "vacuum_rows_invariant": bool(total_after == n_in),
    }


BOUNDED = (
    bench_ttl_dedup_bounded,
    bench_sessionize_bounded,
    bench_sessionize_native_bounded,
    bench_sessionize_native_bounded_rocksdb,  # round 14: both providers
    bench_sessionize_tws_bounded,
    bench_interval_join_bounded,
    bench_window_agg_bounded,
)
REPLAY = (bench_ttl_dedup, bench_sessionize, bench_interval_join, bench_ivm, bench_manifest_sink)
# second decade (VERDICT r09 #4, completed round 10): all four replay
# families at 10x — the bounded-watermark config for the stateful
# gates, plus IVM over the 500k-doc replica. decade100 runs the two
# heaviest gates one decade further (200M-row feed / 40M-row join).
# Round 11 (VERDICT r10 #2): the native session_window tier joins both
# decade modes so the decade table carries a measured scale-safe
# sessionization alternative, not just the Python-stateful number.
DECADE = (
    bench_ttl_dedup_bounded,
    bench_interval_join_bounded,
    bench_sessionize_bounded,
    bench_sessionize_native_bounded,
    bench_sessionize_native_bounded_rocksdb,  # round 14: both providers
    bench_ivm,
    bench_ivm_trickle,
    bench_window_agg_bounded,  # round 12: the newly graded family
)
DECADE100 = (
    bench_ttl_dedup_bounded,
    bench_interval_join_bounded,
    bench_sessionize_native_bounded,
    bench_sessionize_native_bounded_rocksdb,  # round 14: both providers
    bench_ivm_trickle,  # the 5M-doc wall-crossover point (SCALING.md)
    bench_window_agg_bounded,  # round 12: the newly graded family
)


def main() -> None:
    from vector_database_watermarking_spark.session import get_spark

    global EVENTS_SF, DOCS_SF, SCALE_TAG
    args = sys.argv[1:]
    # --warm: run each family once (discarded) before the reported run
    # so the row measures steady state, not JVM/codegen warmup — the
    # sf1 window-agg decade row carried ~1.4 s of warmup (VERDICT r12
    # #6 / r13 #8). The emitted row carries "warmed": true/false so
    # tables can say which methodology produced each number.
    warm = "--warm" in args
    if warm:
        args.remove("--warm")
    # --only <substr>: run just the families whose function name
    # contains the substring (re-measuring one row without paying the
    # whole mode)
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1]
        args = args[:i] + args[i + 2 :]
    mode = args[0] if args else "replay"
    modes = {
        "replay": REPLAY,
        "bounded": BOUNDED,
        "all": REPLAY + BOUNDED,
        "decade": DECADE,
        "decade100": DECADE100,
    }
    if mode not in modes:  # fail fast, before the 1.5 s probe burn
        raise SystemExit(f"unknown mode {mode!r}; choose from {sorted(modes)}")
    fns = modes[mode]
    # host calibration BEFORE the JVM starts (same probe bench.py
    # embeds): the decade rows here are the steal-sensitive >30 s
    # measurements, so every emitted row carries the cores actually
    # delivered at run time (VERDICT r11 #3)
    from bench import effective_cores

    cal_cores, cal_workers = effective_cores()
    os.makedirs(SCRATCH, exist_ok=True)
    # before the JVM starts: the tws tier's state-server workers need
    # the protobuf runtime on PYTHONPATH (no-op when pip-installed)
    from tools.pb_shim import enable_bundled_protobuf

    enable_bundled_protobuf()
    spark = get_spark("bench-streaming")
    if mode == "decade":
        build_events_sf10(spark)
        build_docs_sf10(spark)
        EVENTS_SF = DOCS_SF = SF10_STREAM
        SCALE_TAG = "sf10"
    elif mode == "decade100":
        build_events_sf100(spark)
        build_docs_sf100(spark)  # 5M-doc base for the IVM trickle row
        EVENTS_SF = DOCS_SF = SF100_STREAM
        SCALE_TAG = "sf100"
    if only is not None:
        fns = tuple(f for f in fns if only in f.__name__)
        if not fns:
            raise SystemExit(f"--only {only!r} matches no family in {mode}")
    for fn in fns:
        if warm:
            shutil.rmtree(SCRATCH, ignore_errors=True)
            os.makedirs(SCRATCH, exist_ok=True)
            spark.catalog.clearCache()
            fn(spark)  # discarded warmup pass
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH, exist_ok=True)
        spark.catalog.clearCache()
        print(
            json.dumps(
                {
                    **fn(spark),
                    "scale": SCALE_TAG,
                    "warmed": warm,
                    "effective_cores": cal_cores,
                    "probe_workers": cal_workers,
                }
            ),
            flush=True,
        )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
