"""Streaming operator tests beyond the oracle workload: the custom
stateful operator and distributed mutation path."""

from __future__ import annotations

import pytest

from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.files import parse_file
from frontmatter_mcp_spark.streaming import events as ev
from frontmatter_mcp_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


def test_stateful_counters_match_batch_aggregate(spark):
    got = {
        r.user_id: (r.n_events, r.first_event_id, r.last_event_id)
        for r in QUERIES["q54_stream_stateful_counters"].spark(spark, SF).collect()
    }
    from frontmatter_mcp_spark.tables import load_table
    from pyspark.sql import functions as F

    expect = {
        r.user_id: (r.n, r.lo, r.hi)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
        )
        .collect()
    }
    assert got == expect


def test_stream_ts_decodes_like_batch_loader(spark):
    """The stream source must decode events.ts exactly as tables.load_table
    does, whatever physical type the writer used (timestamp[us] today,
    TIMESTAMP(NANOS) historically). Round 3 hardcoded the nanos branch and
    collapsed a month of event time into minutes — window/session/interval
    queries silently produced garbage while ts-independent ones passed."""
    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.tables import load_table

    stream_minmax = (
        ev.read_events_stream(spark, SF)
        .withWatermark("ts", "1 hour")
        .groupBy()
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    out = ev.run_stream_to_batch(stream_minmax, "stream_ts_decode_out").collect()[0]
    batch = (
        load_table(spark, SF, "events")
        .agg(
            F.min("ts").cast("timestamp").alias("lo"),
            F.max("ts").cast("timestamp").alias("hi"),
        )
        .collect()[0]
    )
    assert (out.lo, out.hi) == (batch.lo, batch.hi)


def test_stream_tumbling_matches_batch_windows(spark):
    """q50's streaming tumbling aggregate == the same windows computed in
    batch from the batch loader — the driver-oracle comparison in miniature,
    covering the ts-dependent path the stateful-counter test can't."""
    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.tables import load_table

    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in QUERIES["q50_stream_tumbling"].spark(spark, SF).collect()
    }
    expect = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in load_table(spark, SF, "events")
        .groupBy(
            F.date_format(F.window(F.col("ts").cast("timestamp"), "1 hour").start, "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    assert got == expect


def test_batch_update_distributed_matches_driver_path(spark, tmp_path):
    for i in range(20):
        (tmp_path / f"f{i:02d}.md").write_text(f"---\nn: {i}\n---\nbody {i}\n")
    (tmp_path / "bad.md").write_text("---\nbroken: [oops\n---\n")
    eng = FrontmatterEngine(spark, tmp_path)
    out = eng.batch_update("*.md", set={"stage": "done"}, distributed=True)
    assert out["updated_count"] == 20
    assert len(out["warnings"]) == 1 and "bad.md" in out["warnings"][0]
    meta = parse_file(tmp_path / "f07.md", tmp_path).metadata
    assert meta == {"n": 7, "stage": "done"}
    # reference semantics: every successfully processed file counts as
    # updated even when values are unchanged (reference server.py:294-306)
    out2 = eng.batch_update("*.md", set={"stage": "done"}, distributed=True)
    assert out2["updated_count"] == 20


def _write_events_parquet(spark, path, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(
        pdf.astype({"event_id": "int64", "user_id": "int64"})
    ).coalesce(1).write.mode("append").parquet(str(path))


def test_watermark_evicts_late_rows(spark, tmp_path):
    """A row arriving in a later micro-batch with event time behind the
    advanced watermark must be dropped from the windowed aggregate —
    the late-data contract that bounds state at scale."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "late_events"
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    on_time = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=5), 1, "click", 1.0, "{}"),  # advances watermark far
    ]
    _write_events_parquet(spark, src, on_time)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    with ev._stream_state_partitions(spark):
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName("late_data_out")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: a row 5h late — far behind the watermark
            _write_events_parquet(
                spark, src, [(3, t0 + dt.timedelta(minutes=1), 1, "click", 1.0, "{}")]
            )
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    out = {
        r["window"].start.isoformat(): r.n
        for r in spark.table("late_data_out").collect()
    }
    # the late row must NOT have bumped the first window to 2
    assert out.get("2024-01-01T00:00:00") == 1, out


def test_foreach_batch_idempotent_parquet_sink(spark, tmp_path):
    """foreachBatch sink: each micro-batch upserts into a parquet dir
    keyed by batch id — the idempotent-sink pattern (a retried batch
    overwrites its own output instead of duplicating it)."""
    import datetime as dt

    src = tmp_path / "sink_events"
    out_dir = tmp_path / "sink_out"
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    _write_events_parquet(
        spark, src, [(i, t0 + dt.timedelta(minutes=i), i % 3, "view", 1.0, "{}") for i in range(9)]
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(str(src))
    )

    def upsert(batch_df, batch_id):
        from pyspark.sql import functions as F

        # partition by batch id: replaying the same id overwrites, never appends
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    with ev._stream_state_partitions(spark):
        q = stream.writeStream.foreachBatch(upsert).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    written = spark.read.parquet(f"{out_dir}/*")
    assert written.count() == 9
    assert set(r.event_id for r in written.select("event_id").collect()) == set(range(9))


def test_stream_ingest_gate_matches_batch_distinct(spark):
    """q92's one-pass dedup+gate+count (two chained stateful operators)
    must equal the batch DISTINCT (source, fp) + GROUP BY — and the
    verdicts must be invariant to which duplicate row survived, since
    keep is a pure function of the deduped text."""
    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.tables import load_table

    got = {
        r.source: (r.n_unique, r.n_kept)
        for r in QUERIES["q92_stream_ingest_gate"].spark(spark, SF).collect()
    }
    from frontmatter_mcp_spark.workload.datapipe import _MIN_TOKENS, _PII_PATTERNS

    t = F.col("text")
    risk = (
        F.regexp_count(t, F.lit(_PII_PATTERNS["n_emails"])) * 5
        + F.regexp_count(t, F.lit(_PII_PATTERNS["n_long_digit_runs"])) * 3
        + F.regexp_count(t, F.lit(_PII_PATTERNS["n_phones"])) * 4
    )
    n_tokens = F.size(
        F.filter(F.split(F.trim(t), r"\s+", -1), lambda x: x != F.lit(""))
    )
    expect = {
        r.source: (r.n_unique, r.n_kept)
        for r in load_table(spark, SF, "documents")
        .select(
            "source",
            F.md5("text").alias("fp"),
            ((risk == 0) & (n_tokens >= _MIN_TOKENS)).alias("keep"),
        )
        .distinct()
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_unique"),
            F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
        )
        .collect()
    }
    assert got == expect


def test_ingest_gate_watermark_evicts_dedup_state(spark, tmp_path):
    """The ingestion gate's fingerprint state must be BOUNDED by the
    retention watermark, not corpus-sized: once the watermark passes a
    fingerprint's arrival + retention its state is evicted, and a later
    re-arrival of the same content is re-admitted (counted again). Three
    single-file micro-batches: 'dup' arrives at t0; a filler 10 days
    later advances the watermark far past t0 + 1h retention (evicting
    'dup'); 'dup' re-arrives and must count AGAIN — n_unique == 3, which
    is only possible if the state was dropped. The dedup operator's
    numRowsRemoved metric confirms the eviction explicitly.

    The watermark a batch applies comes from the END of the previous
    batch, so eviction lands one batch after the filler that advanced
    the clock — a second filler batch gives it room before the dup
    re-arrives."""
    import datetime
    import glob as globmod
    import os
    import shutil

    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.streaming import events as ev
    from frontmatter_mcp_spark.streaming import ingest

    d = tmp_path / "docs"
    d.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mid = t0 + datetime.timedelta(days=10)
    later = mid + datetime.timedelta(minutes=1)

    def write_file(name: str, rows, mtime: int) -> None:
        tmp = str(tmp_path / "_tmp")
        (
            spark.createDataFrame(
                rows, "doc_id long, source string, text string, arrival_ts timestamp"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        dest = str(d / name)
        shutil.move(globmod.glob(tmp + "/part-*.parquet")[0], dest)
        shutil.rmtree(tmp)
        os.utime(dest, (mtime, mtime))  # file source orders by mod time

    write_file("a.parquet", [(0, "s", "dup", t0)], 1_000)
    write_file("b.parquet", [(1, "s", "filler", mid)], 2_000)
    write_file("c.parquet", [(2, "s", "filler2", later)], 3_000)
    write_file("d.parquet", [(3, "s", "dup", later)], 4_000)

    stream = (
        spark.readStream.schema(
            "doc_id long, source string, text string, arrival_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stats = ingest.unique_content_stats(
        stream, F.lit(True), ts_col="arrival_ts", retention="1 hour"
    )
    with ev._stream_state_partitions(spark):
        q = (
            stats.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ingest_evict_out")
            .start()
        )
        try:
            q.processAllAvailable()
            removed = sum(
                so.get("numRowsRemoved", 0)
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
                if "dedupe" in so.get("operatorName", "").lower()
            )
        finally:
            q.stop()
            q.awaitTermination()
    got = {r.source: r.n_unique for r in spark.table("ingest_evict_out").collect()}
    assert got == {"s": 4}, f"expected re-admission after eviction, got {got}"
    assert removed >= 1, "dedup state was never evicted by the watermark"


def test_streaming_results_identical_under_rocksdb_state_store(spark):
    """The production state-store provider (RocksDB — off-heap state,
    the 100 TB path where dedup fingerprints and open windows exceed
    executor heap) must produce bit-identical results to the default
    in-memory provider for the stateful query shapes: chained
    dedup+agg (q92) and session windows (q52)."""
    for name in ["q92_stream_ingest_gate", "q52_stream_sessions"]:
        default_rows = sorted(
            map(tuple, QUERIES[name].spark(spark, SF).collect())
        )
        with ev.rocksdb_state_store(spark):
            rocks_rows = sorted(
                map(tuple, QUERIES[name].spark(spark, SF).collect())
            )
        assert rocks_rows == default_rows, name


def test_checkpoint_restart_recovers_state_without_double_count(spark, tmp_path):
    """Stop a stateful streaming query mid-stream and restart it from
    the same checkpoint: the restarted query must resume from the
    recorded source offsets with its aggregation state intact — every
    event counted exactly once across the restart. This is the
    recovery contract a production deployment (Kafka + object-store
    checkpoints) leans on; the file source exercises the same offset
    log and state store machinery."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = tmp_path / "ckpt_events"
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    _write_events_parquet(
        spark, src,
        [(i, t0 + dt.timedelta(minutes=i), i % 2, "view", 1.0, "{}") for i in range(4)],
    )

    def start_query():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("event_id").cast("long").alias("id_sum")
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ckpt_out")
            .option("checkpointLocation", ckpt)
            .start()
        )

    with ev._stream_state_partitions(spark):
        q = start_query()
        try:
            q.processAllAvailable()  # consumes file 1 (and any listed so far)
        finally:
            q.stop()
            q.awaitTermination()
        # new data arrives while the query is DOWN
        _write_events_parquet(
            spark, src,
            [(i, t0 + dt.timedelta(minutes=i), i % 2, "view", 1.0, "{}") for i in range(4, 8)],
        )
        q = start_query()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    got = {r.user_id: (r.n, r.id_sum) for r in spark.table("ckpt_out").collect()}
    # 8 events total, exactly once: evens -> user 0, odds -> user 1
    assert got == {0: (4, 0 + 2 + 4 + 6), 1: (4, 1 + 3 + 5 + 7)}, got


def test_streaming_results_identical_under_changelog_checkpointing(spark):
    """RocksDB changelog checkpointing (per-batch state DELTAS uploaded
    instead of full snapshots — the knob that takes checkpoint upload
    off the micro-batch critical path for large long-running state)
    must not change results, and the conf must be restored afterwards."""
    name = "q92_stream_ingest_gate"
    default_rows = sorted(map(tuple, QUERIES[name].spark(spark, SF).collect()))
    with ev.rocksdb_state_store(spark, changelog_checkpointing=True):
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            )
            == "true"
        )
        rows = sorted(map(tuple, QUERIES[name].spark(spark, SF).collect()))
    assert rows == default_rows
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "unset",
        )
        == "unset"
    )


def test_stream_static_enrichment_join_is_stateless(spark, tmp_path):
    """The stream-static join must plan as a broadcast against the
    static side and contribute NO stateful join operator — the only
    state in the query is the windowed aggregation. (A stream-stream
    join here would buffer both sides in the state store and grow with
    the stream.)"""
    import datetime as dt

    from frontmatter_mcp_spark.streaming import events as ev
    from pyspark.sql import functions as F

    src = tmp_path / "enrich_events"
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    _write_events_parquet(
        spark,
        src,
        [
            (i, t0 + dt.timedelta(minutes=7 * i), i % 3, "click", 1.0, "{}")
            for i in range(30)
        ],
    )
    dim = spark.createDataFrame(
        [(0, "SEG_A"), (1, "SEG_B"), (2, "SEG_A")], ["user_id", "segment"]
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(str(src))
    out = ev.enriched_segment_counts(stream, dim)
    with ev._stream_state_partitions(spark):
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName("enrich_state_out")
            .start()
        )
        try:
            q.processAllAvailable()
            ops = [
                so.get("operatorName", "")
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
            ]
        finally:
            q.stop()
            q.awaitTermination()
    assert ops and all("join" not in name.lower() for name in set(ops)), ops
    rows = {
        (r["segment"],): r["n"]
        for r in spark.table("enrich_state_out")
        .groupBy("segment")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert rows == {("SEG_A",): 20, ("SEG_B",): 10}


def test_neardup_gate_state_evicts_and_readmits(spark, tmp_path):
    """The near-dup gate's per-bucket owner state must be BOUNDED by the
    event-time timeout: after the watermark passes owner arrival +
    retention the bucket state is evicted, and a near-duplicate arriving
    later is re-admitted as novel (dedup-within-horizon — q92's contract
    applied to the LSH state). Four single-file micro-batches: the
    original at t0, two fillers 10 days out to advance the watermark
    (eviction lands one batch after the advance), then an identical doc —
    which must come back with ZERO band hits, only possible if every
    bucket owner was dropped. numRowsRemoved confirms the eviction."""
    import datetime
    import glob as globmod
    import os
    import shutil

    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.streaming import ingest

    d = tmp_path / "docs"
    d.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mid = t0 + datetime.timedelta(days=10)
    later = mid + datetime.timedelta(minutes=1)
    text = "alpha beta gamma delta epsilon zeta eta theta"

    def write_file(name: str, rows, mtime: int) -> None:
        tmp = str(tmp_path / "_tmp")
        (
            spark.createDataFrame(
                rows, "doc_id long, text string, arrival_ts timestamp"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        dest = str(d / name)
        shutil.move(globmod.glob(tmp + "/part-*.parquet")[0], dest)
        shutil.rmtree(tmp)
        os.utime(dest, (mtime, mtime))

    write_file("a.parquet", [(0, text, t0)], 1_000)
    write_file("b.parquet", [(1, "unrelated filler words here now ok", mid)], 2_000)
    write_file("c.parquet", [(2, "second filler advancing the clock more", later)], 3_000)
    write_file("d.parquet", [(3, text, later)], 4_000)

    stream = (
        spark.readStream.schema("doc_id long, text string, arrival_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    hits = ingest.neardup_band_hits(
        stream, "doc_id", "text", ts_col="arrival_ts", retention="1 hour"
    )
    with ev._stream_state_partitions(spark):
        q = (
            hits.writeStream.outputMode("append")
            .format("memory")
            .queryName("neardup_evict_out")
            .start()
        )
        try:
            q.processAllAvailable()
            removed = sum(
                so.get("numRowsRemoved", 0)
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
            )
        finally:
            q.stop()
            q.awaitTermination()
    per_doc = {
        r.doc_id: r.nh
        for r in spark.table("neardup_evict_out")
        .groupBy("doc_id")
        .agg(F.sum(F.col("hit").cast("int")).alias("nh"))
        .collect()
    }
    assert per_doc[0] == 0 and per_doc[3] == 0, per_doc
    assert removed >= 1, "near-dup bucket state was never evicted"


def test_neardup_gate_flags_within_horizon(spark, tmp_path):
    """Inside the retention window the gate must flag a near-duplicate:
    a doc sharing every band bucket with a 1-minute-earlier original gets
    hits in all bands; an unrelated doc gets none."""
    import datetime

    from pyspark.sql import functions as F

    from frontmatter_mcp_spark.streaming import ingest

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    text = "alpha beta gamma delta epsilon zeta eta theta"
    src = tmp_path / "docs2"
    (
        spark.createDataFrame(
            [
                (0, text, t0),
                (1, text, t0 + datetime.timedelta(minutes=1)),
                (2, "totally different content with other words", t0),
            ],
            "doc_id long, text string, arrival_ts timestamp",
        ).write.parquet(str(src))
    )
    stream = spark.readStream.schema(
        "doc_id long, text string, arrival_ts timestamp"
    ).parquet(str(src))
    hits = ingest.neardup_band_hits(
        stream, "doc_id", "text", ts_col="arrival_ts", retention="24 hours"
    )
    with ev._stream_state_partitions(spark):
        q = (
            hits.writeStream.outputMode("append")
            .format("memory")
            .queryName("neardup_flag_out")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    per_doc = {
        r.doc_id: r.nh
        for r in spark.table("neardup_flag_out")
        .groupBy("doc_id")
        .agg(F.sum(F.col("hit").cast("int")).alias("nh"))
        .collect()
    }
    assert per_doc == {0: 0, 1: 4, 2: 0}, per_doc


def test_row_minhash_matches_batch_operator(spark):
    """The gate's Python per-row signature must be bit-identical to the
    batch codegen operator (dedup.minhash_signatures) — tokenization
    edge cases included (leading/trailing non-space whitespace, tabs,
    repeated shingles, sub-shingle-length docs)."""
    from frontmatter_mcp_spark.operators import dedup as dd
    from frontmatter_mcp_spark.streaming.ingest import _row_minhash

    docs = [
        (0, "alpha beta gamma delta"),
        (1, "\nalpha beta gamma"),          # java trim keeps \n -> empty first token
        (2, "a b a b a b a b"),             # repeated shingles
        (3, "one two"),                     # below shingle length: absent in batch
        (4, "  padded   with  spaces  "),
        (5, "tab\tseparated words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    batch = {
        r.doc_id: [getattr(r, f"sig_{h}") for h in range(8)]
        for r in dd.minhash_signatures(df, "doc_id", "text", 8).collect()
    }
    for did, text in docs:
        got = _row_minhash(text, 8, 3)
        assert (got is None) == (did not in batch), (did, got)
        if got is not None:
            assert got == batch[did], (did, text, got, batch[did])


def test_session_assembly_matches_batch_sessionization(spark):
    """The stateful session assembler must equal batch gap-based
    sessionization at stream end (same strict-> gap rule as q52)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from frontmatter_mcp_spark.tables import load_table
    from frontmatter_mcp_spark.workload import QUERIES

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in QUERIES["q139_stream_session_assembly"].spark(spark, SF).collect()
    }
    ev_b = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev_b.withColumn(
        "is_new",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000)
            | F.lag("ts").over(w).isNull()
        ).cast("int"),
    ).withColumn("sess", F.sum("is_new").over(w))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    expect = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in g.groupBy("user_id", "sess")
        .agg(
            F.date_format(F.min("ts"), fmt).alias("session_start"),
            F.date_format(F.max("ts"), fmt).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == expect


def test_session_assembly_transformwithstate_variant(spark, tmp_path):
    """The Spark 4 transformWithState twin must produce the same
    sessions — exercised only where its protobuf-based state protocol
    can initialize (absent from this container; the
    sentence-transformers opt-in discipline)."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("protobuf not installed — transformWithState protocol unavailable")

    src = tmp_path / "tws_events"
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    _write_events_parquet(
        spark,
        src,
        [
            (1, t0, 7, "click", 1.0, "{}"),
            (2, t0 + dt.timedelta(minutes=10), 7, "click", 1.0, "{}"),
            (3, t0 + dt.timedelta(hours=2), 7, "click", 1.0, "{}"),
        ],
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(str(src))
    out = ev.session_assembly_tws(stream)
    with ev._stream_state_partitions(spark):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("tws_sessions_out")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    rows = {
        (r.user_id, r.start_us): r.n_events
        for r in spark.table("tws_sessions_out")
        .groupBy("user_id", "start_us")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    assert len(rows) == 2 and sorted(rows.values()) == [1, 2]
