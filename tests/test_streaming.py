"""Structured Streaming operators: file-source ingest, watermarked
windowed rollup, session windows, streaming dedup.

The reference has no streaming (SURVEY.md §2.9); correctness contract
here is batch/stream equivalence — the streaming plan over a finite
replay must produce exactly the batch answer.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.streaming import events as SE


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_utc timestamp, user_id long, event_type string, value double, props string"
    )
    # the events contract carries ts as raw nanos (TIMESTAMP(NANOS) parquet)
    df = df.select(
        "event_id",
        (F.unix_micros("ts_utc") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    out = str(tmp_path / "events_land")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return out


def _mk(ts_minutes, user=1, etype="click", value=1.0, eid=None):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return (
        eid if eid is not None else ts_minutes,
        base + dt.timedelta(minutes=ts_minutes),
        user,
        etype,
        value,
        "{}",
    )


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    rows = [
        _mk(0), _mk(10), _mk(65), _mk(70, etype="view"),
        _mk(200, user=2), _mk(205, user=2), _mk(300, user=2),
    ]
    return _write_events(spark, tmp_path_factory.mktemp("stream"), rows)


def test_stream_rollup_equals_batch(spark, landing):
    stream = SE.read_events_stream(spark, landing)
    got = SE.run_to_memory(SE.hourly_rollup(stream), spark)
    batch = SE.normalize_event_ts(spark.read.parquet(landing))
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_single_file_path(spark, landing):
    import glob

    f = glob.glob(f"{landing}/part-*.parquet")[0]
    stream = SE.read_events_stream(spark, f)
    got = SE.run_to_memory(SE.hourly_rollup(stream), spark)
    assert got.agg(F.sum("n")).collect()[0][0] == 7


def test_session_windows_batch(spark, landing):
    batch = SE.normalize_event_ts(spark.read.parquet(landing))
    sessions = {
        (r.user_id, r.session_start.minute, r.n_events)
        for r in SE.session_windows(batch, "30 minutes").collect()
    }
    # user 1: {0,10} then {65,70}; user 2: {200,205} then {300}
    assert sessions == {(1, 0, 2), (1, 5, 2), (2, 20, 2), (2, 0, 1)}


def test_session_window_gap_boundary(spark):
    # events EXACTLY gap apart merge into one session (Spark's
    # session_window end is inclusive for the merge test: a new event at
    # prev_ts + gap still extends the session; only > gap splits)
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base, 1.0),
            (2, base + dt.timedelta(minutes=30), 1.0),
            (3, base + dt.timedelta(minutes=60, seconds=1), 1.0),
        ],
        "event_id long, ts timestamp, value double",
    ).withColumn("user_id", F.lit(7))
    got = SE.session_windows(df, "30 minutes").collect()
    assert len(got) == 2
    assert sorted(r.n_events for r in got) == [1, 2]


def test_streaming_dedup(spark, tmp_path):
    rows = [_mk(0, eid=1), _mk(5, eid=1), _mk(10, eid=2)]
    # duplicate event_id 1 at a different ts is kept (key is id+ts);
    # exact (id, ts) replays collapse
    rows.append(_mk(0, eid=1))
    land = _write_events(spark, tmp_path, rows)
    stream = SE.read_events_stream(spark, land)
    got = SE.run_to_memory(
        SE.streaming_dedup(stream).select("event_id", "ts"),
        spark,
        output_mode="append",
    )
    assert got.count() == 3


def test_stateful_sessionize(spark, landing):
    from stac_fastapi_duckdb_spark.streaming.stateful import stateful_sessionize

    stream = SE.read_events_stream(spark, landing)
    got = SE.run_to_memory(
        stateful_sessionize(stream), spark, output_mode="append"
    )
    sessions = {
        (r.user_id, r.session_start.minute, r.n_events)
        for r in got.collect()
    }
    # closed-by-later-event sessions for both users emit; each user's
    # final session is withheld iff last_ts + gap > max(ts) (= minute
    # 300). user1 final session last=70 → 70+30=100 ≤ 300 closes; user2
    # final last=300 → 330 > 300 stays open.
    assert sessions == {(1, 0, 2), (1, 5, 2), (2, 20, 2)}


def test_stream_rollup_sf0001_matches_batch(spark):
    sf = "/root/testdata/sf0.001"
    stream = SE.read_events_stream(spark, f"{sf}/events.parquet")
    got = SE.run_to_memory(SE.hourly_rollup(stream), spark)
    batch = SE.normalize_event_ts(spark.read.parquet(f"{sf}/events.parquet"))
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Resume from a checkpoint: a restarted query must process ONLY
    newly-arrived files and never duplicate already-committed rows."""
    land = str(tmp_path / "land")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [_mk(i, eid=i) for i in range(10)]
    _df = spark.createDataFrame(
        batch1,
        "event_id long, ts_utc timestamp, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", (F.unix_micros("ts_utc") * 1000).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    _df.coalesce(1).write.mode("overwrite").parquet(land)

    run1 = SE.run_to_parquet(
        SE.read_events_stream(spark, land), spark, out, ckpt
    )
    assert run1.count() == 10

    # second file lands; SAME checkpoint → only the new file is read
    batch2 = [_mk(100 + i, eid=100 + i) for i in range(7)]
    _df2 = spark.createDataFrame(
        batch2,
        "event_id long, ts_utc timestamp, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", (F.unix_micros("ts_utc") * 1000).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    _df2.coalesce(1).write.mode("append").parquet(land)

    run2 = SE.run_to_parquet(
        SE.read_events_stream(spark, land), spark, out, ckpt
    )
    ids = [r.event_id for r in run2.select("event_id").collect()]
    assert len(ids) == 17 and len(set(ids)) == 17  # no dupes, none lost
    assert set(ids) == set(range(10)) | set(range(100, 107))


def test_checkpoint_restart_is_noop_without_new_files(spark, tmp_path):
    land = _write_events(spark, tmp_path, [_mk(i, eid=i) for i in range(5)])
    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    first = SE.run_to_parquet(SE.read_events_stream(spark, land), spark, out, ckpt)
    n1 = first.count()
    again = SE.run_to_parquet(SE.read_events_stream(spark, land), spark, out, ckpt)
    assert n1 == again.count() == 5  # replay commits nothing new


def test_normalize_event_ts_adapts_to_all_shipped_encodings(spark):
    """The events table has shipped with ts as raw-ns longs AND as
    timestamp[us] (TIMESTAMP_NTZ) across testdata generations; the
    normalizer must map every encoding to the same TimestampType
    wall-clock instant."""
    import datetime as dtm

    want = dtm.datetime(2024, 3, 1, 12, 30, 45, 123456)
    ns = int(want.replace(tzinfo=dtm.timezone.utc).timestamp() * 1e9)

    as_long = spark.createDataFrame([(1, ns)], "event_id long, ts long")
    got_long = SE.normalize_event_ts(as_long).collect()[0].ts

    as_ntz = spark.createDataFrame(
        [(1, want)], "event_id long, ts timestamp_ntz"
    )
    got_ntz = SE.normalize_event_ts(as_ntz).collect()[0].ts

    as_ts = spark.createDataFrame([(1, want)], "event_id long, ts timestamp")
    got_ts = SE.normalize_event_ts(as_ts).collect()[0].ts

    assert got_long == got_ntz == got_ts == want
    for df in (as_long, as_ntz, as_ts):
        assert dict(SE.normalize_event_ts(df).dtypes)["ts"] == "timestamp"


# ---------------------------------------------------------------------------
# stream-stream interval join (view→purchase attribution)
# ---------------------------------------------------------------------------


def _attribution_rows():
    # user 1: view@0 → purchases @10 (in), @25 (in), @45 (out of 30min)
    # user 2: view@100 → purchase @120 (in); purchase@90 precedes → out
    # user 3: purchase with no view → never joins
    return [
        _mk(0, user=1, etype="view", eid=1),
        _mk(10, user=1, etype="purchase", eid=2),
        _mk(25, user=1, etype="purchase", eid=3),
        _mk(45, user=1, etype="purchase", eid=4),
        _mk(100, user=2, etype="view", eid=5),
        _mk(90, user=2, etype="purchase", eid=6),
        _mk(120, user=2, etype="purchase", eid=7),
        _mk(50, user=3, etype="purchase", eid=8),
    ]


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from stac_fastapi_duckdb_spark.streaming import joins as SJ

    land = _write_events(spark, tmp_path, _attribution_rows())

    ev_batch = SE.normalize_event_ts(spark.read.parquet(land))
    vb, pb = SJ.split_by_type(ev_batch, "view", "purchase")
    expect = {
        (r.view_id, r.purchase_id)
        for r in SJ.view_purchase_pairs(vb, pb).collect()
    }
    assert expect == {(1, 2), (1, 3), (5, 7)}

    vs, ps = (
        SJ.split_by_type(SE.read_events_stream(spark, land), "view")[0],
        SJ.split_by_type(SE.read_events_stream(spark, land), "purchase")[0],
    )
    got = SE.run_to_memory(
        SJ.view_purchase_pairs(vs, ps), spark, output_mode="append"
    )
    assert {(r.view_id, r.purchase_id) for r in got.collect()} == expect


def test_stream_stream_join_is_watermarked(spark, tmp_path):
    """Both sides must carry event-time watermarks — without them the
    interval-join state never expires (unbounded state at stream scale).
    Assert the analyzed streaming plan carries watermarks on both
    inputs rather than trusting the builder."""
    from stac_fastapi_duckdb_spark.streaming import joins as SJ

    land = _write_events(spark, tmp_path, _attribution_rows())
    v = SJ.split_by_type(SE.read_events_stream(spark, land), "view")[0]
    p = SJ.split_by_type(SE.read_events_stream(spark, land), "purchase")[0]
    joined = SJ.view_purchase_pairs(v, p)
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    from stac_fastapi_duckdb_spark.streaming import joins as SJ

    land = _write_events(
        spark,
        tmp_path,
        [
            _mk(0, user=1, value=10.0, eid=1),
            _mk(30, user=1, value=5.0, eid=2),
            _mk(70, user=2, value=2.5, eid=3),
            _mk(80, user=99, value=1.0, eid=4),  # no dim row → dropped
        ],
    )
    dim = spark.createDataFrame(
        [(1, "AUTO"), (2, "RETAIL")], "c_custkey long, c_mktsegment string"
    )

    batch = SJ.enriched_hourly_value(
        SE.normalize_event_ts(spark.read.parquet(land)),
        dim,
        ("user_id", "c_custkey"),
        "c_mktsegment",
    )
    expect = {
        (r.bucket, r.c_mktsegment, r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert len(expect) == 2  # hour0/AUTO (2 events), hour1/RETAIL (1)
    assert {e[1] for e in expect} == {"AUTO", "RETAIL"}

    streamed = SE.run_to_memory(
        SJ.enriched_hourly_value(
            SE.read_events_stream(spark, land),
            dim,
            ("user_id", "c_custkey"),
            "c_mktsegment",
        ),
        spark,
    )
    got = {
        (r.bucket, r.c_mktsegment, r.n_events, r.total_value)
        for r in streamed.collect()
    }
    assert got == expect


def test_stream_static_enrichment_is_stateless_broadcast(spark, tmp_path):
    """The dim join itself must be a broadcast with NO stream-side state
    (no watermark requirement, no state store) — assert on the batch
    twin's physical plan (identical join topology)."""
    from stac_fastapi_duckdb_spark.streaming import joins as SJ

    land = _write_events(spark, tmp_path, [_mk(0, user=1, eid=1)])
    dim = spark.createDataFrame(
        [(1, "AUTO")], "c_custkey long, c_mktsegment string"
    )
    joined = SJ.enrich_with_dim(
        SE.normalize_event_ts(spark.read.parquet(land)),
        dim,
        ("user_id", "c_custkey"),
        ["c_mktsegment"],
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_gates_run_unchanged_on_a_stream(spark, tmp_path):
    """The curation gate chain is stateless Column algebra, so the SAME
    builder must run on an unbounded stream (append mode, no watermark
    needed) and keep exactly the documents the batch form keeps."""
    from stac_fastapi_duckdb_spark.pipeline.text import curation_gates

    en = "the cat and the dog walked to the park in the morning it is nice day"
    rows = [
        (1, en),
        (2, "der hund und die katze sind nicht in der stadt mit den kindern heute"),
        (3, "the a of"),
        (4, en + " ping 10.1.2.3"),
        (5, en + " extended with more words here"),
    ]
    land = str(tmp_path / "docs_land")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(land)

    kwargs = dict(min_tokens=10, max_dup_word_frac=0.9, max_top_bigram_frac=0.5)
    batch_kept = sorted(
        r.doc_id
        for r in curation_gates(spark.read.parquet(land), **kwargs).collect()
    )
    assert batch_kept == [1, 5]

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(land)
    )
    streamed = SE.run_to_memory(
        curation_gates(stream, **kwargs), spark, output_mode="append"
    )
    assert sorted(r.doc_id for r in streamed.collect()) == batch_kept


def test_streaming_dedup_ingest_admits_only_novel_docs(spark, tmp_path):
    """Continuous dedup ingest: micro-batches are deduped within
    themselves AND against everything admitted so far; replaying the
    stream from the same checkpoint admits nothing twice."""
    from stac_fastapi_duckdb_spark.streaming.dedup_ingest import run_dedup_ingest

    land = str(tmp_path / "land")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "one two three four five six seven eight nine"
    c = "completely different content about query engines and columns"

    def _write(rows):
        # append a new part-file into the FLAT landing dir (the file
        # stream source does not recurse into subdirectories)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(land)

    # file 1: A, B, and an exact dup of A inside the same batch
    _write([(1, a), (2, b), (3, a)])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    run_dedup_ingest(spark, stream, corpus, ckpt)
    got1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got1 == {1, 2}  # within-batch dup 3 rejected

    # file 2 lands: novel C plus a near-dup of A → only C admitted,
    # deduped against the PREVIOUS batch's admitted corpus
    _write([(4, c), (5, a)])
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    run_dedup_ingest(spark, stream2, corpus, ckpt)
    got2 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got2 == {1, 2, 4}

    # replay with the same checkpoint and no new files: a no-op
    stream3 = (
        spark.readStream.schema("doc_id long, text string").parquet(land)
    )
    run_dedup_ingest(spark, stream3, corpus, ckpt)
    got3 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got3 == got2


def test_trending_topk_matches_batch_rank(spark):
    from stac_fastapi_duckdb_spark.streaming import events as SE
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    stream = SE.read_events_stream(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    got = SE.trending_topk(stream, spark, k=3)
    batch = SE.normalize_event_ts(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    counts = batch.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    want = counts.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= 3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    per_window = got.groupBy("window_start").count().collect()
    assert all(r["count"] <= 3 for r in per_window)


# ---------------------------------------------------------------------------
# streaming HLL register store (streaming/sketches.py)
# ---------------------------------------------------------------------------


def _multi_file_events(spark, tmp_path, n_files=4, users_per_file=30):
    """n_files parquet files in one landing dir → n micro-batches at
    maxFilesPerTrigger=1."""
    land = str(tmp_path / "hll_land")
    for f in range(n_files):
        rows = [
            _mk(
                f * 60 + u,
                user=f * users_per_file + u,
                etype="click" if u % 2 == 0 else "view",
                eid=f * 1000 + u,
            )
            for u in range(users_per_file)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_utc timestamp, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros("ts_utc") * 1000).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.mode("append").parquet(land)
    return land


def test_streaming_hll_registers_bit_identical_to_batch(spark, tmp_path):
    from stac_fastapi_duckdb_spark.pipeline.sketch import hll_sketch
    from stac_fastapi_duckdb_spark.streaming.sketches import (
        streaming_hll_distinct,
    )

    land = _multi_file_events(spark, tmp_path)
    store = str(tmp_path / "store" / "registers")
    ckpt = str(tmp_path / "ckpt")
    est = streaming_hll_distinct(
        spark,
        land,
        "event_type",
        "user_id",
        p=9,
        store_dir=store,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,  # force one micro-batch per file
    )
    # the store's registers must equal the batch sketch bit-for-bit
    batch = hll_sketch(
        spark.read.parquet(land), "event_type", "user_id", 9
    )
    got = {r.event_type: r.regs for r in spark.read.parquet(store).collect()}
    want = {r.event_type: r.regs for r in batch.collect()}
    assert got == want
    # ... and the estimate is within HLL error of the truth (60 users/type)
    for r in est.collect():
        assert abs(r.est_distinct - 60) / 60 < 0.2


def test_streaming_hll_resume_is_noop_then_incremental(spark, tmp_path):
    from stac_fastapi_duckdb_spark.pipeline.sketch import hll_sketch
    from stac_fastapi_duckdb_spark.streaming.sketches import (
        streaming_hll_distinct,
    )

    land = _multi_file_events(spark, tmp_path, n_files=2)
    store = str(tmp_path / "store2" / "registers")
    ckpt = str(tmp_path / "ckpt2")

    def run():
        return streaming_hll_distinct(
            spark, land, "event_type", "user_id", p=9,
            store_dir=store, checkpoint_dir=ckpt,
        )

    run()
    regs1 = sorted(
        (r.event_type, r.regs) for r in spark.read.parquet(store).collect()
    )
    # resume with no new files: checkpoint says all consumed → no change
    run()
    regs2 = sorted(
        (r.event_type, r.regs) for r in spark.read.parquet(store).collect()
    )
    assert regs1 == regs2
    # a new file arrives → only it is read, store advances to full batch
    extra = [
        _mk(500 + u, user=10_000 + u, etype="purchase", eid=90_000 + u)
        for u in range(20)
    ]
    df = spark.createDataFrame(
        extra,
        "event_id long, ts_utc timestamp, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        (F.unix_micros("ts_utc") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("append").parquet(land)
    run()
    got = sorted(
        (r.event_type, r.regs) for r in spark.read.parquet(store).collect()
    )
    want = sorted(
        (r.event_type, r.regs)
        for r in hll_sketch(
            spark.read.parquet(land), "event_type", "user_id", 9
        ).collect()
    )
    assert got == want


def test_streaming_cms_exactly_once_and_batch_parity(spark, tmp_path):
    from stac_fastapi_duckdb_spark.pipeline.sketch import cms_sketch
    from stac_fastapi_duckdb_spark.streaming.sketches import (
        merge_cms_batch,
        streaming_cms_counts,
    )

    land = _multi_file_events(spark, tmp_path, n_files=3)
    store = str(tmp_path / "cms_store" / "s")
    ckpt = str(tmp_path / "cms_ckpt")
    probes = spark.createDataFrame(
        [("click",), ("view",), ("purchase",)], "event_type string"
    )
    est = {
        r.event_type: r.est_n
        for r in streaming_cms_counts(
            spark, land, probes, "event_type",
            store_dir=store, checkpoint_dir=ckpt, max_files_per_trigger=1,
        ).collect()
    }
    ev = spark.read.parquet(land)
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()
    }
    # streamed store == batch sketch cell-for-cell
    import os

    got_cells = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "cells")).collect())
    )
    want_cells = sorted(
        map(tuple, cms_sketch(ev, "event_type").collect())
    )
    assert got_cells == want_cells
    # one-sided estimate guarantee against the exact counts
    for k, n in exact.items():
        if k in est:
            assert est[k] >= n
    # a REPLAYED batch id must be a no-op (sum-merge is guarded)
    merge_cms_batch(
        spark, store, ev.limit(5), batch_id=0, value_col="event_type"
    )
    after = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "cells")).collect())
    )
    assert after == got_cells


def test_streaming_upsert_lww_and_replay_idempotent(spark, tmp_path):
    """The keyed LWW store must (a) equal the batch last-per-key query
    after streaming all files, and (b) be a fixpoint under batch
    replay — merging the same micro-batch twice changes nothing."""
    import datetime as dt
    import os

    from stac_fastapi_duckdb_spark.streaming.upsert import (
        merge_upsert_batch,
        streaming_upsert,
    )

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        # user 1: later ts wins regardless of arrival order
        (1, t0, 1, "view", 1.0, None),
        (5, t0 + dt.timedelta(hours=2), 1, "purchase", 9.0, None),
        # user 2: EQUAL ts → higher event_id wins (seq tie-break)
        (2, t0, 2, "view", 2.0, None),
        (3, t0, 2, "click", 3.0, None),
        # user 3: single row
        (4, t0 + dt.timedelta(minutes=5), 3, "signup", 0.0, None),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    land = str(tmp_path / "events")
    os.makedirs(land)
    # two plain files in one landing dir → two micro-batches at
    # maxFilesPerTrigger=1 (subdirectories would read as partitions)
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(subset, name):
        pdf = spark.createDataFrame(subset, schema).toPandas()
        pq.write_table(pa.Table.from_pandas(pdf), os.path.join(land, name))

    _write(rows[:3], "f1.parquet")
    _write(rows[3:], "f2.parquet")
    store = str(tmp_path / "store")
    cur = streaming_upsert(
        spark, land, store_dir=store,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    got = {r.user_id: (r.event_id, r.event_type) for r in cur.collect()}
    assert got == {1: (5, "purchase"), 2: (3, "click"), 3: (4, "signup")}

    # replay the full table as one batch → fixpoint
    before = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "table")).collect())
    )
    merge_upsert_batch(
        spark, store, spark.createDataFrame(rows, schema), ["user_id"]
    )
    after = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "table")).collect())
    )
    assert before == after


def test_streaming_upsert_empty_source(spark, tmp_path):
    from stac_fastapi_duckdb_spark.streaming.upsert import streaming_upsert

    land = tmp_path / "empty_events"
    land.mkdir()
    out = streaming_upsert(
        spark, str(land),
        store_dir=str(tmp_path / "s2"), checkpoint_dir=str(tmp_path / "c2"),
    )
    assert out.count() == 0


def test_store_swap_crash_recovery_preserves_state(spark, tmp_path):
    """Simulate the mid-swap crash window (store renamed aside, new
    store not yet published): the next merge must recover the pre-crash
    state instead of silently rebuilding from the replayed batch alone.
    Covers all three store kinds (HLL, CMS, LWW upsert)."""
    import os

    from stac_fastapi_duckdb_spark.pipeline.sketch import cms_sketch, hll_sketch
    from stac_fastapi_duckdb_spark.streaming.sketches import (
        merge_cms_batch,
        merge_sketch_batch,
    )
    from stac_fastapi_duckdb_spark.streaming.upsert import merge_upsert_batch

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    batch_a = spark.createDataFrame(
        [(i, t0, 100 + i, "view", 1.0, None) for i in range(40)], schema
    )
    batch_b = spark.createDataFrame(
        [(1000 + i, t0, 500 + i, "click", 1.0, None) for i in range(40)],
        schema,
    )
    both = batch_a.unionByName(batch_b)

    def _crash(store):  # what a crash between the two renames leaves
        os.rename(store, store + ".old")

    # --- HLL registers ---
    hll_store = str(tmp_path / "hll")
    merge_sketch_batch(spark, hll_store, batch_a, "event_type", "user_id", 9)
    _crash(hll_store)
    merge_sketch_batch(spark, hll_store, batch_b, "event_type", "user_id", 9)
    got = sorted(
        (r.event_type, r.regs)
        for r in spark.read.parquet(hll_store).collect()
    )
    want = sorted(
        (r.event_type, r.regs)
        for r in hll_sketch(both, "event_type", "user_id", 9).collect()
    )
    assert got == want

    # --- CMS cells (marker travels with the recovered store) ---
    cms_store = str(tmp_path / "cms")
    merge_cms_batch(spark, cms_store, batch_a, 0, "event_type")
    _crash(cms_store)
    merge_cms_batch(spark, cms_store, batch_b, 1, "event_type")
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(cms_store, "cells")).collect(),
        )
    )
    want = sorted(map(tuple, cms_sketch(both, "event_type").collect()))
    assert got == want

    # --- LWW upsert table ---
    up_store = str(tmp_path / "up")
    merge_upsert_batch(spark, up_store, batch_a, ["user_id"])
    _crash(up_store)
    merge_upsert_batch(spark, up_store, batch_b, ["user_id"])
    n = spark.read.parquet(os.path.join(up_store, "table")).count()
    assert n == 80  # batch A's 40 users survived the crash
