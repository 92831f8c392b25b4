"""Structured Streaming tests: file-source stream over events parquet,
watermarked windows, streaming dedup, custom stateful sessionizer.

Strategy: run each streaming plan with ``trigger(availableNow=True)`` into a
memory sink, then compare against the equivalent batch computation on the
same input (Structured Streaming's batch-equivalence contract).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from pdtable_spark.streaming import (
    read_events_stream,
    run_to_memory,
    sessionize_with_state,
    stream_dedup,
    stream_hourly_by_type,
    stream_session_windows,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_batch(spark):
    # env-adaptive ts handling (bigint-ns vs native timestamp_ntz) lives in
    # read_nanos_parquet — the batch twin of read_events_stream's probe
    from pdtable_spark.io.parquet import read_nanos_parquet

    return read_nanos_parquet(spark, f"{SF_DIR}/events.parquet").cache()


def test_stream_is_streaming(spark, events_dir):
    s = read_events_stream(spark, events_dir)
    assert s.isStreaming
    # timestamp under legacy ns-as-long readers, timestamp_ntz on Spark 4.1+
    assert dict(s.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


def test_hourly_windows_match_batch(spark, events_dir, events_batch):
    s = stream_hourly_by_type(read_events_stream(spark, events_dir))
    q = run_to_memory(s, "hourly_stream", output_mode="complete")
    try:
        got = {
            (r.hour, r.event_type): (r.n, round(r.total_value, 6))
            for r in spark.table("hourly_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.hour, r.event_type): (r.n, round(r.total_value, 6))
        for r in stream_hourly_by_type(events_batch).collect()
    }
    assert got == want
    assert len(got) > 0


def test_session_windows_append_subset_of_batch(spark, events_dir, events_batch):
    s = stream_session_windows(read_events_stream(spark, events_dir))
    q = run_to_memory(s, "sessions_stream", output_mode="append")
    try:
        got = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in spark.table("sessions_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in stream_session_windows(events_batch).collect()
    }
    # append mode emits only watermark-closed sessions: subset, and every
    # emitted session must agree with the batch computation
    assert set(got).issubset(set(want))
    for k, v in got.items():
        assert want[k] == v


def test_hourly_windows_incremental_multi_batch(spark, events_batch, tmp_path):
    """TRUE incremental execution: the input split into 4 files processed
    one file per trigger (maxFilesPerTrigger=1) — the watermark advances
    between micro-batches and the complete-mode result must still equal the
    batch grouping.  Stronger than the single-batch availableNow check."""
    d = tmp_path / "ev_split"
    d.mkdir()
    events_batch.repartition(4).write.parquet(str(d / "parts"))
    # schema=None → the source probes the written files' actual types
    src = read_events_stream(spark, str(d / "parts"), max_files_per_trigger=1)
    q = run_to_memory(
        stream_hourly_by_type(src), "t_hourly_multi", output_mode="complete"
    )
    n_batches = len(q.recentProgress)
    q.stop()
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("t_hourly_multi").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in events_batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    assert got == want
    assert n_batches >= 4  # genuinely incremental, not one mega-batch


def test_stream_dedup(spark, events_dir, tmp_path):
    # duplicate the input file → every event appears twice across files
    shutil.copy(f"{events_dir}/part-000.parquet", tmp_path / "a.parquet")
    shutil.copy(f"{events_dir}/part-000.parquet", tmp_path / "b.parquet")
    s = stream_dedup(read_events_stream(spark, str(tmp_path)))
    q = run_to_memory(s, "dedup_stream", output_mode="append")
    try:
        n = spark.table("dedup_stream").count()
        n_ids = spark.table("dedup_stream").select("event_id").distinct().count()
    finally:
        q.stop()
    assert n == n_ids  # no duplicates emitted


def test_stateful_sessionizer(spark, events_dir, events_batch):
    s = sessionize_with_state(read_events_stream(spark, events_dir))
    q = run_to_memory(s, "state_sessions", output_mode="append")
    try:
        rows = spark.table("state_sessions").collect()
    finally:
        q.stop()
    # closed sessions must respect the 30-min gap invariant and match the
    # batch gap-detection session count per user (for users fully closed)
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1
    assert len(rows) > 0


def test_stream_stream_attribution_join(spark, events_dir, events_batch):
    from pdtable_spark.streaming import stream_attribution_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "purchase"),
            df.filter(F.col("event_type") == "click"),
        )

    s_p = read_events_stream(spark, events_dir).filter(F.col("event_type") == "purchase")
    s_c = read_events_stream(spark, events_dir).filter(F.col("event_type") == "click")
    out = stream_attribution_join(s_p, s_c)
    q = run_to_memory(out, "attribution_stream", output_mode="append")
    try:
        got = {
            (r.purchase_id, r.click_ts) for r in spark.table("attribution_stream").collect()
        }
    finally:
        q.stop()
    b_p, b_c = split(events_batch)
    want = {
        (r.purchase_id, r.click_ts)
        for r in stream_attribution_join(b_p, b_c).collect()
    }
    # stream-stream inner join with watermarks emits matches as both sides
    # arrive; on availableNow over one file all matches land in-batch
    assert got == want
    assert len(got) > 0


def test_foreach_batch_idempotent_sink(spark, events_dir, events_batch, tmp_path):
    """The foreachBatch parquet sink must (a) deliver the aggregation result
    and (b) replace — not duplicate — a re-delivered batch id."""
    from pdtable_spark.streaming import idempotent_parquet_sink, run_foreach_batch

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = stream_hourly_by_type(read_events_stream(spark, events_dir))
    run_foreach_batch(stream, out, ckpt, output_mode="update")
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert "batch_id" in got.columns
    # batch-equivalence on the final values: same (hour, type) → same counts
    want = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("hour"), "event_type", "n")
    )
    latest = got.orderBy(F.desc("batch_id")).dropDuplicates(["hour", "event_type"])
    a = {(r["hour"], r["event_type"]): r["n"] for r in latest.collect()}
    b = {(r["hour"], r["event_type"]): r["n"] for r in want.collect()}
    assert a == b
    # idempotence: re-delivering batch 0's frame overwrites, never appends
    n_before = spark.read.parquet(out).count()
    batch0 = got.filter(F.col("batch_id") == 0).drop("batch_id")
    idempotent_parquet_sink(out)(batch0, 0)
    assert spark.read.parquet(out).count() == n_before


def test_stateful_funnel(spark, events_dir, events_batch):
    """The stateful funnel must agree with the batch funnel computation for
    every user it finalizes, and only finalize users whose last activity
    plus the 24 h horizon cleared the final watermark."""
    from pdtable_spark.streaming import run_to_memory
    from pdtable_spark.streaming.stateful import funnel_with_state
    from pdtable_spark.streaming.windows import read_events_stream

    run_to_memory(funnel_with_state(read_events_stream(spark, events_dir)), "t_funnel").stop()
    got = {r["user_id"]: r for r in spark.table("t_funnel").collect()}
    assert got  # some users finalize at this sf

    e = events_batch.filter(F.col("event_type").isin("view", "click", "purchase"))
    rows = sorted(
        ((r["user_id"], r["ts"], r["event_type"]) for r in e.collect()),
        key=lambda x: (x[0], x[1]),
    )
    import collections

    by_user = collections.defaultdict(list)
    for u, ts, k in rows:
        by_user[u].append((ts, k))
    max_ts = max(ts for _, ts, _ in rows)
    for u, r in got.items():
        evs = by_user[u]
        # finalization condition
        assert (evs[-1][0].timestamp() * 1000 + 86_400_000
                < max_ts.timestamp() * 1000 - 7_200_000)
        fv = next((t for t, k in evs if k == "view"), None)
        fc = next((t for t, k in evs if k == "click" and fv and t > fv), None)
        fp = next((t for t, k in evs if k == "purchase" and fc and t > fc), None)
        assert r["stage"] == sum(x is not None for x in (fv, fc, fp))
        assert r["first_view"] == fv and r["first_click"] == fc and r["first_purchase"] == fp


def test_stateful_funnel_multi_batch_episodes(spark, events_batch, tmp_path):
    """Multi-batch arrival over historical data: no INVALID_TIMEOUT crash
    (later batches can deliver only old rows for a user — the timeout clamp),
    and every emitted episode row is internally consistent."""
    from pdtable_spark.streaming import run_to_memory
    from pdtable_spark.streaming.stateful import funnel_with_state
    from pdtable_spark.streaming.windows import read_events_stream

    import time

    d = tmp_path / "ev4"
    # time-ordered arrival (historical replay): 4 chunks split by event time,
    # so the watermark genuinely advances between micro-batches and clamped
    # timeouts fire.  (repartition(4) gives every file the global max ts —
    # the watermark then never advances after batch 1 and whether any episode
    # finalizes depends on nondeterministic file arrival order.)
    pdf = events_batch.toPandas().sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    for i in range(4):
        chunk = spark.createDataFrame(pdf.iloc[i * n // 4 : (i + 1) * n // 4])
        chunk.coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(0.05)  # distinct mtimes → deterministic arrival order
    src = read_events_stream(spark, str(d), max_files_per_trigger=1)
    q = run_to_memory(funnel_with_state(src), "t_funnel_multi")
    n_batches = len(q.recentProgress)
    q.stop()
    rows = spark.table("t_funnel_multi").collect()
    assert n_batches >= 4  # genuinely incremental
    assert rows
    for r in rows:
        # stage k implies exactly the first k stage timestamps set, in order
        stamps = [r["first_view"], r["first_click"], r["first_purchase"]]
        assert [s is not None for s in stamps] == [i < r["stage"] for i in range(3)]
        present = [s for s in stamps if s is not None]
        assert present == sorted(present)


def test_read_events_stream_empty_dir_clear_error(spark, tmp_path):
    """Probing an empty landing directory must fail with guidance, not an
    opaque AnalysisException."""
    d = tmp_path / "empty_land"
    d.mkdir()
    with pytest.raises(ValueError, match="explicit schema"):
        read_events_stream(spark, str(d))


def test_read_events_stream_explicit_long_schema_untouched(spark, events_batch, tmp_path):
    """A caller-supplied schema is authoritative: an explicit `ts long`
    column must come through raw, not reinterpreted as nanoseconds."""
    d = tmp_path / "ev_long"
    events_batch.selectExpr(
        "event_id", "CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS LONG) AS ts",
        "user_id", "event_type", "value", "props"
    ).write.parquet(str(d))
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    s = read_events_stream(spark, str(d), schema=schema)
    assert dict(s.dtypes)["ts"] == "bigint"


def test_enriched_segment_counts_match_batch(spark, events_dir, events_batch):
    """Stream-static broadcast join + windowed rollup equals the same plan
    run as a batch job (batch-equivalence contract; decimal sums make the
    comparison exact)."""
    from pdtable_spark.streaming import stream_enriched_segment_counts

    customers = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    s = stream_enriched_segment_counts(
        read_events_stream(spark, events_dir), customers
    )
    q = run_to_memory(s, "enrich_stream", output_mode="complete")
    try:
        got = {
            (r.hour, r.c_mktsegment): (r.n, r.total_value)
            for r in spark.table("enrich_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.hour, r.c_mktsegment): (r.n, r.total_value)
        for r in stream_enriched_segment_counts(events_batch, customers).collect()
    }
    assert got == want
    assert len(got) > 0


def test_curate_stream_end_to_end(spark, tmp_path):
    """Continuous curation over a JSONL landing dir: batch 1 drops an
    intra-batch exact dup and a too-short doc; batch 2 (same checkpoint,
    second availableNow run) drops a cross-batch duplicate via the
    PERSISTED band index — no reprocessing of batch 1 — and keeps the
    fresh doc."""
    import json

    from pdtable_spark.io.jsonl import read_jsonl_stream
    from pdtable_spark.streaming.curate import curate_stream

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "clean")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    good_a = "the quick brown fox jumps over the lazy dog near the old river bank today"
    good_b = "completely different content describing spark engines and shuffle exchanges in careful detail here"
    fresh = "yet another novel document with plenty of fresh words nobody wrote before anywhere else"

    def doc(i, t):
        return json.dumps(
            {"doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t)}
        )

    (land / "b1.jsonl").write_text(
        "\n".join([doc(1, good_a), doc(2, good_a), doc(3, good_b), doc(4, "too short")])
    )

    def run():
        curate_stream(
            read_jsonl_stream(spark, str(land)), out, idx, ckpt, min_words=6
        )

    run()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}

    (land / "b2.jsonl").write_text("\n".join([doc(5, good_a), doc(6, fresh)]))
    run()
    rows = spark.read.parquet(out).collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], set()).add(r["doc_id"])
    assert by_batch[min(by_batch)] == {1, 3}   # batch 1 untouched (exactly-once)
    assert by_batch[max(by_batch)] == {6}      # dup of doc 1 dropped via index
    # the index grew by the survivors of BOTH batches
    idx_ids = {r["doc_id"] for r in spark.read.parquet(idx).collect()}
    assert idx_ids == {1, 3, 6}


def test_curate_batch_fails_loudly_on_unreadable_index(spark, tmp_path):
    """Only a missing index reads as empty: an index directory that
    exists but cannot be read (here a corrupt part file) fails the
    micro-batch instead of committing unchecked near-duplicates."""
    from pdtable_spark.streaming.curate import _curate_batch

    idx = tmp_path / "index"
    idx.mkdir()
    (idx / "part-00000.parquet").write_bytes(b"not a parquet file")
    text = "the quick brown fox jumps over the lazy dog near the old river bank"
    batch = spark.range(2).selectExpr("id AS doc_id", f"'{text}' AS text")
    with pytest.raises(Exception):
        _curate_batch(
            batch, 0, str(tmp_path / "clean"), str(idx), min_words=6,
            min_stopwords=0, num_hashes=16, bands=4, shingle_n=5,
            hash_fn="xxhash64",
        )
    assert not (tmp_path / "clean").exists()


def test_drift_monitor_stream(spark, tmp_path):
    """Per-micro-batch drift vs a pinned reference: two waves through one
    checkpoint produce batch-partitioned drift rows; a composition shift
    in wave 2 shows up as a higher tvd than the reference-identical
    wave 1."""
    import json

    from pyspark.sql import functions as F

    from pdtable_spark.io.jsonl import read_jsonl_stream
    from pdtable_spark.streaming.monitor import drift_monitor_stream

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, src):
        return json.dumps(
            {"doc_id": i, "text": "w " * 30, "lang": "en", "source": src, "n_chars": 60}
        )

    # reference: 50/50 a-b mix
    ref = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(20)], "doc_id long, source string"
    )

    def run():
        drift_monitor_stream(
            read_jsonl_stream(spark, str(land)), ref, out, ckpt, ["source"]
        )

    # wave 1 mirrors the reference mix exactly → tvd 0
    (land / "b1.jsonl").write_text(
        "\n".join(doc(i, "a" if i % 2 else "b") for i in range(10))
    )
    run()
    rows1 = spark.read.parquet(out).collect()
    assert {r["batch_id"] for r in rows1} == {0}
    assert all(r["tvd"] == 0.0 for r in rows1)

    # wave 2 is all-'a' → tvd = |1.0-0.5|/2 + |0.0-0.5|/2 = 0.5
    (land / "b2.jsonl").write_text("\n".join(doc(100 + i, "a") for i in range(10)))
    run()
    rows = spark.read.parquet(out)
    b1 = {r["value"]: r for r in rows.filter(F.col("batch_id") == 1).collect()}
    assert b1["a"]["tvd"] == 0.5 and b1["a"]["share_new"] == 1.0
    assert b1["b"]["n_new"] == 0 and b1["b"]["share_old"] == 0.5
    # batch 0's rows are untouched by batch 1's dynamic overwrite
    assert rows.filter(F.col("batch_id") == 0).count() == len(rows1)


def test_drift_batch_empty_is_an_alarm(spark, tmp_path):
    """A micro-batch emptied by an upstream regression must land
    maximal-drift rows (share_new=0 for every reference category), not a
    silent gap in the monitoring table."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.monitor import drift_counts
    from pdtable_spark.streaming.monitor import _drift_batch

    ref = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(20)], "doc_id long, source string"
    )
    empty = spark.createDataFrame([], "doc_id long, source string")
    out = str(tmp_path / "drift")
    _drift_batch(empty, 7, drift_counts(ref, ["source"], "n_old"), out, ["source"], 1e9)
    rows = {r["value"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r["batch_id"] == 7
        assert r["n_new"] == 0 and r["share_new"] == 0.0
        assert r["share_old"] == 0.5
        assert r["tvd"] == 0.5


def test_bloom_screen_stream_two_waves(spark, tmp_path):
    """Per-micro-batch Bloom screening vs a static filter: a wave-2 doc
    that contains the benchmark text flags; re-delivery of a batch_id is
    idempotent (dynamic overwrite replaces its own rows only)."""
    import json

    from pyspark.sql import functions as F

    from pdtable_spark.io.jsonl import read_jsonl_stream
    from pdtable_spark.operators.dedup import bloom_build
    from pdtable_spark.streaming.screen import _screen_batch, bloom_screen_stream

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "screen")
    ckpt = str(tmp_path / "ckpt")

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame([(0, bench_text)], ["doc_id", "text"])
    bloom = bloom_build(bench, shingle_n=3)

    def doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s", "n_chars": len(text)}
        )

    def run():
        bloom_screen_stream(
            read_jsonl_stream(spark, str(land)), bloom, out, ckpt,
            shingle_n=3, min_hit_rate=0.5,
        )

    (land / "w1.jsonl").write_text(doc(1, "nothing shared with the benchmark set here"))
    run()
    (land / "w2.jsonl").write_text(
        doc(2, bench_text + " plus a tail") + "\n" + doc(3, "again no overlap at all ok")
    )
    run()
    rows = {r["train_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["flagged"] == 0 and rows[1]["batch_id"] == 0
    assert rows[2]["flagged"] == 1 and rows[2]["batch_id"] == 1
    assert rows[3]["flagged"] == 0 and rows[3]["batch_id"] == 1
    # retried micro-batch replaces its own partition, leaves batch 0 alone
    retry = spark.createDataFrame(
        [(2, bench_text + " plus a tail", "s")], ["doc_id", "text", "source"]
    )
    _screen_batch(retry, 1, bloom, out, "doc_id", "text", 3, 3, 1 << 16, 0.5)
    rows2 = spark.read.parquet(out)
    assert rows2.filter(F.col("batch_id") == 1).count() == 1
    assert rows2.filter(F.col("batch_id") == 0).count() == 1


def test_await_or_raise_timeout_stops_query():
    """The shared availableNow guard stops the query and raises on
    timeout (falling through silently returned a running query whose
    shared frames the finally blocks then unpersisted mid-probe)."""
    import pytest as _pytest

    from pdtable_spark.streaming._await import await_or_raise

    class FakeQuery:
        def __init__(self):
            self.stopped = False

        def awaitTermination(self, timeout=None):
            return False  # still running

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    with _pytest.raises(TimeoutError, match="did not finish within 1s"):
        await_or_raise(q, 1, "unit")
    assert q.stopped


def test_novelty_ledger_batch_retry_idempotent(spark, tmp_path):
    """The novelty ledger's exactly-once story without transactional
    storage: batch 1 reports exactly the never-seen keys, and a RETRY of
    batch 1 (crash after both writes) recomputes against the as-of-batch-0
    ledger, landing byte-identical report and ledger rows."""
    from pdtable_spark.streaming.monitor import _novelty_batch

    led, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [("s", f"d{i}") for i in range(10)], "source string, doc_id string"
    )
    b1 = spark.createDataFrame(
        [("s", f"d{i}") for i in range(5, 15)] + [("t", "x1")],
        "source string, doc_id string",
    )
    _novelty_batch(spark, b0, 0, led, out, "doc_id", "source", 12)
    _novelty_batch(spark, b1, 1, led, out, "doc_id", "source", 12)

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    got = {
        (r["batch_id"], r["source"]): (r["n_batch_distinct"], r["est_seen_before"], r["est_new"])
        for r in spark.read.parquet(out).collect()
    }
    assert got[(0, "s")] == (10, 0, 10)
    assert got[(1, "s")] == (10, 10, 5)   # d5..d14: five never-seen
    assert got[(1, "t")] == (1, 0, 1)
    # ledger as-of batch 1: union estimates
    led_rows = {
        (r["batch_id"], r["source"]): r["estimate"]
        for r in spark.read.parquet(led).collect()
    }
    assert led_rows[(1, "s")] == 15 and led_rows[(1, "t")] == 1

    _novelty_batch(spark, b1, 1, led, out, "doc_id", "source", 12)  # retry
    assert snap(out) == rep1 and snap(led) == led1


def test_quantile_ledger_batch_retry_idempotent(spark, tmp_path):
    """The quantile ledger's exactly-once story: batch 1's running
    quantiles cover batch 0's and batch 1's observations as ONE
    merged multiset, and a RETRY of batch 1 (crash after both writes)
    recomputes against the as-of-batch-0 ledger byte-identically —
    counts never double despite additive merge."""
    from pdtable_spark.streaming.monitor import _quantile_batch

    led, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [("s", float(v)) for v in range(10)], "source string, v double"
    )
    b1 = spark.createDataFrame(
        [("s", float(v)) for v in range(10, 20)], "source string, v double"
    )
    _quantile_batch(spark, b0, 0, led, out, "v", 0.0, 100.0, 10, "source", (0.5, 1.0))
    _quantile_batch(spark, b1, 1, led, out, "v", 0.0, 100.0, 10, "source", (0.5, 1.0))

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    got = {
        (r["batch_id"], r["q"]): r["est"]
        for r in spark.read.parquet(out).collect()
    }
    # batch 0: 10 values in bin 0 -> p50 interpolates to 5.0, p100 = 10.0
    assert got[(0, 0.5)] == 5.0 and got[(0, 1.0)] == 10.0
    # batch 1 (running): 20 values over bins 0-1 -> p50 = 10.0, p100 = 20.0
    assert got[(1, 0.5)] == 10.0 and got[(1, 1.0)] == 20.0
    leds = {
        (r["batch_id"], r["bin"]): r["n"] for r in spark.read.parquet(led).collect()
    }
    assert leds[(0, 0)] == 10 and leds[(1, 0)] == 10 and leds[(1, 1)] == 10

    _quantile_batch(spark, b1, 1, led, out, "v", 0.0, 100.0, 10, "source", (0.5, 1.0))
    assert snap(out) == rep1 and snap(led) == led1


def test_moment_ledger_batch_retry_idempotent(spark, tmp_path):
    """The moment ledger's exactly-once story: batch 1's running gram/cov
    equals the one-pass gram_matrix over batch 0 + batch 1 as ONE
    multiset BIT-FOR-BIT (additive integer state, shared finalize), and
    a RETRY of batch 1 (crash after both writes) recomputes against the
    as-of-batch-0 ledger byte-identically — sums never double."""
    import random

    from pdtable_spark.operators.similarity import gram_matrix
    from pdtable_spark.streaming.monitor import _moment_batch

    rng = random.Random(11)
    led, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, [rng.uniform(-1, 1) for _ in range(5)]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    b0, b1 = mk(range(12)), mk(range(12, 20))
    _moment_batch(spark, b0, 0, led, out, "embedding", 1e6)
    _moment_batch(spark, b1, 1, led, out, "embedding", 1e6)

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    running = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .filter(F.col("batch_id") == 1)
            .drop("batch_id")
            .collect(),
        )
    )
    whole = sorted(map(tuple, gram_matrix(b0.unionByName(b1)).collect()))
    assert running == whole  # bit-identical, not approximately equal

    _moment_batch(spark, b1, 1, led, out, "embedding", 1e6)
    assert snap(out) == rep1 and snap(led) == led1


def test_heavy_hitter_batch_retry_idempotent(spark, tmp_path):
    """The heavy-hitters ledger's exactly-once story: batch 1's running
    bounds cover batch 0 + batch 1 as one multiset under the update
    rules (both / state-only / batch-only keys all exercised, with a
    truncation floor in play), and a RETRY of batch 1 recomputes
    against the as-of-batch-0 state byte-identically."""
    from pyspark.sql import functions as F

    from pdtable_spark.streaming.monitor import _heavy_hitter_batch

    led, out = str(tmp_path / "hh_ledger"), str(tmp_path / "hh_out")

    def df_of(counts):
        rows = [("s", k) for k, n in counts.items() for _ in range(n)]
        return spark.createDataFrame(rows, "source string, key string")

    # m=2: batch0 keeps a(5), b(3); floor = c's 2.  batch1 keeps c(4),
    # a? ties a(1)/e(1) -> key asc keeps a; floor = e's 1.
    b0 = df_of({"a": 5, "b": 3, "c": 2, "d": 1})
    b1 = df_of({"c": 4, "a": 1, "e": 1})
    _heavy_hitter_batch(spark, b0, 0, led, out, "key", "source", 2, 10)
    _heavy_hitter_batch(spark, b1, 1, led, out, "key", "source", 2, 10)

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    got = {
        (r["batch_id"], r["key"]): (r["est_lo"], r["est_hi"])
        for r in spark.read.parquet(out).collect()
    }
    # batch 0 report: exact for surfaced keys (fc_prev = 0)
    assert got[(0, "a")] == (5, 5) and got[(0, "b")] == (3, 3)
    # batch 1 running: a in both -> (6, 6); b state-only -> hi += f_1=1;
    # c batch-only -> lo=4, hi = 4 + fc_prev=2
    assert got[(1, "a")] == (6, 6)
    assert got[(1, "b")] == (3, 4)
    assert got[(1, "c")] == (4, 6)
    true = {"a": 6, "b": 3, "c": 6}
    for (bid, k_), (lo, hi) in got.items():
        if bid == 1:
            assert lo <= true[k_] <= hi
    state = {
        r["key"]: r for r in spark.read.parquet(led)
        .filter(F.col("batch_id") == 1).collect()
    }
    assert all(r["floor_cum"] == 3 for r in state.values())  # 2 + 1

    # retry of batch 1: byte-identical report and state
    _heavy_hitter_batch(spark, b1, 1, led, out, "key", "source", 2, 10)
    assert snap(out) == rep1 and snap(led) == led1


def test_heavy_hitter_batch_long_keys_keep_type(spark, tmp_path):
    """A bigint key column must survive the batch-0 empty-state join
    with its TYPE intact — a hardcoded string prev-schema coerced the
    full_outer join to double (2^53 rounding territory) — and big
    int64 keys must merge exactly across batches."""
    from pyspark.sql import functions as F

    from pdtable_spark.streaming.monitor import _heavy_hitter_batch

    led, out = str(tmp_path / "hk_ledger"), str(tmp_path / "hk_out")
    big_key = (1 << 62) + 12345  # not representable as a double
    b0 = spark.createDataFrame(
        [("s", big_key)] * 3 + [("s", 7)], "source string, key long"
    )
    b1 = spark.createDataFrame([("s", big_key)] * 2, "source string, key long")
    _heavy_hitter_batch(spark, b0, 0, led, out, "key", "source", 10, 10)
    _heavy_hitter_batch(spark, b1, 1, led, out, "key", "source", 10, 10)
    rep = spark.read.parquet(out)
    assert dict(rep.dtypes)["key"] == "bigint"
    got = {
        (r["batch_id"], r["key"]): (r["est_lo"], r["est_hi"])
        for r in rep.collect()
    }
    assert got[(1, big_key)] == (5, 5)  # exact merge, no double rounding
    assert got[(1, 7)] == (1, 1)


def test_upsert_batch_merge_changelog_and_retry(spark, tmp_path):
    """The streaming MERGE's exactly-once story: batch 0 adds everything,
    batch 1 classifies changed / identical-resend (no log row) / added /
    untouched, the full version advances, and a RETRY of batch 1
    recomputes byte-identically against the as-of-batch-0 state."""
    import pytest
    from pyspark.sql import functions as F

    from pdtable_spark.streaming.ingest import (
        _upsert_batch,
        read_table_version,
    )

    tdir, cdir = str(tmp_path / "table"), str(tmp_path / "log")
    b0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, s string, v int",
    )
    # 2 changed, 3 re-sent identical, 5 added, 1/4 untouched; NULL
    # compare-value transitions must count as changes (null-safe eq)
    b1 = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30), (5, "e", 50), (4, "d", 40)],
        "k int, s string, v int",
    )
    for bid, df in ((0, b0), (1, b1)):
        _upsert_batch(spark, df, bid, tdir, cdir, ["k"], ["s", "v"], None)

    log = {
        (r["batch_id"], r["k"]): r["change_type"]
        for r in spark.read.parquet(cdir).collect()
    }
    assert {k: v for k, v in log.items() if k[0] == 0} == {
        (0, 1): "added", (0, 2): "added", (0, 3): "added", (0, 4): "added"
    }
    # batch 1: 2 changed, 4 changed (NULL -> 'd'), 5 added, 3 NO row
    assert {k: v for k, v in log.items() if k[0] == 1} == {
        (1, 2): "changed", (1, 4): "changed", (1, 5): "added"
    }
    cur = {r["k"]: (r["s"], r["v"]) for r in read_table_version(spark, tdir).collect()}
    assert cur == {1: ("a", 10), 2: ("B", 20), 3: ("c", 30),
                   4: ("d", 40), 5: ("e", 50)}
    # time travel to the batch-0 version
    v0 = {r["k"]: r["s"] for r in read_table_version(spark, tdir, 0).collect()}
    assert v0 == {1: "a", 2: "b", 3: "c", 4: None}

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)

    before, log_before = snap(tdir), snap(cdir)
    _upsert_batch(spark, b1, 1, tdir, cdir, ["k"], ["s", "v"], None)  # retry
    assert snap(tdir) == before and snap(cdir) == log_before

    # duplicate keys without seq_col fail loudly; with seq_col the
    # highest sequence wins deterministically
    dup = spark.createDataFrame(
        [(7, "x", 1, 100), (7, "y", 2, 200)], "k int, s string, seq int, v int"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        _upsert_batch(spark, dup.drop("seq"), 2, tdir, cdir, ["k"], ["s", "v"], None)
    _upsert_batch(spark, dup, 2, tdir, cdir, ["k"], ["s", "v"], "seq")
    cur2 = {r["k"]: (r["s"], r["v"]) for r in read_table_version(spark, tdir).collect()}
    assert cur2[7] == ("y", 200)


def test_upsert_stream_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdtable_spark.streaming.ingest import read_table_version, upsert_stream

    land = str(tmp_path / "land")
    tdir, cdir, ck = (
        str(tmp_path / "table"), str(tmp_path / "log"), str(tmp_path / "ck")
    )
    w1 = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    w2 = spark.createDataFrame([(2, 99), (3, 30)], "k int, v int")
    for w in (w1, w2):
        w.write.parquet(land, mode="append")
        s = spark.readStream.schema("k int, v int").parquet(land)
        upsert_stream(s, tdir, cdir, ck, "k")
    cur = {r["k"]: r["v"] for r in read_table_version(spark, tdir).collect()}
    assert cur == {1: 10, 2: 99, 3: 30}
    log = sorted(
        (r["batch_id"], r["k"], r["change_type"])
        for r in spark.read.parquet(cdir).collect()
    )
    assert log == [(0, 1, "added"), (0, 2, "added"),
                   (1, 2, "changed"), (1, 3, "added")]


def test_cell_ledger_batch_retry_idempotent(spark, tmp_path):
    """The IVF cell ledger's exactly-once story: batch 1's running
    staleness report equals ivf_staleness over batch 0 + batch 1 as ONE
    corpus BIT-FOR-BIT (additive integer state, shared ledger-join
    finalize), and a RETRY of batch 1 recomputes against the
    as-of-batch-0 ledger byte-identically — sums never double."""
    import random

    from pdtable_spark.operators.similarity import (
        ivf_cell_ledger,
        ivf_staleness,
    )
    from pdtable_spark.streaming.monitor import _cell_ledger_batch

    rng = random.Random(7)
    cents = [[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
    led, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    mk = lambda ids, cx, cy, r: spark.createDataFrame(  # noqa: E731
        [
            (i, [cx + rng.uniform(-r, r), cy + rng.uniform(-r, r)])
            for i in ids
        ],
        "vec_id long, embedding array<double>",
    )
    train = (
        mk(range(30), 0.0, 0.0, 1.0)
        .unionByName(mk(range(30, 60), 10.0, 10.0, 1.0))
        .unionByName(mk(range(60, 70), 0.0, 10.0, 1.0))
    )
    frozen_path = str(tmp_path / "train")
    ivf_cell_ledger(train, cents).write.parquet(frozen_path)
    frozen = spark.read.parquet(frozen_path)

    b0 = mk(range(100, 110), 0.0, 0.0, 1.0)
    b1 = mk(range(110, 125), 10.0, 10.0, 4.0)  # drifted appends
    args = (led, out, frozen, cents, "embedding", 1e6, 0.5, 1.25)
    _cell_ledger_batch(spark, b0, 0, *args)
    _cell_ledger_batch(spark, b1, 1, *args)

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    running = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .filter(F.col("batch_id") == 1)
            .drop("batch_id")
            .collect(),
        )
    )
    whole = sorted(
        map(
            tuple,
            ivf_staleness(b0.unionByName(b1), cents, frozen).collect(),
        )
    )
    assert running == whole  # bit-identical, not approximately equal

    # a cell the stream never reached still reports: n_now = 0, NULL
    # ratios, alarm off
    by_cell = {r[0]: r for r in running}
    assert by_cell[2][2] == 0 and by_cell[2][7] is None and not by_cell[2][8]
    # the drifted cell fires the alarm
    assert by_cell[1][8]

    _cell_ledger_batch(spark, b1, 1, *args)
    assert snap(out) == rep1 and snap(led) == led1


def test_sample_ledger_batch_retry_idempotent(spark, tmp_path):
    """The sample ledger's exactly-once story: batch 1's running sample
    equals sample_ledger over batch 0 + batch 1 as ONE corpus
    BIT-FOR-BIT (set semantics, shared top-k), a batch overlapping
    earlier ids is absorbed (not double-counted), and a RETRY of batch
    1 recomputes against the as-of-batch-0 state byte-identically."""
    from pdtable_spark.operators.sampling import sample_ledger
    from pdtable_spark.streaming.monitor import _sample_ledger_batch

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b")), (F.col("id") % 2 + 1).cast("int")
        ).alias("source"),
    )
    led, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    b0, b1 = mk(0, 60), mk(40, 100)  # 40-59 redelivered in batch 1
    args = (led, out, 4, "doc_id", "source", "", "md5_60", ())
    _sample_ledger_batch(spark, b0, 0, *args)
    _sample_ledger_batch(spark, b1, 1, *args)

    def snap(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    rep1, led1 = snap(out), snap(led)
    running = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .filter(F.col("batch_id") == 1)
            .drop("batch_id", "rank")
            .collect(),
        )
    )
    whole = sorted(
        map(
            tuple,
            sample_ledger(
                b0.unionByName(b1), 4, id_col="doc_id", by="source"
            ).collect(),
        )
    )
    assert running == whole  # bit-identical

    _sample_ledger_batch(spark, b1, 1, *args)
    assert snap(out) == rep1 and snap(led) == led1


def test_vacuum_versions_retention(spark, tmp_path):
    """Version retention: only batch_id=* partitions older than the
    newest keep_last go; the latest version, foreign files, and the
    changelog (unless asked) all survive, and a re-run removes
    nothing."""
    import os

    import pytest as _pt

    from pdtable_spark.streaming.ingest import (
        _upsert_batch,
        read_table_version,
        vacuum_versions,
    )

    tdir, cdir = str(tmp_path / "table"), str(tmp_path / "log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    for i, rows in enumerate(
        [[(1, "a"), (2, "b")], [(2, "B"), (3, "c")], [(4, "d")]]
    ):
        _upsert_batch(spark, mk(rows), i, tdir, cdir, ["k"], ["v"], None)
    # a foreign file under the table root must survive any vacuum
    with open(os.path.join(tdir, "_bounds.json"), "w") as f:
        f.write("{}")

    rep = vacuum_versions(spark, tdir, keep_last=2)
    assert rep == {"table_removed": [0], "changelog_removed": []}
    # the newest TWO versions survive — version N-1 is the restore
    # point a crashed-then-retried micro-batch merges against
    assert sorted(os.listdir(tdir)) == [
        "_bounds.json", "batch_id=1", "batch_id=2",
    ]
    # the latest survivor is the full merged state
    assert sorted(
        map(tuple, read_table_version(spark, tdir).collect())
    ) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # changelog untouched by default; independent retention when asked
    assert len(os.listdir(cdir)) == 3
    rep2 = vacuum_versions(spark, tdir, keep_last=2, changelog_dir=cdir,
                           changelog_keep_last=2)
    assert rep2 == {"table_removed": [], "changelog_removed": [0]}
    assert sorted(os.listdir(cdir)) == ["batch_id=1", "batch_id=2"]

    with _pt.raises(ValueError, match="keep_last"):
        vacuum_versions(spark, tdir, keep_last=0)
    # keep_last=1 would delete the in-flight retry window (ADVICE r11)
    with _pt.raises(ValueError, match="retried"):
        vacuum_versions(spark, tdir, keep_last=1)


def test_vacuum_versions_half_specified_changelog_is_loud(spark, tmp_path):
    import pytest as _pt

    from pdtable_spark.streaming.ingest import _upsert_batch, vacuum_versions

    tdir, cdir = str(tmp_path / "t"), str(tmp_path / "c")
    _upsert_batch(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        0, tdir, cdir, ["k"], ["v"], None,
    )
    with _pt.raises(ValueError, match="together"):
        vacuum_versions(spark, tdir, keep_last=2, changelog_dir=cdir)
    with _pt.raises(ValueError, match="together"):
        vacuum_versions(spark, tdir, keep_last=2, changelog_keep_last=2)


def test_shard_ledger_batch_retry_idempotent(spark, tmp_path):
    """The shard ledger's exactly-once story: batch 1's running manifest
    equals the deterministic hash assignment over batch 0 + batch 1 as
    ONE corpus, and a RETRY of batch 1 recomputes against the
    as-of-batch-0 state byte-identically (additive integers)."""
    from pdtable_spark.operators.dedup import md5_60
    from pdtable_spark.streaming.monitor import _shard_ledger_batch

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    led = str(tmp_path / "ledger")
    b0, b1 = mk(0, 300), mk(300, 700)
    args = (led, "doc_id", "n_tokens", 4, "")
    _shard_ledger_batch(spark, b0, 0, *args)
    _shard_ledger_batch(spark, b1, 1, *args)

    def snap():
        return sorted(map(tuple, spark.read.parquet(led).collect()))

    led1 = snap()
    running = {
        (r["shard"], r["n_docs"], r["n_tokens"])
        for r in spark.read.parquet(led).filter(F.col("batch_id") == 1).collect()
    }
    whole = {
        (r["shard"], r["n_docs"], r["n_tokens"])
        for r in b0.unionByName(b1)
        .withColumn("shard", (md5_60(F.col("doc_id").cast("string")) % 4).cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .collect()
    }
    assert running == whole and len(running) == 4
    # retried batch lands byte-identically
    _shard_ledger_batch(spark, b1, 1, *args)
    assert snap() == led1
