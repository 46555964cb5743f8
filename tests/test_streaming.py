"""Structured Streaming ingestion tests (availableNow trigger, file sink)."""

import os

import pytest
from pyspark.sql import functions as F

from readability_spark.pipeline import resume_filter
from readability_spark.streaming import (
    run_stream,
    stream_conversation_stats,
    stream_extract,
    stream_source,
)
from readability_spark.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp = str(base / "in")
    generate_transcripts(spark, n_convs=12, seed=5, use_fixtures=False) \
        .repartition(4).write.mode("overwrite").parquet(inp)
    return {
        "in": inp,
        "out": str(base / "out"),
        "ckpt": str(base / "ckpt"),
    }


def test_stream_extract_end_to_end(spark, stream_dirs):
    q = run_stream(spark, stream_dirs["in"], stream_dirs["out"],
                   stream_dirs["ckpt"], num_buckets=8)
    q.awaitTermination(300)
    out = spark.read.parquet(stream_dirs["out"])
    n_in = spark.read.parquet(stream_dirs["in"]).count()
    assert out.count() == n_in
    assert "page_type" in out.columns and "bucket_id" in out.columns
    assert out.filter(F.col("page_type") == "article").count() > 0
    # the streamed salt is the one resume_filter anti-joins on
    key = ("conv_id", "turn_idx", "bucket_id")
    none_done = spark.createDataFrame([], "bucket_id int, status string")
    salted = resume_filter(spark.read.parquet(stream_dirs["in"]), none_done, 8)
    assert {tuple(r) for r in salted.select(*key).collect()} == \
        {tuple(r) for r in out.select(*key).collect()}


def test_stream_restart_is_exactly_once(spark, stream_dirs):
    # second run with the same checkpoint: no new files, no duplicates
    q = run_stream(spark, stream_dirs["in"], stream_dirs["out"],
                   stream_dirs["ckpt"], num_buckets=8)
    q.awaitTermination(300)
    out = spark.read.parquet(stream_dirs["out"])
    n_in = spark.read.parquet(stream_dirs["in"]).count()
    assert out.count() == n_in


def test_windowed_stats_plan_is_streaming(spark, stream_dirs):
    extracted = stream_extract(stream_source(spark, stream_dirs["in"]), 8)
    stats = stream_conversation_stats(extracted)
    assert stats.isStreaming
    assert "n_articles" in stats.columns


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """The stateful streaming operator must emit every session the final
    watermark can PROVE complete (end + watermark delay + gap strictly
    before the stream's max event time), byte-equal aggregates to batch
    sessionize; everything it emits must exist in the batch result; and
    nothing is emitted twice.  Sessions ending inside the final watermark
    window legitimately stay buffered — an endless stream would flush them
    on the next watermark advance."""
    from collections import Counter
    from readability_spark.ops.relational import sessionize
    from readability_spark.streaming import stream_sessionize

    sf_dir = "/root/testdata/sf0.001"

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    inp = str(tmp_path / "in")
    events.orderBy("ts", "event_id").coalesce(1).write.parquet(inp)
    src = spark.readStream.schema(events.schema).parquet(inp)
    q = (stream_sessionize(src).writeStream
         .format("memory").queryName("sess_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = Counter((r["user_id"], r["n_events"], r["session_value_cents"])
                  for r in spark.sql("select * from sess_stream").collect())

    # batch twin, plus per-session end ts to reason about the watermark
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (events
            .withColumn("new_session",
                        F.when(gap.isNull() | (gap > 30 * 60), 1)
                        .otherwise(0))
            .withColumn("session_no", F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                 .alias("session_value_cents"),
                 F.max(F.unix_timestamp("ts")).alias("end_s")))
    rows = sess.collect()
    # the batch operator itself must agree with this twin
    batch_keys = Counter(
        (r["user_id"], r["n_events"], r["session_value_cents"])
        for r in sessionize(spark, sf_dir).collect())
    everything = Counter((r["user_id"], r["n_events"],
                          r["session_value_cents"]) for r in rows)
    assert batch_keys == everything

    max_s = events.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    # final watermark ≈ max_ts - 30min; flush needs wm - end > gap (30min);
    # 2s slack for ms truncation at the boundary
    must_emit = Counter(
        (r["user_id"], r["n_events"], r["session_value_cents"])
        for r in rows if r["end_s"] < max_s - (30 + 30) * 60 - 2)
    assert sum(must_emit.values()) > 0
    assert not must_emit - got, "provably-complete session missing"
    assert not got - everything, "stream emitted a session batch never saw"


def test_stream_sessionize_disordered_across_microbatches(spark, tmp_path):
    """Late data WITHIN the watermark must not corrupt sessions even when
    it arrives in a LATER microbatch: here file 2 delivers an event that
    belongs to a session file 1 already moved past (10:14 arrives after
    12:00).  The pre-r3 implementation kept only the open session in state,
    so 10:14 was folded into the 12:00 session (start 12:00, end 10:14);
    buffering up to the watermark restores batch parity."""
    from readability_spark.streaming import stream_sessionize

    from datetime import datetime

    schema = "user_id long, event_id long, ts timestamp, value double"
    t = lambda h, m: datetime(2024, 1, 1, h, m)
    f1 = spark.createDataFrame(
        [(1, 0, t(10, 0), 1.0),
         (1, 2, t(12, 0), 3.0)], schema)
    f2 = spark.createDataFrame(
        [(1, 1, t(10, 14), 2.0),        # late: within watermark
         (1, 3, t(16, 0), 9.0)], schema)  # advances the watermark
    inp = tmp_path / "in"
    inp.mkdir()
    # two files, one per microbatch, in arrival order
    f1.coalesce(1).write.parquet(str(inp / "f1"))
    f2.coalesce(1).write.parquet(str(inp / "f2"))
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(inp) + "/*"))
    q = (stream_sessionize(src).writeStream
         .format("memory").queryName("sess_disorder")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r["user_id"], r["session_start"].strftime("%H:%M"),
            r["session_end"].strftime("%H:%M"), r["n_events"],
            r["session_value_cents"])
           for r in spark.sql("select * from sess_disorder").collect()}
    # batch semantics: [10:00, 10:14] one session, [12:00] another; the
    # 16:00 closer stays open (inside the final watermark window)
    assert (1, "10:00", "10:14", 2, 300) in got
    assert (1, "12:00", "12:00", 1, 300) in got
    assert len(got) == 2


# --- property: stream ≡ batch under ANY bounded-lateness arrival order ------

def _batch_sessions(spark, rows):
    """Reference sessionization (the ops.relational semantics, inlined for
    arbitrary event rows): 30-min gap on second-truncated diffs, per-row
    floor(value*100) cents."""
    from pyspark.sql import Window

    schema = "user_id long, event_id long, ts timestamp, value double"
    events = spark.createDataFrame(rows, schema)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (events
            .withColumn("new_session",
                        F.when(gap.isNull() | (gap > 30 * 60), 1)
                        .otherwise(0))
            .withColumn("session_no", F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                 .alias("session_value_cents")))
    return {(r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], r["session_value_cents"])
            for r in sess.collect()}


def test_stream_sessionize_property_bounded_lateness(spark, tmp_path):
    """Property: for ANY event-time layout (edge gaps of exactly 1800 s
    included) and ANY arrival disorder bounded by the watermark delay,
    streaming sessionize emits exactly the batch sessions, full tuples
    (start/end timestamps included, not just aggregates).

    Hypothesis draws per-user gap sequences from an edge-loaded pool
    (0/1/1799/1800/1801/3600 s — 1800 must NOT split, 1801 must) and a
    per-event lateness jitter in [0, 1800] s; arrival order is
    sort-by(ts + jitter), which guarantees no event is dropped (any
    earlier-arrived event satisfies ts_other < ts + 1800, so the
    watermark never passes an unarrived event — jitter 1800 lands an
    event exactly ON the watermark, Spark's keep-edge).  A per-user
    far-future closer (> gap + watermark past everything) forces every
    real session out of state; the closers themselves stay open and are
    excluded from the expectation.

    Each example is a fresh multi-file stream (one file per microbatch).
    Examples are few (streaming queries cost seconds) but each replays a
    full adversarial permutation; the disorder test above pins one known
    case, this pins the CLASS."""
    from collections import Counter
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings, strategies as st

    from readability_spark.streaming import stream_sessionize

    base = datetime(2024, 1, 1, 0, 0, 0)
    gap_pool = [0, 1, 2, 1799, 1800, 1801, 3600]
    jitter_pool = st.integers(min_value=0, max_value=1800)
    value_pool = st.sampled_from([0.0, 1.0, 2.5, 0.335, 9.99])

    user_events = st.lists(
        st.tuples(st.sampled_from(gap_pool), jitter_pool, value_pool),
        min_size=1, max_size=6)

    case_idx = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture],
              derandomize=True)
    @given(per_user=st.lists(user_events, min_size=1, max_size=2),
           chunk=st.integers(min_value=1, max_value=3))
    def run_case(per_user, chunk):
        case_idx[0] += 1
        name = f"sess_prop_{case_idx[0]}"
        rows, eid = [], 0
        for u, evs in enumerate(per_user):
            t = 0
            for gap_s, jitter, val in evs:
                t += gap_s
                rows.append((u, eid, base + timedelta(seconds=t), val,
                             t + jitter))
                eid += 1
        # closer: beyond gap + watermark of every event in the case
        closer_t = max(
            (r[2] - base).total_seconds() for r in rows) + 2 * 1800 + 10
        for u in range(len(per_user)):
            rows.append((u, eid, base + timedelta(seconds=closer_t), 1.0,
                         closer_t + 10_000))
            eid += 1
        # arrival order: bounded-lateness permutation
        arrival = sorted(rows, key=lambda r: (r[4], r[0], r[1]))
        inp = tmp_path / name
        inp.mkdir()
        schema = "user_id long, event_id long, ts timestamp, value double"
        for i in range(0, len(arrival), chunk):
            batch = [(r[0], r[1], r[2], r[3])
                     for r in arrival[i:i + chunk]]
            spark.createDataFrame(batch, schema).coalesce(1) \
                .write.parquet(str(inp / f"f{i:04d}"))
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(inp) + "/*"))
        q = (stream_sessionize(src).writeStream
             .format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / (name + "_ck")))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = Counter(
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], r["session_value_cents"])
            for r in spark.sql(f"select * from {name}").collect())
        real = [(r[0], r[1], r[2], r[3]) for r in rows
                if (r[2] - base).total_seconds() < closer_t]
        expected = Counter(_batch_sessions(spark, real))
        assert got == expected, (sorted(got.items()),
                                 sorted(expected.items()))

    run_case()


def test_stream_sessionize_seeded_interleave_20_cases(spark, tmp_path):
    """Breadth companion to the hypothesis property above: 20 seeded
    adversarial cases (2-4 users each, edge-loaded gaps, bounded lateness)
    MERGED into ONE streaming query with per-case user namespacing, so the
    per-query startup cost is paid once instead of 20 times.

    Merging is sound under the same keep-edge argument as the single-case
    test, applied globally: arrival order is sort-by(ts + jitter) with
    jitter ≤ watermark delay, so for any event e every earlier arrival o
    has ts_o ≤ ts_o + j_o ≤ ts_e + j_e ≤ ts_e + 1800, hence the global
    watermark max(ts_o) - 1800 never passes ts_e — no event of ANY case
    is dropped, even though one case's event times advance the shared
    watermark seen by all the others (the multi-case interleave is exactly
    what the single-case form never exercised).  A single GLOBAL closer
    time (past every case's events + delay) flushes all real sessions;
    the closers themselves stay open and are excluded from expectation."""
    import random
    from collections import Counter
    from datetime import datetime, timedelta

    from readability_spark.streaming import stream_sessionize

    rng = random.Random(20260817)
    base = datetime(2024, 1, 1, 0, 0, 0)
    gap_pool = [0, 1, 2, 1799, 1800, 1801, 3600]
    value_pool = [0.0, 1.0, 2.5, 0.335, 9.99]

    rows, eid = [], 0
    for case in range(20):
        for u in range(rng.randint(2, 4)):
            uid = case * 100 + u
            t = rng.choice([0, 900, 7200])     # cases start at skewed bases
            for _ in range(rng.randint(1, 6)):
                t += rng.choice(gap_pool)
                rows.append((uid, eid, base + timedelta(seconds=t),
                             rng.choice(value_pool),
                             t + rng.randint(0, 1800)))
                eid += 1
    closer_t = max((r[2] - base).total_seconds() for r in rows) \
        + 2 * 1800 + 10
    closer_uids = sorted({r[0] for r in rows})
    closers = []
    for uid in closer_uids:
        closers.append((uid, eid, base + timedelta(seconds=closer_t), 1.0,
                        closer_t + 10_000))
        eid += 1
    arrival = sorted(rows, key=lambda r: (r[4], r[0], r[1])) + closers

    inp = tmp_path / "sess_interleave"
    inp.mkdir()
    schema = "user_id long, event_id long, ts timestamp, value double"
    chunk = 7
    for i in range(0, len(arrival), chunk):
        batch = [(r[0], r[1], r[2], r[3]) for r in arrival[i:i + chunk]]
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.parquet(str(inp / f"f{i:04d}"))
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(inp) + "/*"))
    q = (stream_sessionize(src).writeStream
         .format("memory").queryName("sess_interleave")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_interleave_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)
    got = Counter(
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], r["session_value_cents"])
        for r in spark.sql("select * from sess_interleave").collect())
    real = [(r[0], r[1], r[2], r[3]) for r in rows]
    expected = Counter(_batch_sessions(spark, real))
    assert got == expected, (sorted(got.items())[:5],
                             sorted(expected.items())[:5])


def _dedup_rows(spark, files, tmp_path, name, watermark="30 minutes"):
    """Write each item of ``files`` as one parquet file, stream them one
    file per microbatch through stream_dedup, return surviving rows."""
    from readability_spark.streaming import stream_dedup

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    inp = str(tmp_path / f"{name}_in")
    os.makedirs(inp)
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(f"{inp}/f{i}.parquet")
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .option("latestFirst", "false")
           .parquet(f"{inp}/*/"))
    q = (stream_dedup(src, watermark=watermark).writeStream
         .format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"select * from {name}").collect()


def _turn(conv, idx, text, ts):
    from datetime import datetime, timezone
    return (conv, idx, "assistant", text, None,
            datetime.fromtimestamp(ts, tz=timezone.utc))


def test_stream_dedup_matches_batch_identity(spark, tmp_path):
    """Within one horizon the streaming dedup must agree with the batch
    md5 identity: one survivor per distinct payload, first arrival kept,
    later copies dropped — including duplicates arriving in a LATER
    microbatch (cross-microbatch state is the whole point)."""
    t0 = 1_700_000_000
    f1 = [_turn("c1", 0, "alpha", t0),
          _turn("c1", 1, "beta", t0 + 60),
          _turn("c2", 0, "alpha", t0 + 120)]        # same-batch dup
    f2 = [_turn("c3", 0, "beta", t0 + 300),         # cross-batch dup
          _turn("c3", 1, "gamma", t0 + 360)]
    got = _dedup_rows(spark, [f1, f2], tmp_path, "dedup_basic")
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha", "beta", "gamma"]      # batch-identical key set
    by_text = {r["text"]: r for r in got}
    assert by_text["alpha"]["conv_id"] == "c1"      # first arrival survives
    assert by_text["beta"]["conv_id"] == "c1"
    # every survivor carries the batch operator's key
    import hashlib
    for r in got:
        assert r["payload_md5"] == hashlib.md5(
            r["text"].encode()).hexdigest()


def test_stream_dedup_horizon_eviction_readmits(spark, tmp_path):
    """The bounded-state contract, both edges:
    (a) a duplicate inside the horizon is dropped even though watermarks
        advanced between its microbatch and the original's;
    (b) once the watermark passes original_ts + delay the key's state is
        EVICTED, so a far-later duplicate is re-admitted — that is the
        price of finite state at ingest scale, and the batch pass
        (exact_dedup over the landed table) owns cross-horizon identity.

    Eviction timing nuance (observed, and allowed by the operator's
    "may deduplicate longer than the threshold" contract): the watermark
    used by microbatch N derives from batch N-1's max event time, and
    expired state is cleaned at batch END — after that batch's dedup
    check — so a key's first re-admittable arrival is two
    watermark-advancing batches after its horizon closes; the test
    feeds two movers before the re-arrival to pin the guaranteed edge,
    not the implementation slack."""
    t0 = 1_700_000_000
    hour = 3600
    f1 = [_turn("c1", 0, "alpha", t0)]
    f2 = [_turn("c2", 0, "alpha", t0 + 10 * 60),    # +10min: in horizon
          _turn("c2", 1, "filler", t0 + 10 * 60)]
    f3 = [_turn("c3", 0, "mover", t0 + 3 * hour)]   # advances watermark
    f4 = [_turn("c3", 1, "mover2", t0 + 4 * hour)]  # wm now >> t0+30min
    f5 = [_turn("c4", 0, "alpha", t0 + 5 * hour)]   # original evicted
    got = _dedup_rows(spark, [f1, f2, f3, f4, f5], tmp_path,
                      "dedup_horizon")
    alphas = sorted((r["conv_id"], r["text"])
                    for r in got if r["text"] == "alpha")
    assert alphas == [("c1", "alpha"), ("c4", "alpha")], alphas
    assert len(got) == 5                            # + filler + 2 movers
