"""Structured Streaming tests: stream results must agree with the batch
operators on the same bounded input (availableNow drain)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    from duckdb_age_spark.sources import read_table

    df = read_table(spark, sf_dir, "events").cache()
    yield df
    df.unpersist()


def test_windowed_counts_match_batch(spark, sf_dir, batch_events):
    from duckdb_age_spark.streaming import (
        run_available_now,
        stream_events,
        windowed_counts_stream,
    )

    stream = windowed_counts_stream(stream_events(spark, sf_dir), window="1 hour")
    got = run_available_now(stream, output_mode="complete")

    expected = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    g = {(r.window_start, r.event_type): (r.n_events, r.total_value) for r in got.collect()}
    e = {(r.window_start, r.event_type): (r.n_events, r.total_value) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_stream_to_encrypted_sink(spark, sf_dir, batch_events, tmp_path, manager):
    from duckdb_age_spark.contract import KP1
    from duckdb_age_spark.streaming import stream_events, stream_to_encrypted_parquet

    manager.create_secret("stream_key", public_key=KP1.public_key, private_key=KP1.private_key, replace=True)
    out = str(tmp_path / "enc_stream")
    q = stream_to_encrypted_parquet(
        stream_events(spark, sf_dir),
        out,
        columns=["props"],
        recipient="stream_key",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    written = spark.read.option("basePath", out).parquet(out)
    assert written.count() == batch_events.count()
    # props is ciphertext on disk, decrypts back to the original JSON
    raw = bytes(written.select("props").first().props)
    assert raw.startswith(b"age-encryption.org/v1")
    dec = written.select(
        F.col("event_id"),
        F.call_function("age_decrypt", F.col("props"), F.lit("stream_key")).cast("string").alias("props"),
    )
    orig = {r.event_id: r.props for r in batch_events.select("event_id", "props").collect()}
    got = {r.event_id: r.props for r in dec.collect()}
    assert got == orig


def test_sessionize_stream_emits_closed_sessions(spark, sf_dir, batch_events):
    from duckdb_age_spark.operators.events import sessionize
    from duckdb_age_spark.streaming import run_available_now, sessionize_stream, stream_events

    got = run_available_now(
        sessionize_stream(stream_events(spark, sf_dir), gap_minutes=30),
        output_mode="append",
    ).collect()

    # batch truth: per-user closed sessions (all but each user's last session)
    s = sessionize(batch_events, gap_minutes=30)
    per_session = (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("dur_sec"),
        )
    )
    last_seq = per_session.groupBy("user_id").agg(F.max("session_seq").alias("last"))
    closed_batch = (
        per_session.join(last_seq, "user_id")
        .where(F.col("session_seq") < F.col("last"))
        .select("user_id", "n_events", "dur_sec")
    )
    got_set = {(r.user_id, r.n_events, r.dur_sec) for r in got}
    exp_set = {(r.user_id, r.n_events, r.dur_sec) for r in closed_batch.collect()}
    # single-file availableNow drain sees all data in one batch: closed
    # sessions must match the batch computation exactly
    assert got_set == exp_set and len(got_set) > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, batch_events):
    from duckdb_age_spark.streaming import (
        run_available_now,
        stream_events,
        view_purchase_join_stream,
    )

    got = run_available_now(
        view_purchase_join_stream(stream_events(spark, sf_dir), within="1 hour"),
        output_mode="append",
    ).collect()

    v = batch_events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = batch_events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    expected = v.join(
        p,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts AND purchase_ts <= view_ts + INTERVAL 1 hour"
        ),
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id", "purchase_value")

    got_set = {(r.user_id, r.view_id, r.purchase_id) for r in got}
    exp_set = {(r.user_id, r.view_id, r.purchase_id) for r in expected.collect()}
    assert got_set == exp_set and len(got_set) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Controlled late-data scenario: phase 1 establishes the watermark,
    phase 2 delivers a row whose window is already finalized — append-mode
    output must never contain that window."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([datetime(2024, 1, 1, *hm) for hm, _ in rows], pa.timestamp("us")),
                    "k": pa.array([k for _, k in rows], pa.string()),
                }
            ),
            str(src / name),
        )

    out = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    write("f1.parquet", [((12, 0), "on-time"), ((12, 1), "on-time")])
    drain()
    # late row: 10:00 window finalized long ago (watermark now 11:51);
    # 13:00 row advances the watermark past the 12:00 window
    write("f2.parquet", [((10, 0), "late"), ((13, 0), "advance")])
    rows2 = drain()
    windows = {r.ws.hour for r in rows2}
    assert 10 not in windows, f"late row leaked into finalized window: {rows2}"
    assert any(r.ws.hour == 12 and r.n == 2 for r in rows2), f"12:00 window not finalized: {rows2}"


def test_stream_dedup_restores_exactly_once(spark, sf_dir):
    """Every event arrives twice (two micro-batches of the same file);
    dropDuplicatesWithinWatermark must emit each event_id exactly once."""
    from duckdb_age_spark.streaming import (
        dedup_stream,
        run_available_now,
        stream_duplicated_events,
    )
    from duckdb_age_spark.sources import read_table

    n_unique = read_table(spark, sf_dir, "events").count()
    raw = run_available_now(stream_duplicated_events(spark, sf_dir), output_mode="append")
    assert raw.count() == 2 * n_unique  # the source really is at-least-once
    deduped = run_available_now(
        dedup_stream(stream_duplicated_events(spark, sf_dir)), output_mode="append"
    )
    assert deduped.count() == n_unique
    assert deduped.select("event_id").distinct().count() == n_unique


def test_sessionize_stream_timeout_flushes_trailing_sessions(spark, tmp_path):
    """With ``timeout_ms`` set (ProcessingTimeTimeout) and a continuous
    trigger, the trailing session of each user — which an availableNow drain
    intentionally leaves in state — is flushed once the timer fires
    (VERDICT r1 item 5 / ROADMAP #4)."""
    import datetime as dt
    import time

    from duckdb_age_spark.streaming import sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=5)),               # user 1: one open session, 2 events
        (2, t0),                                                  # user 2: closed by the 40min gap below
        (2, t0 + dt.timedelta(minutes=40)),
        (2, t0 + dt.timedelta(minutes=41)),                       # ... trailing 2-event session
    ]
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = sessionize_stream(stream, gap_minutes=30, timeout_ms=1000)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_timeout")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # expect 3 rows total: user 2's closed session in the first batch,
        # then both trailing sessions via the timeout path
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT count(*) AS n FROM sess_timeout").first().n >= 3:
                break
            time.sleep(1)
        got = {
            (r.user_id, r.n_events, r.dur_sec)
            for r in spark.sql("SELECT * FROM sess_timeout").collect()
        }
    finally:
        q.stop()
    assert (2, 1, 0) in got, got          # closed by gap inside the data
    assert (1, 2, 300) in got, got        # trailing session flushed by timer
    assert (2, 2, 60) in got, got         # trailing session flushed by timer
    assert len(got) == 3, got


def test_stream_to_keyed_upsert_collapses_redeliveries(spark, sf_dir, batch_events, tmp_path):
    """The duplicated stream delivers every event (at least) twice across
    micro-batches; the upsert sink must land exactly one row per event_id,
    equal to the batch-distinct events."""
    from duckdb_age_spark.streaming import stream_duplicated_events, stream_to_keyed_upsert

    path = str(tmp_path / "events_upserted")
    q = stream_to_keyed_upsert(
        stream_duplicated_events(spark, sf_dir),
        path,
        key="event_id",
        checkpoint=str(tmp_path / "ckpt_upsert"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(path)
    assert got.count() == batch_events.count()
    g = {r.event_id: r.event_type for r in got.collect()}
    e = {r.event_id: r.event_type for r in batch_events.collect()}
    assert g == e


def test_enrich_stream_with_dim_matches_batch(spark, sf_dir, batch_events):
    from duckdb_age_spark.streaming import enrich_stream_with_dim, run_available_now, stream_events

    dim = spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("purchase", "convert"),
         ("signup", "convert"), ("error", "ops")],
        "event_type string, category string",
    )
    out = run_available_now(
        enrich_stream_with_dim(stream_events(spark, sf_dir), dim, "event_type")
        .groupBy("category").count(),
        output_mode="complete",
    )
    got = {r.category: r["count"] for r in out.collect()}
    exp = {
        r.category: r["count"]
        for r in batch_events.join(dim, "event_type").groupBy("category").count().collect()
    }
    assert got == exp and len(got) == 3


def test_cms_cells_stream_state_is_bounded_and_matches_batch(spark, sf_dir, batch_events):
    from duckdb_age_spark.streaming import cms_cells_stream, run_available_now, stream_events

    cells = run_available_now(
        cms_cells_stream(stream_events(spark, sf_dir), depth=4, width=64),
        output_mode="complete",
        shuffle_partitions=4,
    ).collect()
    # state/result cardinality is bounded by depth*width no matter the volume
    assert 0 < len(cells) <= 4 * 64
    # every event contributes exactly one increment per hash row
    n_events = batch_events.count()
    per_row: dict = {}
    for c in cells:
        per_row[c.row] = per_row.get(c.row, 0) + c.cell_n
    assert per_row == {j: n_events for j in range(4)}


def test_windowed_distinct_users_match_batch(spark, sf_dir, batch_events):
    from duckdb_age_spark.streaming import (
        run_available_now,
        stream_events,
        windowed_distinct_users_stream,
    )

    stream = windowed_distinct_users_stream(stream_events(spark, sf_dir), window="1 hour")
    got = run_available_now(stream, output_mode="complete")
    expected = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.countDistinct("user_id").alias("n_distinct_users"))
        .select(F.col("win.start").alias("window_start"), "n_distinct_users")
    )
    g = {(r.window_start, r.n_distinct_users) for r in got.collect()}
    e = {(r.window_start, r.n_distinct_users) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_update_mode_distinct_exact_after_horizon_duplicate(spark, tmp_path):
    """VERDICT r5 item 8: a duplicate (user, window) arriving AFTER the
    watermark horizon must not inflate the distinct count.  The update-mode
    operator keys dedup set and count in ONE state row, so the late
    duplicate is watermark-dropped and the count stays exact (the two-phase
    complete-mode form could double-count it because its dedup state was
    evicted while its count state lived on)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_age_spark.streaming import windowed_distinct_users_stream_update

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows, order):
        path = src / name
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [datetime(2024, 1, 1, h, m) for (h, m), _ in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([u for _, u in rows], pa.int64()),
                }
            ),
            str(path),
        )
        # The file source schedules micro-batches by modification time;
        # back-to-back writes can tie on mtime granularity, letting f2 (the
        # watermark-advancer) run FIRST and late-drop f1 entirely.  Pin
        # strictly increasing mtimes so batch order is deterministic.
        os.utime(path, (1_700_000_000 + order, 1_700_000_000 + order))

    # batch 1: users 1,2 in window [00:00, 01:00)
    write("f1.parquet", [((0, 10), 1), ((0, 20), 2)], 0)
    # batch 2: lone event far ahead — advances the watermark to 04:00,
    # past the window's event-time timeout (01:00 + 2h)
    write("f2.parquet", [((6, 0), 9)], 60)
    # batch 3: DUPLICATE user 1 back in the first window — now late
    write("f3.parquet", [((0, 30), 1)], 120)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = windowed_distinct_users_stream_update(stream, window_sec=3600, watermark_sec=7200)

    import uuid

    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    w0 = datetime(2024, 1, 1, 0, 0)
    counts_w0 = [r.n_distinct_users for r in rows if r.window_start == w0]
    # the first window's count must have been emitted and NEVER exceed 2:
    # the post-horizon duplicate was dropped, not double-counted
    assert counts_w0 and max(counts_w0) == 2, rows


def test_run_available_now_env_seam(spark, tmp_path):
    """A drain sizes its state-store parallelism from
    ``shuffle_partitions`` and restores the session's own setting
    afterwards."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_age_spark.streaming import run_available_now

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([datetime(2024, 1, 1, 0, 0)], pa.timestamp("us")),
                "k": pa.array(["a"], pa.string()),
            }
        ),
        str(src / "f.parquet"),
    )
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .parquet(str(src))
        .groupBy("k")
        .count()
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_available_now(stream, output_mode="complete", shuffle_partitions=3)
    assert out.count() == 1
    # session conf restored after the drain
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_leaderboard_update_mode_state_evicted_past_horizon(spark, tmp_path):
    """VERDICT r6 item 3: the leaderboard aggregation must run in UPDATE
    mode so the state store actually EVICTS a (window, user) group once the
    watermark passes its window end.  Three single-file micro-batches:
    batch 1 fills window w0, batch 2 jumps event time far ahead (watermark
    sails past w0's end), batch 3 confirms w0's state rows are gone — in
    complete mode numRowsTotal would keep every group forever."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_age_spark.streaming import windowed_user_counts_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows, order):
        path = src / name
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [datetime(2024, 1, 1, h, m) for (h, m), _ in rows],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([u for _, u in rows], pa.int64()),
                }
            ),
            str(path),
        )
        os.utime(path, (1_700_000_000 + order, 1_700_000_000 + order))

    # batch 1: 3 users in window [00:00, 01:00) — user 1 twice (count 2)
    write("f1.parquet", [((0, 5), 1), ((0, 10), 1), ((0, 20), 2), ((0, 30), 3)], 0)
    # batch 2: lone event at 06:00 — watermark advances to 04:00 > 01:00
    write("f2.parquet", [((6, 0), 9)], 60)
    # batch 3: event at 10:00 — w0 state must already be evicted
    write("f3.parquet", [((10, 0), 7)], 120)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = windowed_user_counts_stream(stream, window="1 hour")

    import uuid

    name = f"lb_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # state-store row count from the LAST progress that ran the agg:
    # 5 groups ever existed ((w0,1),(w0,2),(w0,3),(w6,9),(w10,7)); w0's 3
    # must be evicted by the final batch — complete mode would report 5
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state_rows <= 2, [
        (p["batchId"], p["stateOperators"][0]["numRowsTotal"]) for p in progresses
    ]

    # and the update-emission log still compacts to the exact counts
    rows = spark.table(name).collect()
    w0 = datetime(2024, 1, 1, 0, 0)
    best = {}
    for r in rows:
        if r.window_start == w0:
            best[r.user_id] = max(best.get(r.user_id, 0), r.n_events)
    assert best == {1: 2, 2: 1, 3: 1}, rows


@pytest.mark.parametrize("mfpt", [1, 2, 7])
def test_microbatch_boundary_chaos_invariance(spark, sf_dir, tmp_path, mfpt):
    """VERDICT r6 item 9: micro-batch partitioning is the streaming analog
    of the batch shuffle-order hazard — the FINAL result of the exact
    update-mode operators must not depend on where micro-batch boundaries
    fall.  The events fixture is split into 8 time-contiguous files (so a
    2-hour watermark never outruns undelivered data) and drained with
    rotated maxFilesPerTrigger; each rotation must compact to the same
    leaderboard and the same distinct counts as the batch truth."""
    from duckdb_age_spark.sources import read_table
    from duckdb_age_spark.streaming import windowed_user_counts_stream

    events = read_table(spark, sf_dir, "events").select("ts", "user_id").orderBy("ts")
    rows = events.collect()
    src = tmp_path / "chaos_src"
    src.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files = 8
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        path = src / f"f{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r.user_id for r in part], pa.int64()),
                }
            ),
            str(path),
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", mfpt)
        .parquet(str(src))
    )
    out = windowed_user_counts_stream(stream, window="1 day")

    import uuid

    name = f"chaos_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    compact = (
        spark.table(name)
        .groupBy("window_start", "user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    got = {(r.window_start, r.user_id): r.n_events for r in compact.collect()}

    truth = (
        spark.createDataFrame(rows)
        .groupBy(F.window("ts", "1 day").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("ws"), "user_id", "n_events")
    )
    exp = {(r.ws, r.user_id): r.n_events for r in truth.collect()}
    # every batch-truth group must be present with the exact final count —
    # independent of where the micro-batch boundaries fell
    assert got == exp and len(got) > 0

    # same invariance for the update-mode EXACT DISTINCT operator: the
    # per-window distinct-user count is monotone while the window is in
    # horizon, so max() compacts emissions to the final exact value
    from duckdb_age_spark.streaming import windowed_distinct_users_stream_update

    stream2 = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", mfpt)
        .parquet(str(src))
    )
    dname = f"chaosd_{uuid.uuid4().hex[:8]}"
    q2 = (
        windowed_distinct_users_stream_update(
            stream2, window_sec=86400, watermark_sec=7200
        )
        .writeStream.format("memory")
        .queryName(dname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    dcompact = (
        spark.table(dname)
        .groupBy("window_start")
        .agg(F.max("n_distinct_users").alias("n"))
    )
    dgot = {(r.window_start): r.n for r in dcompact.collect()}
    dtruth = (
        spark.createDataFrame(rows)
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )
    dexp = {r.ws: r.n for r in dtruth.collect()}
    assert dgot == dexp and len(dgot) > 0


def test_streaming_hll_matches_batch_registers(spark, tmp_path):
    """The drained streaming HLL must equal the BATCH sketch built from the
    same rows (streaming-vs-batch register equivalence), with registers
    accumulating across micro-batches and duplicate users changing
    nothing."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from duckdb_age_spark.operators.sketch import KEY_BITS, hll_registers
    from duckdb_age_spark.streaming import hll_distinct_users_stream_drain

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([t for t, _ in rows], pa.timestamp("us")),
                    "user_id": pa.array([u for _, u in rows], pa.int64()),
                }
            ),
            str(src / name),
        )

    d1 = [(datetime(2024, 1, 1, 1, i % 60), u) for i, u in enumerate(range(50))]
    # second file: 30 DUPLICATE users + 20 new ones, same day + a second day
    d2 = [(datetime(2024, 1, 1, 5, i % 60), u) for i, u in enumerate(range(30))]
    d2 += [(datetime(2024, 1, 1, 6, i % 60), u) for i, u in enumerate(range(100, 120))]
    d2 += [(datetime(2024, 1, 2, 1, i % 60), u) for i, u in enumerate(range(7))]
    write("a.parquet", d1)
    write("b.parquet", d2)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)  # force multi-batch accumulation
        .parquet(str(src))
    )
    got = {
        r.window_sec: (r.n_buckets, r.s_scaled)
        for r in hll_distinct_users_stream_drain(stream, 86400, b=8).collect()
    }

    batch = spark.createDataFrame(d1 + d2, "ts timestamp, user_id long")
    rmax = KEY_BITS - 8 + 1
    expected = {}
    for day, part in batch.groupBy(
        F.expr("CAST(CAST(ts AS LONG) DIV 86400 * 86400 AS LONG)").alias("w")
    ).agg(F.collect_list("user_id")).collect():
        regs = hll_registers(
            spark.createDataFrame([(u,) for u in part], "user_id long"), "user_id", b=8
        ).collect()
        n_buckets = len(regs)
        s_scaled = sum(1 << (rmax - r.register) for r in regs) + (256 - n_buckets) * (
            1 << rmax
        )
        expected[day] = (n_buckets, s_scaled)
    assert got == expected, (got, expected)


def test_streaming_hll_timeout_evicts_window_state(spark, tmp_path):
    """With ``timeout_ms`` set, a window's registers are DROPPED after the
    processing-time timer fires: data arriving afterwards re-creates the
    state from scratch, observable as a second n_updates=1 emission whose
    register population restarts small (unevicted state would emit
    n_updates=2 with the cumulative registers) — pins the state bound a
    live deployment relies on (code-review r8)."""
    import datetime as dt
    import time

    from duckdb_age_spark.streaming import hll_distinct_users_stream_drain

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tmp_path / "hll_src"
    src.mkdir()
    spark.createDataFrame(
        [(u, t0) for u in range(40)], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    # drive the stateful half directly with a continuous trigger so the
    # processing-time timer can fire (the public drain is availableNow)
    from duckdb_age_spark.streaming import _hll_stateful_stage

    out_stream = _hll_stateful_stage(stream, 86400, 8, timeout_ms=1000)
    q = (
        out_stream.writeStream.format("memory")
        .queryName("hll_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) AS n FROM hll_evict").first().n >= 1:
                break
            time.sleep(0.5)
        first = spark.sql(
            "SELECT n_updates, n_buckets FROM hll_evict ORDER BY n_updates LIMIT 1"
        ).first()
        assert first and first.n_updates == 1 and first.n_buckets >= 20
        time.sleep(5)  # let the 1s timer fire and evict
        spark.createDataFrame(
            [(999, t0 + dt.timedelta(hours=1))], "user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(str(src))
        deadline = time.time() + 60
        fresh = None
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT n_updates, n_buckets FROM hll_evict"
            ).collect()
            fresh = [r for r in rows if r.n_updates == 1 and r.n_buckets <= 2]
            if fresh:
                break
            time.sleep(0.5)
        # evicted: the late row re-created state from scratch (n_updates
        # back to 1, one occupied bucket) instead of appending as update 2
        assert fresh, spark.sql("SELECT * FROM hll_evict").collect()
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# backfill-safe dedup (VERDICT r10 item 4)
# ---------------------------------------------------------------------------


def _state_tail_bound(ev, slice_interval: str, watermark_hours: int) -> int:
    """Batch-computed ceiling on per-drain dedup state: keys in the slice
    plus the still-resident tail of the PREVIOUS slice.  Eviction in drain k
    uses the watermark carried from drain k-1 (max event ts of slice k-1,
    minus the delay) and a key expires at first-arrival + delay, so the
    resident tail is every key within 2 x watermark of the previous slice's
    MAX ts (not its nominal end — the anchors differ when the slice has a
    trailing event-time gap)."""
    tail = F.expr(f"INTERVAL {2 * watermark_hours} HOURS")
    per = (
        ev.withColumn("s", F.window("ts", slice_interval)["start"])
        .groupBy("s")
        .agg(F.countDistinct("event_id").alias("k"), F.max("ts").alias("mx"))
        .orderBy("s")
        .collect()
    )
    sliced = ev.withColumn("s", F.window("ts", slice_interval)["start"])
    tails = {
        r.s: t.t
        for r, t in zip(
            per,
            (
                sliced.join(
                    sliced.groupBy("s").agg((F.max("ts")).alias("mx")), "s"
                )
                .where(F.col("ts") + tail >= F.col("mx"))
                .groupBy("s")
                .agg(F.countDistinct("event_id").alias("t"))
                .orderBy("s")
                .collect()
            ),
        )
    }
    return max(r.k + (tails[per[i - 1].s] if i else 0) for i, r in enumerate(per))


def test_backfill_dedup_sliced_exact_and_bounded(spark, tmp_path):
    """Event-time-sliced replay of an at-least-once history (every event
    delivered twice): output is exactly-once, and peak dedup state stays
    within keys-per-(slice + 2x-watermark tail) — NOT the whole-corpus
    state a single availableNow drain pins (the r10-measured degenerate
    case this helper exists to avoid)."""
    from duckdb_age_spark.sources import read_table
    from duckdb_age_spark.streaming import backfill_dedup_sliced

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        pytest.skip("sf0.1 fixture not present")
    ev = read_table(spark, sf, "events")
    n = ev.count()
    res = backfill_dedup_sliced(
        ev.unionByName(ev), str(tmp_path / "wd"), slice_interval="7 days", watermark="2 hours"
    )
    out = spark.read.parquet(res["out_path"])
    assert out.count() == n == out.select("event_id").distinct().count()
    # exact under FileStreamSink (VERDICT r11 item 4): the observe() metric
    # reports real counts where the sink itself only says -1 "unknown"
    assert res["rows_emitted"] == n
    assert res["slices"] >= 4
    bound = _state_tail_bound(ev, "7 days", 2)
    assert 0 < res["peak_state_rows"] <= bound
    # the whole point: a one-shot drain would have pinned ~n keys
    assert res["peak_state_rows"] < 0.35 * n


@pytest.mark.skipif(
    not os.path.isdir("/root/repo/.scale/sf1"),
    reason="sf1 scale replica not generated (scripts/make_scale_data.py 10 sf1)",
)
def test_backfill_dedup_sliced_sf1_scale(spark, tmp_path):
    """The r10 verdict's done-criterion: replay the sf1 events corpus (1 M
    events, delivered twice) in 2-day slices — peak state must stay at the
    keys-per-(slice + tail) bound (~7% of the corpus here), not the 100%
    a single drain degenerates to."""
    from duckdb_age_spark.sources import read_table
    from duckdb_age_spark.streaming import backfill_dedup_sliced

    ev = read_table(spark, "/root/repo/.scale/sf1", "events")
    n = ev.count()
    res = backfill_dedup_sliced(
        ev.unionByName(ev), str(tmp_path / "wd"), slice_interval="2 days", watermark="2 hours"
    )
    out = spark.read.parquet(res["out_path"])
    assert out.count() == n == out.select("event_id").distinct().count()
    bound = _state_tail_bound(ev, "2 days", 2)
    assert 0 < res["peak_state_rows"] <= bound
    assert res["peak_state_rows"] < 0.1 * n


def test_backfill_dedup_sliced_refuses_reused_work_dir(spark, tmp_path):
    """A work_dir from a completed run keeps its out/ and ckpt/; a second
    run would APPEND its drains to the old parquet output and read back
    both runs' rows (ADVICE r11).  The helper must refuse up front.
    ADVICE r12 extension: a leftover feed/ alone must ALSO refuse — under
    the old 'delete out/ and ckpt/' advice a rerun re-processed the prior
    run's renamed slice files under a fresh checkpoint and silently
    appended stale rows — and a successful run must delete its feed/ and
    staged/ intermediates (out/ + ckpt/ are all that remain)."""
    import os as _os

    from duckdb_age_spark.streaming import backfill_dedup_sliced

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 0, 0, 0), 10)],
        "event_id long, ts timestamp, user_id long",
    )
    wd = str(tmp_path / "wd")
    first = backfill_dedup_sliced(ev, wd)
    assert first["rows_emitted"] == 1
    # intermediates cleaned on success; the real artifacts remain
    assert sorted(_os.listdir(wd)) == ["ckpt", "out"]
    with pytest.raises(ValueError, match="previous run"):
        backfill_dedup_sliced(ev, wd)
    # an interrupted run's feed/ alone (caller followed the old advice and
    # deleted out/ + ckpt/) is still a replay trap — refuse it too
    wd2 = tmp_path / "wd2"
    (wd2 / "feed").mkdir(parents=True)
    (wd2 / "feed" / "slice000000_part-0.parquet").write_bytes(b"stale")
    with pytest.raises(ValueError, match="feed"):
        backfill_dedup_sliced(ev, str(wd2))


def test_backfill_dedup_sliced_rejects_null_ts(spark, tmp_path):
    """Null event times silently vanish on this path (F.window() plants an
    implicit isnotnull filter, so they never reach the staged write; a live
    dropDuplicatesWithinWatermark drops them too) — fail fast instead
    (ADVICE r11)."""
    from duckdb_age_spark.streaming import backfill_dedup_sliced

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 10), (2, None, 11)],
        "event_id long, ts timestamp, user_id long",
    )
    with pytest.raises(ValueError, match="null 'ts'"):
        backfill_dedup_sliced(ev, str(tmp_path / "wd"))


def test_backfill_dedup_sliced_empty_history(spark, tmp_path):
    """No slices (empty history): out_path must still read back as an
    empty DataFrame of the input schema instead of raising path-not-found
    (code-review r11)."""
    from duckdb_age_spark.streaming import backfill_dedup_sliced

    empty = spark.createDataFrame([], "event_id long, ts timestamp, user_id long")
    res = backfill_dedup_sliced(empty, str(tmp_path / "wd"))
    assert res["slices"] == 0 and res["peak_state_rows"] == 0
    out = spark.read.parquet(res["out_path"])
    assert out.count() == 0
    assert set(out.columns) == {"event_id", "ts", "user_id"}
