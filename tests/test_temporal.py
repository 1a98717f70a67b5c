"""As-of join and sessionization vs brute-force Python oracles."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pbf2json_spark import temporal


def _brute_asof(L, R, tolerance=None):
    out = {}
    for eid, k, ts in L:
        best = None
        for rk, rts, v in R:
            if rk == k and rts <= ts and (best is None or rts > best[0]):
                best = (rts, v)
        if best is not None and tolerance is not None and best[0] < ts - tolerance:
            best = None
        out[eid] = best
    return out


def test_asof_join_matches_bruteforce(spark):
    rng = random.Random(11)
    keys = [f"u{i}" for i in range(6)]
    L = [(i, rng.choice(keys), rng.randrange(0, 1000)) for i in range(120)]
    # unique (key, ts) on the right for determinism
    R = list({(k, t): v for k, t, v in
              [(rng.choice(keys), rng.randrange(0, 1000), float(i)) for i in range(80)]}.items())
    R = [(k, t, v) for (k, t), v in R]
    ldf = spark.createDataFrame(L, "eid long, key string, ts long")
    rdf = spark.createDataFrame(R, "key string, ts long, v double")
    for tol in (None, 50):
        got = {
            r["eid"]: (r["ts_matched"], r["v_matched"])
            for r in temporal.asof_join(
                ldf, rdf, on="ts", by="key",
                tolerance=None if tol is None else F.lit(tol),
            ).collect()
        }
        want = _brute_asof(L, R, tol)
        for eid, best in want.items():
            assert got[eid] == (best if best else (None, None)), (eid, tol)


def test_asof_join_hot_key_matches_bruteforce(spark):
    """A degenerate key carrying most of the data, sparse right rows with
    long gaps between them, and tolerance voiding."""
    rng = random.Random(7)
    # one hot key with 5000 left rows over a wide ts range + 2 normal keys
    L = [(i, "hot", rng.randrange(0, 100_000)) for i in range(5000)]
    L += [(10_000 + i, rng.choice(["a", "b"]), rng.randrange(0, 100_000)) for i in range(200)]
    R = list({(k, t): v for k, t, v in
              [(rng.choice(["hot", "a", "b"]), rng.randrange(0, 100_000), float(i))
               for i in range(300)]}.items())
    R = [(k, t, v) for (k, t), v in R]
    ldf = spark.createDataFrame(L, "eid long, key string, ts long")
    rdf = spark.createDataFrame(R, "key string, ts long, v double")
    for tol in (None, 1000):
        got = {
            r["eid"]: (r["ts_matched"], r["v_matched"])
            for r in temporal.asof_join(
                ldf, rdf, tolerance=None if tol is None else F.lit(tol)
            ).collect()
        }
        want = _brute_asof(L, R, tol)
        assert got == {e: b if b else (None, None) for e, b in want.items()}, tol


def test_asof_join_timestamp_on(spark):
    """A TIMESTAMP `on` column, with and without an interval tolerance."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    L = [(i, "k", t0 + dt.timedelta(minutes=i * 7)) for i in range(50)]
    R = [("k", t0 + dt.timedelta(minutes=j * 31), float(j)) for j in range(8)]
    ldf = spark.createDataFrame(L, "eid long, key string, ts timestamp")
    rdf = spark.createDataFrame(R, "key string, ts timestamp, v double")
    for tol in (None, dt.timedelta(minutes=20)):
        got = {
            r["eid"]: r["v_matched"]
            for r in temporal.asof_join(
                ldf, rdf,
                tolerance=None if tol is None else F.expr("INTERVAL 20 MINUTES"),
            ).collect()
        }
        want = _brute_asof(L, R, tol)
        assert got == {e: b[1] if b else None for e, b in want.items()}, tol


def test_asof_join_dst_and_map_payload(spark):
    """A match across a DST fall-back (wall clock goes backwards between
    the right and the left instant), with a map-typed right payload."""
    import datetime as dt

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 2024-11-03 05:50Z = 01:50 EDT; 06:10Z = 01:10 EST (wall clock
        # goes BACKWARDS across these instants)
        ldf = spark.createDataFrame(
            [(1, "k", dt.datetime(2024, 11, 3, 6, 10, tzinfo=dt.timezone.utc))],
            "eid long, key string, ts timestamp",
        )
        rdf = spark.createDataFrame(
            [
                (
                    "k",
                    dt.datetime(2024, 11, 3, 5, 50, tzinfo=dt.timezone.utc),
                    {"v": "match"},
                )
            ],
            "key string, ts timestamp, attrs map<string,string>",
        )
        got = temporal.asof_join(ldf, rdf).collect()
        assert got[0]["attrs_matched"] == {"v": "match"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_asof_join_null_key_or_on_matches_nothing(spark):
    """SQL ASOF LEFT JOIN semantics: a NULL key never equals another NULL
    key, and a right row with a NULL `on` precedes no left row. Both left
    rows survive with NULL payload."""
    ldf = spark.createDataFrame(
        [(1, None, 10), (4, "b", 10)], "eid long, key string, ts long"
    )
    rdf = spark.createDataFrame(
        [(None, 5, 100.0), ("b", None, 300.0)], "key string, ts long, v double"
    )
    got = {
        r["eid"]: (r["ts_matched"], r["v_matched"])
        for r in temporal.asof_join(ldf, rdf).collect()
    }
    assert got == {1: (None, None), 4: (None, None)}


def test_asof_join_inclusive_and_outer(spark):
    ldf = spark.createDataFrame([(1, "a", 100), (2, "b", 10)], "eid long, key string, ts long")
    rdf = spark.createDataFrame([("a", 100, 9.0)], "key string, ts long, v double")
    rows = {r["eid"]: r for r in temporal.asof_join(ldf, rdf, on="ts", by="key").collect()}
    assert rows[1]["ts_matched"] == 100 and rows[1]["v_matched"] == 9.0  # ties match
    assert rows[2]["ts_matched"] is None  # left-outer: key with no right rows survives


def test_sessionize_gap_boundary(spark):
    # events exactly `gap` apart DO merge (session_window's merge condition
    # is closed: ts <= last + gap); one microsecond past the gap splits
    rows = [
        ("u", "2024-01-01 00:00:00"),
        ("u", "2024-01-01 00:29:59"),  # merges (< 30 min after previous)
        ("u", "2024-01-01 00:59:59"),  # merges (extends)
        ("u", "2024-01-01 01:29:59"),  # merges
        ("u", "2024-01-01 01:59:59"),  # merges
        ("u", "2024-01-01 02:29:59"),  # merges — one long chained session
        ("u", "2024-01-01 03:00:00"),  # 30:01 after previous -> NEW session
        ("v", "2024-01-01 00:00:00"),
        ("v", "2024-01-01 00:30:00"),  # exactly the gap -> merges
        ("v", "2024-01-01 01:00:00.000001"),  # 1 µs past the gap -> NEW
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = temporal.sessionize(df, gap="30 minutes").orderBy("user_id", "session_start")
    got = [(r["user_id"], r["n_events"]) for r in out.collect()]
    assert got == [("u", 6), ("u", 1), ("v", 2), ("v", 1)]


def test_sessionize_matches_lag_reconstruction(spark):
    """session_window output == the lag/cumsum reconstruction (the same
    formulation the DuckDB oracle uses), on random data."""
    from pyspark.sql.window import Window

    rng = random.Random(3)
    rows = [
        (f"u{rng.randrange(5)}", 1_700_000_000 + rng.randrange(0, 200_000))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "user_id string, epoch long").withColumn(
        "ts", F.timestamp_seconds("epoch").cast("timestamp_ntz")
    ).drop("epoch")
    sw = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in temporal.sessionize(df, gap="17 minutes").collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = df.withColumn(
        "new_s",
        F.when(
            F.col("ts") - F.lag("ts").over(w) <= F.expr("INTERVAL 17 MINUTES"), 0
        ).otherwise(1),
    ).withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    rec = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in lagged.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert sw == rec


def test_sessionize_streaming_matches_batch(spark, tmp_path, run_stream_to_memory):
    """sessionize is the same plan batch and streaming: a watermarked
    readStream through session_window (complete mode) must produce exactly
    the batch rows — the operator the north-star needs for live session
    stats over an unbounded event stream."""
    rows = [
        (f"u{i % 4}", 1_700_000_000 + (i * 137) % 20_000) for i in range(200)
    ]
    # plain TIMESTAMP, not NTZ: withWatermark requires an event-time
    # column with timezone semantics
    df = spark.createDataFrame(rows, "user_id string, epoch long").withColumn(
        "ts", F.timestamp_seconds("epoch")
    ).drop("epoch")
    path = str(tmp_path / "sess")
    df.write.parquet(path)

    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in temporal.sessionize(df, gap="7 minutes").collect()
    }
    stream = spark.readStream.schema("user_id string, ts timestamp").parquet(path)
    sessions = temporal.sessionize(
        stream.withWatermark("ts", "1 hour"), gap="7 minutes"
    )
    q = run_stream_to_memory(sessions, "sess_stream_eq")
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("select * from sess_stream_eq").collect()
    }
    q.stop()
    assert got == batch
