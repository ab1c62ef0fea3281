"""Streaming: exactly-once Delta sink (SetTransaction idempotency) and
watermarked windowed aggregation over a real stream."""

import os
import time

import pytest
from pyspark.sql import functions as F

from delta_go_spark.log import DeltaLog
from delta_go_spark.session import load_table
from delta_go_spark.streaming.committer import DeltaStreamCommitter
from delta_go_spark.streaming.windows import session_windows, tumbling_counts


def test_commit_batch_exactly_once(spark, tmp_path):
    path = str(tmp_path / "stream_tbl")
    c = DeltaStreamCommitter(path, app_id="q-1")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    assert c.commit_batch(df, 0) == 0
    assert c.commit_batch(df, 1) == 1
    # replay of batch 1 (failure recovery) is a no-op
    assert c.commit_batch(df, 1) is None
    assert c.commit_batch(df, 0) is None
    snap = DeltaLog.for_table(path).snapshot()
    assert snap.version == 1
    assert snap.state().set_transactions["q-1"].version == 1
    assert snap.to_df(spark).count() == 20


def test_foreachbatch_stream_into_delta(spark, tmp_path):
    """Drive a real readStream -> foreachBatch -> Delta pipeline."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    spark.range(0, 50).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    table = str(tmp_path / "sink_tbl")

    stream = spark.readStream.schema("k long").parquet(src_dir)
    committer = DeltaStreamCommitter(table, app_id="stream-q")
    q = stream.writeStream.foreachBatch(committer).trigger(availableNow=True).start()
    q.awaitTermination(120)
    snap = DeltaLog.for_table(table).snapshot()
    assert snap.to_df(spark).count() == 50
    assert "stream-q" in snap.state().set_transactions


def test_tumbling_counts_batch_matches_manual(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = tumbling_counts(ev, "1 hour")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()
    }
    manual = {
        (r["h"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == manual


def test_streaming_windowed_agg(spark, tmp_path):
    """Watermarked windowed agg over a real stream, availableNow."""
    src_dir = str(tmp_path / "ev_src")
    os.makedirs(src_dir)
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    ev.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    out = tumbling_counts(stream, "1 hour")
    sink = str(tmp_path / "agg_out")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", sink + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has passed; with
    # availableNow the final watermark closes all but the tail windows.
    result = spark.read.parquet(sink)
    assert result.count() > 0
    assert set(result.columns) == {
        "window_start", "window_end", "event_type", "n_events", "sum_value",
    }


def test_session_windows_batch(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = session_windows(ev, gap="30 minutes")
    rows = out.limit(10).collect()
    assert rows
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): per-user totals must be
    CUMULATIVE across batches — batch 2's emission includes batch 1's
    state — and the final emission per user equals the batch-mode
    aggregate over all data."""
    import time as _time

    from pyspark.sql import functions as F

    from delta_go_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    )
    b2 = spark.createDataFrame(
        [(1, 2.5), (3, 7.0)], "user_id long, value double"
    )
    b1.coalesce(1).write.parquet(src)
    # second file lands later so the source sees two files
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_user_totals(stream)
    sink = f"stateful_totals_{int(_time.time()*1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(sink).collect()
    # last emission per user = cumulative totals over both batches
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["sum_value"])
    assert final[1] == (3, 17.5)  # 2 events batch A + 1 batch B, cumulative
    assert final[2] == (1, 1.0)
    assert final[3] == (1, 7.0)
    # user 1 must have emitted twice (once per batch) with growing counts
    u1 = sorted(r["n_events"] for r in rows if r["user_id"] == 1)
    assert len(u1) >= 2 and u1[0] < u1[-1]


def test_upsert_stream_committer_cdc_apply(spark, tmp_path):
    """End-to-end CDC apply: stream table A's Change Data Feed into mirror
    table B via foreachBatch MERGE — latest change per key wins across a
    multi-commit batch, deletes propagate, upserts land exactly once, and
    a replayed batch id is a no-op."""
    from delta_go_spark.datasource import register
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from delta_go_spark.streaming.committer import DeltaUpsertStreamCommitter
    from delta_go_spark.table import DeltaTable
    from pyspark.sql.types import LongType

    register(spark)
    src_path = str(tmp_path / "cdc_src")
    dst_path = str(tmp_path / "cdc_dst")
    DeltaTable.create(
        spark,
        src_path,
        spark.createDataFrame([(1, 10), (2, 20), (4, 40)], "k long, v long"),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    DeltaTable.create(
        spark,
        dst_path,
        spark.createDataFrame([(2, -1), (99, 99)], "k long, v long"),
    )
    src = DeltaTable.for_path(spark, src_path)
    # changes: update k=2 twice (latest must win), add k=3, delete k=4
    src.update(EqualTo(Column("k", LongType()), Literal(2)), {"v": F.lit(21).cast("long")})
    src.update(EqualTo(Column("k", LongType()), Literal(2)), {"v": F.lit(22).cast("long")})
    src.append(spark.createDataFrame([(3, 30)], "k long, v long"))
    src.delete(EqualTo(Column("k", LongType()), Literal(4)))

    committer = DeltaUpsertStreamCommitter(dst_path, app_id="cdcapply", on="k")
    chk = str(tmp_path / "chk_cdc")
    q = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .load(src_path)
        .writeStream.foreachBatch(committer)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    dst = DeltaTable.for_path(spark, dst_path)
    # the mixed delete+upsert batch lands as ONE atomic commit (create=v0,
    # merge=v1): no window where readers see deletes without the upserts
    assert dst.log.update().version == 1
    got = {r["k"]: r["v"] for r in dst.to_df().collect()}
    assert got[1] == 10          # initial insert applied
    assert got[2] == 22          # LATEST of the two updates wins
    assert got[3] == 30          # later append applied
    assert 4 not in got          # delete propagated
    assert got[99] == 99         # non-conflicting mirror row kept

    # manual replay of an already-committed batch id: no-op, no double apply
    v_before = dst.log.update().version
    replay = spark.createDataFrame([(1, 999)], "k long, v long")
    assert committer.commit_batch(replay, 0) is None
    assert dst.log.update().version == v_before
    assert {r["k"]: r["v"] for r in dst.to_df().collect()}[1] == 10


def test_stream_stream_interval_join_across_batches(spark, tmp_path):
    """The interval join must match the batch join even when the two sides
    arrive over SEVERAL micro-batches (maxFilesPerTrigger=1): rows whose
    partner is in a later batch are held in the state store and emitted
    when the partner arrives — exactly once, no loss, no duplication."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    signups = [(u, t0 + dt.timedelta(minutes=10 * u)) for u in range(6)]
    purchases = [
        # u0: inside window (same batch), u1: inside window (later batch),
        # u2: outside the 2h window, u3: before signup, u4/u5: no purchase
        (0, t0 + dt.timedelta(minutes=30), 10.0),
        (1, t0 + dt.timedelta(minutes=70), 20.0),
        (2, t0 + dt.timedelta(hours=5), 30.0),
        (3, t0 - dt.timedelta(minutes=5), 40.0),
    ]
    src = tmp_path / "events_src"
    src.mkdir()
    schema = "user_id long, event_type string, ets timestamp, value double"
    # three files -> three micro-batches, partners split across them
    spark.createDataFrame(
        [(u, "signup", ts, 0.0) for u, ts in signups[:3]]
        + [(0, "purchase", purchases[0][1], purchases[0][2])], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(u, "signup", ts, 0.0) for u, ts in signups[3:]]
        + [(3, "purchase", purchases[3][1], purchases[3][2])], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(u, "purchase", ts, v) for u, ts, v in purchases[1:3]], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    read_schema = spark.read.parquet(str(src / "f0")).schema

    def side(kind, cols):
        return (
            spark.readStream.schema(read_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .filter(F.col("event_type") == kind)
            .select(*cols)
        )

    s = side("signup", [F.col("user_id").alias("s_user"),
                        F.col("ets").alias("s_ts")]).withWatermark("s_ts", "1 hour")
    p = side("purchase", [F.col("user_id").alias("p_user"),
                          F.col("ets").alias("p_ts"),
                          F.col("value")]).withWatermark("p_ts", "1 hour")
    joined = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3, "must have run several micro-batches"
    got = {(r["s_user"], r["value"]) for r in spark.table("ssj_sink").collect()}
    assert got == {(0, 10.0), (1, 20.0)}


def test_incremental_agg_committer_tracks_source(spark, tmp_path):
    """Stream a table's CDF into a per-key (n, total) aggregate: after
    inserts, updates and deletes across several commits, the maintained
    aggregate equals a fresh groupBy of the source's final state; a
    replayed batch id is a no-op."""
    from delta_go_spark.datasource import register
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from delta_go_spark.streaming.committer import DeltaIncrementalAggCommitter
    from delta_go_spark.table import DeltaTable
    from pyspark.sql.types import LongType

    register(spark)
    src_path = str(tmp_path / "iagg_src")
    agg_path = str(tmp_path / "iagg_dst")
    src = DeltaTable.create(
        spark,
        src_path,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
            "k long, g string, v double",
        ),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # commits: update moves k=3 value; insert adds to g=b; delete removes k=2
    src.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(31.0)})
    src.append(spark.createDataFrame([(4, "b", 5.0)], "k long, g string, v double"))
    src.delete(EqualTo(Column("k", LongType()), Literal(2)))

    committer = DeltaIncrementalAggCommitter(agg_path, app_id="iagg", key="g", value_col="v")
    chk = str(tmp_path / "iagg_chk")
    q = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .load(src_path)
        .writeStream.foreachBatch(committer)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    agg = DeltaTable.for_path(spark, agg_path)
    got = {r["g"]: (r["n"], r["total"]) for r in agg.to_df().collect()}
    want = {
        r["g"]: (r["n"], r["total"])
        for r in src.to_df()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert {k: v for k, v in got.items() if v[0] != 0} == want

    # replay: feeding the last batch again must be a no-op
    last_version = agg.version()
    cdf_again = (
        spark.read.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .load(src_path)
    )
    assert committer.commit_batch(cdf_again, 0) is None
    assert agg.version() == last_version


def test_incremental_agg_null_values_and_null_keys(spark, tmp_path):
    """All-NULL value contributions must not poison the running total
    (sum over only-NULLs is NULL; total + NULL = NULL forever), and NULL
    group keys must be refused loudly (merge's equi-join would insert a
    duplicate row per batch instead of accumulating)."""
    import pytest

    from delta_go_spark.streaming.committer import DeltaIncrementalAggCommitter
    from delta_go_spark.table import DeltaTable
    from delta_go_spark.writer import CHANGE_TYPE_COL

    agg_path = str(tmp_path / "nagg")
    committer = DeltaIncrementalAggCommitter(
        agg_path, app_id="nagg", key="g", value_col="v"
    )
    b0 = spark.createDataFrame(
        [("a", 10.0, "insert"), ("b", 1.0, "insert")],
        f"g string, v double, {CHANGE_TYPE_COL} string",
    )
    committer.commit_batch(b0, 0)
    # batch 1: 'a' contributes only a NULL value
    b1 = spark.createDataFrame(
        [("a", None, "insert")], f"g string, v double, {CHANGE_TYPE_COL} string"
    )
    committer.commit_batch(b1, 1)
    got = {
        r["g"]: (r["n"], r["total"])
        for r in DeltaTable.for_path(spark, agg_path).to_df().collect()
    }
    assert got["a"] == (2, 10.0)   # NULL contribution counts, adds 0
    assert got["b"] == (1, 1.0)

    bad = spark.createDataFrame(
        [(None, 5.0, "insert")], f"g string, v double, {CHANGE_TYPE_COL} string"
    )
    with pytest.raises(ValueError, match="NULL values in aggregate key"):
        committer.commit_batch(bad, 2)


def test_streaming_static_enrich_matches_batch(spark):
    """Stream-static broadcast enrichment: the streaming result must equal
    the identical batch plan (same join, same agg) — the static side is
    re-joined per micro-batch, never staged in the state store."""
    from pyspark.sql import functions as F

    from delta_go_spark.session import load_table
    from delta_go_spark.streaming.windows import streaming_static_enrich_events

    sf_dir = "/root/testdata/sf0.001"
    from delta_go_spark.streaming.windows import _cents

    got = {
        (r["tier"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in streaming_static_enrich_events(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold"), (3, "platinum")],
        "tier_id int, tier string",
    )
    batch = (
        ev.withColumn("tier_id", (F.col("user_id") % 4).cast("int"))
        .join(F.broadcast(tiers), "tier_id")
        .groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _cents(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
                "value_cents"
            ),
        )
    )
    want = {
        (r["tier"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in batch.collect()
    }
    assert got == want and len(got) >= 4


def test_stream_stream_leftouter_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER interval join: signups with no purchase in-window must
    emit exactly once with NULLs — but only after the global watermark
    (the MIN across both inputs) proves no partner can still arrive; a
    late sentinel batch on BOTH sides advances it past every real
    signup's window."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    far = t0 + dt.timedelta(days=2)  # sentinel advancing both watermarks
    src = tmp_path / "lo_src"
    src.mkdir()
    schema = "user_id long, event_type string, ets timestamp, value double"
    spark.createDataFrame(
        [
            (0, "signup", t0, 0.0),
            (1, "signup", t0 + dt.timedelta(minutes=10), 0.0),
            (0, "purchase", t0 + dt.timedelta(minutes=30), 10.0),
            # u1 never purchases in-window
            (1, "purchase", t0 + dt.timedelta(hours=5), 99.0),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(999, "signup", far, 0.0), (999, "purchase", far, 0.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))

    read_schema = spark.read.parquet(str(src / "f0")).schema

    def side(kind, cols):
        return (
            spark.readStream.schema(read_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .filter(F.col("event_type") == kind)
            .select(*cols)
        )

    s = side("signup", [F.col("user_id").alias("s_user"),
                        F.col("ets").alias("s_ts")]).withWatermark("s_ts", "1 hour")
    p = side("purchase", [F.col("user_id").alias("p_user"),
                          F.col("ets").alias("p_ts"),
                          F.col("value")]).withWatermark("p_ts", "1 hour")
    joined = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    )
    q = (
        joined.select("s_user", "s_ts", "value")
        .writeStream.format("memory")
        .queryName("lo_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (r["s_user"], r["value"])
        for r in spark.table("lo_sink").collect()
        if r["s_user"] != 999
    ]
    # u0 matched once; u1 emitted exactly once as unconverted (its only
    # purchase is outside the window); no duplicates
    assert sorted(rows, key=lambda x: x[0]) == [(0, 10.0), (1, None)]


@pytest.mark.parametrize("bad", ["0", "abc"])
def test_stream_state_partitions_env_rejected_at_setup(
    spark, tmp_path, monkeypatch, bad
):
    """A SPARK_GRAFT_STREAM_STATE_PARTITIONS value that is not a positive
    integer fails loudly when the isolated stream session is built — a
    plain ValueError before any input is read or stream started, not an
    error inside the first micro-batch."""
    from delta_go_spark.queries import queries

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
    for name in ("streaming_static_enrich_events", "streaming_delta_aggsink_events"):
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
            queries()[name](spark, str(tmp_path))
    assert spark.streams.active == []
