"""Structured Streaming ≡ batch equivalence on bounded input (C12,
FIXTURES.md §5): run the real readStream pipelines to exhaustion and compare
against the batch query surface the driver oracle checks.

Equivalence runs use an effectively-infinite watermark (replay file order is
arbitrary, and a tight watermark would correctly drop out-of-order events —
late-data semantics get their own controlled-order test below)."""

import time

import pytest
from pyspark.sql import functions as F

from spark_shp import streaming
from spark_shp.queries_text import (q_session_windows, q_sliding_window,
                                    q_tumbling_window)

SF = "/root/testdata/sf0.001"
WM = "3650 days"  # no-drop watermark for bounded equivalence


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_replay")
    return streaming.replay_events_dir(spark, SF, str(d), n_splits=6)


def test_tumbling_stream_equals_batch(spark, replay_dir):
    from datetime import timezone
    got = streaming.run_to_completion(streaming.tumbling_counts(
        streaming.events_stream(spark, replay_dir), watermark=WM))
    # batch emits epoch seconds (oracle-gate type normalization); the live
    # stream's window struct stays a timestamp — convert like sliding
    want = {(r.window_start_s, r.event_type): r.n
            for r in q_tumbling_window(spark, SF).collect()}
    gmap = {(int(r.window_start.replace(tzinfo=timezone.utc).timestamp()),
             r.event_type): r.n for r in got}
    assert gmap == want


def test_sliding_stream_equals_batch(spark, replay_dir):
    from datetime import timezone
    got = streaming.run_to_completion(streaming.sliding_counts(
        streaming.events_stream(spark, replay_dir), watermark=WM))
    want = {r.window_start_s: r.n
            for r in q_sliding_window(spark, SF).collect()}
    gmap = {}
    for r in got:
        s = int(r.window_start.replace(tzinfo=timezone.utc).timestamp())
        gmap[s] = gmap.get(s, 0) + r.n
    assert gmap == want


def test_session_stream_equals_batch(spark, replay_dir):
    got = streaming.run_to_completion(streaming.session_counts(
        streaming.events_stream(spark, replay_dir), watermark=WM))
    want = {(r.user_id, r.session_start): r.n_events
            for r in q_session_windows(spark, SF).collect()}
    gmap = {(r.user_id, r.session_start): r.n_events for r in got}
    assert gmap == want


def test_stream_dedup_keys(spark, replay_dir):
    got = streaming.run_to_completion(
        streaming.stream_dedup(
            streaming.events_stream(spark, replay_dir), watermark=WM),
        out_mode="append")
    keys = [(r.user_id, r.event_type) for r in got]
    assert len(keys) == len(set(keys))
    batch_keys = {(r.user_id, r.event_type) for r in
                  spark.read.parquet(f"{SF}/events.parquet")
                  .select("user_id", "event_type").distinct().collect()}
    assert set(keys) == batch_keys


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Controlled file order: batch 1 advances the watermark far past window
    W; batch 2 replays an event inside W. Update mode must NOT emit a new
    update for W (late row dropped) but must process the fresh row."""
    import pandas as pd
    d = tmp_path / "late"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    fresh = pd.Timestamp("2024-01-02 00:00:00")
    pdf1 = pd.DataFrame({"ts": [t0, fresh], "k": ["a", "b"]})
    spark.createDataFrame(pdf1).coalesce(1).write.parquet(str(d / "f1"))

    schema = spark.read.parquet(str(d / "f1")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*")
              .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("win"))
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("win.start").cast("timestamp_ntz").alias("ws"), "n"))
    q = (agg.writeStream.format("memory").queryName("late_sink")
         .outputMode("update").start())
    q.processAllAvailable()
    n_updates_before = spark.sql(
        "SELECT count(*) FROM late_sink WHERE ws = '2024-01-01 00:00:00'"
    ).first()[0]
    # batch 2: one LATE event in window W (watermark is now ~fresh - 10min)
    pdf2 = pd.DataFrame({"ts": [t0 + pd.Timedelta(minutes=1),
                                fresh + pd.Timedelta(hours=1)],
                         "k": ["late", "c"]})
    spark.createDataFrame(pdf2).coalesce(1).write.parquet(str(d / "f2"))
    time.sleep(0.2)
    q.processAllAvailable()
    n_updates_after = spark.sql(
        "SELECT count(*) FROM late_sink WHERE ws = '2024-01-01 00:00:00'"
    ).first()[0]
    fresh_rows = spark.sql(
        "SELECT count(*) FROM late_sink WHERE ws = '2024-01-02 01:00:00'"
    ).first()[0]
    q.stop()
    assert n_updates_before == 1
    assert n_updates_after == n_updates_before, "late row must be dropped"
    assert fresh_rows == 1, "fresh row in batch 2 must be processed"


def test_stateful_user_totals_stream_equals_batch(spark, replay_dir):
    """Custom applyInPandasWithState operator: after exhausting the bounded
    stream, each user's LAST emitted running total equals the batch
    groupBy — state survives micro-batch boundaries and the integer-micros
    sum is replay-order-independent."""
    got = streaming.run_to_completion(
        streaming.stateful_user_totals(
            streaming.events_stream(spark, replay_dir), watermark=WM),
        out_mode="update")
    # update-mode memory sink appends every emission; the final state per
    # user is the row with the max n_events
    final = {}
    for r in got:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.sum_value_micros)
    want = {
        r.user_id: (r.n, r.s)
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.expr(
                 "CAST(ROUND(value * 1000000.0) AS BIGINT)")).alias("s"))
        .collect()}
    assert final == want


def test_streaming_tile_density_equals_batch(spark, replay_dir):
    """Tile-assign on a stream + windowed density == the same rollup run
    as one batch query (the continuous spatial aggregate contract)."""
    from spark_shp import spatial

    from spark_shp import fixtures

    def spatialize(df):
        return df.selectExpr("*", f"{fixtures.EVENT_LON_SQL} AS lon",
                             f"{fixtures.EVENT_LAT_SQL} AS lat")

    got = sorted(
        (r.window_start, r.tile, r.n)
        for r in streaming.run_to_completion(
            streaming.streaming_tile_density(
                spatialize(streaming.events_stream(spark, replay_dir)),
                watermark=WM)))
    ev = spatialize(spark.read.parquet(replay_dir)
                    .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    batch = (spatial.tile_assign(ev, "lon", "lat", 8, "tile")
             .groupBy(F.window("ts", "1 hour").alias("win"), "tile")
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("win.start").cast("timestamp_ntz")
                     .alias("window_start"), "tile", "n"))
    want = sorted((r.window_start, r.tile, r.n) for r in batch.collect())
    assert got == want and len(got) > 0


def test_attribution_stream_stream_join_equals_batch(spark, replay_dir):
    """Stream-stream interval join: the same replay split into a view
    stream and a click stream must emit exactly the batch twin's pairs."""
    from spark_shp.queries_text import q_attribution_pairs
    st = streaming.events_stream(spark, replay_dir)
    got = streaming.run_to_completion(
        streaming.attribution_pairs(
            st.where(F.col("event_type") == "view"),
            st.where(F.col("event_type") == "click"),
            watermark=WM),
        out_mode="append")
    want = q_attribution_pairs(spark, SF).collect()
    key = lambda r: (r["user_id"], r["view_id"], r["click_id"],
                     r["delay_us"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0


def test_attribution_join_drops_late_clicks(spark, tmp_path):
    """Stream-stream join state eviction: after the watermark passes
    view_ts + horizon, the buffered view is gone, so a late-arriving
    in-horizon click must produce NO pair — the bounded-state contract."""
    import pandas as pd
    d = tmp_path / "attr"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    far = pd.Timestamp("2024-01-03 00:00:00")
    pdf1 = pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts": [t0, t0 + pd.Timedelta(minutes=1), far],
        "event_id": [10, 11, 99],
        "event_type": ["view", "click", "view"]})
    spark.createDataFrame(pdf1).coalesce(1).write.parquet(str(d / "f1"))

    schema = spark.read.parquet(str(d / "f1")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*")
              .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    pairs = streaming.attribution_pairs(
        stream.where(F.col("event_type") == "view"),
        stream.where(F.col("event_type") == "click"),
        horizon="2 hours", watermark="10 minutes")
    q = (pairs.writeStream.format("memory").queryName("attr_sink")
         .outputMode("append").start())
    q.processAllAvailable()
    got1 = spark.sql("SELECT view_id, click_id FROM attr_sink").collect()
    assert {(r["view_id"], r["click_id"]) for r in got1} == {(10, 11)}

    # batch 2: a far-future CLICK. The global watermark is the MIN across
    # both sides' watermark nodes, so an idle click stream PINS it (batch 1
    # only advanced the view side) — the advancing row must be a click.
    # Spark then evicts join state at END of this batch (a late row in the
    # SAME batch as the cleanup could still match; the contract is bounded
    # state + no missed in-bound matches, not eager drops).
    pdf2 = pd.DataFrame({
        "user_id": [3], "ts": [far + pd.Timedelta(hours=1)],
        "event_id": [98], "event_type": ["click"]})
    spark.createDataFrame(pdf2).coalesce(1).write.parquet(str(d / "f2"))
    time.sleep(0.2)
    q.processAllAvailable()

    # batch 3: a click 2 min after the t0 view — IN horizon by event time,
    # but the view's state was evicted in batch 2 -> no pair
    pdf3 = pd.DataFrame({
        "user_id": [1], "ts": [t0 + pd.Timedelta(minutes=2)],
        "event_id": [12], "event_type": ["click"]})
    spark.createDataFrame(pdf3).coalesce(1).write.parquet(str(d / "f3"))
    time.sleep(0.2)
    q.processAllAvailable()
    got2 = spark.sql("SELECT view_id, click_id FROM attr_sink").collect()
    q.stop()
    assert {(r["view_id"], r["click_id"]) for r in got2} == {(10, 11)}, \
        "late click must not see evicted view state"


def test_stream_to_iceberg_table_exactly_once(spark, replay_dir, tmp_path):
    """Streaming ingest -> Iceberg-layout table: (a) the final table equals
    the batch input exactly; (b) one append snapshot per non-empty
    micro-batch, each carrying its batch id in the manifest; (c) a REPLAYED
    micro-batch (the foreachBatch at-least-once failure mode) is a no-op;
    (d) time travel to the first snapshot sees only that batch's rows."""
    from spark_shp import iceberg_layout as il

    root = str(tmp_path / "events_tbl")
    ckpt = str(tmp_path / "ckpt")
    stream = streaming.events_stream(spark, replay_dir, files_per_trigger=2)
    q = streaming.stream_to_table(stream, root, ckpt).start()
    q.processAllAvailable()
    q.stop()

    batch = spark.read.parquet(replay_dir)
    got = il.read_table(spark, root)
    assert got.count() == batch.count()
    # exact multiset equality on the key column
    assert (got.groupBy("event_id").count().where("count > 1").count() == 0)
    assert (got.select("event_id").exceptAll(
        batch.select("event_id")).count() == 0)

    committed = il.committed_stream_batches(root)
    versions = il._retained_versions(root)
    assert len(committed) == len(versions) >= 2

    # (c) replay a batch id that is already committed -> skipped, no growth
    before = il.table_stats(root)["total_rows"]
    out = il.append_stream_batch(batch.limit(5), root,
                                 batch_id=sorted(committed)[0])
    assert out is None
    assert il.table_stats(root)["total_rows"] == before
    # a NEW batch id really appends
    out = il.append_stream_batch(batch.limit(5), root, batch_id=10 ** 6)
    assert out is not None
    assert il.table_stats(root)["total_rows"] == before + 5

    # (d) time travel: the first snapshot holds strictly fewer rows
    first = il.read_table(spark, root, snapshot_id=versions[0])
    assert 0 < first.count() < before


def test_append_parent_resolution_survives_stale_hint(spark, tmp_path):
    """Crash window: manifest N committed but version-hint still at N-1.
    The next append must carry snapshot N's files (parent = newest retained
    manifest), not resolve the parent through the stale hint."""
    import os
    from spark_shp import iceberg_layout as il

    root = str(tmp_path / "tbl")
    df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    il.write_table(df, root)                       # snap 1
    il.write_table(df, root, mode="append")        # snap 2 (20 rows)
    # simulate the crash: rewind the hint to 1
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    il.write_table(df, root, mode="append")        # snap 3 must carry snap 2
    assert il.table_stats(root, 3)["total_rows"] == 30


def test_stream_static_enrich_equals_batch(spark, replay_dir):
    """The stream-static broadcast join (no join state) run to exhaustion
    must match the gated batch twin bit-for-bit on exact cent sums."""
    from datetime import timezone

    from spark_shp.queries_insights import q_stream_static_enrich

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    got = streaming.run_to_completion(streaming.static_enrich_counts(
        streaming.events_stream(spark, replay_dir), nation, watermark=WM))
    want = {(r.window_start_s, r.n_name): (r.n, r.sum_cents)
            for r in q_stream_static_enrich(spark, SF).collect()}
    gmap = {(int(r.window_start.replace(tzinfo=timezone.utc).timestamp()),
             r.n_name): (r.n, r.sum_cents) for r in got}
    assert gmap == want


def test_geofence_alerts_stream_equals_batch(spark, replay_dir):
    """Stream-static spatial join (tile cover broadcast + inline PIP on the
    micro-batch) + watermarked per-fence windows == the same join and
    rollup as one batch query."""
    from spark_shp import fixtures, spatial

    polys = fixtures.fences_df(spark, 16).drop("layer", "name")

    def spatialize(df):
        return df.selectExpr("*", f"{fixtures.EVENT_LON_SQL} AS lon",
                             f"{fixtures.EVENT_LAT_SQL} AS lat")

    got = sorted(
        (r.window_start, r.poly_id, r.n_events)
        for r in streaming.run_to_completion(
            streaming.geofence_alerts(
                spatialize(streaming.events_stream(spark, replay_dir)),
                polys, watermark=WM)))
    ev = spatialize(spark.read.parquet(replay_dir)
                    .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    j = spatial.spatial_join(ev, polys, "lon", "lat", level=6,
                             broadcast_cover=True)
    batch = (j.groupBy(F.window("ts", "1 hour").alias("win"), "poly_id")
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select(F.col("win.start").cast("timestamp_ntz")
                     .alias("window_start"), "poly_id", "n_events"))
    want = sorted((r.window_start, r.poly_id, r.n_events)
                  for r in batch.collect())
    assert got == want and len(got) > 0


def test_geofence_alerts_wide_fences(spark, replay_dir):
    """Fences above MAX_INLINE_EDGES on a stream. A 101-edge circle, whose
    cells each need one row of crossable edges, keeps the stateless parity
    filter and equals the batch join. A 1000-edge circle has cells that
    need the chunked refine, whose row id and per-event aggregation a
    stream cannot run: building the alert stream raises a clear error
    instead of returning a stream that fails when it starts."""
    from test_spatial import _circle_layer

    from spark_shp import fixtures, spatial

    def spatialize(df):
        return df.selectExpr("*", f"{fixtures.EVENT_LON_SQL} AS lon",
                             f"{fixtures.EVENT_LAT_SQL} AS lat")

    circle = _circle_layer(spark, n_edges=101)
    got = sorted(
        (r.window_start, r.poly_id, r.n_events)
        for r in streaming.run_to_completion(streaming.geofence_alerts(
            spatialize(streaming.events_stream(spark, replay_dir)), circle,
            watermark=WM)))
    ev = spatialize(spark.read.parquet(replay_dir)
                    .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    batch = (spatial.spatial_join(ev, circle, "lon", "lat", level=6,
                                  broadcast_cover=False)
             .groupBy(F.window("ts", "1 hour").alias("win"), "poly_id")
             .agg(F.count(F.lit(1)).alias("n_events")))
    want = sorted((r.win.start.replace(tzinfo=None), r.poly_id, r.n_events)
                  for r in batch.collect())
    assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="fit one row of 64"):
        streaming.geofence_alerts(
            spatialize(streaming.events_stream(spark, replay_dir)),
            _circle_layer(spark, n_edges=1000), watermark=WM)


def _session_features_equivalence(spark, replay_dir, make_stream_df):
    from spark_shp.queries_text import q_user_session_features

    got = streaming.run_to_completion(make_stream_df(), out_mode="update")
    final = {}
    for r in got:
        if (r.user_id not in final
                or r.n_events > final[r.user_id][0]):
            final[r.user_id] = (r.n_events, r.sum_value_micros,
                                r.n_types, r.span_us)
    want = {r.user_id: (r.n_events, r.sum_value_micros, r.n_types,
                        r.span_us)
            for r in q_user_session_features(spark, SF).collect()}
    assert len(final) > 0
    assert final == want


def test_session_features_applyinpandas_equals_batch(spark, replay_dir):
    """Composite session features (VERDICT r3 item 7 semantics) on the
    in-sandbox applyInPandasWithState path: after exhausting the bounded
    stream, each user's LAST emission equals the oracle-gated batch twin
    q_user_session_features — every feature is order-independent, so
    micro-batch replay order can't matter."""
    _session_features_equivalence(
        spark, replay_dir,
        lambda: streaming.session_features_applyinpandas(
            streaming.events_stream(spark, replay_dir), watermark=WM))


def test_transform_with_state_session_features(spark, replay_dir):
    """transformWithStateInPandas (the Spark 4 StatefulProcessor API with
    ValueState + MapState): runs the full equivalence when the
    google.protobuf runtime exists; in this sandbox (no protobuf, pip
    forbidden) the operator must refuse LOUDLY with the cluster remedy
    named — never decode wrong or hang."""
    if not streaming.has_protobuf():
        with pytest.raises(NotImplementedError, match="protobuf"):
            streaming.session_features(
                streaming.events_stream(spark, replay_dir), watermark=WM)
        return
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        _session_features_equivalence(
            spark, replay_dir,
            lambda: streaming.session_features(
                streaming.events_stream(spark, replay_dir), watermark=WM))
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass")


def test_sum_value_micros_half_away_matches_sql_round():
    """ADVICE r4 #3: the streaming micros sum must use ROUND
    half-away-from-zero (the batch twin's Spark-SQL / DuckDB semantics),
    not np.rint's half-to-even."""
    import pandas as pd
    # 2.5 / -2.5 / 3.5 micros-products land exactly on .5
    vals = pd.Series([2.5e-6, -2.5e-6, 3.5e-6, -3.5e-6, 1.2345678])
    got = streaming._sum_value_micros(vals)
    # ROUND-half-away: 3 - 3 + 4 - 4 + 1234568 (1.2345678e6 rounds up)
    assert got == 3 - 3 + 4 - 4 + 1234568
    import duckdb
    ora = duckdb.sql(
        "SELECT SUM(CAST(ROUND(v * 1000000.0) AS BIGINT)) FROM "
        "(VALUES (2.5e-6),(-2.5e-6),(3.5e-6),(-3.5e-6),(1.2345678)) t(v)"
    ).fetchone()[0]
    assert got == ora
