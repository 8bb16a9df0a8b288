"""Structured Streaming surface (SURVEY.md §2.C C12).

Real ``readStream`` pipelines over the events table replayed as a file
stream: watermarked tumbling/sliding/session windows, stream dedup, and a
custom stateful operator (per-user running totals via
``applyInPandasWithState`` — keyed state across micro-batches). Batch-SQL
equivalence of every operator is asserted in tests (bounded input → final
streaming result == batch result), which is the same contract the driver's
oracle checks batch-side via queries_text.q_tumbling_window /
q_sliding_window / q_session_windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _sum_value_micros(values) -> int:
    """Σ round(value·1e6) with ROUND-half-away-from-zero — the SAME
    rounding the batch twin (``CAST(ROUND(value * 1000000.0) AS BIGINT)``
    in Spark SQL) and the DuckDB oracle use. np.rint here (half-to-even)
    would diverge on products landing exactly on .5 and break the
    pytest-asserted stream≡batch equality (ADVICE r4 #3)."""
    import numpy as np
    x = values.to_numpy(np.float64) * 1_000_000.0
    return int(np.copysign(np.floor(np.abs(x) + 0.5), x)
               .astype(np.int64).sum())


def has_protobuf() -> bool:
    """transformWithStateInPandas dependency probe (find_spec raises when
    the parent ``google`` namespace package is entirely absent)."""
    try:
        import importlib.util
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def replay_events_dir(spark: SparkSession, sf_dir: str, out_dir: str,
                      n_splits: int = 8) -> str:
    """Materialize events as N parquet splits for file-stream replay."""
    os.makedirs(out_dir, exist_ok=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(n_splits).write.mode("overwrite").parquet(out_dir)
    return out_dir


def events_stream(spark: SparkSession, replay_dir: str,
                  files_per_trigger: int = 2) -> DataFrame:
    """Parquet timestamps load as TIMESTAMP_NTZ in Spark 4; watermarks need
    TIMESTAMP (LTZ) — cast on ingest (identity under the UTC session tz)."""
    schema = spark.read.parquet(replay_dir).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(replay_dir)
            .withColumn("ts", F.col("ts").cast("timestamp_ltz")))


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("timestamp_ntz")
                    .alias("window_start"), "event_type", "n"))


def sliding_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("timestamp_ntz")
                    .alias("window_start"), "n"))


def session_counts(stream: DataFrame, gap: str = "30 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("win.start").cast("timestamp_ntz")
                    .alias("session_start"), "n_events"))


def streaming_tile_density(stream: DataFrame, level: int = 8,
                           watermark: str = "10 minutes") -> DataFrame:
    """North-star spatial rollup as a CONTINUOUS aggregate: tile-assign
    each event (pure codegen SQL expression — stateless, so it rides the
    stream with no extra shuffle) then watermarked tumbling count per
    (tile, hour). At 100 TB/day event rates this is the hypertable-style
    cell-density materialization; streaming state is keyed by
    (window, tile) and bounded by watermark expiry."""
    from . import spatial

    tiled = spatial.tile_assign(stream, "lon", "lat", level, "tile")
    return (tiled.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "tile")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("timestamp_ntz")
                    .alias("window_start"), "tile", "n"))


def stream_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["user_id", "event_type"]))


def stateful_user_totals(stream: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """C12/C13 custom stateful operator (``applyInPandasWithState``): per
    user, maintain (n_events, sum_value_micros) across micro-batches and
    emit the updated running totals each time the user's state changes.

    Scale shape: state is keyed by user_id, partitioned by the state-store
    shuffle; per batch each key sees one vectorized pandas call. The value
    sum is kept in integer micros so the running total is order- and
    batch-boundary-independent (exactly comparable to a batch groupBy)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_micros", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        import numpy as np
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += _sum_value_micros(pdf["value"])
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value_micros": [s]})

    return (stream.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def session_features(stream: DataFrame,
                     watermark: str = "10 minutes") -> DataFrame:
    """C12 completion (VERDICT r3 item 7): ARBITRARY-state operator via
    ``transformWithStateInPandas`` — the Spark 4 StatefulProcessor API,
    the last listed C12 surface. Per user, composite state lives in two
    independently-typed handles the old applyInPandasWithState single
    tuple can't express: a ValueState with the running
    (n, sum_micros, min_us, max_us) and a MapState keyed by event_type
    counting per-type events (distinct-type cardinality). Every feature
    is order- and batch-boundary-independent, so the final emission per
    user equals the batch groupBy twin exactly (pytest-asserted;
    the batch twin is oracle-gated as ``user_session_features``).

    Scale shape: state is partitioned by the state-store shuffle on
    user_id; per micro-batch each key gets one vectorized pandas pass
    (numpy sums, a small per-type value_counts fold into MapState).
    Requires the RocksDB state-store provider (transformWithState's
    backing store) AND the google.protobuf runtime (the Python state-API
    client ships protobuf-generated messages) — protobuf is NOT in this
    sandbox, so the guard below raises loudly with the cluster remedy
    named; ``session_features_applyinpandas`` computes the identical
    features on the older API and is the in-sandbox stream≡batch path."""
    if not has_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf runtime "
            "(pyspark's StateMessage client); this environment has none — "
            "on a real cluster `pip install protobuf` on driver+executors, "
            "or use session_features_applyinpandas (same semantics)")
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_micros", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("span_us", T.LongType()),
    ])

    class _SessionFeatures(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._tot = handle.getValueState(
                "tot", "n BIGINT, s BIGINT, mn BIGINT, mx BIGINT")
            self._types = handle.getMapState(
                "types", "t STRING", "c BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            tot = self._tot.get()
            n, s, mn, mx = tot if tot is not None else (0, 0, None, None)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                s += _sum_value_micros(pdf["value"])
                us = pdf["us"].to_numpy(np.int64)
                lo, hi = int(us.min()), int(us.max())
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (self._types.getValue((t,))
                            if self._types.containsKey((t,)) else None)
                    base = int(prev[0]) if prev is not None else 0
                    self._types.updateValue((t,), (base + int(c),))
            self._tot.update((n, s, mn, mx))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "sum_value_micros": [s], "n_types": [n_types],
                "span_us": [mx - mn]})

        def close(self):
            pass

    prepped = (stream.withWatermark("ts", watermark)
               .selectExpr("user_id", "value", "event_type",
                           "unix_micros(ts) AS us"))
    return (prepped.groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=_SessionFeatures(),
                outputStructType=out_schema,
                outputMode="Update", timeMode="None"))


def session_features_applyinpandas(stream: DataFrame,
                                   watermark: str = "10 minutes"
                                   ) -> DataFrame:
    """The same per-user composite session features on the in-sandbox
    ``applyInPandasWithState`` API: the ValueState+MapState pair packs
    into one state tuple — (n, sum_micros, min_us, max_us,
    'type:count,...' as a sorted string map). Feature-identical to
    session_features, so the same batch twin (the oracle-gated
    ``user_session_features``) verifies both."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_micros", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("span_us", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("mn", T.LongType()),
        T.StructField("mx", T.LongType()),
        T.StructField("types", T.StringType()),
    ])

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, s, mn, mx, types_s = state.get
            types = dict(kv.split(":") for kv in types_s.split(",")
                         if kv)
            types = {k: int(v) for k, v in types.items()}
        else:
            n, s, mn, mx, types = 0, 0, None, None, {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            s += _sum_value_micros(pdf["value"])
            us = pdf["us"].to_numpy(np.int64)
            lo, hi = int(us.min()), int(us.max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            for t, c in pdf["event_type"].value_counts().items():
                types[t] = types.get(t, 0) + int(c)
        state.update((n, s, mn, mx,
                      ",".join(f"{k}:{v}" for k, v in sorted(
                          types.items()))))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_events": [n],
            "sum_value_micros": [s], "n_types": [len(types)],
            "span_us": [mx - mn]})

    prepped = (stream.withWatermark("ts", watermark)
               .selectExpr("user_id", "value", "event_type",
                           "unix_micros(ts) AS us"))
    return (prepped.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def attribution_pairs(views: DataFrame, clicks: DataFrame,
                      horizon: str = "2 hours",
                      watermark: str = "10 minutes") -> DataFrame:
    """C12 stream-stream interval join — the attribution shape: each click
    matches every view by the same user in the preceding ``horizon``.

    Both sides are watermarked and the join condition bounds BOTH event
    times, so the state store can evict a buffered view once the click
    watermark passes view_ts + horizon — state stays bounded by
    horizon x arrival rate at any stream length (the property that makes a
    stream-stream join survive an unbounded 100 TB/day stream). Inner join
    in append mode; the delay is kept in exact integer microseconds so the
    result is batch-comparable bit-for-bit (queries_text.
    q_attribution_pairs is the gated batch twin)."""
    v = (views.withWatermark("ts", watermark)
         .select("user_id", F.col("ts").alias("view_ts"),
                 F.col("event_id").alias("view_id")))
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    return (v.join(c, (v["user_id"] == c["c_user"]) &
                   (c["click_ts"] >= v["view_ts"]) &
                   (c["click_ts"] <= v["view_ts"] +
                    F.expr(f"INTERVAL {horizon}")))
            .select("user_id", "view_id", "click_id",
                    (F.unix_micros("click_ts") -
                     F.unix_micros("view_ts")).alias("delay_us")))


def run_to_completion(q_df: DataFrame, out_mode: str = "complete"):
    """Run a bounded stream to exhaustion into an in-memory sink; return the
    final table rows."""
    import uuid
    name = "snk_" + uuid.uuid4().hex[:8]
    q = (q_df.writeStream.format("memory").queryName(name)
         .outputMode(out_mode).start())
    q.processAllAvailable()
    spark = q_df.sparkSession
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return rows


def stream_to_table(stream: DataFrame, root: str, checkpoint_dir: str):
    """Streaming ingest into the Iceberg-layout table (C1 x C12): one
    append snapshot per micro-batch via ``foreachBatch``, exactly-once
    across restarts.  Structured Streaming's foreachBatch contract is
    at-least-once — after a crash the last batch is REPLAYED — so the sink
    must deduplicate: the micro-batch id is committed INSIDE the snapshot
    manifest (iceberg_layout.append_stream_batch), making the
    data-plus-batch-id commit atomic; a replayed id is detected and
    skipped.  Readers see only committed snapshots (manifest file lists,
    never directory listings), so a crash mid-append is invisible."""
    from . import iceberg_layout

    def commit(batch_df, batch_id):
        iceberg_layout.append_stream_batch(batch_df, root, batch_id)

    return (stream.writeStream.foreachBatch(commit)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append"))


def static_enrich_counts(stream: DataFrame, nation: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """Stream-static enrichment join — the C12 join surface between
    stateless maps and stream-stream joins: every micro-batch inner-joins
    the static broadcast dimension with NO join state (the static side is
    re-broadcast per batch, so dimension updates between batches are
    picked up), then rolls up watermarked hourly counts per nation.
    Exact-integer cent sums make stream ≡ batch bit-comparable."""
    j = stream.join(F.broadcast(nation),
                    stream["user_id"] % 25 == nation["n_nationkey"])
    return (j.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "n_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
                 .alias("sum_cents"))
            .select(F.col("win.start").alias("window_start"),
                    "n_name", "n", "sum_cents"))


def geofence_alerts(stream: DataFrame, polys: DataFrame, level: int = 6,
                    watermark: str = "10 minutes") -> DataFrame:
    """The north-star join as a CONTINUOUS monitor: each streamed event is
    tile-assigned and PIP-joined against the (static) fence layer — the
    broadcast cell-cover equi-join + inline codegen ray-cast of
    spatial.spatial_join rides the micro-batch unchanged because every
    stage is stateless (fences of at most spatial.MAX_INLINE_EDGES edges:
    a wider fence needs the chunked refine's per-event aggregation, which
    a stream cannot run, so spatial_join raises ValueError for it) — then
    watermarked tumbling counts per
    (window, fence) emit the alert feed. Streaming state is keyed by
    (window, poly_id): bounded by fences x active windows, independent of
    event rate — the 100 TB/day geofence-alerting shape."""
    from . import spatial

    j = spatial.spatial_join(stream, polys, "lon", "lat", level=level,
                             broadcast_cover=True)
    return (j.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "poly_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").cast("timestamp_ntz")
                    .alias("window_start"), "poly_id", "n_events"))
