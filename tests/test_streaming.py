"""Structured Streaming jobs: drain the events backlog with
trigger=availableNow and assert batch equivalence against the
plans/events_ts.py twins (SURVEY §2.10 — streaming is our scale
extension; the reference has none).
"""

import pytest
from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.plans.events_ts import (
    q29_tumbling_daily,
    q30_sessionization,
    q31_sliding_weekly,
)
from _multi_source_retail_data_integration_hub_spark.sources.testdata import load_table
from _multi_source_retail_data_integration_hub_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return jobs.read_events_stream(spark, SF_DIR)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_daily_matches_batch(spark, events_stream):
    jobs.run_available_now(jobs.tumbling_daily(events_stream), "t_tumbling")
    got = spark.table("t_tumbling")
    want = q29_tumbling_daily(spark, SF_DIR)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_weekly_matches_batch(spark, events_stream):
    jobs.run_available_now(jobs.sliding_weekly(events_stream), "t_sliding")
    got = spark.table("t_sliding")
    want = q31_sliding_weekly(spark, SF_DIR)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessionized_matches_batch_islands(spark, events_stream):
    jobs.run_available_now(jobs.sessionized(events_stream), "t_sessions")
    got = spark.table("t_sessions")
    want = q30_sessionization(spark, SF_DIR)
    cols_got = ["session_start", "user_id", "n_events", "total_value"]
    cols_want = ["session_start", "user_id", "n_events", "total_value"]
    assert _rows(got, cols_got) == _rows(
        want.select(
            F.col("session_start"), "user_id", "n_events", "total_value"
        ),
        cols_want,
    )


def test_dedup_stream_drops_duplicates(spark, events_stream):
    jobs.run_available_now(jobs.deduped_events(events_stream), "t_dedup", output_mode="append")
    got = spark.table("t_dedup")
    n_events = load_table(spark, SF_DIR, "events").count()
    assert got.count() == n_events  # source has unique event_ids
    assert got.select("event_id").distinct().count() == n_events


def test_parquet_sink_partitioned(spark, events_stream, tmp_path):
    """Two outputs sharing the basename ``out`` under one checkpoint
    root each get their own checkpoint: a shared one would make the
    second drain resume the first's offsets and write nothing."""
    import os

    n_events = load_table(spark, SF_DIR, "events").count()
    for out in (str(tmp_path / "out"), str(tmp_path / "b" / "out")):
        jobs.write_stream_parquet(
            jobs.deduped_events(events_stream), out, str(tmp_path), partition_by=("event_type",)
        )
        assert spark.read.parquet(out).count() == n_events
        assert any(d.startswith("event_type=") for d in os.listdir(out))


def test_stateful_running_totals(spark, events_stream):
    jobs.run_available_now(
        jobs.running_user_totals(events_stream), "t_totals", output_mode="update"
    )
    got = {r.user_id: r for r in spark.table("t_totals").collect()}
    want = {
        r.user_id: r
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        assert got[uid].n_events == w.n_events
        assert got[uid].total_value == pytest.approx(w.total_value, rel=1e-9)

def test_foreach_batch_upsert_matches_batch_agg(spark, events_stream, tmp_path):
    """Streaming per-user totals upserted through foreachBatch equal the
    batch aggregate, and a second drain (redelivery) is idempotent."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS t_upsert")
    shutil.rmtree("spark-warehouse/t_upsert", ignore_errors=True)
    agg = (
        events_stream.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    jobs.foreach_batch_upsert(agg, "t_upsert", ["user_id"], str(tmp_path / "a"))
    # reader-side hygiene: the table was rewritten by the streaming
    # session's clone, so invalidate this session's cached listing
    spark.catalog.refreshTable("t_upsert")
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(spark.table("t_upsert"), cols) == _rows(want, cols)

    # redelivery: drain the same source again into the same table
    jobs.foreach_batch_upsert(agg, "t_upsert", ["user_id"], str(tmp_path / "b"))
    spark.catalog.refreshTable("t_upsert")
    assert _rows(spark.table("t_upsert"), cols) == _rows(want, cols)


def test_stream_stream_interval_join_matches_batch(spark, events_stream):
    """purchase_error_join (stream-stream interval join with state
    expiry) emits exactly the pairs the equivalent batch join produces."""
    out = jobs.purchase_error_join(events_stream)
    jobs.run_available_now(out, "ss_join", output_mode="append")
    got = _rows(spark.table("ss_join"), ["user_id", "p_ts", "err_ts"])

    events = load_table(spark, SF_DIR, "events")
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    e = events.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("err_ts")
    )
    batch = p.join(
        e,
        F.expr(
            "p_user = e_user AND err_ts > p_ts "
            "AND err_ts <= p_ts + INTERVAL 1 HOUR"
        ),
    ).select(F.col("p_user").alias("user_id"), "p_ts", "err_ts")
    want = _rows(batch, ["user_id", "p_ts", "err_ts"])
    assert got == want
    assert len(got) > 0


def test_foreach_batch_upsert_promotes_orphaned_staging(spark, events_stream, tmp_path):
    """Crash-window recovery: if a prior run died between DROP and
    RENAME, the live table is missing and the fully-merged staging
    table exists — the next merge must promote staging FIRST so prior
    keys survive the replay."""
    import shutil

    for t in ("t_recover", "t_recover__staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    # simulate the crash artifact: staging holds a key the stream never
    # produces (user_id = -999), live table absent
    spark.createDataFrame(
        [(-999, 7, 1.5)], "user_id long, n_events long, total_value double"
    ).write.saveAsTable("t_recover__staging")

    agg = events_stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    jobs.foreach_batch_upsert(agg, "t_recover", ["user_id"], str(tmp_path / "cp"))
    spark.catalog.refreshTable("t_recover")

    out = spark.table("t_recover")
    # the orphaned staging row was promoted and survived the merge
    assert out.where(F.col("user_id") == -999).count() == 1
    assert not spark.catalog.tableExists("t_recover__staging")
    # and the streamed keys are all present too
    n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert out.where(F.col("user_id") != -999).count() == n_users


def _event_partials(df):
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.min(F.col("value").cast("decimal(18,2)")).alias("min_value"),
        F.max(F.col("value").cast("decimal(18,2)")).alias("max_value"),
    )


def _event_merge(base, delta):
    from _multi_source_retail_data_integration_hub_spark.plans.incremental import (
        merge_partials,
    )

    return merge_partials(
        base,
        delta,
        keys=["event_type"],
        merges={
            "n_events": "sum",
            "sum_value": "sum",
            "min_value": "min",
            "max_value": "max",
        },
    )


def _drop_managed(spark, *tables):
    """Catalog entries die with the session but spark-warehouse dirs
    persist — remove BOTH or a rerun's RENAME hits
    LOCATION_ALREADY_EXISTS (same hygiene as the upsert tests)."""
    import shutil

    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)


def test_streaming_mart_merge_matches_batch(spark, tmp_path):
    """Multi-batch streaming mart maintenance == one-shot batch
    aggregate: two files drained one per micro-batch, partials merged
    into stored state, final mart identical to the full aggregate."""
    _drop_managed(spark, "mart_events_t", "mart_events_t__staging")
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    half = F.col("event_id") % 2
    events.where(half == 0).write.mode("overwrite").parquet(src + "/a.parquet")
    events.where(half == 1).write.mode("overwrite").parquet(src + "/b.parquet")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    jobs.foreach_batch_mart_merge(
        stream, "mart_events_t", str(tmp_path / "cp"), _event_partials, _event_merge
    )
    got = spark.table("mart_events_t")
    # multiple micro-batches actually merged (not one big batch)
    assert got.agg(F.max("_applied_batch")).first()[0] >= 1
    cols = ["event_type", "n_events", "sum_value", "min_value", "max_value"]
    want = _event_partials(events)
    assert _rows(got, cols) == _rows(want, cols)


def test_apply_mart_batch_replay_is_noop(spark):
    """Replaying an already-committed batch id (crash-after-commit
    recovery) must change nothing; the next id applies normally."""
    _drop_managed(spark, "mart_replay_t", "mart_replay_t__staging")
    d1 = _event_partials(
        spark.createDataFrame(
            [("click", 1.0), ("click", 3.0)], "event_type string, value double"
        )
    )
    applied = jobs.apply_mart_batch(spark, "mart_replay_t", d1, 0, _event_merge)
    assert applied
    cols = ["event_type", "n_events", "sum_value", "min_value", "max_value"]
    snap = _rows(spark.table("mart_replay_t"), cols)
    # replay of batch 0: skipped, state unchanged
    assert not jobs.apply_mart_batch(spark, "mart_replay_t", d1, 0, _event_merge)
    assert _rows(spark.table("mart_replay_t"), cols) == snap
    # batch 1 applies: counts double
    assert jobs.apply_mart_batch(spark, "mart_replay_t", d1, 1, _event_merge)
    row = spark.table("mart_replay_t").collect()[0]
    assert row.n_events == 4 and float(row.sum_value) == 8.0


def test_apply_mart_batch_app_scoped_guard(spark):
    """Batch ids are scoped to one streaming checkpoint (ADVICE r4):
    a recreated checkpoint or a second query writing to an existing
    mart restarts ids at 0.  With app ids the guard must treat a
    different app as a NEW writer epoch (apply + restamp), never a
    silent skip; same-app replays still skip."""
    _drop_managed(spark, "mart_epoch_t", "mart_epoch_t__staging")
    d1 = _event_partials(
        spark.createDataFrame(
            [("click", 1.0), ("click", 3.0)], "event_type string, value double"
        )
    )
    assert jobs.apply_mart_batch(spark, "mart_epoch_t", d1, 7, _event_merge, app_id="app-A")
    # same app, replayed/older id: skipped
    assert not jobs.apply_mart_batch(spark, "mart_epoch_t", d1, 7, _event_merge, app_id="app-A")
    assert not jobs.apply_mart_batch(spark, "mart_epoch_t", d1, 3, _event_merge, app_id="app-A")
    # DIFFERENT app, id restarted at 0: new epoch — applied + restamped
    assert jobs.apply_mart_batch(spark, "mart_epoch_t", d1, 0, _event_merge, app_id="app-B")
    got = spark.table("mart_epoch_t")
    row = got.collect()[0]
    assert row.n_events == 4 and float(row.sum_value) == 8.0
    assert got.agg(F.max("_applied_app")).first()[0] == "app-B"
    assert got.agg(F.max("_applied_batch")).first()[0] == 0
    # the new epoch's own replay of batch 0 now skips
    assert not jobs.apply_mart_batch(spark, "mart_epoch_t", d1, 0, _event_merge, app_id="app-B")


def test_apply_mart_batch_legacy_anomaly_raises(spark):
    """Without an app id, a batch id strictly behind the stored one is
    ambiguous (reset checkpoint vs foreign writer) and must raise
    loudly instead of silently freezing the mart."""
    import pytest

    _drop_managed(spark, "mart_anom_t", "mart_anom_t__staging")
    d1 = _event_partials(
        spark.createDataFrame([("click", 1.0)], "event_type string, value double")
    )
    assert jobs.apply_mart_batch(spark, "mart_anom_t", d1, 5, _event_merge)
    # exact post-commit replay: safe skip
    assert not jobs.apply_mart_batch(spark, "mart_anom_t", d1, 5, _event_merge)
    with pytest.raises(ValueError, match="behind the stored"):
        jobs.apply_mart_batch(spark, "mart_anom_t", d1, 2, _event_merge)


def test_streaming_mart_checkpoint_recreation_heals(spark, tmp_path):
    """End-to-end ADVICE scenario: drain a stream into a mart, DELETE
    the checkpoint, re-run the same source from scratch (batch ids
    restart at 0 under a new query id).  The app-scoped guard must
    detect the new epoch and re-apply instead of silently skipping
    every batch — the mart ends up re-derived from the replayed
    stream, not frozen."""
    import shutil

    _drop_managed(spark, "mart_requeue_t", "mart_requeue_t__staging")
    events = load_table(spark, SF_DIR, "events").limit(200)
    src = str(tmp_path / "src")
    events.write.mode("overwrite").parquet(src + "/a.parquet")
    stream_schema = events.schema

    def run_once() -> None:
        stream = (
            spark.readStream.schema(stream_schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        jobs.foreach_batch_mart_merge(
            stream, "mart_requeue_t", str(tmp_path / "cp"), _event_partials, _event_merge
        )

    run_once()
    cols = ["event_type", "n_events", "sum_value", "min_value", "max_value"]
    first_app = spark.table("mart_requeue_t").agg(F.max("_applied_app")).first()[0]
    assert first_app is not None  # guard actually read the checkpoint id
    # checkpoint wiped -> new query id, batch ids restart at 0
    shutil.rmtree(str(tmp_path / "cp"))
    run_once()
    # the swap ran in the foreachBatch cloned session; this session read
    # the table pre-swap, so its file listing is stale — refresh first
    spark.catalog.refreshTable("mart_requeue_t")
    got = spark.table("mart_requeue_t")
    second_app = got.agg(F.max("_applied_app")).first()[0]
    assert second_app is not None and second_app != first_app
    # batch 0 of the new epoch was APPLIED (old behavior: silent skip,
    # mart frozen forever at the old stamp).  The new writer's data
    # merges on top of the existing state — re-feeding the same source
    # without resetting the mart is the operator's call; the guard's
    # contract is only "never silently freeze".
    want = _event_partials(events)
    assert _rows(got, cols) == _rows(_event_merge(want, want), cols)


def test_apply_mart_batch_promotes_orphaned_staging(spark):
    """Crash between DROP and RENAME: the live mart is missing and the
    fully-merged staging table (stamped with its batch id) exists. The
    next apply must promote staging FIRST — and then the batch-id guard
    must see the promoted stamp, so a replay of the committed batch is
    a no-op while the next batch merges on top."""
    _drop_managed(spark, "mart_heal_t", "mart_heal_t__staging")
    d = _event_partials(
        spark.createDataFrame([("click", 2.0)], "event_type string, value double")
    )
    # simulate the crash artifact: staging IS the committed batch-5 state
    d.withColumn("_applied_batch", F.lit(5).cast("bigint")).write.saveAsTable(
        "mart_heal_t__staging"
    )
    # replay of batch 5: healed (staging promoted) AND skipped
    assert not jobs.apply_mart_batch(spark, "mart_heal_t", d, 5, _event_merge)
    assert spark.catalog.tableExists("mart_heal_t")
    assert not spark.catalog.tableExists("mart_heal_t__staging")
    row = spark.table("mart_heal_t").collect()[0]
    assert row.n_events == 1  # NOT doubled by the replay
    # the next batch applies on top of the promoted state
    assert jobs.apply_mart_batch(spark, "mart_heal_t", d, 6, _event_merge)
    row = spark.table("mart_heal_t").collect()[0]
    assert row.n_events == 2 and float(row.sum_value) == 4.0


def test_apply_mart_batch_zombie_writer_fencing(spark):
    """r5 review finding: with a single last-writer stamp, two apps
    ALTERNATING batches each looked like 'a new epoch' and every
    replay re-applied. The per-app txn map must fence each app against
    its own replays while letting both writers make progress exactly
    once per batch."""
    _drop_managed(spark, "mart_zombie_t", "mart_zombie_t__staging")
    d1 = _event_partials(
        spark.createDataFrame([("click", 1.0)], "event_type string, value double")
    )
    # A applies 0 and 1; B (replacement after failover) applies 0;
    # zombie A replays 1 -> MUST skip; A's genuinely-new 2 applies;
    # B replays 0 -> skips.
    assert jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 0, _event_merge, app_id="A")
    assert jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 1, _event_merge, app_id="A")
    assert jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 0, _event_merge, app_id="B")
    assert not jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 1, _event_merge, app_id="A")
    assert jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 2, _event_merge, app_id="A")
    assert not jobs.apply_mart_batch(spark, "mart_zombie_t", d1, 0, _event_merge, app_id="B")
    row = spark.table("mart_zombie_t").collect()[0]
    # exactly 4 distinct applies folded in: A0, A1, B0, A2
    assert row.n_events == 4 and float(row.sum_value) == 4.0
    import json

    txns = json.loads(
        spark.table("mart_zombie_t").select("_applied_txns").first()[0]
    )
    assert txns == {"A": 2, "B": 0}


def test_apply_mart_batch_identityless_is_conservative(spark):
    """r5 re-review finding: an app-less apply against an app-stamped
    mart must NOT bypass the guard. Identity-unknown applies fence
    against the GLOBAL max: equal -> post-commit replay skip (the
    writer whose checkpoint metadata became unreadable), behind ->
    raise, ahead -> apply without erasing the stored epoch. Intentional
    backfills pass their own explicit app_id."""
    import pytest

    _drop_managed(spark, "mart_keep_epoch_t", "mart_keep_epoch_t__staging")
    d1 = _event_partials(
        spark.createDataFrame([("click", 1.0)], "event_type string, value double")
    )
    assert jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 9, _event_merge, app_id="app-A")
    # app-A's own post-commit replay arriving WITHOUT identity
    # (checkpoint metadata unreadable): must skip, not double-apply
    assert not jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 9, _event_merge)
    # stale identity-less batch: ambiguous -> refuse loudly
    with pytest.raises(ValueError, match="behind the stored"):
        jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 0, _event_merge)
    # intentional backfill: explicit app id, applies and is fenced on replay
    assert jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 0, _event_merge, app_id="backfill-1")
    assert not jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 0, _event_merge, app_id="backfill-1")
    # identity-less apply AHEAD of everything: applies, epoch preserved
    assert jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 11, _event_merge)
    got = spark.table("mart_keep_epoch_t")
    assert got.select("_applied_app").first()[0] == "backfill-1"  # last known writer
    # app-A still fences against ITS entry after all of the above
    assert not jobs.apply_mart_batch(spark, "mart_keep_epoch_t", d1, 8, _event_merge, app_id="app-A")
    row = spark.table("mart_keep_epoch_t").collect()[0]
    assert row.n_events == 3  # A/9 + backfill/0 + legacy/11 only


def test_streaming_cdc_mart_absorbs_deletes(spark, tmp_path):
    """CDC THROUGH the streaming mart sink: the change stream carries
    inserts AND deletes (signed weights, q121 semantics), partial_fn
    emits signed partials, merge_fn is the same cell-wise sum — the
    mart converges to the post-CDC state and groups deleted to zero
    drop out. Proves foreach_batch_mart_merge needs no special casing
    for retractions: signed partials ARE mergeable state."""
    import shutil

    _drop_managed(spark, "mart_cdc_stream_t", "mart_cdc_stream_t__staging")
    events = load_table(spark, SF_DIR, "events").limit(400)
    # change stream: every event INSERTed; 'error' events also emit a
    # full retraction of their group later (two files -> two batches)
    ins = events.select(
        "event_type", F.lit(1).alias("w"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    dels = (
        events.where(F.col("event_type") == "error")
        .select(
            "event_type", F.lit(-1).alias("w"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    src = str(tmp_path / "cdc_src")
    ins.write.mode("overwrite").parquet(src + "/b0.parquet")
    dels.write.mode("overwrite").parquet(src + "/b1.parquet")
    # pin modification times so the insert batch is discovered first:
    # a retraction processed before its insertion would (correctly,
    # per the n_events > 0 drop rule) be discarded — the standard
    # at-source ordering requirement for CDC streams
    import os
    import time as _time

    now = _time.time()
    for root, _, files in os.walk(src + "/b0.parquet"):
        for f in files:
            os.utime(os.path.join(root, f), (now - 120, now - 120))
    for root, _, files in os.walk(src + "/b1.parquet"):
        for f in files:
            os.utime(os.path.join(root, f), (now, now))

    def signed_partials(batch):
        return batch.groupBy("event_type").agg(
            F.sum("w").cast("bigint").alias("n_events"),
            F.sum(F.col("v") * F.col("w")).cast("decimal(28,2)").alias("sum_value"),
        )

    def signed_merge(base, delta):
        from _multi_source_retail_data_integration_hub_spark.plans.incremental import (
            merge_partials,
        )

        merged = merge_partials(
            base, delta, keys=["event_type"],
            merges={"n_events": "sum", "sum_value": "sum"},
        )
        return merged.where(F.col("n_events") > 0)  # retracted-to-zero groups drop

    stream = (
        spark.readStream.schema(ins.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    jobs.foreach_batch_mart_merge(
        stream, "mart_cdc_stream_t", str(tmp_path / "cp"), signed_partials, signed_merge
    )
    spark.catalog.refreshTable("mart_cdc_stream_t")
    got = {r.event_type: (r.n_events, float(r.sum_value))
           for r in spark.table("mart_cdc_stream_t").collect()}
    want = {
        r.event_type: (r.n_events, float(r.sum_value))
        for r in events.where(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(28,2)").alias("sum_value"))
        .collect()
    }
    assert "error" not in got  # fully retracted group dropped out
    assert got == want


def test_apply_mart_batch_empty_mart_keeps_fence(spark):
    """A merge that retracts EVERY row commits a zero-row mart; the
    replay fence must survive it (it lives in table properties, not
    data rows — r5 ADVICE). A checkpoint replay of the same batch id
    after the full retraction must still be a no-op."""
    _drop_managed(spark, "mart_empty_t", "mart_empty_t__staging")
    d1 = _event_partials(
        spark.createDataFrame(
            [("click", 1.0), ("click", 3.0)], "event_type string, value double"
        )
    )

    def retract_all(base, delta):
        merged = _event_merge(base, delta)
        return merged.where(F.lit(False))  # cdc-style: every group retracts

    assert jobs.apply_mart_batch(spark, "mart_empty_t", d1, 0, _event_merge, app_id="A")
    # batch 1 retracts everything -> zero-row mart
    assert jobs.apply_mart_batch(spark, "mart_empty_t", d1, 1, retract_all, app_id="A")
    assert spark.table("mart_empty_t").count() == 0
    # replays of batches 0 and 1 against the EMPTY mart must skip
    assert not jobs.apply_mart_batch(spark, "mart_empty_t", d1, 0, _event_merge, app_id="A")
    assert not jobs.apply_mart_batch(spark, "mart_empty_t", d1, 1, _event_merge, app_id="A")
    assert spark.table("mart_empty_t").count() == 0
    # the next batch applies normally
    assert jobs.apply_mart_batch(spark, "mart_empty_t", d1, 2, _event_merge, app_id="A")
    row = spark.table("mart_empty_t").collect()[0]
    assert row.n_events == 2 and float(row.sum_value) == 4.0


def test_stream_source_reads_directory_shaped_events(spark, tmp_path):
    """events.parquet as a Spark-written DIRECTORY of part files (every
    production layout) must stream the same rows as the single-file
    test layout. Regression for the r12 x64 rehearsal finding: the
    pathGlobFilter('events.parquet') form matches leaf FILE names, so
    over a directory it matched nothing and the twins drained an empty
    stream — 'streaming got 64x faster' because it read zero rows."""
    sf_dir = str(tmp_path / "sf_dirshape")
    src = load_table(spark, SF_DIR, "events")
    # several part files, like any scaled/production write
    src.repartition(4).write.parquet(f"{sf_dir}/events.parquet")

    stream = jobs.read_events_stream(spark, sf_dir)
    # min(ts) forces the ts column through the scan: a Spark-rewritten
    # events table stores ts as legacy INT96 (second half of the same
    # rehearsal finding — the 'ns' nanosAsLong schema fails that read;
    # an agg that prunes ts away would green-wash it)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("ts").alias("first_ts")
    )
    jobs.run_available_now(agg, "t_dirshape")
    got = {
        (r.event_type, r.n, r.first_ts)
        for r in spark.table("t_dirshape").collect()
    }
    want = {
        (r.event_type, r.n, r.first_ts)
        for r in src.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.min("ts").alias("first_ts"))
        .collect()
    }
    assert got == want and sum(n for _, n, _ts in got) == src.count()


def test_drain_timeout_raises_and_stops_the_query(spark, tmp_path, monkeypatch):
    """A drain that outlives DRAIN_TIMEOUT_S raises TimeoutError (its
    sink is partial) and leaves no stream running in the session."""
    import time

    monkeypatch.setattr(jobs, "DRAIN_TIMEOUT_S", 1)
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    writer = stream.writeStream.foreachBatch(lambda batch_df, batch_id: time.sleep(3))
    with pytest.raises(TimeoutError, match="slow sink"):
        jobs.drain(writer, "slow sink", checkpoint=str(tmp_path / "cp"))
    assert spark.streams.active == []
