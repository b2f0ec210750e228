"""Structured Streaming jobs over the ``events`` stream table.

The reference has no streaming surface (SURVEY §2.10) — its closest
analogue is the daily Airflow batch. This module is the scale
extension SURVEY §7.2.7 calls for: the same event-window semantics as
the batch queries in plans/events_ts.py, expressed as incremental
streaming plans with watermarks, so a cluster can keep the marts hot
instead of recomputing them nightly.

Each job is (stream_df) -> stream_df so callers choose source + sink;
``read_events_stream`` wires the testdata parquet as a file-stream
source. Every stream runs through ``drain`` (trigger=availableNow
processes the full backlog then stops — the streaming plan,
batch-equivalent results): ``run_available_now`` into an in-memory
table, and each production sink to completion, returning the stopped
query. Table-rewriting sinks commit through ``_swap_in``.

Batch equivalence: tumbling/sliding windows match q29/q31 exactly.
Sessionization uses ``session_window`` whose gap boundary is
closed-open (an event at exactly gap seconds starts a NEW session)
while the batch LAG-islands twin (q30) uses strict ``>`` — identical
results unless two events are exactly the gap apart (sub-microsecond
improbable on real timestamps; documented deviation).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..plans.registry import dsum
from ..sources.testdata import (
    EVENTS_NANOS_SCHEMA,
    events_parquet_ts_unit,
    normalize_events_ts,
)

#: hang guard for every drain, not a correctness bound: 300 s covers
#: every driver SF with 10x headroom
DRAIN_TIMEOUT_S = 300


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet.

    readStream requires an explicit schema, so the ts encoding (nanos
    vs micros — varies by testdata generation) is sniffed from the
    parquet footer and the matching schema chosen. Normalization comes
    from sources/testdata.py — ONE definition shared with the batch
    reader, so the streaming twins can never drift from the oracles'
    timestamp convention."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    unit = events_parquet_ts_unit(os.path.join(sf_dir, "events.parquet"))
    if unit == "ns":
        schema = EVENTS_NANOS_SCHEMA
    else:
        # 'us' parquet reads as TIMESTAMP_NTZ; legacy INT96 (any
        # Spark-rewritten events table under the default
        # outputTimestampType) reads as session-tz TIMESTAMP. Both
        # normalize to session-tz TIMESTAMP below.
        ts_type = TimestampType() if unit == "int96" else TimestampNTZType()
        schema = StructType(
            [
                f if f.name != "ts" else StructField("ts", ts_type)
                for f in EVENTS_NANOS_SCHEMA.fields
            ]
        )
    # the dataset may be a single file (driver testdata) or a
    # Spark-written DIRECTORY of part files (any production layout —
    # at scale a source is always a directory). pathGlobFilter matches
    # LEAF FILE names, so the single-file layout streams the parent
    # dir filtered to that name, while a directory streams directly —
    # the glob form would match zero part files and silently drain an
    # EMPTY stream (found by the r12 x64 rehearsal: the streaming
    # twins "sped up" 64x because they read nothing).
    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        raw = spark.readStream.schema(schema).parquet(events_path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(raw)


def tumbling_daily(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming twin of q29_tumbling_daily (plans/events_ts.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users_approx",
            "total_value",
        )
    )


def sliding_weekly(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming twin of q31_sliding_weekly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "12 hours", watermark: str = "1 day") -> DataFrame:
    """Streaming sessionization via native session_window state.

    State per (user, open session); watermark bounds state retention —
    the two knobs that make this run forever on an unbounded stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def deduped_events(
    events: DataFrame,
    watermark: str = "1 day",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state (default key:
    event_id).

    The streaming counterpart of q17's batch hash-dedup: late duplicate
    events beyond the watermark are expired from state (at-least-once
    upstream -> effectively-once downstream within the watermark).
    Pass ``keys`` to dedup on a different identity — e.g. the full
    column list when upstream retries resend byte-identical rows and
    the id column's uniqueness is not guaranteed (q136 does this so
    its batch oracle is well-defined on ANY data generation).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys if keys is not None else ["event_id"]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals maintained in explicit keyed state across
    microbatches (the escape hatch for stateful logic session_window /
    dropDuplicates can't express — counters, ML feature state,
    fraud-score accumulators...).

    State schema is (n, v) per user; each microbatch folds its Arrow
    batches into state and emits the updated row (output mode
    ``update``). Watermark-less NoTimeout: state lives forever, as a
    true running total requires; production variants with bounded keys
    would use event-time timeouts.
    """
    import pandas as pd  # local import: workers pickle this closure
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, v double"

    def fold(key, pdfs, state):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def purchase_error_join(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream interval join: each error joins the purchases of
    the same user in the preceding ``window`` (the streaming form of
    q61's attribution semantics — strictly-after, within the window).

    Both sides carry watermarks and the join condition bounds err_ts
    relative to p_ts, so Spark can expire join state: purchase state
    is dropped once the error-side watermark passes p_ts + window —
    bounded memory at any stream length, the requirement for a
    stream-stream join to run at 100 TB/day. Append output mode (rows
    emit once the watermark proves no more matches can arrive).
    """
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    errors = (
        events.where(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", watermark)
    )
    return purchases.join(
        errors,
        F.expr(
            f"p_user = e_user AND err_ts > p_ts "
            f"AND err_ts <= p_ts + INTERVAL {window}"
        ),
    ).select(F.col("p_user").alias("user_id"), "p_ts", "err_ts")


def drain(writer: DataStreamWriter, label: str, checkpoint: str | None = None) -> StreamingQuery:
    """Run ``writer`` with trigger=availableNow (checkpointed at
    ``checkpoint`` when given) until the backlog is processed and
    return the stopped query; its ``recentProgress`` stays readable.
    Past ``DRAIN_TIMEOUT_S`` the sink is PARTIAL, so raise rather than
    let callers read half a batch; the query is stopped either way."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"{label}: availableNow drain did not finish in {DRAIN_TIMEOUT_S}s"
            )
    finally:
        q.stop()
    return q


def run_available_now(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Drain the full backlog into an in-memory table, then stop.

    ``complete`` mode emits every window (including still-open ones) so
    results are directly comparable to the batch twins; production
    sinks would use append mode + checkpointLocation instead.
    """
    return drain(
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode),
        table_name,
    )


def _promote_orphaned_staging(spark: SparkSession, table: str) -> None:
    """Crashed between ``_swap_in``'s drop and rename: the staging
    table IS the last committed snapshot — promote it first."""
    staging = f"{table}__staging"
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(staging):
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")


def _swap_in(spark: SparkSession, table: str, df: DataFrame, props: dict | None = None) -> None:
    """Stage-then-swap commit of ``df`` (plus table properties
    ``props``, which the rename carries) as ``table``: the live table
    is replaced only AFTER the new snapshot is fully durable, so no
    crash point leaves less data than before."""
    staging = f"{table}__staging"
    df.write.mode("overwrite").saveAsTable(staging)
    if props:
        pairs = ", ".join(f"'{k}'={_sql_str(v)}" for k, v in props.items())
        spark.sql(f"ALTER TABLE {staging} SET TBLPROPERTIES ({pairs})")
    if spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    # invalidate cached file listings so readers (and the next
    # micro-batch's own read of the table) see the new snapshot
    spark.catalog.refreshTable(table)


def foreach_batch_upsert(
    stream_df: DataFrame,
    table: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
) -> StreamingQuery:
    """Production merge sink: upsert each micro-batch into a warehouse
    table keyed on ``key_cols`` via ``foreachBatch``; drains the stream
    and returns the stopped query.

    Without a transactional table format in this container the merge is
    expressed as current ⟕anti batch → union, committed by ``_swap_in``
    (never a truncated live table that a checkpoint replay would then
    merge against). On a cluster the same foreachBatch body becomes a single atomic
    ``MERGE INTO`` against Delta/Iceberg. The checkpoint makes
    redelivery safe: a re-run batch re-executes the same merge — which
    is only idempotent if the merge itself is deterministic, so
    within-batch duplicates need a defined winner. Visibility caveat:
    the drop+rename swap leaves a sub-second window per micro-batch in
    which the live table name is unregistered — concurrent readers on
    the same catalog must retry TABLE_OR_VIEW_NOT_FOUND (data is never
    lost; with Delta/Iceberg the MERGE is atomic and the window
    disappears). Pass ``order_col``
    to keep the row with the greatest value of that column per key
    (last write wins; ties break on a content hash so replays pick the
    same winner). Without ``order_col`` the stream must already be
    unique per key (e.g. a groupBy aggregate in update mode); duplicate
    keys would otherwise keep an arbitrary row.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        if order_col is not None:
            # content-hash tiebreak: equal order_col values must still
            # produce ONE deterministic winner or checkpoint replays
            # could commit a different row than the first attempt
            w = Window.partitionBy(*key_cols).orderBy(
                F.desc(order_col), F.desc(F.xxhash64(*batch_df.columns))
            )
            batch = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            batch = batch_df.dropDuplicates(key_cols)
        batch = batch.localCheckpoint()
        _promote_orphaned_staging(spark, table)
        if spark.catalog.tableExists(table):
            current = spark.table(table)
            keep = current.join(batch.select(*key_cols), key_cols, "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        _swap_in(spark, table, merged)

    return drain(
        stream_df.writeStream.foreachBatch(_merge).outputMode("update"),
        f"upsert into {table}",
        # namespaced per target table: two sinks sharing a checkpoint
        # root must not resume each other's offsets (the second would
        # see the backlog "already processed" and write nothing)
        checkpoint=os.path.join(checkpoint_dir, f"cp_upsert_{table}"),
    )


def write_stream_parquet(
    stream_df: DataFrame, path: str, checkpoint_dir: str, partition_by: tuple[str, ...] = ()
) -> StreamingQuery:
    """Production-shaped sink: append-mode partitioned parquet with
    exactly-once checkpointing. Drains the stream and returns the
    stopped query."""
    # namespaced per output path (see foreach_batch_upsert); the path
    # hash keeps .../a/out and .../b/out from sharing offsets
    full = os.path.abspath(path)
    tag = hashlib.sha1(full.encode()).hexdigest()[:8]
    cp_name = f"cp_{os.path.basename(full)}_{tag}"
    writer = stream_df.writeStream.format("parquet").option("path", path).outputMode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return drain(writer, f"parquet sink {path}", checkpoint=os.path.join(checkpoint_dir, cp_name))


def foreach_batch_band_append(
    stream_df: DataFrame,
    table: str,
    checkpoint_dir: str,
    id_col: str = "id",
    n_bands: int = 4,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """Continuous-ingest sink for the persisted LSH band table: each
    micro-batch of ``(id, text)`` documents is MinHash-signed and its
    melted band rows APPENDED to the bucketed history table
    (``operators/text.py::write_signatures_bucketed(mode="append")``).
    The first batch creates the table with ``n_buckets`` buckets (one
    per core when None); every later batch, and any replay, inserts
    through that stored bucket spec, so each batch writes at most one
    file per bucket.

    This is the 100 TB shape the band table's docstring promises: the
    ingestion job signs documents as they arrive (signing is per-doc
    and stateless, so batch boundaries cannot change the union), the
    history table grows in place batch by batch, and every dedup pass
    reads it back Exchange-free via ``lsh_candidate_pairs_from_bands``
    / ``lsh_probe_pairs_from_bands``. The checkpoint makes redelivery
    safe only together with the per-batch idempotence the caller
    owns: a REPLAYED batch re-appends its band rows, and the candidate
    join re-distincts pairs, so duplicate (id, band_id, bucket) rows
    inflate bucket sizes against the hot-bucket cap but never the pair
    set — exactly-once sinks on a cluster would land each batch as a
    transactional append instead. Drains the stream and returns the
    stopped query.
    """
    from ..operators import text as T  # noqa: PLC0415 — avoid module cycle

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        T.write_signatures_bucketed(
            T.minhash_signatures(batch_df, "text", id_col),
            table,
            id_col=id_col,
            n_bands=n_bands,
            n_buckets=n_buckets,
            mode="append",
        )

    return drain(
        stream_df.writeStream.foreachBatch(_append),
        f"band append into {table}",
        # namespaced per target table (see foreach_batch_upsert)
        checkpoint=os.path.join(checkpoint_dir, f"cp_bands_{table}"),
    )


def foreach_batch_dedup_on_arrival(
    stream_df: DataFrame,
    bands_table: str,
    pairs_table: str,
    checkpoint_dir: str,
    id_col: str = "id",
    n_bands: int = 4,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """The full continuous-dedup loop, one micro-batch at a time: the
    batch's MinHash bands are APPENDED to the history table FIRST (so
    within-batch duplicates surface too), the batch is then PROBED
    against everything that has ever arrived
    (``lsh_probe_pairs_from_bands`` — history side Exchange-free off
    its bucketing), and the batch's verdicts land in an append-only
    pairs log normalized to the ``id_a < id_b`` convention. The history
    table's bucket count is fixed by the first batch, as in
    ``foreach_batch_band_append`` (one bucket per core when
    ``n_buckets`` is None).

    Arrival-order independence: an unordered pair is logged exactly
    when its LATER member's batch probes (the earlier member is
    already history), so as long as the hot-bucket cap never engages
    on the FULL corpus — prefix buckets are only ever smaller — the
    distinct of the pairs log equals ``lsh_candidate_pairs`` over the
    whole corpus regardless of how ingest batched it. When the cap
    does engage mid-stream, arrival-time recall is >= the batch
    path's (early probes saw the bucket before it went hot).

    At-least-once caveat (same as ``foreach_batch_band_append``): a
    replayed batch re-appends band rows and re-logs its verdicts —
    the read-side distinct absorbs duplicate verdicts, but duplicate
    band rows inflate bucket sizes against the cap, so exactly-once
    sinks on a cluster would land both appends transactionally.
    Drains the stream and returns the stopped query.
    """
    from ..operators import text as T  # noqa: PLC0415 — avoid module cycle

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # materialized once: the batch signature feeds both the append
        # and the probe (without this the shingle pipeline runs twice)
        sig = T.minhash_signatures(batch_df, "text", id_col).localCheckpoint()
        T.write_signatures_bucketed(
            sig, bands_table,
            id_col=id_col, n_bands=n_bands, n_buckets=n_buckets, mode="append",
        )
        spark.catalog.refreshTable(bands_table)
        pairs = T.lsh_probe_pairs_from_bands(
            T._melt_bands(sig, id_col, n_bands),
            spark.table(bands_table),
            id_col,
        )
        (
            pairs.where(F.col("id_new") != F.col("id_hist"))
            .select(
                F.least("id_new", "id_hist").alias("id_a"),
                F.greatest("id_new", "id_hist").alias("id_b"),
            )
            .write.mode("append")
            .saveAsTable(pairs_table)
        )

    return drain(
        stream_df.writeStream.foreachBatch(_step),
        f"dedup on arrival into {pairs_table}",
        # namespaced per verdict log (see foreach_batch_upsert)
        checkpoint=os.path.join(checkpoint_dir, f"cp_arrival_{pairs_table}"),
    )


def _streaming_app_id(checkpoint_path: str) -> str | None:
    """The durable identity of the streaming query owning a checkpoint.

    Structured Streaming persists the query id in
    ``<checkpoint>/metadata`` at first start and reuses it across
    restarts; deleting/recreating the checkpoint mints a NEW id. That
    is exactly the epoch an exactly-once guard must be scoped to
    (batch ids alone restart at 0 with a fresh checkpoint) — the same
    role Delta's ``txnAppId`` plays. Returns None when the metadata is
    not readable (non-local checkpoint FS); callers then fall back to
    the batch-id-only guard with a loud anomaly error.
    """
    import json

    try:
        with open(os.path.join(checkpoint_path, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except Exception:
        return None


# Durable replay-guard table properties (the Delta txnAppId/txnVersion
# analogue on plain tables): set on the staging table pre-rename so they
# commit atomically with the data, and readable even when the committed
# mart has zero rows.
_TXNS_PROP = "spark_graft.applied_txns"
_APP_PROP = "spark_graft.applied_app"


def _sql_str(value: str) -> str:
    """Render a Python string as a Spark SQL single-quoted literal
    (TBLPROPERTIES values cannot be parameter-bound)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def apply_mart_batch(
    spark: SparkSession,
    table: str,
    delta_partials: DataFrame,
    batch_id: int,
    merge_fn,
    app_id: str | None = None,
) -> bool:
    """Idempotent, exactly-once application of one micro-batch's PARTIAL
    aggregates to a stored mart table. Returns False when the batch was
    already applied (checkpoint replay after a post-commit crash).

    Unlike foreach_batch_upsert (whose anti-join merge is naturally
    idempotent — replaying a batch upserts the same rows), a
    partial-aggregate merge is NOT: replaying a batch would add its
    counts and sums twice. The guard is the standard foreachBatch
    transactionality pattern: the applied (app id, batch id) pair is
    committed ATOMICALLY with the data (``_applied_app`` /
    ``_applied_batch`` columns on every row, swapped in with the same
    stage-then-swap as the data), so whatever snapshot a replay
    observes, the guard and the data agree. Crash before the swap ->
    replay re-merges against the old snapshot (old id) and applies;
    crash after -> replay sees its own id and skips. On Delta/Iceberg
    the same body is one MERGE + txnAppId/txnVersion properties.

    Batch ids are scoped to ONE streaming checkpoint: a recreated
    checkpoint (or a second query adopting an existing mart) restarts
    them at 0. ``app_id`` (the checkpoint's durable query id, see
    ``_streaming_app_id``) scopes the guard: the mart stores a PER-APP
    version map (JSON {app: last_batch}) in TABLE PROPERTIES — exactly
    Delta's txnAppId/txnVersion model — so the fence survives even a
    merge that retracts every row (the in-row ``_applied_*`` columns
    remain as observability mirrors and the legacy read path).
    Each app's replays are fenced
    against that app's own entry, so multiple writers ALTERNATING
    applies (a zombie instance and its failover replacement taking
    turns) each make progress exactly once per batch — the
    single-last-writer stamp the r5 review flagged could not fence
    that. Scope honesty: applies must be SERIALIZED (each one reads
    the previously committed snapshot — true within one streaming
    query, whose micro-batches are sequential). Two writers committing
    CONCURRENTLY can interleave read-modify-write on this
    plain-filesystem stage-then-swap and lose one commit; fencing
    truly concurrent writers needs a transactional table layer
    (Delta/Iceberg optimistic commit + txnAppId), where this body
    becomes one MERGE with txn properties.

    Without an ``app_id`` (legacy callers / checkpoint metadata
    unreadable) identity is unknown, so the guard is conservative
    across ALL stored entries: a batch equal to the global max is the
    post-commit replay and skips; strictly behind it raises (a reset
    identity-less checkpoint is indistinguishable from a foreign
    writer — intentional backfills should pass an explicit app_id);
    strictly ahead applies under a reserved key.
    ``_applied_app``/``_applied_batch`` remain as last-writer
    observability columns; the map is the guard.
    """
    import json

    legacy_key = "__no_app__"
    # a promoted staging table's guard proves which batch it includes
    _promote_orphaned_staging(spark, table)
    key = app_id if app_id is not None else legacy_key
    txns: dict[str, int] = {}
    stored_app = None
    if spark.catalog.tableExists(table):
        current = spark.table(table)
        guard_cols = [
            c
            for c in ("_applied_batch", "_applied_app", "_applied_txns")
            if c in current.columns
        ]
        # The DURABLE guard lives in table properties, written on the
        # staging table before the atomic rename (so guard and data
        # commit together) — a mart whose merge produced ZERO rows (full
        # retraction) still fences replays; the in-row map alone would
        # read back empty and double-apply (r5 ADVICE).
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }
        if _TXNS_PROP in props:
            txns = {
                k: int(v) for k, v in json.loads(props[_TXNS_PROP]).items()
            }
            stored_app = props.get(_APP_PROP) or None
        elif "_applied_txns" in guard_cols:
            # pre-property mart: migrate the in-row map
            row = current.select("_applied_txns", *(
                ["_applied_app"] if "_applied_app" in guard_cols else []
            )).first()
            if row is not None:
                txns = {k: int(v) for k, v in json.loads(row[0] or "{}").items()}
                if "_applied_app" in guard_cols:
                    stored_app = row["_applied_app"]
        elif guard_cols:
            # mart stamped by a pre-map version: migrate its single
            # (app, batch) pair into the map
            if "_applied_app" in guard_cols:
                row = current.agg(
                    F.max("_applied_batch").alias("b"),
                    F.max("_applied_app").alias("a"),
                ).first()
                last, stored_app = row["b"], row["a"]
            else:
                last = current.agg(F.max("_applied_batch")).first()[0]
            if last is not None:
                txns[stored_app if stored_app is not None else legacy_key] = int(last)
        if app_id is not None:
            if key in txns and txns[key] >= batch_id:
                return False  # this app already folded this batch into state
        elif txns:
            # identity unknown: fence against ALL stored entries, or an
            # app-stamped mart whose writer temporarily lost its
            # checkpoint metadata would double-apply its own replay
            # (r5 re-review finding)
            global_max = max(txns.values())
            if batch_id == global_max:
                return False  # the post-commit replay
            if batch_id < global_max:
                raise ValueError(
                    f"apply_mart_batch: batch {batch_id} for table "
                    f"{table!r} is behind the stored batch {global_max} "
                    "and no app id is available to prove a new writer "
                    "epoch — refusing to silently skip (a recreated "
                    "checkpoint would freeze this mart). Pass app_id "
                    "(see _streaming_app_id) or reset the mart's guard "
                    "columns explicitly."
                )
        merged = merge_fn(current.drop(*guard_cols), delta_partials)
    else:
        merged = delta_partials
    txns[key] = batch_id
    # last-writer observability: preserve the stored app when a legacy
    # (app-less) apply lands, instead of erasing the epoch with NULL
    last_app = app_id if app_id is not None else stored_app
    stamped = (
        merged.withColumn("_applied_batch", F.lit(batch_id).cast("bigint"))
        .withColumn("_applied_app", F.lit(last_app).cast("string"))
        .withColumn(
            "_applied_txns", F.lit(json.dumps(txns, sort_keys=True)).cast("string")
        )
    )
    stamped = stamped.localCheckpoint()  # break self-reference before overwrite
    # guard map as table properties ON STAGING, before the swap: the
    # rename carries them, so data + guard commit atomically and an
    # empty mart still fences (see read side above)
    _swap_in(spark, table, stamped, props={
        _TXNS_PROP: json.dumps(txns, sort_keys=True),
        _APP_PROP: last_app or "",
    })
    return True


def foreach_batch_mart_merge(
    stream_df: DataFrame,
    table: str,
    checkpoint_dir: str,
    partial_fn,
    merge_fn,
) -> StreamingQuery:
    """Streaming materialized-view maintenance: keep an aggregate mart
    fresh under continuous ingest by merging each micro-batch's partial
    aggregates into stored state — the streaming twin of the batch
    refresh in plans/incremental.py (q111), built from the same
    merge function.

    ``partial_fn(batch_df)`` computes the mergeable partial state of
    one micro-batch (count / decimal-exact sum / min / max per group);
    ``merge_fn(base, delta)`` is the cell-wise combine
    (plans/incremental.py::merge_partials). Each batch therefore costs
    O(|batch| + |mart|), never O(|history|) — the 100 TB contract: the
    raw fact stream is touched exactly once per row, forever.

    Exactly-once: see apply_mart_batch (batch-id stamped atomically
    with the data; checkpoint replays skip). Drains the stream and
    returns the stopped query.
    """

    cp_path = os.path.join(checkpoint_dir, f"cp_mart_{table}")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        apply_mart_batch(
            batch_df.sparkSession,
            table,
            partial_fn(batch_df),
            batch_id,
            merge_fn,
            # read per batch, not at wiring time: the metadata file is
            # written by query start, before the first batch runs
            app_id=_streaming_app_id(cp_path),
        )

    return drain(
        stream_df.writeStream.foreachBatch(_merge).outputMode("update"),
        f"mart merge into {table}",
        checkpoint=cp_path,
    )
