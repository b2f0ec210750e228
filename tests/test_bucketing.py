"""Bucketing: co-located joins without a shuffle (SURVEY §4.2 physical
hygiene; the 100 TB answer to repeated large-table equi-joins)."""

import pytest
from pyspark.sql import functions as F

# importing training_data also registers the queries
from _multi_source_retail_data_integration_hub_spark.plans.training_data import _sf_tag


@pytest.fixture(scope="module", autouse=True)
def _cleanup(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_db")
    yield
    spark.sql("DROP DATABASE IF EXISTS bkt_db CASCADE")


def test_bucketed_join_has_no_exchange(spark):
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v1")
    )
    right = spark.range(0, 10_000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("v2")
    )
    for name, df in [("bl", left), ("br", right)]:
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(f"bkt_db.{name}")

    # disable auto-broadcast: we want to see the shuffle (or its absence),
    # not a BroadcastExchange that hides it at this toy size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_db.bl").join(spark.table("bkt_db.br"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join should not shuffle:\n{plan[:2000]}"
        assert joined.count() == 5_000

        # sanity: the same join on plain parquet tables DOES shuffle
        left.write.mode("overwrite").saveAsTable("bkt_db.pl")
        right.write.mode("overwrite").saveAsTable("bkt_db.pr")
        plain = spark.table("bkt_db.pl").join(spark.table("bkt_db.pr"), "k")
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_ivf_members_bucketed_probe_join(spark):
    """The IVF scale layout (operators/similarity.py): members written
    bucketed by list_id -> (a) probing a subset of lists prunes
    unprobed buckets at scan time, (b) the probe join runs with no
    Exchange when both sides share the bucketing."""
    from _multi_source_retail_data_integration_hub_spark.operators.similarity import (
        ivf_centroid_matrix,
        ivf_probes,
        with_quantized,
        write_members_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cq = with_quantized(emb, "embedding", "vec_id")
    cents = ivf_centroid_matrix(cq, "vec_id")
    members = ivf_probes(cq, cents, 1, "vec_id").select("vec_id", "list_id", "nsq")
    write_members_bucketed(members, "bkt_db.ivf_members", n_buckets=8)
    tbl = spark.table("bkt_db.ivf_members")
    assert tbl.count() == emb.count()

    # (a) bucket pruning: a filter on probed list_ids selects a strict
    # subset of the 8 buckets in the scan itself
    two_lists = [r.list_id for r in tbl.select("list_id").distinct().limit(2).collect()]
    # autoBucketedScan would fall back to a plain scan when no join
    # needs the bucketing; force the bucketed scan so bucket pruning
    # (the "touch only probed buckets" property) is visible
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        pruned = tbl.where(F.col("list_id").isin(two_lists))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")

    # (b) co-bucketed probe join: no Exchange on either side
    probes = tbl.select(F.col("vec_id").alias("query_id"), "list_id").limit(50)
    write_members_bucketed(
        probes.select("query_id", "list_id"), "bkt_db.ivf_probes", n_buckets=8
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_db.ivf_probes").join(tbl, "list_id")
        jplan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in jplan, jplan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_minhash_bands_bucketed_candidate_stage(spark):
    """The MinHash scale layout (operators/text.py
    write_signatures_bucketed, r11 verdict ask #3): the melted band
    table persisted bucketed by (band_id, bucket) feeds the guarded
    candidate join with (a) zero Exchange before the final pair
    distinct — the hot-bucket count, the guard join and the
    within-bucket self-join all reuse the scan's partitioning — and
    (b) pair output byte-identical to the in-process path, so the
    persisted table can replace the _mutated_sig session table without
    touching any oracle."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = T.minhash_signatures(docs, "text", "doc_id")
    T.write_signatures_bucketed(sig, "bkt_db.mh_bands", id_col="doc_id", n_buckets=8)
    tbl = spark.table("bkt_db.mh_bands")
    assert tbl.columns == ["doc_id", "band_id", "bucket"]
    assert tbl.count() == docs.count() * 4  # one row per (doc, band)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # cap=1000 is the production default (inactive at this SF);
        # cap=2 forces the guard to ENGAGE so parity also covers the
        # drop-excised and salt-subsplit row sets (x128 showed the two
        # modes diverge exactly at cap engagement — SCALE.md r12)
        for cap in (1000, 2):
            for mode in ("drop", "subsplit"):
                pairs = T.lsh_candidate_pairs_from_bands(
                    tbl, "doc_id", max_bucket_size=cap, hot_bucket_mode=mode
                )
                plan = pairs._jdf.queryExecution().executedPlan().toString()
                # exactly ONE Exchange: the final distinct over
                # (id_a, id_b) — a different key set, irreducible. The
                # candidate stage (count/guard/self-join) must reuse
                # the bucketing whether or not the guard engages.
                n_exchange = plan.count("Exchange")
                assert n_exchange == 1, (
                    f"{mode} cap={cap}: {n_exchange} Exchanges\n{plan[:3000]}"
                )

                # value parity with the in-process melt path
                direct = T.lsh_candidate_pairs(
                    sig, "doc_id", max_bucket_size=cap, hot_bucket_mode=mode
                )
                got = {(r.id_a, r.id_b) for r in pairs.collect()}
                want = {(r.id_a, r.id_b) for r in direct.collect()}
                assert got == want, f"{mode} cap={cap}"
                if cap == 1000:
                    assert len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_token_table_bucketed_term_stats_stage(spark):
    """The token-table scale layout (operators/text.py
    write_tokens_bucketed): the exploded (id, token) table persisted
    bucketed by token feeds the q47/q122 term-statistics shape —
    tf = groupBy(doc_id, token), df = groupBy(token), tf ⋈ df on token
    — with zero Exchange until the final per-doc ranking window, and
    values identical to the inline explode."""
    from pyspark.sql import Window

    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    T.write_tokens_bucketed(docs, "text", "doc_id", "bkt_db.toks", n_buckets=8)
    tbl = spark.table("bkt_db.toks")
    assert tbl.columns == ["doc_id", "token"]

    def term_stats(toks):
        tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
        df_counts = tf.groupBy("token").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", F.desc("tf"), "token")
        return (
            tf.join(df_counts, "token")
            .withColumn("term_rank", F.row_number().over(w))
            .where(F.col("term_rank") <= 3)
            .select("doc_id", "term_rank", "token", "tf", "df")
        )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranked = term_stats(tbl)
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        # exactly ONE Exchange: the doc_id ranking window — tf, df and
        # the join all reuse the scan's token bucketing (tf's keys are
        # a SUPERSET of the bucket key; clustering by the subset is
        # enough, same relaxation the subsplit join uses)
        n_exchange = plan.count("Exchange")
        assert n_exchange == 1, f"{n_exchange} Exchanges\n{plan[:3000]}"

        inline = term_stats(
            docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        )
        got = {tuple(r) for r in ranked.collect()}
        want = {tuple(r) for r in inline.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_probe_join_against_bucketed_history_bands(spark):
    """The incremental-ingest layout lsh_probe_pairs promises: history
    bands persisted by write_signatures_bucketed, each new batch melted
    in-process. The history scan must never re-partition — its bucketing
    feeds both the hot-bucket guard and the probe join — so the only
    Exchanges are the (small) batch side entering the join and the
    final pair distinct. Values must match the all-in-process probe."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.select(F.col("doc_id").alias("id"), "text")
    sig_hist = T.minhash_signatures(hist, "text", "id")
    T.write_signatures_bucketed(sig_hist, "bkt_db.hist_bands", id_col="id", n_buckets=8)

    batch = docs.limit(40).select((F.col("doc_id") + 1_000_000).alias("id"), "text")
    sig_new = T.minhash_signatures(batch, "text", "id")
    # materialize the batch melt (at ingest the batch arrives as rows,
    # not as a plan) so the probe's plan isolates the HISTORY claim
    melted_new = spark.createDataFrame(
        T._melt_bands(sig_new, "id", 4).collect(), "id long, band_id int, bucket string"
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.lsh_probe_pairs_from_bands(
            melted_new, spark.table("bkt_db.hist_bands"), "id"
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # exactly TWO Exchanges, both on the batch/output side: the
        # batch entering the join's co-partitioning and the final pair
        # distinct. The history scan, the hot-bucket guard aggregation
        # and the guard join all reuse the table's bucketing.
        n_exchange = plan.count("Exchange")
        assert n_exchange == 2, f"{n_exchange} Exchanges\n{plan[:3000]}"
        assert "Bucketed: true" in plan

        direct = T.lsh_probe_pairs(sig_new, sig_hist, "id")
        got = {(r.id_new, r.id_hist) for r in pairs.collect()}
        want = {(r.id_new, r.id_hist) for r in direct.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_simhash_bands_bucketed_candidate_stage(spark):
    """The SimHash member of the persisted-bucketed family: fingerprint
    bands written by write_simhash_bands_bucketed feed the guarded
    Hamming join with zero Exchange before the pair distinct, and
    verified pairs identical to the in-process path."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = T.simhash(docs, "text", "doc_id", bits=16)
    T.write_simhash_bands_bucketed(
        sig, "bkt_db.sh_bands", id_col="doc_id", bits=16, n_bands=2, n_buckets=8
    )
    tbl = spark.table("bkt_db.sh_bands")
    assert tbl.columns == ["doc_id", "fp", "band_id", "bucket"]

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.simhash_pairs_from_bands(
            tbl, "doc_id", n_bands=2, hamming_max=1
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange")
        assert n_exchange == 1, f"{n_exchange} Exchanges\n{plan[:3000]}"

        direct = T.simhash_pairs(
            sig, "doc_id", bits=16, n_bands=2, hamming_max=1
        )
        got = {tuple(r) for r in pairs.collect()}
        want = {tuple(r) for r in direct.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_winnow_index_bucketed_match_stage(spark):
    """The winnowing member of the persisted-bucketed family: the
    MOSS-style (id, fp_hash) inverted index written by
    write_winnow_index_bucketed feeds the copy-detection join with one
    Exchange total (the final per-pair count), and pairs identical to
    the in-process path."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    T.write_winnow_index_bucketed(docs, "text", "doc_id", "bkt_db.winnow_idx", n_buckets=8)
    tbl = spark.table("bkt_db.winnow_idx")
    assert tbl.columns == ["doc_id", "fp_hash"]

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.winnowing_matches_from_index(tbl, "doc_id")
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange")
        assert n_exchange == 1, f"{n_exchange} Exchanges\n{plan[:3000]}"

        direct = T.winnowing_matches(docs, "text", "doc_id")
        got = {tuple(r) for r in pairs.collect()}
        want = {tuple(r) for r in direct.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_signature_table_append_is_the_ingest_path(spark):
    """Per-batch ingest: write the history bands once, APPEND each new
    batch with the same bucket spec — the combined table must (a) stay
    a bucketed scan feeding the Exchange-free probe plan, and (b) give
    probe pairs identical to probing against the in-process union."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    day2 = docs.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("id"), "text"
    )
    sig_hist, sig_day2 = (
        T.minhash_signatures(x, "text", "id") for x in (hist, day2)
    )
    T.write_signatures_bucketed(sig_hist, "bkt_db.appnd", id_col="id", n_buckets=8)
    T.write_signatures_bucketed(
        sig_day2, "bkt_db.appnd", id_col="id", n_buckets=8, mode="append"
    )
    tbl = spark.table("bkt_db.appnd")
    assert tbl.count() == docs.count() * 4

    batch = docs.limit(25).select((F.col("doc_id") + 2_000_000).alias("id"), "text")
    sig_new = T.minhash_signatures(batch, "text", "id")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.lsh_probe_pairs_from_bands(
            T._melt_bands(sig_new, "id", 4), tbl, "id"
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan  # appends kept the layout

        direct = T.lsh_probe_pairs(
            sig_new, T.minhash_signatures(
                hist.unionByName(day2), "text", "id"
            ), "id"
        )
        got = {(r.id_new, r.id_hist) for r in pairs.collect()}
        want = {(r.id_new, r.id_hist) for r in direct.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_append_without_bucket_count_keeps_the_stored_spec(spark):
    """An append that names no bucket count (the streaming sinks' and
    a replay's case) inserts through the table's stored bucket spec:
    the table keeps the 8 buckets it was created with, the candidate
    pair set equals the in-process one, and the read stays
    Exchange-free up to the final pair distinct. Spark rejects a
    saveAsTable append whose bucketBy differs from the table's."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    sig = T.minhash_signatures(docs, "text", "id")
    T.write_signatures_bucketed(sig.where(F.col("id") % 2 == 0), "bkt_db.spec", n_buckets=8)
    T.write_signatures_bucketed(sig.where(F.col("id") % 2 == 1), "bkt_db.spec", mode="append")
    spark.catalog.refreshTable("bkt_db.spec")
    detail = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED bkt_db.spec").collect()
    }
    assert detail["Num Buckets"] == "8"
    assert spark.table("bkt_db.spec").count() == docs.count() * 4

    want = {(r.id_a, r.id_b) for r in T.lsh_candidate_pairs(sig, "id").collect()}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.lsh_candidate_pairs_from_bands(spark.table("bkt_db.spec"), "id")
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan and plan.count("Exchange") == 1, plan[:3000]
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_persisted_path_queries_read_bucketed_tables(spark):
    """q179/q180 (the persisted production path under the oracle gate,
    r12 verdict ask #3) must actually READ the bucketed tables they
    write — not silently fall back to an in-process recompute — and
    keep the Exchange budget their operator-level twins assert: one
    Exchange total on each read side (the final pair distinct resp.
    the per-doc ranking window)."""
    from _multi_source_retail_data_integration_hub_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_exchange_want in (
            ("q179_persisted_lsh_candidates", 1),
            ("q180_persisted_top_terms", 1),
            ("q182_persisted_winnow_matches", 1),
            ("q183_persisted_simhash_pairs", 1),
            # q184: the in-process PROBE side enters the join's
            # co-partitioning (1) + the per-query ranking window (1);
            # the members scan itself is Exchange-free
            ("q184_persisted_ivf_topk", 2),
        ):
            df = QUERIES[name](spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, f"{name} not reading the table"
            n_exchange = plan.count("Exchange")
            assert n_exchange == n_exchange_want, (
                f"{name}: {n_exchange} Exchanges\n{plan[:3000]}"
            )
            assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        for what in ("bands", "tokens", "winnow", "shbands", "ivf"):
            spark.sql(f"DROP TABLE IF EXISTS persisted_{what}_{_sf_tag(sf)}")


def test_sf_tag_separates_same_named_directories(tmp_path):
    """Two sf_dirs with one basename (a test corpus and a benchmark
    copy, both sf0.01) must not share persisted_* table or streaming
    scratch names; two spellings of one directory must."""
    a, b = (str(tmp_path / parent / "sf0.01") for parent in "ab")
    assert _sf_tag(a) != _sf_tag(b)
    assert _sf_tag(a) == _sf_tag(a + "/")
    assert _sf_tag(a).startswith("sf0_01_") and _sf_tag(a).isidentifier()


def test_ensure_table_writable_clears_stale_location(spark, tmp_path):
    """A managed location left behind by a killed previous process (the
    in-memory catalog forgets the table, the warehouse directory stays)
    must not brick saveAsTable: ensure_table_writable sweeps it."""
    import os
    from urllib.parse import urlparse

    from _multi_source_retail_data_integration_hub_spark.sources.sinks import (
        ensure_table_writable,
    )

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, "stale_loc_tbl")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk"), "w") as fh:
        fh.write("leftover")

    ensure_table_writable(spark, "stale_loc_tbl")
    try:
        spark.range(3).write.mode("overwrite").saveAsTable("stale_loc_tbl")
        assert spark.table("stale_loc_tbl").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS stale_loc_tbl")


def test_winnow_index_append_reingest_dedup(spark):
    """The MOSS append contract (r12 advice): appending ingest batches
    must keep the match join correct even when a document is
    RE-INGESTED (its (id, fp_hash) rows duplicated across batches) —
    the reader re-distincts, so fp_df and n_shared are computed over
    the logical index, not the physical rows."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = docs.limit(60)
    T.write_winnow_index_bucketed(batch1, "text", "doc_id", "bkt_db.wn_app", n_buckets=8)
    # batch 2 = the rest of the corpus PLUS a re-ingest of batch 1
    T.write_winnow_index_bucketed(docs, "text", "doc_id", "bkt_db.wn_app",
                                  n_buckets=8, mode="append")
    tbl = spark.table("bkt_db.wn_app")
    # physical rows really are duplicated — the scenario is live
    assert tbl.count() > tbl.distinct().count()

    got = {
        tuple(r)
        for r in T.winnowing_matches_from_index(tbl, "doc_id").collect()
    }
    want = {
        tuple(r) for r in T.winnowing_matches(docs, "text", "doc_id").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_band_ingest_appends_per_batch(spark, tmp_path):
    """The q185 ingest path (streaming/jobs.py
    foreach_batch_band_append): a multi-file landing dir streamed one
    file per trigger must (a) genuinely process multiple micro-batches,
    (b) leave the appended band table's reader Exchange-free up to the
    final pair distinct, and (c) produce the identical candidate pair
    set to the in-process melt — including after a REPLAYED batch
    re-appends its rows (at-least-once delivery: bucket sizes inflate,
    the pair set must not)."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T
    from _multi_source_retail_data_integration_hub_spark.streaming import jobs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
    )
    landing = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(landing)

    stream = (
        spark.readStream.schema("id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = jobs.foreach_batch_band_append(
        stream, "bkt_db.stream_bands", checkpoint_dir=str(tmp_path / "cp")
    )
    # (a) one micro-batch per landing file, not one bulk batch
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches == 3, f"expected 3 micro-batches, saw {n_batches}"

    tbl = spark.table("bkt_db.stream_bands")
    assert tbl.count() == docs.count() * 4  # one row per (doc, band)

    sig = T.minhash_signatures(docs, "text", "id")
    want = {(r.id_a, r.id_b) for r in T.lsh_candidate_pairs(sig, "id").collect()}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = T.lsh_candidate_pairs_from_bands(tbl, "id")
        # (b) appended bucket files keep the scan's bucketing: still
        # exactly ONE Exchange (the final pair distinct)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan[:3000]
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == want and len(got) > 0

        # (c) replay: re-append one batch's signatures; pair set unchanged
        T.write_signatures_bucketed(
            sig.limit(40), "bkt_db.stream_bands", mode="append"
        )
        spark.catalog.refreshTable("bkt_db.stream_bands")
        replayed = T.lsh_candidate_pairs_from_bands(
            spark.table("bkt_db.stream_bands"), "id"
        )
        got2 = {(r.id_a, r.id_b) for r in replayed.collect()}
        assert got2 == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_dedup_on_arrival_matches_batch_candidates(spark, tmp_path):
    """The q186 loop (streaming/jobs.py foreach_batch_dedup_on_arrival):
    per micro-batch append-then-probe must (a) process multiple
    genuine micro-batches, and (b) leave a verdict log whose distinct
    equals the BATCH candidate set over the full corpus — the
    arrival-order-independence invariant (each unordered pair logged
    when its later member probes; cap unengaged at this SF)."""
    from _multi_source_retail_data_integration_hub_spark.operators import text as T
    from _multi_source_retail_data_integration_hub_spark.streaming import jobs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
    )
    landing = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(landing)

    stream = (
        spark.readStream.schema("id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = jobs.foreach_batch_dedup_on_arrival(
        stream,
        "bkt_db.arr_bands",
        "bkt_db.arr_pairs",
        checkpoint_dir=str(tmp_path / "cp"),
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches == 3, f"expected 3 micro-batches, saw {n_batches}"

    got = {
        (r.id_a, r.id_b)
        for r in spark.table("bkt_db.arr_pairs").distinct().collect()
    }
    sig = T.minhash_signatures(docs, "text", "id")
    want = {(r.id_a, r.id_b) for r in T.lsh_candidate_pairs(sig, "id").collect()}
    assert got == want and len(got) > 0
    # every logged pair respects the id_a < id_b normalization
    assert all(a < b for a, b in got)
