"""Unit tests for the training-data operator libraries
(operators/text.py, operators/similarity.py) on tiny in-memory frames.
"""

import math

import pytest
from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.operators import similarity as S
from _multi_source_retail_data_integration_hub_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different tokens here entirely unrelated words now"),
        (5, "a b"),  # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_and_tokens(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(
        T.tokens("text").alias("t"), T.shingles(T.tokens("text"), 3).alias("s")
    ).first()
    assert out.t == ["a", "b", "c", "d"]
    assert out.s == ["a b c", "b c d"]


def test_shingles_short_doc_empty(docs):
    out = (
        docs.where(F.col("doc_id") == 5)
        .select(T.shingles(T.tokens(F.col("text")), 3).alias("s"))
        .first()
    )
    assert out.s == []


def test_exact_dup_clusters(docs):
    clusters = {r.canonical_id: r.n_docs for r in T.exact_dup_clusters(docs, "text", "doc_id").collect()}
    assert clusters[1] == 2  # docs 1 and 2 collapse
    assert clusters[3] == 1
    assert sum(clusters.values()) == 5


def test_fingerprint_normalizes_case_and_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in T.fingerprint(df, "text", "doc_id").collect()}
    assert fps[1] == fps[2] != fps[3]


def test_minhash_identical_docs_share_signature(docs):
    sig = T.minhash_signatures(docs.where(F.col("doc_id") <= 3), "text", "doc_id")
    rows = {r.doc_id: r for r in sig.collect()}
    for s in range(16):
        assert rows[1][f"mh{s:02d}"] == rows[2][f"mh{s:02d}"]
    # near-dup docs share at least one of the 4 LSH bands w.h.p. — but
    # assert only the deterministic part: exact dups share all bands.
    assert all(rows[1][f"band{b}"] == rows[2][f"band{b}"] for b in range(4))


def test_signing_plan_build_stays_cheap(spark, monkeypatch):
    """Building the MinHash signing plan (minhash_signatures +
    _melt_bands) is driver work paid by every streaming micro-batch
    and every cold pass. Built from SQL text it takes ~300 py4j round
    trips; a Column tree, one round trip per operator and literal,
    takes ~2,300. The melted band table keeps its schema."""
    import py4j.clientserver as cs

    small = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "id BIGINT, text STRING")
    send = cs.ClientServerConnection.send_command
    calls = [0]

    def counting(self, command, *args, **kwargs):
        # not counted: memory commands ("m"), the releases of JVM
        # handles that other code dropped, whose timing is the GC's
        calls[0] += not command.startswith("m\n")
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    melted = T._melt_bands(T.minhash_signatures(small, "text", "id"), "id", 4)
    monkeypatch.undo()
    assert calls[0] <= 400, f"{calls[0]} py4j calls to build the signing plan"
    assert [(f.name, f.dataType.simpleString()) for f in melted.schema.fields] == [
        ("id", "bigint"), ("band_id", "int"), ("bucket", "string")
    ]
    assert melted.count() == 2 * 4


def test_lsh_candidates_contain_exact_dup_pair(docs):
    sig = T.minhash_signatures(docs.where(F.col("doc_id") <= 4), "text", "doc_id")
    pairs = {(r.id_a, r.id_b) for r in T.lsh_candidate_pairs(sig, "doc_id").collect()}
    assert (1, 2) in pairs


def test_lsh_hot_bucket_cap_bounds_degenerate_corpus(spark):
    # 10k identical docs: one (band, bucket) key of size 10k per band.
    # Uncapped that is 4 * 10k^2 ≈ 4e8 join rows — a straggler task that
    # never finishes at real scale. The cap must drop those buckets and
    # return quickly with zero pairs (exact dedup catches identical docs
    # far earlier in the curation pipeline).
    n = 10_000
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog").alias("text"),
    )
    sig = T.minhash_signatures(corpus, "text", "doc_id").localCheckpoint()
    assert T.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=100).count() == 0
    hot = T.lsh_hot_buckets(sig, "doc_id", max_bucket_size=100).collect()
    assert len(hot) == 4  # one hot bucket per band
    assert all(r.bucket_size == n for r in hot)


def test_lsh_subsplit_mode_bounded_partial_recall(spark):
    # same degenerate corpus as the drop test: subsplit must emit SOME
    # pairs (partial recall) with join cost ~m*cap per bucket, not m^2
    n = 2_000
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog").alias("text"),
    )
    sig = T.minhash_signatures(corpus, "text", "doc_id").localCheckpoint()
    pairs = T.lsh_candidate_pairs(
        sig, "doc_id", max_bucket_size=100, hot_bucket_mode="subsplit"
    )
    n_pairs = pairs.count()
    assert n_pairs > 0  # partial recall where drop has none
    # 20 salt groups of ~100 -> ~20 * C(100,2) pairs, far below C(2000,2)
    assert n_pairs < n * (n - 1) // 2 / 5
    with pytest.raises(ValueError, match="hot_bucket_mode"):
        T.lsh_candidate_pairs(sig, "doc_id", hot_bucket_mode="nope")


def test_lsh_cap_keeps_small_bucket_pairs(docs):
    # spam flood in its own bucket must not affect pairs from small buckets
    spam = docs.sparkSession.range(500).select(
        (F.col("id") + 100).alias("doc_id"),
        F.lit("buy now limited offer click here today").alias("text"),
    )
    corpus = docs.where(F.col("doc_id") <= 4).union(spam)
    sig = T.minhash_signatures(corpus, "text", "doc_id").localCheckpoint()
    pairs = {(r.id_a, r.id_b) for r in T.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=100).collect()}
    assert (1, 2) in pairs  # exact-dup pair from a size-2 bucket survives
    assert not any(a >= 100 and b >= 100 for a, b in pairs)  # spam pairs dropped
    # uncapped mode still returns the full universe
    uncapped = T.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=None)
    assert uncapped.where((F.col("id_a") >= 100) & (F.col("id_b") >= 100)).count() > 0


def test_ngram_jaccard_values(docs):
    pairs = {
        (r.id_a, r.id_b): r
        for r in T.ngram_jaccard_pairs(docs.where(F.col("doc_id") <= 4), "text", "doc_id").collect()
    }
    exact = pairs[(1, 2)]
    assert exact.jaccard == 1.0 and exact.size_a == exact.size_b == exact.n_intersect
    near = pairs[(1, 3)]
    assert 0.0 < near.jaccard < 1.0
    assert (1, 4) not in pairs  # no shared shingles -> no pair emitted


def test_simhash_deterministic_and_bounded(docs):
    out = {r.doc_id: r.simhash for r in T.simhash(docs, "text", "doc_id").collect()}
    assert out[1] == out[2]
    assert all(0 <= v < 2**16 for v in out.values())


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "aa bb aa")], "doc_id long, text string")
    r = T.token_stats(df, "text", "doc_id").first()
    assert r.n_tokens == 3 and r.n_distinct_tokens == 2
    assert r.n_chars == 8 and r.n_tokens_bpe_est == 2
    assert r.avg_token_len == 2.0


def test_quality_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog ran to a tree"),
         (2, "el la de y que el la de y que")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in T.quality_score(df, "text", "doc_id").collect()}
    assert 0.0 <= q[1].quality_score <= 1.0
    langs = {r.doc_id: r.predicted_lang for r in T.language_votes(df, "text", "doc_id").collect()}
    assert langs[1] == "en" and langs[2] == "es"


# ---------------------------------------------------------------------------
# similarity operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_quantize_and_dot(spark):
    df = spark.createDataFrame([([0.5, -0.25],)], "e array<float>")
    r = df.select(
        S.quantized(F.col("e")).alias("q"),
        S.dot_long(S.quantized(F.col("e")), S.quantized(F.col("e"))).alias("d"),
    ).first()
    assert r.q == [500, -250]
    assert r.d == 500 * 500 + 250 * 250


def test_brute_force_topk_ordering(vecs):
    out = S.brute_force_topk(vecs, vecs.where(F.col("vec_id") == 1), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [2, 3, 4]
    assert rows[0].cos_sim == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), abs=1e-3)
    assert rows[2].cos_sim == pytest.approx(-1.0, abs=1e-6)


def test_lsh_bucket_range_and_self_consistency(vecs):
    out = {r.vec_id: r.bucket for r in S.lsh_buckets(vecs, "embedding", "vec_id").collect()}
    assert all(0 <= b < 2**S.N_PLANES for b in out.values())
    # identical vectors must land in the same bucket
    dup = S.lsh_buckets(
        vecs.union(vecs.withColumn("vec_id", F.col("vec_id") + 10)), "embedding", "vec_id"
    )
    pairs = {r.vec_id: r.bucket for r in dup.collect()}
    for vid in (1, 2, 3, 4):
        assert pairs[vid] == pairs[vid + 10]


def test_lsh_topk_subset_of_exact(vecs):
    # every ANN result must also be a brute-force result when k == corpus
    ann = S.lsh_topk(vecs, vecs.where(F.col("vec_id") == 1), k=4)
    exact = S.brute_force_topk(vecs, vecs.where(F.col("vec_id") == 1), k=4)
    ann_ids = {r.neighbor_id for r in ann.collect()}
    exact_ids = {r.neighbor_id for r in exact.collect()}
    assert ann_ids <= exact_ids


def test_write_training_shards_contract(spark, tmp_path):
    """End-to-end curation sink: shard count tracks rows_per_shard, no
    shard is empty or grossly oversized, chunk hashes are unique, and
    every chunk text is scrubbed of digit runs."""
    import glob

    from pyspark.sql import functions as F

    from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    info = write_training_shards(spark, "/root/testdata/sf0.01", out, rows_per_shard=100)
    assert info["n_chunks"] > 0
    assert info["n_shards"] == -(-info["n_chunks"] // 100)

    back = spark.read.parquet(out)
    assert back.count() == info["n_chunks"]
    # chunk-level dedup held
    assert back.select("chunk_hash").distinct().count() == info["n_chunks"]
    # scrubbed: no digit runs survive in any chunk
    assert back.where(F.col("chunk_text").rlike(r"\d")).count() == 0
    # shard files are balanced: round-robin gives near-equal rows
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == info["n_shards"]
    sizes = [spark.read.parquet(f).count() for f in files]
    assert min(sizes) > 0 and max(sizes) - min(sizes) <= 1


def test_write_training_shards_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir=... swaps localCheckpoint for a durable FS
    checkpoint: identical output contract, checkpoint files on disk."""
    from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    ckpt = tmp_path / "ckpt"
    info = write_training_shards(
        spark, "/root/testdata/sf0.01", out, rows_per_shard=100,
        checkpoint_dir=str(ckpt),
    )
    assert info["n_chunks"] > 0
    assert spark.read.parquet(out).count() == info["n_chunks"]
    assert any(p.is_file() for p in ckpt.rglob("*"))


def test_cms_sketch_properties(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import sketches as SK

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [("d",)] * 1
    occ = spark.createDataFrame(rows, "token string")
    counters = SK.cms_counters(occ, "token")
    # sketch size bounded by depth*width regardless of input
    assert counters.count() <= SK.CMS_DEPTH * SK.CMS_WIDTH
    # weighted build from pre-aggregated counts == per-occurrence build
    import pyspark.sql.functions as F
    tc = occ.groupBy("token").agg(F.count("*").alias("cnt"))
    weighted = SK.cms_counters(tc, "token", weight_col="cnt")
    assert {tuple(r) for r in counters.collect()} == {tuple(r) for r in weighted.collect()}
    # estimates never underestimate, and with 4 tokens in 1024 buckets
    # there are no collisions: estimates are exact
    est = {r.token: r.cms_count for r in SK.cms_estimates(tc, "token", counters).collect()}
    assert est == {"a": 50, "b": 30, "c": 5, "d": 1}


def test_sketch_working_columns_never_collide(spark):
    """Regression pin for the r4 fix (commit 12e20d6): CMS/bloom melt
    helpers originally used bare ``row_id``/``bucket``/``word_idx``
    working columns, which collided when the INPUT frame legitimately
    carried columns of those names (q81's occurrence frame carries a
    ``row_id``; the counter table's public schema is exactly
    (row_id, bucket, counter)).  The helpers now prefix working columns
    with ``__cms_``/``__bf_``; this pins that an input frame carrying
    every public name still sketches and probes correctly."""
    import pyspark.sql.functions as F

    from _multi_source_retail_data_integration_hub_spark.operators import sketches as SK

    rows = [("a",)] * 7 + [("b",)] * 3
    occ = (
        spark.createDataFrame(rows, "token string")
        # poison columns: every public/working-adjacent name the melt
        # could have collided with pre-fix
        .withColumn("row_id", F.lit(99))
        .withColumn("bucket", F.lit(-1))
        .withColumn("counter", F.lit(12345))
        .withColumn("word_idx", F.lit(7))
        .withColumn("word", F.lit(0))
    )
    counters = SK.cms_counters(occ.select("token", "row_id", "bucket"), "token")
    assert set(counters.columns) == {"row_id", "bucket", "counter"}
    est = SK.cms_estimates(
        occ.select("token", "row_id", "counter").distinct(), "token", counters
    )
    got = {(r.token, r.row_id, r.counter): r.cms_count for r in est.collect()}
    # passthrough columns survive untouched; estimates exact (2 tokens,
    # 1024 buckets -> no cell collisions)
    assert got == {("a", 99, 12345): 7, ("b", 99, 12345): 3}

    words = SK.bloom_words(occ.select("token"), "token")
    assert set(words.columns) == {"word_idx", "word"}
    probes = occ.select("token", "word_idx", "word").distinct().union(
        spark.createDataFrame([("zzz-not-inserted", 7, 0)], "token string, word_idx int, word int")
    )
    verdicts = {r.token: r.might_contain for r in SK.bloom_probe(probes, "token", words).collect()}
    assert verdicts["a"] == 1 and verdicts["b"] == 1  # no false negatives, ever


def test_shingle_df_cap_scales_with_corpus(spark):
    """The derived stop-shingle cap max(50, ceil(sqrt(n))) must DROP a
    df=60 boilerplate shingle in a 150-doc corpus (cap 50) but KEEP it
    in a 4000-doc corpus (cap 64): the guard scales with the data."""
    assert T.default_shingle_df_cap(150) == 50       # floor dominates
    assert T.default_shingle_df_cap(4000) == 64      # ceil(sqrt(4000))
    assert T.default_shingle_df_cap(1_000_000) == 1000
    assert T.default_shingle_df_cap(2500) == 50      # sqrt boundary: exact

    def corpus(n_unique):
        sharers = spark.range(60).selectExpr(
            "id AS doc_id", "format_string('common boiler plate x%d', id) AS text"
        )
        unique = spark.range(1000, 1000 + n_unique).selectExpr(
            "id AS doc_id",
            "format_string('u%d v%d w%d', id, id, id) AS text",
        )
        return sharers.union(unique)

    small = T.ngram_jaccard_pairs(corpus(90), "text", "doc_id")     # n=150
    assert small.count() == 0  # boilerplate shingle dropped at cap 50
    big = T.ngram_jaccard_pairs(corpus(3940), "text", "doc_id")     # n=4000
    assert big.count() == 60 * 59 // 2  # kept at cap 64 -> all sharer pairs


def test_simhash_bits_range(docs):
    out32 = {r.doc_id: r.simhash for r in T.simhash(docs, "text", "doc_id", bits=32).collect()}
    assert out32[1] == out32[2]
    assert all(0 <= v < 2**32 for v in out32.values())
    # low 16 bits of the 32-bit signature == the 16-bit signature
    out16 = {r.doc_id: r.simhash for r in T.simhash(docs, "text", "doc_id", bits=16).collect()}
    assert all(out32[k] % 2**16 == out16[k] for k in out16)
    with pytest.raises(ValueError, match="1..32 bits"):
        T.simhash(docs, "text", "doc_id", bits=33)


def test_repetition_signals_flags_degenerate_docs(spark):
    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 20),            # one bigram dominates
            (2, "a b c d e f g h i j k l"),   # all distinct
            (3, "x"),                         # <2 tokens: excluded
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_signals(docs, "text", "doc_id").collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["is_repetitive"] and rows[1]["top_bigram_frac"] > 0.4
    assert not rows[2]["is_repetitive"]
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[1]["dup_word_frac"] > 0.9  # only 2 distinct of 40 words


def test_contamination_overlap_exact_grams(spark):
    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        contamination_overlap,
    )

    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "he saw the quick brown fox run away"),  # shares 4-grams
            (2, "completely different words here entirely now"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_overlap(
            corpus, eval_set, "text", "doc_id", k=4
        ).collect()
    }
    assert set(rows) == {1}  # doc 2 shares nothing -> absent
    # the single shared 4-gram is 'the quick brown fox'
    assert rows[1]["n_shared_grams"] == 1
    assert 0 < rows[1]["contamination_frac"] <= 1.0


def test_sequence_packing_conserves_tokens(spark, monkeypatch):
    """Packing invariants on the real query: token mass is conserved
    across packs per source, pack ids are dense from 0, and every pack
    except a stream's last holds >= PACK_LEN tokens (a doc only opens a
    new pack once the running total has crossed the boundary)."""
    from _multi_source_retail_data_integration_hub_spark.plans import training_data as td

    out = td.q107_sequence_packing(spark, "/root/testdata/sf0.001").collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert by_src, "no packs produced"
    for src, packs in by_src.items():
        ids = [p["pack_id"] for p in packs]
        assert ids == list(range(len(ids))), f"{src}: pack ids not dense: {ids}"
        # every pack that is not the stream's last must have filled past
        # the boundary: its docs' token mass reaches at least PACK_LEN
        # minus the carry-in of a straddler from the previous pack
        total = sum(p["pack_tokens"] for p in packs)
        cum = 0
        for p in packs[:-1]:
            cum += p["pack_tokens"]
            # the next pack's first doc starts at stream offset `cum`,
            # and it landed in pack_id+1 => cum >= (pack_id+1)*PACK_LEN
            assert cum >= (p["pack_id"] + 1) * td.PACK_LEN, (
                f"{src}: pack {p['pack_id']} closed before filling"
            )
        assert total == cum + packs[-1]["pack_tokens"]


def test_snapshot_diff_statuses_partition_the_ids(spark):
    """q108 invariants: the four statuses are disjoint and complete —
    counts reconstruct both snapshot sizes exactly."""
    from _multi_source_retail_data_integration_hub_spark.plans import training_data as td
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    out = {r["status"]: r["n_docs"] for r in td.q108_snapshot_diff(spark, sf).collect()}
    docs = load_table(spark, sf, "documents")
    n_prev = docs.count()
    n_deleted = docs.where("doc_id % 10 = 0").count()
    n_added = docs.where("doc_id % 13 = 0").count()
    # changed docs: rewritten (%7) and still present (%10 != 0)
    n_changed = docs.where("doc_id % 7 = 0 and doc_id % 10 != 0").count()
    assert out.get("deleted", 0) == n_deleted
    assert out.get("added", 0) == n_added
    assert out.get("changed", 0) == n_changed
    assert sum(out.values()) == n_prev + n_added  # full id universe, once each
    assert out.get("unchanged", 0) == n_prev - n_deleted - n_changed


def test_bloom_filter_properties(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import sketches as SK
    import pyspark.sql.functions as F

    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(500)], "item string"
    )
    words = SK.bloom_words(members, "item")
    # filter size bounded by bits/word_bits regardless of input size
    assert words.count() <= SK.BF_BITS // SK.BF_WORD_BITS
    # THE theorem: no false negatives, ever
    probe_in = SK.bloom_probe(members, "item", words)
    assert probe_in.where(F.col("might_contain") == 0).count() == 0
    # false-positive rate bounded: 500 items in 16384 bits / 4 hashes
    # has theoretical FPR ~2e-4; allow 100x headroom
    outsiders = spark.createDataFrame(
        [(f"outsider-{i}",) for i in range(2000)], "item string"
    )
    fp = SK.bloom_probe(outsiders, "item", words).where(
        F.col("might_contain") == 1
    ).count()
    assert fp / 2000 <= 0.02
    # mergeable state: bit_or of two shard filters == filter of union
    a = spark.createDataFrame([(f"member-{i}",) for i in range(250)], "item string")
    b = spark.createDataFrame([(f"member-{i}",) for i in range(250, 500)], "item string")
    merged = (
        SK.bloom_words(a, "item")
        .unionByName(SK.bloom_words(b, "item"))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in words.collect()
    }


def test_bloom_probe_unseen_word_index(spark):
    """A probe item whose bits fall in words the build never wrote must
    read as a miss (LEFT join + coalesce(0)), not vanish from output."""
    from _multi_source_retail_data_integration_hub_spark.operators import sketches as SK

    one = spark.createDataFrame([("only",)], "item string")
    words = SK.bloom_words(one, "item")  # at most 4 word rows
    out = SK.bloom_probe(
        spark.createDataFrame([("only",), ("never-inserted",)], "item string"),
        "item",
        words,
    ).collect()
    got = {r.item: r.might_contain for r in out}
    assert got["only"] == 1
    assert got["never-inserted"] == 0


def test_sketch_helpers_tolerate_colliding_column_names(spark):
    """Probe/build frames that already carry the sketches' public
    column names (row_id/bucket/word_idx/word/mask/bit) must not break
    the internal melt joins."""
    import pyspark.sql.functions as F

    from _multi_source_retail_data_integration_hub_spark.operators import sketches as SK

    occ = spark.createDataFrame(
        [("a", 1, 9), ("a", 2, 9), ("b", 3, 9)], "token string, row_id int, bucket int"
    )
    counters = SK.cms_counters(occ.select("token"), "token")
    est = SK.cms_estimates(occ, "token", counters).collect()
    got = {(r.token, r.row_id): r.cms_count for r in est}
    assert got[("a", 1)] == 2 and got[("b", 3)] == 1

    members = spark.createDataFrame([("m1",), ("m2",)], "item string")
    words = SK.bloom_words(members, "item")
    probes = spark.createDataFrame(
        [("m1", 7, 8), ("nope", 7, 8)], "item string, word_idx int, word int"
    )
    out = {r.item: r.might_contain for r in SK.bloom_probe(probes, "item", words).collect()}
    assert out["m1"] == 1 and out["nope"] == 0


def test_lsh_probe_pairs_ingest_semantics(spark):
    """Incremental ingest probe: a truncated re-ingest finds its
    history original; an unrelated new doc finds nothing; a hot
    history bucket (cap exceeded) leaves the probe join."""
    base = (
        "spark shuffle partition broadcast join aggregate window "
        "catalyst tungsten codegen arrow pandas stream watermark state "
        "checkpoint lineage executor driver stage task"
    )
    hist_rows = [(1, base), (2, "totally different animal words cat dog bird fish " * 3)]
    hist = spark.createDataFrame(hist_rows, "id long, text string")
    new_rows = [
        (101, " ".join(base.split()[:-3])),            # near-dup of 1
        (102, "unrelated quantum entanglement prose physics field theory lattice gauge boson fermion"),
    ]
    new = spark.createDataFrame(new_rows, "id long, text string")
    sig_h = T.minhash_signatures(hist, "text", "id")
    sig_n = T.minhash_signatures(new, "text", "id")
    pairs = {(r.id_new, r.id_hist) for r in T.lsh_probe_pairs(sig_n, sig_h, "id").collect()}
    assert (101, 1) in pairs
    assert all(a != 102 for a, _ in pairs)
    # cap: make history bucket hot by duplicating doc 1 many times
    hot_hist = spark.createDataFrame(
        [(i, base) for i in range(1, 8)], "id long, text string"
    )
    sig_hot = T.minhash_signatures(hot_hist, "text", "id")
    capped = T.lsh_probe_pairs(sig_n, sig_hot, "id", max_bucket_size=3).collect()
    assert capped == []  # every matching bucket holds 7 > 3 history docs


def test_bpe_learn_merges_basic_and_run_parity(spark):
    """BPE merge learning (operators/text.py::bpe_learn_merges):
    argmax with deterministic tie-break, leftmost-non-overlapping
    application, and the equal-symbol run-parity case ('a a a a' with
    pair (a,a) must become 'aa aa', never 'aa a a' or scan-direction
    dependent)."""
    words = spark.createDataFrame(
        [("aaaa", 10), ("aab", 5), ("baaa", 3)], "word string, freq long"
    )
    out = T.bpe_learn_merges(words, 2).collect()
    r1 = out[0]
    # adjacent 'a a' pairs: aaaa has 3, aab 1, baaa 2 -> weighted 30+5+6=41
    assert (r1.pair_a, r1.pair_b, r1.pair_count) == ("a", "a", 41)
    # after merge: aaaa -> 'aa aa' (2 syms), aab -> 'aa b' (2), baaa -> 'b aa a' (3)
    # weighted symbols: 10*2 + 5*2 + 3*3 = 39
    assert r1.n_symbols_after == 39

    # round 2 operates on the POST-merge state: pairs now
    # aaaa: (aa,aa) w10; aab: (aa,b) w5; baaa: (b,aa) w3, (aa,a) w3
    r2 = out[1]
    assert (r2.pair_a, r2.pair_b, r2.pair_count) == ("aa", "aa", 10)
    assert r2.n_symbols_after == 10 * 1 + 5 * 2 + 3 * 3


def test_bpe_apply_merges_order_and_identity(spark):
    """Rule ORDER matters (later rules see earlier merges' output) and
    an empty rule list is the identity symbolization."""
    words = spark.createDataFrame([("abab",), ("ab",)], "word string")
    out = {
        r["word"]: r["syms"]
        for r in T.bpe_apply_merges(words, [("a", "b"), ("ab", "ab")]).collect()
    }
    assert out == {"abab": "abab", "ab": "ab"}
    ident = {
        r["word"]: r["syms"] for r in T.bpe_apply_merges(words, []).collect()
    }
    assert ident == {"abab": "a b a b", "ab": "a b"}


def test_bpe_learn_merges_tie_break_is_lexicographic(spark):
    words = spark.createDataFrame(
        [("xy", 4), ("ab", 4)], "word string, freq long"
    )
    out = T.bpe_learn_merges(words, 1).collect()
    # (a,b) and (x,y) both weigh 4 -> lexicographically smaller pair wins
    assert (out[0].pair_a, out[0].pair_b) == ("a", "b")


def test_mutated_sig_cache_is_scoped_per_sf_dir(spark, tmp_path):
    """The shared signature/pair/label caches key on (session, sf_dir):
    two different corpora must never see each other's frames."""
    import pyspark.sql.functions as F
    from _multi_source_retail_data_integration_hub_spark.plans import (
        training_data as TD,
    )

    for sub, texts in (
        ("a", ["alpha beta gamma delta " * 6]),
        ("b", ["zeta eta theta iota " * 6, "kappa " * 30]),
    ):
        d = str(tmp_path / sub)
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(d + "/documents.parquet")
        # the cache key must distinguish the two dirs
        n = TD._mutated_sig(spark, d).count()
        assert n == TD._mutated(spark, d).count()
    # repeated call returns the SAME cached frame (no recompute)
    d_a = str(tmp_path / "a")
    assert TD._mutated_sig(spark, d_a) is TD._mutated_sig(spark, d_a)


def test_decile_cutpoints_skewed_bin_skips_deciles(spark, tmp_path):
    """q142 (plans/analytics.py): histogram-cutpoint deciles. With 10
    customers all in ONE spend bin plus one outlier, the shared bin's
    cutpoints collapse — everyone in it lands in decile 1, the deciles
    between collapse empty (the documented bin-granularity contract),
    and counts still total the customer population."""
    from _multi_source_retail_data_integration_hub_spark.plans.analytics import (
        q142_decile_cutpoints,
    )

    rows = [(k, 100.0 + k) for k in range(10)]  # all in bin 0 ($10k bins)
    rows.append((99, 90_000.0))  # bin 9
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, ck, amt) for i, (ck, amt) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.parquet(d + "/orders.parquet")
    out = {r["decile"]: r for r in q142_decile_cutpoints(spark, d).collect()}
    assert sum(r["n_customers"] for r in out.values()) == 11
    # bin 0 holds deciles 1..9's cutpoints -> its customers are decile 1
    assert out[1]["n_customers"] == 10
    # the outlier exceeds all 9 cutpoints -> decile 10; 2..9 are empty
    assert set(out) == {1, 10} and out[10]["n_customers"] == 1


def test_clear_session_caches_evicts_and_rematerializes(spark):
    """plans/training_data.py::session_table / clear_session_caches —
    one build per (session, sf_dir, name); the tables must release
    cleanly and rebuild lazily with identical results (r7 advice:
    bounded cache lifetime for long-lived drivers)."""
    import itertools

    from _multi_source_retail_data_integration_hub_spark.plans import (
        training_data as td,
    )

    sf_dir = "/root/testdata/sf0.001"
    before = td._doc_tokens(spark, sf_dir).count()
    assert td._SIG_CACHE, "cache should be populated after first use"
    evicted = td.clear_session_caches()
    assert evicted >= 1
    assert not td._SIG_CACHE
    after = td._doc_tokens(spark, sf_dir).count()
    assert after == before

    build = itertools.count(1).__next__  # the n-th build returns n
    # repeats and a trailing-slash spelling of the directory are hits
    for d in (sf_dir, sf_dir, sf_dir + "/"):
        assert td.session_table(spark, d, "probe", build) == 1
    assert td.session_table(spark, sf_dir, "probe_b", build) == 2
    with pytest.raises(ZeroDivisionError):  # a failing build stores nothing
        td.session_table(spark, sf_dir, "probe_c", lambda: 1 // 0)
    assert td.session_table(spark, sf_dir, "probe_c", build) == 3
    td.clear_session_caches()
    assert td.session_table(spark, sf_dir, "probe", build) == 4
    td.clear_session_caches()


# ---------------------------------------------------------------------------
# simhash_pairs (banded Hamming near-dup join)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hamming_corpus(spark):
    # 30 docs over a small vocabulary: enough fingerprint collisions
    # that genuine Hamming-close pairs exist at 32 bits
    rows = [
        (i, " ".join(["alpha", "beta", "gamma", "delta"][: 2 + i % 3] * (3 + i % 4))
         + f" tail{i % 5}")
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_pairs_equals_bruteforce(hamming_corpus):
    """Pigeonhole recall + exact popcount verify => the banded join is
    EXACT (not approximate) for hamming_max < n_bands when no bucket is
    capped: it must equal the brute-force all-pairs popcount join."""
    sig = T.simhash(hamming_corpus, "text", "doc_id", bits=32)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in T.simhash_pairs(
            sig, "doc_id", bits=32, n_bands=4, hamming_max=3,
            max_bucket_size=None,
        ).collect()
    }
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    assert brute, "fixture must actually produce Hamming<=3 pairs"


def test_simhash_pairs_hot_bucket_drop_is_subset(hamming_corpus):
    sig = T.simhash(hamming_corpus, "text", "doc_id", bits=32)
    full = {
        (r.id_a, r.id_b)
        for r in T.simhash_pairs(
            sig, "doc_id", bits=32, n_bands=4, hamming_max=3,
            max_bucket_size=None,
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in T.simhash_pairs(
            sig, "doc_id", bits=32, n_bands=4, hamming_max=3,
            max_bucket_size=2,
        ).collect()
    }
    assert capped <= full
    assert capped != full  # the tiny cap must actually drop something


def test_simhash_pairs_validation():
    with pytest.raises(ValueError, match="divisible"):
        T.simhash_pairs(None, "doc_id", bits=32, n_bands=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        T.simhash_pairs(None, "doc_id", bits=32, n_bands=4, hamming_max=4)


# ---------------------------------------------------------------------------
# bigram_surprisal (integer corpus-LM novelty/surprisal)
# ---------------------------------------------------------------------------


def test_bigram_surprisal_hand_computed(spark):
    # corpus: C(a)=3 C(b)=3 C(c)=1 C(x)=1; C('a b')=3 C('b a')=1 C('b c')=1
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.bigram_surprisal(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}  # doc 3 has < 2 tokens: excluded by contract
    d1 = out[1]
    # bigrams: 'a b' x2 (C=3, novel no, bits C(a)=2 - bits 3=2 -> 0),
    # 'b a' x1 (C=1, novel, bits C(b)=2 - bits 1=1 -> 1)
    assert (d1.n_bigrams, d1.n_novel, d1.surprisal_bits) == (3, 1, 1)
    assert d1.novelty_ppm == 333333  # 1_000_000 DIV 3
    assert d1.mean_milli_bits == 333
    d2 = out[2]
    # 'a b' (0 bits, not novel), 'b c' (C=1: novel, 2-1=1 bit)
    assert (d2.n_bigrams, d2.n_novel, d2.surprisal_bits) == (2, 1, 1)
    assert d2.novelty_ppm == 500000
    assert d2.mean_milli_bits == 500


def test_bigram_surprisal_no_forced_broadcast(spark):
    """The unigram C(w) table is corpus-vocabulary-sized (1e8-1e9 rows
    at web scale) — it must never sit under a broadcast HINT (the r8
    scale-killer). AQE may still pick a runtime broadcast from actual
    sizes at small sf; what this pins is that the CHOICE stays with
    the planner: no join-strategy hint anywhere in q148's logical
    plan."""
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = T.bigram_surprisal(df, "text", "doc_id")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in analyzed
    assert "ResolvedHint" not in analyzed
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    # both LM legs are plain equi-joins the planner is free to shuffle
    assert "Join Inner" in optimized


def test_bigram_surprisal_repeated_doc_zero_novelty(spark):
    # the same text twice: NO bigram is sole-source, so novelty is 0
    # for both docs and surprisal reflects shared counts
    df = spark.createDataFrame(
        [(1, "p q r"), (2, "p q r")], "doc_id long, text string"
    )
    rows = T.bigram_surprisal(df, "text", "doc_id").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n_novel == 0
        assert r.novelty_ppm == 0


# ---------------------------------------------------------------------------
# winnowing_fingerprints (MOSS local document fingerprints)
# ---------------------------------------------------------------------------


def _winnow_py(text: str, k: int, w: int):
    """Reference implementation straight from the SIGMOD'03 definition:
    every window of w gram-hashes selects its min (rightmost on ties);
    the fingerprint set is the distinct (hash, pos) selections."""
    import hashlib

    toks = text.split()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    if len(grams) < w:
        return None
    hashes = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    sel = set()
    for j in range(len(grams) - w + 1):
        window = hashes[j : j + w]
        m = min(window)
        # rightmost occurrence of the min
        pos = j + max(i for i, h in enumerate(window) if h == m)
        sel.add((hashes[pos], pos))
    return {
        "n_grams": len(grams),
        "n_windows": len(grams) - w + 1,
        "n_fingerprints": len(sel),
        "fp_set_checksum": sum(
            (h * T.WINNOW_POS_SPACE + (T.WINNOW_POS_SPACE - 1 - p)) % 1_000_000_007
            for h, p in sel
        ),
    }


def test_winnowing_matches_bruteforce(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "x x x x x x x x"),  # all grams identical: rightmost tie-break
        (3, "a b c a b c a b c a b"),  # periodic text: repeated hashes
        (4, "one two three four five six"),
        (5, "too short"),  # < k + w - 1 tokens: excluded
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in T.winnowing_fingerprints(df, "text", "doc_id", k=3, w=4).collect()
    }
    expected = {i: _winnow_py(t, 3, 4) for i, t in texts}
    assert set(out) == {i for i, e in expected.items() if e is not None}
    for i, row in out.items():
        e = expected[i]
        got = (row.n_grams, row.n_windows, row.n_fingerprints, row.fp_set_checksum)
        want = (e["n_grams"], e["n_windows"], e["n_fingerprints"], e["fp_set_checksum"])
        assert got == want, f"doc {i}: {got} != {want}"


def test_winnowing_shared_run_guarantees_shared_fingerprint(spark):
    # the winnowing coverage guarantee: two docs sharing a run of
    # >= w + k - 1 tokens share at least one selected (hash) fingerprint
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    df = spark.createDataFrame(
        [
            (1, "unrelated prefix words here " + shared),
            (2, shared + " totally different suffix tokens"),
        ],
        "doc_id long, text string",
    )
    e1 = _winnow_py("unrelated prefix words here " + shared, 3, 4)
    e2 = _winnow_py(shared + " totally different suffix tokens", 3, 4)
    assert e1 and e2
    out = T.winnowing_fingerprints(df, "text", "doc_id", k=3, w=4).collect()
    assert {r.doc_id for r in out} == {1, 2}
    # verify via the reference mirror that the HASH sets overlap
    import hashlib

    def hashes(text):
        toks = text.split()
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        sel = set()
        for j in range(len(grams) - 3):
            window = hs[j : j + 4]
            m = min(window)
            sel.add(m)
        return sel

    assert hashes("unrelated prefix words here " + shared) & hashes(
        shared + " totally different suffix tokens"
    )


def test_winnowing_matches_shared_passage(spark):
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "intro words before " + passage + " and some outro"),
            (2, passage + " entirely different continuation here now"),
            (3, "nothing in common with either document at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in T.winnowing_matches(
            df, "text", "doc_id", k=3, w=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs  # the winnowing coverage guarantee
    assert not any(3 in p for p in pairs)


def test_winnow_selection_pos_space_guard(spark, monkeypatch):
    """The packed-key contract caps documents at 2^22 grams; beyond it
    the position arithmetic would bleed into the hash bits. The guard
    must RAISE, not silently corrupt (r8 advice). Exercised by
    shrinking the pos space rather than building a 4M-token doc."""
    import pytest

    monkeypatch.setattr(T, "WINNOW_POS_SPACE", 8)
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="exceeds 2\\^22 grams|ASSERT"):
        T.winnow_selection(df, "text", "doc_id", k=3, w=4).collect()
    # under the cap: no raise, selection intact
    monkeypatch.setattr(T, "WINNOW_POS_SPACE", 1 << 22)
    assert T.winnow_selection(df, "text", "doc_id", k=3, w=4).count() > 0


def _apply_spans_py(text: str, spans) -> list[str]:
    toks = text.split()
    covered = set()
    for s in spans:
        covered.update(range(s.span_start, s.span_end + 1))
    return [t for i, t in enumerate(toks) if i not in covered]


def _has_shared_run(a_toks: list[str], b_toks: list[str], run: int) -> bool:
    a_runs = {
        tuple(a_toks[i : i + run]) for i in range(len(a_toks) - run + 1)
    }
    return any(
        tuple(b_toks[i : i + run]) in a_runs
        for i in range(len(b_toks) - run + 1)
    )


def test_winnow_dup_spans_planted_passage(spark):
    # doc 1 (lowest id) keeps its copy; doc 2's planted passage is
    # emitted as ONE merged span covering all but < w+k-1 tokens at
    # each edge; unrelated doc 3 emits nothing
    passage = " ".join(f"dup{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, "intro alpha beta " + passage + " outro gamma"),
            (2, "different start words " + passage + " other ending here"),
            (3, "nothing shared with either of the other documents at all"),
        ],
        "doc_id long, text string",
    )
    spans = T.winnow_dup_spans(df, "text", "doc_id", k=3, w=4).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc  # keep-first: the keeper is untouched
    assert 3 not in by_doc
    assert len(by_doc[2]) == 1  # gap<=w merging chains the run into ONE span
    s = by_doc[2][0]
    # doc 2's passage occupies token offsets [3, 32]; the span must sit
    # inside it extended by at most the k-1 gram tail, and leave at most
    # w + k - 2 tokens uncovered at each edge
    k, w = 3, 4
    assert s.span_start >= 3 and s.span_end <= 32 + (k - 1)
    assert s.span_start - 3 <= w + k - 2
    assert 32 - s.span_end <= w + k - 2
    assert s.span_tokens == s.span_end - s.span_start + 1
    assert s.n_fps >= 2


def test_winnow_span_trim_kills_shared_runs(spark):
    # THE dedup guarantee (r8 verdict ask #5): after keep-first span
    # trimming, the trimmed document shares no contiguous run of
    # >= w + k - 1 tokens with the kept document
    k, w = 3, 4
    passage = " ".join(f"p{i}" for i in range(40))
    doc1 = "unique one two three " + passage + " tail x y z"
    doc2 = "other prefix tokens here " + passage + " suffix q r s t"
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    spans = [
        r for r in T.winnow_dup_spans(df, "text", "doc_id", k=k, w=w).collect()
        if r.doc_id == 2
    ]
    assert spans
    trimmed2 = _apply_spans_py(doc2, spans)
    assert not _has_shared_run(doc1.split(), trimmed2, w + k - 1)
    # and the operator's reassembly hash matches the python replay
    import hashlib

    out = {
        r.doc_id: r
        for r in T.winnow_span_trim(df, "text", "doc_id", k=k, w=w).collect()
    }
    assert out[1].n_removed == 0 and out[1].n_spans == 0
    assert out[2].n_spans == len(spans)
    assert out[2].n_before == len(doc2.split())
    assert out[2].n_removed == len(doc2.split()) - len(trimmed2)
    assert (
        out[2].trimmed_md5
        == hashlib.md5(" ".join(trimmed2).encode()).hexdigest()
    )
    assert (
        out[1].trimmed_md5
        == hashlib.md5(" ".join(doc1.split()).encode()).hexdigest()
    )


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_winnow_span_trim_randomized_property(spark, seed):
    # randomized replay of the guarantee: random docs with a random
    # planted shared passage; post-trim no w+k-1 run survives between
    # the trimmed doc and ANY keeper
    import random

    rng = random.Random(seed)
    k, w = 3, 4
    vocab = [f"v{i}" for i in range(200)]
    passage = " ".join(rng.choices(vocab, k=rng.randint(15, 40)))
    docs = []
    for i in range(1, 6):
        body = rng.choices(vocab, k=rng.randint(10, 30))
        cut = rng.randint(0, len(body))
        text = " ".join(body[:cut]) + " " + passage + " " + " ".join(body[cut:])
        docs.append((i, " ".join(text.split())))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = T.winnow_dup_spans(df, "text", "doc_id", k=k, w=w).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    trimmed = {
        i: _apply_spans_py(t, by_doc.get(i, [])) for i, t in docs
    }
    # doc 1 never trims (global keeper of every shared hash it holds)
    for i, t in docs:
        for j, u in docs:
            if j >= i:
                continue
            # trimmed doc i vs ORIGINAL lower-id doc j: no shared run
            assert not _has_shared_run(u.split(), trimmed[i], w + k - 1), (
                f"seed={seed}: trimmed doc {i} still shares a "
                f"{w + k - 1}-run with doc {j}"
            )


def test_winnowing_matches_hot_fingerprint_drop(spark):
    # 60 docs all containing the same passage: its fingerprints have
    # df=60 > max_fp_df=50, so they are dropped and NO pair emits —
    # boilerplate must not quadratically blow up the join
    passage = "common boilerplate header shared by every single document"
    df = spark.createDataFrame(
        [(i, passage + f" unique tail token{i} marker{i} end{i}") for i in range(60)],
        "doc_id long, text string",
    )
    out = T.winnowing_matches(
        df, "text", "doc_id", k=3, w=4, min_shared=1, max_fp_df=50
    )
    assert out.count() == 0


def test_winnow_boilerplate_spans_strip_everywhere(spark):
    # the complement of the drop test above: the df=60 header IS the
    # boilerplate signal — every document (keeper included) gets a span
    # over it, and none over its unique tail
    passage = "common boilerplate header shared by every single document"
    n_head = len(passage.split())  # 9 tokens at offsets [0, 8]
    # tails are unique in EVERY token so no gram crossing the header
    # boundary is hot (a shared word there would extend the hot region)
    docs = [
        (i, passage + " " + " ".join(f"d{i}t{j}" for j in range(7)))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = T.winnow_boilerplate_spans(
        df, "text", "doc_id", k=3, w=4, min_df=51
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(60))  # EVERY doc, keeper included
    k, w = 3, 4
    for i, rows in by_doc.items():
        assert len(rows) == 1
        s = rows[0]
        # span confined to the header (plus the k-1 gram tail may lap
        # at most k-1 tokens into the unique tail via boundary grams —
        # those grams are unique per doc, so they are NOT hot; the
        # span must end within the header's gram range)
        assert s.span_start <= w + k - 2
        assert n_head - 1 - (w + k - 2) <= s.span_end <= n_head - 1
    # composition: the shared trimmer applies boilerplate spans too
    trimmed = {
        r.doc_id: r
        for r in T.winnow_span_trim(
            df,
            "text",
            "doc_id",
            k=3,
            w=4,
            spans=T.winnow_boilerplate_spans(
                df, "text", "doc_id", k=3, w=4, min_df=51
            ),
        ).collect()
    }
    for i, text in docs:
        r = trimmed[i]
        assert r.n_spans == 1
        assert r.n_removed == by_doc[i][0].span_tokens
        # the unique tail always survives
        assert r.n_before - r.n_removed >= 5


# ---------------------------------------------------------------------------
# dsir_importance (DSIR hashed-bigram importance scoring)
# ---------------------------------------------------------------------------


def _dsir_py(docs: dict, target_ids: set, nb: int = T.DSIR_BUCKETS):
    """Reference implementation straight from the operator contract:
    hashed-bigram bucket counts, +1-smoothed floor-log2 target/raw
    ratio (bit_length == length(bin(x)) for x >= 1), totals offset."""
    import hashlib

    feats = {}
    for i, t in docs.items():
        toks = t.split()
        if len(toks) < 2:
            continue
        f: dict = {}
        for a, b in zip(toks, toks[1:]):
            bkt = int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16) % nb
            f[bkt] = f.get(bkt, 0) + 1
        feats[i] = f
    c_raw: dict = {}
    c_tgt: dict = {}
    for i, f in feats.items():
        for b, c in f.items():
            c_raw[b] = c_raw.get(b, 0) + c
            if i in target_ids:
                c_tgt[b] = c_tgt.get(b, 0) + c
    raw_total = sum(c_raw.values())
    tgt_total = sum(c_tgt.values())
    out = {}
    for i, f in feats.items():
        n = sum(f.values())
        n_tgt = sum(c for b, c in f.items() if b in c_tgt)
        score = sum(
            c * ((c_tgt.get(b, 0) + 1).bit_length() - (c_raw[b] + 1).bit_length())
            for b, c in f.items()
        )
        score += n * ((raw_total + 1).bit_length() - (tgt_total + 1).bit_length())
        out[i] = (n, n_tgt, score)
    return out


def test_dsir_importance_matches_pure_python(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown cat naps under the warm sun", "en"),
        (3, "pack my box with five dozen quick brown jugs", "en"),
        (4, "der schnelle braune fuchs springt sehr hoch", "de"),
        (5, "le renard brun rapide saute par dessus", "fr"),
        (6, "the quick brown fox naps under the dog", "de"),
        (7, "zzz", "en"),  # single token: excluded by contract
        (8, "", "fr"),  # empty: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.n_feats, r.n_tgt_feats, r.score_bits, r.is_target)
        for r in T.dsir_importance(
            df, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    docs = {i: t for i, t, _ in rows}
    expected = _dsir_py(docs, {i for i, _, lang in rows if lang == "en"})
    assert set(got) == set(expected)  # 7/8 excluded
    for i, (n, n_tgt, score) in expected.items():
        assert got[i][:3] == (n, n_tgt, score), f"doc {i}"
        assert got[i][3] == (dict((r[0], r[2]) for r in rows)[i] == "en")


def test_dsir_importance_scores_target_like_docs_higher(spark):
    # target profile is 't t' bigrams; doc 20 (non-target text matching
    # the target profile) must outscore doc 21 (bigrams the target has
    # never seen), since only doc 20's buckets have target mass
    rows = [(i, "t t t t t", "en") for i in range(10)] + [
        (20, "t t t t t", "de"),
        (21, "z z z z z", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r.score_bits
        for r in T.dsir_importance(
            df, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    assert got[20] > got[21]


def test_dsir_importance_no_corpus_scale_broadcast_hint(spark):
    """The only broadcast HINT in the DSIR pipeline is the 1-row totals
    scalar; the model tables join hint-free (they are bounded by
    construction at DSIR_BUCKETS rows, so the planner broadcasts them
    from size statistics — the decision stays with the planner)."""
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "b c d", "de")],
        "doc_id long, text string, lang string",
    )
    out = T.dsir_importance(df, "text", "doc_id", F.col("lang") == "en")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # exactly one hint: the totals scalar
    assert analyzed.count("ResolvedHint") + analyzed.count("UnresolvedHint") <= 1


# ---------------------------------------------------------------------------
# cdc_chunks (content-defined chunking)
# ---------------------------------------------------------------------------


def test_cdc_chunks_alignment_property(spark):
    """The CDC guarantee: a shared run produces identical interior
    chunks regardless of its offset in each document — different
    unshared prefixes must not shift the shared chunks' boundaries
    (exactly what fixed-size chunking breaks)."""
    shared = " ".join(f"s{i}" for i in range(64))
    rows = [
        (1, "alpha " + shared),
        (2, "beta gamma delta epsilon zeta " + shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.cdc_chunks(df, "text", "doc_id").collect()
    by_doc = {1: set(), 2: set()}
    for r in out:
        by_doc[r.doc_id].add(r.chunk_md5)
    common = by_doc[1] & by_doc[2]
    # every boundary-delimited interior chunk of the shared run must
    # dedup across the two docs (only the run's head chunk, glued to
    # each doc's distinct prefix, and possibly its open tail differ)
    assert len(common) >= 2
    # and chunk_df reflects it
    assert all(r.chunk_df == 2 for r in out if r.chunk_md5 in common)


def test_cdc_chunks_cover_document_exactly(spark):
    df = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(50)))], "doc_id long, text string"
    )
    out = sorted(T.cdc_chunks(df, "text", "doc_id").collect(),
                 key=lambda r: r.chunk_id)
    assert sum(r.n_tokens for r in out) == 50
    # chunks tile the document: starts are cumulative token counts
    starts = [r.chunk_start for r in out]
    expect, acc = [], 0
    for r in out:
        expect.append(acc)
        acc += r.n_tokens
    assert starts == expect


def test_gopher_rules_flags(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    good = " ".join(
        ["the", "be", "to", "of", "and"] * 2 + [f"word{i}" for i in range(50)]
    )  # 60 words, letters everywhere, stopwords present, mwl in [3,10]
    short = "the of tiny"  # < 50 words
    bullets = "\n".join([f"- item {i} the of and that have with be to" for i in range(10)])
    symbols = " ".join(["##tag#" for _ in range(60)])  # hash-heavy, no stopwords
    rows = [(1, good), (2, short), (3, bullets), (4, symbols), (5, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.gopher_rules(df, "text", "doc_id").collect()}

    g = out[1]
    assert (g.f_word_count, g.f_mean_word_len, g.f_alpha, g.f_symbol) == (1, 1, 1, 1)
    assert (g.f_bullet, g.f_ellipsis, g.f_stop, g.passes_gopher) == (1, 1, 1, 1)

    assert out[2].f_word_count == 0 and out[2].passes_gopher == 0
    # every line bullet-led -> bullet_ppm = 1_000_000 > 900_000 cap
    assert out[3].bullet_ppm == 1_000_000 and out[3].f_bullet == 0
    assert out[3].f_stop == 1  # stopwords present even though bullets fail
    s = out[4]
    assert s.symbol_x1000 == 3000 and s.f_symbol == 0  # 3 hashes per word
    assert s.f_stop == 0 and s.passes_gopher == 0
    e = out[5]  # empty doc: NULL metrics fail, never pass vacuously
    assert e.n_words == 0 and e.mwl_x100 is None
    assert e.f_word_count == 0 and e.f_mean_word_len == 0 and e.passes_gopher == 0


def test_source_kl_drift_zero_and_skew(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    # two equal-size groups with IDENTICAL token distributions: every
    # corpus count is exactly 2x the group count, and floor_log2 is
    # exact on powers of two shifts (bl(2x) = bl(x) + 1), so the
    # quantized KL is exactly 0 — not approximately
    same = [(i, "m", "a b c d") for i in range(10)] + [
        (100 + i, "n", "a b c d") for i in range(10)
    ]
    df = spark.createDataFrame(same, "doc_id long, source string, text string")
    out = {r.source: r for r in T.source_kl_drift(df, "text", "source").collect()}
    assert out["m"].kl_bits == 0 and out["n"].kl_bits == 0
    assert out["m"].n_tokens == 40 and out["m"].n_distinct_tokens == 4

    # a skewed group diverges more than a mix-matching one
    rows = [(i, "base", "a b c d") for i in range(20)] + [
        (200 + i, "skew", "a a a a") for i in range(5)
    ]
    df2 = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out2 = {r.source: r for r in T.source_kl_drift(df2, "text", "source").collect()}
    assert out2["skew"].kl_bits > out2["base"].kl_bits
    assert out2["skew"].mean_milli_bits > 0


def test_gopher_rules_ellipsis_lines(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    body = "the be to of and that have with " + " ".join(
        f"word{i}" for i in range(50)
    )
    # 4 of 10 lines end in '...' -> 400_000 ppm > 300_000 cap
    text = "\n".join([body + ("..." if i < 4 else "") for i in range(10)])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = T.gopher_rules(df, "text", "doc_id").collect()[0]
    assert r.ellipsis_ppm == 400_000 and r.f_ellipsis == 0
    assert r.f_stop == 1 and r.passes_gopher == 0


def test_gopher_stopword_case_variants_count_once(spark):
    from _multi_source_retail_data_integration_hub_spark.operators import text as T

    # 'The' and 'the' are ONE distinct stopword — the rule needs two
    # DIFFERENT stopwords, so this doc must fail f_stop
    df = spark.createDataFrame(
        [(1, "The cat sat and the cat sat"), (2, "The of the Of")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.gopher_rules(df, "text", "doc_id").collect()}
    assert out[1].n_stopwords == 2  # the + and: two distinct words
    assert out[2].n_stopwords == 2 and out[2].f_stop == 1  # the + of
    one = spark.createDataFrame(
        [(3, "The thing the Thing THE")], "doc_id long, text string"
    )
    r3 = T.gopher_rules(one, "text", "doc_id").collect()[0]
    assert r3.n_stopwords == 1 and r3.f_stop == 0


# ---------------------------------------------------------------------------
# synthetic-id offsets on a corpus whose ids pass ID_OFFSET_UNIT
# ---------------------------------------------------------------------------
def test_synthetic_ids_clear_a_corpus_past_the_offset_unit(spark, tmp_path):
    """sf0.001's documents and embeddings plus a copy of every tenth
    row at id + 100000 (documents also get a suffix token), so doc 10
    and doc 100010 both exist and a fixed 100000 offset would collide.
    The derived offset (registry.id_offset) must clear every real id,
    and the queries built on it must still match their oracles."""
    import duckdb

    import __spark_entry__ as entry
    from _multi_source_retail_data_integration_hub_spark.plans import training_data as TD
    from tools.check_oracle import compare, duck_connection

    src = "/root/testdata/sf0.001"
    for table, cols in (
        ("documents", "doc_id + 100000, text || ' tailcopy', lang, source, n_chars + 9"),
        ("embeddings", "vec_id + 100000, embedding, label"),
    ):
        key = cols.split(" ", 1)[0]
        duckdb.sql(
            f"COPY (SELECT * FROM '{src}/{table}.parquet' UNION ALL "
            f"SELECT {cols} FROM '{src}/{table}.parquet' WHERE {key} % 10 = 0) "
            f"TO '{tmp_path}/{table}.parquet' (FORMAT parquet)"
        )
    sf = str(tmp_path)

    for corpus, col in (
        (TD._doubled(spark, sf), "doc_id"),
        (TD._mutated(spark, sf), "id"),
    ):
        assert corpus.where(F.col(col) == 100010).count() == 1
        assert corpus.groupBy(col).count().where("count > 1").count() == 0

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duck_connection(sf)
    for name in (
        "q17_exact_dedup",
        "q21_fingerprint_dedup",
        "q23_minhash_signatures",
        "q37_cosine_neardup",
    ):
        got = queries[name](spark, sf).toPandas()
        assert len(got), name
        assert compare(got, con.execute(oracles[name]).fetchdf()) == [], name


def test_q80_audit_sample_headroom(spark):
    """q80's exact-verify runs on at most AUDIT_MAX_PAIRS candidates
    (r11 x64 finding: unsampled, the audit grew 221x at 64x data).
    The cap must be INACTIVE at driver SFs — assert the candidate
    count sits under a tenth of it at BOTH sf0.01 and sf0.1 (the SF
    the driver actually scores), so registered rows can't silently
    become a sample as the corpus drifts."""
    import os

    from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
        AUDIT_MAX_PAIRS,
        _mutated_lsh_pairs,
    )

    n = _mutated_lsh_pairs(spark, "/root/testdata/sf0.01").count()
    assert 0 < n < AUDIT_MAX_PAIRS / 10
    if os.path.isdir("/root/testdata/sf0.1"):
        n1 = _mutated_lsh_pairs(spark, "/root/testdata/sf0.1").count()
        assert 0 < n1 < AUDIT_MAX_PAIRS / 10


def test_q80_audit_sample_matches_duckdb_replay(spark):
    """Active-cap path of the audit sample: the lowest-md5-K pair
    pick must be engine-identical (the oracle replays ORDER BY
    md5('0:'||id_a||':'||id_b) LIMIT K), and the driver gate never
    exercises it at test SFs — force it on a crafted pair table."""
    import duckdb

    k = 10
    pairs = [(a, b) for a in range(10) for b in range(a + 1, 10)]  # 45 pairs
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b)
        for r in df.orderBy(
            F.md5(
                F.concat(
                    F.lit("0:"),
                    F.col("id_a").cast("string"),
                    F.lit(":"),
                    F.col("id_b").cast("string"),
                )
            )
        )
        .limit(k)
        .collect()
    }
    expect = set(
        duckdb.sql(
            f"""
            SELECT id_a, id_b
            FROM (SELECT UNNEST($1) AS p) t,
                 LATERAL (SELECT p['id_a'] AS id_a, p['id_b'] AS id_b)
            ORDER BY md5('0:' || CAST(id_a AS VARCHAR) || ':'
                          || CAST(id_b AS VARCHAR))
            LIMIT {k}
            """,
            params=[[{"id_a": a, "id_b": b} for a, b in pairs]],
        ).fetchall()
    )
    assert got == expect and len(got) == k


def test_cap_recall_audit_invariants(spark):
    """q181 (drop-vs-subsplit recall at cap engagement): structural
    invariants that hold for ANY corpus — drop's candidate set only
    contains pairs from sub-cap buckets, all of which subsplit also
    keeps (subsplit touches hot buckets only), so caught_drop <=
    caught_subsplit and both recalls sit in [0, 1] with
    recall_drop <= recall_subsplit. Also pins that the audit ENGAGES
    on the mutated corpus (n_true_pairs > 0) — a corpus change that
    silently stops exercising the cap must fail here, not leave the
    recall number vacuously NULL."""
    from _multi_source_retail_data_integration_hub_spark.plans import training_data as td

    row = td.q181_lsh_cap_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_true_pairs > 0, "audit did not engage: no contested true pairs"
    assert 0 <= r.caught_drop <= r.caught_subsplit <= r.n_true_pairs
    assert r.recall_drop is not None and r.recall_subsplit is not None
    assert 0.0 <= r.recall_drop <= r.recall_subsplit <= 1.0
