"""Text-analysis + deduplication operator library (training-data ops).

Everything here is native Column expressions / DataFrame transforms —
no Python UDFs — so shingling, hashing, and signature computation stay
inside whole-stage codegen and scale linearly with input partitions.

Determinism/oracle notes (these ops are differentially tested against
DuckDB, so every primitive is chosen to have an exact SQL twin):
- tokenization: ``split(text, '\\s+')`` == DuckDB ``string_split_regex``
- hashing: ``md5`` (lowercase hex in both engines). MinHash uses the
  *lexicographic min of seeded md5 strings*, a valid permutation-min.
- hex digit -> int via ``locate(ch, '0123456789abcdef') - 1`` ==
  DuckDB ``strpos``.

Scale design: shingle explosion is the only row-multiplying step
(docs x shingles). MinHash aggregates it straight back down with one
partial-agg shuffle (16 ``min`` aggregates computed map-side). The
Jaccard self-join uses an inverted index on shingle — never a cross
join — and drops "stop shingles" whose document frequency exceeds
``max_shingle_df`` so a hot shingle cannot quadratically blow up the
join at 100 TB scale.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization. Trimmed first so edge whitespace yields
    no phantom tokens, and empty/whitespace-only text returns [] —
    split('', ...) would otherwise return [''], giving empty documents
    one phantom token (and n_tokens=1, full diversity credit, an
    ''-vote in simhash...). SQL twins guard the same way:
    CASE WHEN length(trim(text)) > 0 THEN string_split_regex(...)
    ELSE [] END."""
    c = text if isinstance(text, Column) else F.col(text)
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) > 0, F.split(trimmed, r"\s+")).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )


def shingles(toks: Column, k: int = 3) -> Column:
    """k-token shingles as space-joined strings; [] when len(toks) < k."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.expr("CAST(array() AS array<string>)"))


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def _save_bucketed(
    df: DataFrame, table: str, keys: tuple[str, ...], n_buckets: int | None, mode: str
) -> None:
    """Write ``df`` as a table bucketed and sorted by ``keys``.

    An append to an existing table inserts through the table's stored
    bucket spec (``insertInto``), whatever ``n_buckets`` says: Spark
    rejects a ``saveAsTable`` append whose ``bucketBy`` differs from the
    table's. A new table gets ``n_buckets`` buckets, or one per core
    (``defaultParallelism``) when it is None — one read wave, whatever
    the host."""
    spark = df.sparkSession
    if mode == "append" and spark.catalog.tableExists(table):
        df.write.insertInto(table)
        return
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    df.write.mode(mode).bucketBy(n_buckets, *keys).sortBy(*keys).saveAsTable(table)


def write_tokens_bucketed(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    table: str,
    n_buckets: int = 64,
) -> None:
    """Persist the exploded ``(id, token)`` table bucketed (and sorted)
    by ``token``.

    The token twin of ``write_signatures_bucketed`` — the persisted
    form of the ``_doc_tokens`` session table
    (plans/training_data.py ``session_table``): at 100 TB the tokenized corpus is
    written ONCE by the ingestion job, and the whole term-statistics
    family reads it back Exchange-free. ``token`` is the right bucket
    key because every downstream shuffle in that family is term-keyed
    or term-superset-keyed: tf = groupBy(id, token) needs clustering
    only on a SUBSET of its keys (rows sharing (id, token) share
    token), df = groupBy(token) reuses tf's partitioning, and the
    tf ⋈ df join is co-partitioned by construction — so the q47/q122
    TF-IDF/BM25 shape runs with zero Exchange until its final per-doc
    ranking window (tests/test_bucketing.py asserts the plan).
    """
    _save_bucketed(
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")),
        table, ("token",), n_buckets, "overwrite",
    )


# ---------------------------------------------------------------------------
# Hashing primitives
# ---------------------------------------------------------------------------


def seeded_md5(col: Column, seed: int) -> Column:
    """One member of the md5 hash family: md5('<seed>:' || value)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col))


def subsplit_salt(id_col: Column, n_groups: Column) -> Column:
    """Deterministic hot-bucket subsplit group: first 8 hex digits of
    ``seeded_md5(id, 0)`` mod ``n_groups``. The ONE Spark-side source
    of the formula both subsplit guards use (the MinHash path here and
    the embedding path in operators/similarity.py) and that every
    subsplit oracle replays as
    ``CAST('0x' || substr(md5('0:' || id), 1, 8) AS BIGINT) % n`` —
    keep the three in lockstep."""
    return F.pmod(
        F.conv(seeded_md5(id_col.cast("string"), 0).substr(1, 8), 16, 10).cast(
            "bigint"
        ),
        n_groups,
    )


# ---------------------------------------------------------------------------
# Exact / canonical dedup
# ---------------------------------------------------------------------------


def exact_dup_clusters(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts by md5; one row per cluster.

    Columns: text_hash, n_docs, canonical_id (min id).
    One hash-aggregate; at scale this is the cheapest dedup pass and is
    run before any near-dup machinery to shrink the corpus.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonicalized (case/whitespace-insensitive) md5 fingerprint per doc."""
    return df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
    )


WINNOW_POS_SPACE = 1 << 22  # positions per doc the packed key can encode


def winnow_selection(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Distinct winnowing selections per doc: (id, n_grams, fp_key),
    fp_key = hash32 * 2^22 + (2^22 - 1 - pos). See
    ``winnowing_fingerprints`` for the algorithm and determinism notes.
    Exposed so callers can materialize ONE selection and feed it to
    both consumers via their ``selection=`` parameter (at scale the
    selection is the stored artifact; the per-doc summary and the
    match join both derive from it without re-fingerprinting)."""
    toks = tokens(F.col(text_col))
    # the pre-explode length guard and n_grams both come from the CHEAP
    # token split, never from size(shingles(...)) — a filter on the
    # shingle array would be pushed to the scan by
    # InferFiltersFromGenerate and re-evaluate the whole interpreted
    # shingle transform per row (the repetition_signals pathology, which
    # needed a checkpoint; deriving from size(tokens) needs none)
    n_grams = F.size(toks) - F.lit(k - 1)
    # Runtime enforcement of the documented 2^22-grams-per-doc packing
    # contract (r8 advice): a doc with pos0 >= WINNOW_POS_SPACE would
    # drive (WINNOW_POS_SPACE - 1 - pos0) negative and silently bleed
    # into the hash bits. assert_true is woven into the n_grams
    # expression (coalesce of a NULL-on-pass assert) so column pruning
    # can't drop it — one integer comparison per DOC row, pre-explode.
    guard = F.coalesce(
        F.assert_true(
            n_grams <= F.lit(WINNOW_POS_SPACE),
            F.concat(
                F.lit(
                    "winnow_selection: document exceeds 2^22 grams — "
                    "chunk it first (doc_chunks); id="
                ),
                F.col(id_col).cast("string"),
            ),
        ).cast("int"),
        F.lit(0),
    )
    g = df.where(F.size(toks) >= k + w - 1).select(
        F.col(id_col),
        (n_grams + guard).alias("n_grams"),
        F.posexplode(shingles(toks, k)).alias("pos0", "gram"),
    )
    h32 = F.conv(F.md5("gram").substr(1, 8), 16, 10).cast("bigint")
    key = h32 * F.lit(WINNOW_POS_SPACE) + (
        F.lit(WINNOW_POS_SPACE - 1) - F.col("pos0")
    )
    from pyspark.sql import Window  # noqa: PLC0415

    win = Window.partitionBy(id_col).orderBy("pos0").rowsBetween(0, w - 1)
    return (
        g.select(F.col(id_col), "n_grams", "pos0", key.alias("key"))
        .withColumn("fp_key", F.min("key").over(win))
        .where(F.col("pos0") <= F.col("n_grams") - w)
        .select(F.col(id_col), "n_grams", "fp_key")
        .distinct()
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    *,
    selection: DataFrame | None = None,
) -> DataFrame:
    """Winnowed local fingerprints per document (Schleimer, Wilkerson,
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS scheme): hash every k-token gram, slide a
    window of ``w`` consecutive gram hashes, and select each window's
    minimum (rightmost on ties). The selected set is position-robust —
    any shared substring of at least ``w + k - 1`` tokens between two
    documents is guaranteed to share a fingerprint — and its density is
    ~2/(w+1) of the grams, independent of document length.

    Output per doc: ``n_grams``, ``n_windows`` (= n_grams - w + 1),
    ``n_fingerprints`` (distinct selections), ``fp_set_checksum``
    (order-independent integer checksum of the selected (hash, pos)
    set: SUM over distinct packed keys of ``key % 1_000_000_007`` —
    pins the exact fingerprint SET without shipping it). Documents
    with fewer than ``w`` grams (< k + w - 1 tokens) have no full
    window and are excluded by contract.

    Determinism: the argmin-with-rightmost-tie-break is packed into ONE
    bigint — ``hash32 * 2^22 + (2^22 - 1 - pos)`` — so a plain MIN
    window aggregate implements it identically in Spark and DuckDB
    (the registry's packed-argmax convention). hash32 is the first 8
    md5 hex digits, the engine-portable 32-bit hash family used by the
    LSH salts. Positions are capped at 2^22 grams per document by the
    packing (a >4M-token single document should be chunked long before
    fingerprinting; ``doc_chunks`` is the operator for that).

    Scale shape: one gram explode, one per-doc window (partitioned by
    document — parallel across docs, linear within), one distinct, one
    aggregate. Nothing global, nothing quadratic; the fingerprint
    index this feeds (fingerprint -> doc inverted index) is the
    standard copy-detection join (``winnowing_matches``) and stays
    equi-join-shaped. ``selection`` short-circuits the fingerprinting
    with a precomputed ``winnow_selection`` table (k/w are then only
    used for the n_windows arithmetic and must match the selection's).
    """
    selected = (
        selection
        if selection is not None
        else winnow_selection(df, text_col, id_col, k, w)
    )
    return (
        selected.groupBy(id_col, "n_grams")
        .agg(
            F.count("*").cast("bigint").alias("n_fingerprints"),
            F.sum(F.pmod(F.col("fp_key"), F.lit(1_000_000_007)))
            .cast("bigint")
            .alias("fp_set_checksum"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            (F.col("n_grams") - F.lit(w - 1)).cast("bigint").alias("n_windows"),
            "n_fingerprints",
            "fp_set_checksum",
        )
    )


def winnowing_matches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 50,
    *,
    selection: DataFrame | None = None,
) -> DataFrame:
    """Copy-detection pairs from winnowed fingerprints: ``(id_a, id_b,
    n_shared)`` for documents sharing >= ``min_shared`` distinct
    fingerprint HASHES (positions intentionally ignored — a moved
    passage still matches). This is the MOSS match step on top of
    ``winnowing_fingerprints``'s selection.

    Scale shape: the fingerprint -> doc inverted index self-joins on
    the hash — the same never-all-pairs pattern as
    ``ngram_jaccard_pairs``, with the same hot-key guard: fingerprints
    selected by more than ``max_fp_df`` documents are dropped before
    the join (a fingerprint that common is corpus boilerplate, and its
    contribution to any pair's count is the least informative), so the
    join cost is bounded by ``max_fp_df * |index|``. ``selection``
    short-circuits the fingerprinting with a precomputed
    ``winnow_selection`` table.
    """
    selected = (
        selection
        if selection is not None
        else winnow_selection(df, text_col, id_col, k, w)
    )
    sel = selected.select(
        F.col(id_col), F.shiftright("fp_key", 22).alias("fp_hash")
    )
    return winnowing_matches_from_index(
        sel, id_col, min_shared=min_shared, max_fp_df=max_fp_df
    )


def write_winnow_index_bucketed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table: str,
    k: int = 3,
    w: int = 4,
    n_buckets: int = 64,
    mode: str = "overwrite",
    *,
    selection: DataFrame | None = None,
) -> None:
    """Persist the distinct ``(id, fp_hash)`` fingerprint index
    bucketed (and sorted) by ``fp_hash`` — the winnowing member of the
    persisted-bucketed family, and the most literal one: a MOSS-style
    deployment maintains exactly this inverted index, appending each
    ingest batch's fingerprints (``mode="append"`` inserts through the
    stored bucket spec, as in ``write_signatures_bucketed``), and every
    copy-detection pass reads it back. Downstream the DF count, the
    boilerplate guard and the cross-doc self-join are all
    fp_hash-keyed, so ``winnowing_matches_from_index`` runs with one
    Exchange total (the final per-pair count — a different key,
    irreducible).

    Each WRITE is distinct within itself; a re-ingested document
    appended twice would still duplicate (id, fp_hash) rows across
    batches, which is why the reader re-distincts the index before
    counting (r12 advice) — duplicate rows inflate neither fp_df nor
    n_shared."""
    selected = (
        selection
        if selection is not None
        else winnow_selection(df, text_col, id_col, k, w)
    )
    _save_bucketed(
        selected.select(F.col(id_col), F.shiftright("fp_key", 22).alias("fp_hash"))
        .distinct(),
        table, ("fp_hash",), n_buckets, mode,
    )


def winnowing_matches_from_index(
    index: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_fp_df: int = 50,
) -> DataFrame:
    """Copy-detection pairs from an already-built ``(id, fp_hash)``
    index — the persisted-table twin of ``winnowing_matches`` (a thin
    wrapper over this; see ``write_winnow_index_bucketed`` for the
    layout).

    The index is re-distincted here before any counting: appended
    ingest batches (or a re-ingested document) may duplicate
    (id, fp_hash) rows across batches, and duplicates would inflate
    both fp_df (mis-tripping the boilerplate guard) and n_shared. On
    the fp_hash-bucketed table the distinct reuses the scan's
    partitioning (grouping keys are a superset of the bucket key), so
    the Exchange budget is unchanged; the in-process wrapper simply
    stopped pre-distincting (same total work, one owner)."""
    index = index.distinct()
    rare = (
        index.groupBy("fp_hash")
        .agg(F.count("*").alias("fp_df"))
        .where(F.col("fp_df") <= max_fp_df)
        .select("fp_hash")
    )
    indexed = index.join(rare, "fp_hash")
    a = indexed.select(F.col("fp_hash"), F.col(id_col).alias("id_a"))
    b = indexed.select(F.col("fp_hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    max_fp_df: int = 50,
    *,
    selection: DataFrame | None = None,
) -> DataFrame:
    """Duplicated TOKEN SPANS per document from the winnowing
    selection — the span-granularity exact-substring dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022), re-expressed over winnowed fingerprints instead of a
    suffix array: where ``winnowing_matches`` scores document PAIRS,
    this EMITS the duplicated regions so they can be surgically
    removed (``winnow_span_trim``).

    Why the selection suffices (coverage argument): inside any run of
    >= w + k - 1 tokens shared by two documents, the gram-hash
    sequence is identical in both, so every window of ``w`` grams
    fully inside the run selects the SAME gram in both documents (the
    packed-key argmin compares (hash, rightmost-relative-position),
    both identical within the run). The selected positions therefore
    cover every shared run in BOTH documents with gram gaps <= w,
    except for < w grams at each boundary — merging selected
    duplicate positions whose gram gap is <= w chains each run into
    ONE span, leaving at most w + k - 2 < w + k - 1 tokens of the run
    untrimmed at each edge (too short to re-match by the winnowing
    guarantee).

    Keep-first policy (Lee et al. keep one occurrence): for each
    duplicated fingerprint hash the document with the smallest id
    keeps its copy; only positions in HIGHER-id documents are emitted.
    Hashes selected by more than ``max_fp_df`` documents are corpus
    boilerplate and excluded, same guard as ``winnowing_matches``
    (boilerplate stripping is its own upstream operator).

    Output: one row per (document, merged span) — ``span_start`` /
    ``span_end`` (inclusive token offsets, 0-based), ``span_tokens``,
    ``n_fps`` (matched fingerprints merged into the span).

    Scale shape: the selection (linear, per-doc parallel), one
    hash-keyed aggregate for (df, keeper), one equi-join back, one
    per-doc window for the gaps-and-islands merge. Nothing pairwise —
    cost is O(|selection|) regardless of how many document PAIRS share
    a span (the pair-join of ``winnowing_matches`` is not needed to
    locate spans).
    """
    selected = (
        selection
        if selection is not None
        else winnow_selection(df, text_col, id_col, k, w)
    )
    occ = _winnow_occurrences(selected, id_col)
    stats = occ.groupBy("fp_hash").agg(
        F.countDistinct(id_col).alias("fp_df"),
        F.min(id_col).alias("keeper"),
    )
    dup = (
        occ.join(
            stats.where(
                (F.col("fp_df") >= 2) & (F.col("fp_df") <= max_fp_df)
            ),
            "fp_hash",
        )
        .where(F.col(id_col) > F.col("keeper"))
        .select(id_col, "pos0")
        .distinct()
    )
    return _merge_pos_islands(dup, id_col, k, w)


def _winnow_occurrences(selected: DataFrame, id_col: str) -> DataFrame:
    """Unpack a winnowing selection into ``(id, fp_hash, pos0)``
    occurrence rows (the position half of the packed key inverted back
    to a 0-based gram offset)."""
    return selected.select(
        F.col(id_col),
        F.shiftright("fp_key", 22).alias("fp_hash"),
        (
            F.lit(WINNOW_POS_SPACE - 1)
            - F.pmod("fp_key", F.lit(WINNOW_POS_SPACE))
        ).alias("pos0"),
    )


def _merge_pos_islands(
    pos: DataFrame, id_col: str, k: int, w: int
) -> DataFrame:
    """Gaps-and-islands merge of per-doc gram positions into token
    spans: positions whose gram gap is <= w chain into one island
    (winnowing selects at least once per w grams inside a shared run,
    so intra-run gaps never split an island); each island becomes the
    token interval [min pos, max pos + k - 1]."""
    from pyspark.sql import Window  # noqa: PLC0415

    win = Window.partitionBy(id_col).orderBy("pos0")
    flagged = pos.withColumn("_prev", F.lag("pos0").over(win)).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull() | (F.col("pos0") - F.col("_prev") > w),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos0").cast("bigint").alias("span_start"),
            (F.max("pos0") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count("*").cast("bigint").alias("n_fps"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_fps",
        )
    )


def winnow_boilerplate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_df: int = 51,
    *,
    selection: DataFrame | None = None,
) -> DataFrame:
    """Corpus-BOILERPLATE token spans per document — the complement of
    ``winnow_dup_spans``: fingerprint hashes selected by at least
    ``min_df`` documents mark template content (headers, footers,
    navigation chrome, license blurbs — the C4/CCNet boilerplate
    class), and unlike near-dup content it must be removed from EVERY
    document, keeper included. Emitting it as merged spans makes
    ``winnow_span_trim(spans=...)`` the apply step, so the dedup and
    boilerplate pipelines share one selection, one merge operator, and
    one trimmer.

    Pick ``min_df`` one past the dedup cap (``max_fp_df``) and the two
    span sets partition the duplicated-fingerprint mass: df in
    [2, max_fp_df] -> keep-first dedup (q152), df >= min_df ->
    strip-everywhere boilerplate (this operator).

    Output and scale shape are identical to ``winnow_dup_spans``: one
    hash-keyed df aggregate, one equi-join back, one per-doc
    gaps-and-islands window — O(|selection|), never pairwise. The
    hash-df skeleton is the same at 100 TB: the boilerplate table
    (hashes with df >= min_df) is tiny relative to the corpus and the
    join back is vocabulary-keyed.
    """
    selected = (
        selection
        if selection is not None
        else winnow_selection(df, text_col, id_col, k, w)
    )
    occ = _winnow_occurrences(selected, id_col)
    hot = (
        occ.groupBy("fp_hash")
        .agg(F.countDistinct(id_col).alias("fp_df"))
        .where(F.col("fp_df") >= min_df)
        .select("fp_hash")
    )
    pos = occ.join(hot, "fp_hash").select(id_col, "pos0").distinct()
    return _merge_pos_islands(pos, id_col, k, w)


def winnow_span_trim(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    max_fp_df: int = 50,
    *,
    spans: DataFrame | None = None,
    selection: DataFrame | None = None,
) -> DataFrame:
    """Apply ``winnow_dup_spans`` surgically: remove every token
    covered by a duplicated span (keep-first policy — the lowest-id
    document keeps its copy) and rebuild the document from the kept
    tokens. The remove-and-reassemble step of Lee et al.'s
    exact-substring dedup.

    Output per document (ALL documents, trimmed or not): ``n_before``
    (token count), ``n_removed``, ``n_spans``, ``trimmed_md5`` (md5 of
    the kept tokens joined by single spaces — documents fully covered
    by spans hash the empty string). The md5 pins the exact
    reassembled sequence without shipping the text; callers wanting
    the text itself select ``trimmed_text`` before the final
    projection (kept internal here so the oracle hash stays compact).

    Merging already bridges intra-run gaps, so removal can only
    CREATE a new cross-boundary adjacency shorter than w + k - 1
    shared tokens on each side — below the winnowing match guarantee.
    The property tests pin this: post-trim, no w + k - 1-token run of
    a planted duplicate passage survives contiguously.

    Scale shape (r13 restructure, guide §2.3/§2.4): the span table is
    aggregated to ONE row per document — (span array, n_spans) in a
    single aggregation whose grouping key (id) is a superset of the
    islands window's partitioning, so it adds no Exchange — and joined
    back to the corpus once. Token removal then runs entirely per-row
    with array higher-order functions (filter over the positioned
    token array against the doc's span intervals): no covered-position
    explode, no (id, tpos)-keyed anti-join shuffle, no collect_list
    reassembly aggregate. The prior shape paid all three AND computed
    the span pipeline twice (once for covered positions, once for
    per-doc span counts — r13 plan capture: 17 Exchanges, every
    selection consumer duplicated); this one computes it once and
    keeps ~5. Per-row cost is O(tokens x spans-in-doc) with tiny
    constant factors — spans per doc are bounded by the doc's own
    fingerprint count. No pairwise work, no window over the corpus
    population.
    """
    span_df = (
        spans
        if spans is not None
        else winnow_dup_spans(
            df, text_col, id_col, k, w, max_fp_df, selection=selection
        )
    )
    per_doc = span_df.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("_spans"),
        F.count("*").cast("bigint").alias("n_spans"),
    )
    toks = tokens(F.col(text_col))
    joined = df.select(F.col(id_col), toks.alias("_toks")).join(
        per_doc, id_col, "left"
    )
    spans_arr = F.coalesce(
        F.col("_spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    positioned = F.transform(
        F.col("_toks"), lambda t, i: F.struct(i.alias("p"), t.alias("t"))
    )
    kept = F.filter(
        positioned,
        lambda x: ~F.exists(
            spans_arr, lambda sp: (x["p"] >= sp["s"]) & (x["p"] <= sp["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_before"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda x: x["t"]))).alias(
            "trimmed_md5"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH bands
# ---------------------------------------------------------------------------


MINHASH_P = 4294967291  # largest prime < 2^32


def distinct_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """(id, shingle) rows, one per DISTINCT shingle per document.

    Per-doc distinct via ``array_distinct`` BEFORE the explode:
    duplicate (id, shingle) rows can only come from repeats inside one
    document, so this equals DISTINCT — minus the full-width shuffle a
    row-level distinct would cost over the exploded string table.
    Exposed so consumers that need both signatures AND the raw shingle
    sets (q80's estimate-vs-exact audit) tokenize the corpus once and
    share one materialized explode instead of paying it per consumer.
    """
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), shingle_k))
        ).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    band_size: int = 4,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature matrix + LSH band hashes, one row per doc.

    Carter-Wegman hash family over ONE md5 per shingle: the digest's
    two 32-bit halves (a, b) give hash_i = (a + i*b) mod P, an affine
    permutation family over the prime field — so the exploded shingle
    table is hashed once, not ``num_hashes`` times (at corpus scale the
    md5 over text dominates; the affine transforms are integer ALU ops
    inside whole-stage codegen). All mins still land in a single
    partial-aggregating shuffle; max intermediate a + 15*b < 2^36 is
    exact in BIGINT for both Spark and the DuckDB oracle.
    """
    # ``shingles_df`` lets a caller that ALSO needs the raw shingle
    # sets (q80) pass a shared, possibly materialized explode instead
    # of tokenizing the corpus a second time.
    sh = (
        shingles_df
        if shingles_df is not None
        else distinct_shingles(df, text_col, id_col, shingle_k)
    )
    # SQL text, not Column trees: a Column costs a py4j round trip per
    # operator and literal, and this plan is rebuilt per micro-batch
    # and per cold pass (tests/test_training_ops.py bounds the calls)
    base = sh.selectExpr(
        f"`{id_col}`",
        "CAST(conv(substr(md5(shingle), 1, 8), 16, 10) AS BIGINT) AS ha",
        "CAST(conv(substr(md5(shingle), 9, 8), 16, 10) AS BIGINT) AS hb",
    )
    sig = base.groupBy(id_col).agg(*[
        F.expr(f"min(pmod(ha + {s} * hb, {MINHASH_P})) AS mh{s:02d}")
        for s in range(num_hashes)
    ])
    n_bands = num_hashes // band_size
    return sig.selectExpr("*", *[
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * band_size + j:02d}" for j in range(band_size))
        + f")) AS band{b}"
        for b in range(n_bands)
    ])


def _melt_bands(sig: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(id, band_id, bucket) rows — one per (doc, band)."""
    structs = ", ".join(
        f"struct({b} AS band_id, band{b} AS bucket)" for b in range(n_bands)
    )
    return sig.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


def lsh_hot_buckets(
    sig: DataFrame, id_col: str, n_bands: int = 4, max_bucket_size: int = 1000
) -> DataFrame:
    """Audit twin of the cap in ``lsh_candidate_pairs``: the
    (band_id, bucket, bucket_size) rows that the cap drops.

    Run this alongside a capped dedup pass to report HOW MUCH was
    skipped (a dropped-bucket metric for pipeline logs/alerts); at
    100 TB web scale a handful of giant boilerplate buckets is normal,
    millions is a signal the shingling/banding parameters are wrong.
    """
    return (
        _melt_bands(sig, id_col, n_bands)
        .groupBy("band_id", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket_size)
    )


#: default hot-bucket cap for lsh_candidate_pairs; the registered
#: queries' DuckDB oracles apply the SAME cap (plans/training_data.py
#: _per_band_union) so the differential gate stays aligned even on a
#: corpus with genuinely hot buckets
LSH_MAX_BUCKET_SIZE = 1000


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    n_bands: int = 4,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
    hot_bucket_mode: str = "drop",
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Bands are melted to (band_id, bucket) rows so ONE self-equi-join on
    (band_id, bucket) covers all bands — the signature pipeline feeding
    ``sig`` is evaluated per consumer (callers localCheckpoint it), not
    2x per band. Never compares all pairs — cost is Σ bucket_size².

    Hot-bucket guard: real 100 TB web corpora are pathological — millions
    of empty/boilerplate documents share identical band hashes, turning
    one bucket into an m² join key and a straggler task that never
    finishes. Buckets larger than ``max_bucket_size`` are handled per
    ``hot_bucket_mode`` (same count-then-join shape as
    ``ngram_jaccard_pairs``'s stop-shingle DF cap either way):

    - ``"drop"`` (default): hot buckets leave the join entirely. Recall
      impact is limited by construction — a bucket that big is
      overwhelmingly exact duplicates, which the cheaper
      ``exact_dup_clusters`` pass catches first in the curation
      pipeline; near-dup pairs split across several band buckets still
      surface via their other bands.
    - ``"subsplit"``: members of a hot bucket are salted into
      ``ceil(size / max_bucket_size)`` groups (seeded-md5 of the id —
      deterministic, engine-portable) and only within-group pairs
      emit. Join cost for a size-m bucket falls from m² to
      ~m * max_bucket_size (linear in m), at the price of sampling
      ~1/g of the bucket's pairs — partial recall where "drop" has
      none. Use when hot buckets may hold real near-dups (boilerplate
      with small mutations) rather than exact spam clones.

    Measured (q181_lsh_cap_recall, exact-Jaccard ground truth on the
    contested pairs inside cap-exceeding buckets, cap engaged): drop
    keeps ~22% of true contested pairs (those surfacing via another
    sub-cap band), subsplit ~58–62%, at ~m x cap join cost. Drop's
    candidate set is a subset of subsplit's by construction, so
    subsplit recall is never below drop's. Pick "subsplit" whenever
    the corpus has NOT already been exact-deduped upstream.

    Audit what the cap affected with ``lsh_hot_buckets`` (same cap =>
    exactly the guarded buckets). ``max_bucket_size=None`` disables the
    guard (bench-scale audits where output must be the uncapped
    universe).
    """
    melted = _melt_bands(sig, id_col, n_bands)
    return lsh_candidate_pairs_from_bands(
        melted, id_col, max_bucket_size=max_bucket_size, hot_bucket_mode=hot_bucket_mode
    )


def write_signatures_bucketed(
    sig: DataFrame,
    table: str,
    id_col: str = "id",
    n_bands: int = 4,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the melted LSH band table ``(id, band_id, bucket)``
    bucketed (and sorted) by the candidate join keys.

    The 100 TB layout the ``_mutated_sig`` session table stands in for
    (plans/training_data.py ``session_table``): in a real pipeline
    signatures are written ONCE by the ingestion job and every dedup
    pass reads them back — nothing corpus-sized lives in any single
    JVM's heap (SCALE.md r11: the localCheckpointed session tables were
    the binding x64 capacity wall at 16g). Bucketing by
    ``(band_id, bucket)`` makes the read-side candidate stage
    (``lsh_candidate_pairs_from_bands``) entirely Exchange-free up to
    the final pair distinct: the hot-bucket count, the guard join and
    the within-bucket self-join all reuse the scan's hash
    partitioning (tests/test_bucketing.py asserts the plan).

    ``n_buckets`` defaults to one bucket per core
    (``defaultParallelism``, read when the table is created): the
    candidate read is then one wave of tasks. Every bucket beyond that
    adds a task to each read and a file to each append, whatever the
    data size.

    ``mode="append"`` is the per-batch ingest path: each new batch's
    bands are inserted through the existing table's stored bucket spec
    (``n_buckets`` is ignored), so they land in the same bucket hash
    space, history grows in place and the probe/candidate readers keep
    their plan.
    """
    _save_bucketed(
        _melt_bands(sig, id_col, n_bands), table, ("band_id", "bucket"), n_buckets, mode
    )


def lsh_candidate_pairs_from_bands(
    melted: DataFrame,
    id_col: str,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
    hot_bucket_mode: str = "drop",
) -> DataFrame:
    """Candidate pairs from an already-melted ``(id, band_id, bucket)``
    table — the persisted-table twin of ``lsh_candidate_pairs``.

    Value-identical to melting in-process (``lsh_candidate_pairs`` is
    now a thin wrapper over this); the split exists so a table written
    by ``write_signatures_bucketed`` feeds the same guarded join with
    no Exchange and no in-heap signature blocks.
    """
    if hot_bucket_mode not in ("drop", "subsplit"):
        raise ValueError(
            f"hot_bucket_mode must be 'drop' or 'subsplit', got {hot_bucket_mode!r}"
        )
    join_keys = ["band_id", "bucket"]
    if max_bucket_size is not None:
        counts = melted.groupBy("band_id", "bucket").agg(
            F.count("*").alias("bucket_size")
        )
        if hot_bucket_mode == "drop":
            ok = counts.where(F.col("bucket_size") <= max_bucket_size).select(
                "band_id", "bucket"
            )
            melted = melted.join(ok, join_keys)
        else:
            n_groups = F.greatest(
                F.lit(1),
                F.ceil(F.col("bucket_size") / F.lit(max_bucket_size)),
            ).cast("bigint")
            melted = (
                melted.join(counts, join_keys)
                .withColumn("salt", subsplit_salt(F.col(id_col), n_groups))
                .drop("bucket_size")
            )
            join_keys = ["band_id", "bucket", "salt"]
    a = melted.select(F.col(id_col).alias("id_a"), *join_keys)
    b = melted.select(F.col(id_col).alias("id_b"), *join_keys)
    return (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard similarity (inverted-index, no cross join)
# ---------------------------------------------------------------------------


SHINGLE_DF_CAP_FLOOR = 50


def default_shingle_df_cap(n_docs: int) -> int:
    """Corpus-derived stop-shingle DF cap: ``max(50, ceil(sqrt(n)))``.

    Rationale: a shingle shared by f documents contributes f² rows to
    the inverted-index self-join. Capping f at √n bounds each shingle's
    fan-out at n rows, so worst-case join cost is O(#shingles · n) —
    linear in corpus size per shingle — instead of the O(#shingles · n²)
    a fixed cap degrades to as n grows past it. The floor of 50 keeps
    legitimately common shingles (boilerplate headers in a small batch)
    from being dropped in tiny corpora where √n would be single-digit.
    """
    if n_docs <= 0:
        return SHINGLE_DF_CAP_FLOOR
    ceil_sqrt = math.isqrt(int(n_docs) - 1) + 1  # exact ceil(sqrt(n)), no float
    return max(SHINGLE_DF_CAP_FLOOR, ceil_sqrt)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    max_shingle_df: int | None = None,
    max_docs: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct k-shingle sets for all co-shingling pairs.

    Plan: explode distinct shingles -> filter stop-shingles with
    document frequency > ``max_shingle_df`` (quadratic-blowup guard for
    100 TB corpora) -> self-equi-join on shingle (inverted index)
    -> per-pair intersection count -> join per-doc set sizes ->
    jaccard = |I| / (|A| + |B| - |I|). Both intersections AND set sizes
    are computed over the post-filter universe, so the result is exact
    Jaccard of the stop-shingle-free shingle sets (identical docs still
    score 1.0 even when they share dropped hot shingles).

    ``max_shingle_df=None`` (default) derives the cap from the corpus:
    ``default_shingle_df_cap(n) = max(50, ceil(sqrt(n)))`` — the guard
    scales with the data instead of silently degrading past a fixed
    constant (see that function's docstring for the cost bound). The
    derivation costs one count job; pass an explicit cap to skip it.

    Exact all-pairs Jaccard is inherently ~quadratic in co-shingling
    documents — a loud one-line warning is emitted at plan-build time so
    full-corpus callers know to use the MinHash/LSH path
    (``minhash_signatures`` + ``lsh_candidate_pairs``) instead. Pass
    ``max_docs`` to additionally fail fast (same count job) when the
    input exceeds an explicit document budget.
    """
    if max_docs is not None:
        n_docs = df.count()
        if n_docs > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: input has {n_docs} documents, over the "
                f"max_docs budget of {max_docs}. Sample the corpus or use "
                "the LSH candidate path (lsh_candidate_pairs)."
            )
        if max_shingle_df is None:
            # the budget check paid for the count — reuse it
            max_shingle_df = default_shingle_df_cap(n_docs)
    warnings.warn(
        "ngram_jaccard_pairs computes EXACT all-pairs Jaccard: cost grows "
        f"~quadratically with co-shingling documents (stop-shingle DF cap: "
        + (
            f"{max_shingle_df}"
            if max_shingle_df is not None
            else "max(50, ceil(sqrt(n))), derived in-plan"
        )
        + "). For full corpora use minhash_signatures + "
        "lsh_candidate_pairs and exact-verify only the candidates.",
        stacklevel=2,
    )
    # Same shuffle-free per-doc distinct as minhash_signatures (duplicate
    # shingles exist only within a document).
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), shingle_k))).alias("shingle"),
    )
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("doc_freq"))
    if max_shingle_df is not None:
        keep = df_counts.where(F.col("doc_freq") <= max_shingle_df)
    else:
        # Corpus-derived cap WITHOUT a separate count job (r13, guide
        # §1.2/§2.4): f <= max(50, ceil(sqrt(n))) <=> f <= 50 OR
        # (f-1)^2 < n in exact integers — the same formulation the
        # DuckDB oracle replays as a scalar subquery. A 1-row count
        # broadcast-crossed into the DF filter keeps the whole
        # derivation inside ONE job instead of a blocking driver
        # action + a second corpus pass.
        n = df.agg(F.count(F.lit(1)).alias("_n_docs"))
        keep = (
            df_counts.crossJoin(F.broadcast(n))
            .where(
                (F.col("doc_freq") <= F.lit(SHINGLE_DF_CAP_FLOOR))
                | (
                    (F.col("doc_freq") - 1) * (F.col("doc_freq") - 1)
                    < F.col("_n_docs")
                )
            )
            .select("shingle", "doc_freq")
        )
    # `filtered` feeds three consumers (both self-join sides and the
    # set-size aggregate); an eager localCheckpoint materializes the
    # shingle pipeline once instead of per consumer. Unlike persist()
    # (which round 2 leaked — CacheManager entries outlive the caller),
    # checkpoint blocks are reclaimed by the ContextCleaner as soon as
    # the returned DataFrame is garbage-collected.
    filtered = (
        sh.join(keep.select("shingle"), "shingle")
        .select(id_col, "shingle")
        .localCheckpoint(eager=True)
    )
    # set sizes come from the POST-filter universe: intersections are
    # counted over filtered shingles, so sizes must be too, or identical
    # docs sharing a dropped hot shingle would score jaccard < 1. The
    # similarity is exact Jaccard over the reduced (stop-shingle-free)
    # shingle universe.
    sizes = filtered.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = filtered.select(F.col(id_col).alias("id_a"), "shingle")
    b = filtered.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_intersect"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_intersect",
            "size_a",
            "size_b",
            (
                F.col("n_intersect")
                / (F.col("size_a") + F.col("size_b") - F.col("n_intersect"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (16-dimensional, md5-hex-digit projections)
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Per-doc ``bits``-bit SimHash over whitespace tokens.

    Each token votes +1/-1 on bit i according to whether hex digit i of
    md5(token) is >= 8 (an unbiased projection). The doc's bit i is the
    sign of the vote sum; bits pack little-endian into one BIGINT.

    One explode (tokens), then ONE groupBy computing all ``bits`` vote
    sums as conditional aggregates — the same shape as
    ``minhash_signatures``: no bit-position explode (which would
    multiply the token table ``bits``-fold), map-side partial
    aggregation, a single shuffle. Empty documents have no tokens and
    produce no row.

    Per-token work is one conv() string parse per needed 32-bit quarter
    of the digest (2 for the default 16 bits, up to 4 at bits=32),
    materialized as bigints before the aggregate; each bit's vote is
    then a shift+mask ALU op on those bigints — not a substr+conv per
    bit, which round 2 showed costs ~4x at sf0.1 (hex digit i >= 8 <=>
    its nibble's high bit is set).
    """
    if not 1 <= bits <= 32:
        raise ValueError(
            f"simhash supports 1..32 bits (one per md5 hex digit of the "
            f"32-digit digest); got bits={bits}"
        )
    # md5 materialized once per token row (CollapseProject keeps a
    # non-cheap expr referenced twice from being re-inlined), then each
    # needed 8-hex-digit quarter parsed once.
    n_quarters = -(-bits // 8)
    toks = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(F.col(id_col), F.md5("tok").alias("h"))
        .select(
            F.col(id_col),
            *[
                F.conv(F.col("h").substr(1 + 8 * q, 8), 16, 10)
                .cast("bigint")
                .alias(f"v{q}")
                for q in range(n_quarters)
            ],
        )
    )

    def _bit(i: int) -> Column:
        # high bit of hex digit i: digits 8q+1..8q+8 live in quarter vq
        q, j = (i - 1) // 8, (i - 1) % 8 + 1
        return F.shiftright(F.col(f"v{q}"), 35 - 4 * j).bitwiseAND(F.lit(1))

    vote_sums = toks.groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[F.sum(_bit(i)).alias(f"_ones{i}") for i in range(1, bits + 1)],
    )
    # vote sum = 2*ones - n; bit set iff vote sum >= 0
    packed = None
    for i in range(1, bits + 1):
        bit_val = F.when(
            F.col(f"_ones{i}") * 2 >= F.col("_n"), F.lit(2 ** (i - 1)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        packed = bit_val if packed is None else packed + bit_val
    return vote_sums.select(F.col(id_col), packed.alias("simhash"))


def simhash_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str = "simhash",
    bits: int = 32,
    n_bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: ``(id_a, id_b,
    hamming)`` for every pair with ``bit_count(xor) <= hamming_max``.

    The classic banded scheme (Manku/Google): split the ``bits``-bit
    fingerprint into ``n_bands`` contiguous bands; by pigeonhole, any
    pair within Hamming distance ``hamming_max < n_bands`` agrees
    exactly on at least one band, so a per-band bucket equi-join finds
    every such pair — never an all-pairs comparison. Candidates are
    then verified with an exact popcount of the XOR (``F.bit_count``,
    JVM-side), which also filters the band-collision false positives.

    Scale shape: one posexplode (xN_bands), one self-equi-join on
    (band_id, bucket) whose cost is Σ bucket_size², one distinct. The
    fingerprints ride along through the join so verification needs no
    join back to the corpus. Hot buckets (mass-identical boilerplate
    fingerprints) are dropped over ``max_bucket_size`` exactly like
    ``lsh_candidate_pairs``'s "drop" mode and auditable the same way.
    At 100 TB, band width is the recall/cost dial: production SimHash
    uses 64-bit fingerprints with 16-bit bands (65k buckets/band); this
    implementation takes ``bits``/``n_bands`` as parameters and keeps
    the same plan shape at any width ``md5`` can feed (<= 32 here).
    """
    # validate BOTH preconditions before touching sig: callers get the
    # config errors eagerly, not an error from inside the melt
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} must be divisible by n_bands={n_bands}")
    if hamming_max >= n_bands:
        raise ValueError(
            f"hamming_max={hamming_max} needs n_bands > hamming_max "
            f"(got {n_bands}) for the pigeonhole recall guarantee"
        )
    # The melted band table feeds THREE consumers downstream (the
    # bucket-size counts and both self-join sides); left lazy, Catalyst
    # plans the whole signature pipeline (scan -> token explode -> md5
    # -> vote aggregate -> melt) once PER CONSUMER — r13 plan capture
    # showed 4 full corpus scans per simhash_pairs call. One eager
    # localCheckpoint materializes it once (same discipline as
    # ngram_jaccard_pairs' `filtered`); at 100 TB this is 1 corpus
    # scan + 1 signature aggregation instead of 4 (guide §2.4). The
    # persisted-table path (simhash_pairs_from_bands over a bucketed
    # table) is untouched: its scan is already a materialized table.
    melted = _melt_simhash_bands(
        sig, id_col, hash_col, bits, n_bands
    ).localCheckpoint(eager=True)
    return simhash_pairs_from_bands(
        melted,
        id_col,
        n_bands=n_bands,
        hamming_max=hamming_max,
        max_bucket_size=max_bucket_size,
    )


def _melt_simhash_bands(
    sig: DataFrame, id_col: str, hash_col: str, bits: int, n_bands: int
) -> DataFrame:
    """``(id, fp, band_id, bucket)`` rows — one per (doc, band), the
    fingerprint riding along so verification never joins back."""
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} must be divisible by n_bands={n_bands}")
    width = bits // n_bands
    mask = F.lit((1 << width) - 1).cast("bigint")
    return sig.select(
        F.col(id_col),
        F.col(hash_col).cast("bigint").alias("fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col).cast("bigint"), b * width)
                    .bitwiseAND(mask)
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "bucket"),
    )


def write_simhash_bands_bucketed(
    sig: DataFrame,
    table: str,
    id_col: str,
    hash_col: str = "simhash",
    bits: int = 32,
    n_bands: int = 4,
    n_buckets: int = 64,
) -> None:
    """Persist the melted SimHash band table bucketed (and sorted) by
    the candidate join keys — the SimHash member of the
    persisted-bucketed family (``write_signatures_bucketed`` /
    ``write_tokens_bucketed`` / ``write_members_bucketed``): ingest
    writes fingerprint bands once, every dedup pass reads them back
    with the whole candidate stage reusing the scan partitioning."""
    _save_bucketed(
        _melt_simhash_bands(sig, id_col, hash_col, bits, n_bands),
        table, ("band_id", "bucket"), n_buckets, "overwrite",
    )


def simhash_pairs_from_bands(
    melted: DataFrame,
    id_col: str,
    *,
    n_bands: int,
    hamming_max: int = 3,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Verified Hamming pairs from an already-melted
    ``(id, fp, band_id, bucket)`` table — the persisted-table twin of
    ``simhash_pairs`` (a thin wrapper over this). ``n_bands`` is
    REQUIRED and must state the table's ACTUAL banding (the n_bands
    that was passed to ``write_simhash_bands_bucketed``): it exists
    only to enforce the pigeonhole recall precondition
    ``hamming_max < n_bands``, and a default here would let a caller
    reading a coarser-banded table pass validation while silently
    losing the recall guarantee (r12 advice)."""
    if hamming_max >= n_bands:
        raise ValueError(
            f"hamming_max={hamming_max} needs n_bands > hamming_max "
            f"(got {n_bands}) for the pigeonhole recall guarantee"
        )
    if max_bucket_size is not None:
        ok = (
            melted.groupBy("band_id", "bucket")
            .agg(F.count("*").alias("bucket_size"))
            .where(F.col("bucket_size") <= max_bucket_size)
            .select("band_id", "bucket")
        )
        melted = melted.join(ok, ["band_id", "bucket"])
    a = melted.select(
        F.col(id_col).alias("id_a"), F.col("fp").alias("_ha"), "band_id", "bucket"
    )
    b = melted.select(
        F.col(id_col).alias("id_b"), F.col("fp").alias("_hb"), "band_id", "bucket"
    )
    return (
        a.join(b, ["band_id", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_max)
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    base: DataFrame | None = None,
) -> DataFrame:
    """Per-document corpus-LM novelty/surprisal signals — the quality-
    filter family a KenLM perplexity filter belongs to, kept in exact
    integer arithmetic so the DuckDB twin hash-matches bit-for-bit.

    A bigram LM is trained on the corpus itself (history counts
    ``C(w1)`` = token occurrences, bigram counts ``C(w1 w2)``), then
    each document is scored against it:

    - ``n_bigrams``: total bigram occurrences (``n_words - 1``).
    - ``n_novel``: occurrences whose bigram appears exactly ONCE in the
      whole corpus — the document is its sole source (high = novel or
      noisy text; low = templated text the LM has seen elsewhere).
    - ``novelty_ppm``: ``n_novel * 1e6 DIV n_bigrams``.
    - ``surprisal_bits``: Σ over occurrences of ``floor_log2 C(w1) -
      floor_log2 C(w1 w2)`` — the integer quantization of the true
      bigram surprisal ``log2(C(w1)/C(w1 w2))``, exact to within 1
      bit/term. ``floor_log2`` is ``length(bin(x)) - 1`` (bit length),
      pure integer — no libm ``ln`` whose last ulp differs between
      engines, and the SUM is order-independent where a float SUM of
      log-probs is not (registry determinism convention).
    - ``mean_milli_bits``: ``surprisal_bits * 1000 DIV n_bigrams``.

    Scale shape: one bigram explode, a (doc, bigram) pre-aggregation
    (shrinks the join input to distinct bigrams per doc), then TWO
    vocabulary-keyed shuffle equi-joins — against the corpus bigram
    table (this IS the LM at 100 TB, partial-aggregated map-side) and
    against the unigram table on the bigram's first token. The unigram
    leg is deliberately NOT hint-broadcast: at web scale the distinct
    -token vocabulary is 1e8-1e9 rows, past any driver broadcast
    ceiling (session.py's cluster profile caps broadcasts) — AQE still
    picks a broadcast at small scale from runtime sizes, which is the
    correct place for that decision (r8 verdict What's-wrong #1).
    Documents with < 2 tokens have no bigrams and are excluded by
    contract, mirroring ``repetition_signals``.

    ``base`` short-circuits the bigram-array derivation with a
    precomputed ``(id_col, _bigrams)`` frame so callers invoking this
    repeatedly (bench loops, sweeps) can materialize it ONCE under
    their own cache discipline; left to None, the frame is
    localCheckpointed per invocation (lazily) and released only when
    the JVM drops the RDD reference — bound invocations per session
    accordingly.
    """
    if base is None:
        toks = tokens(F.col(text_col))
        base = df.select(
            F.col(id_col), shingles(toks, 2).alias("_bigrams")
        ).where(F.size(toks) >= 2)
        # materialized for the same InferFiltersFromGenerate reason as
        # repetition_signals: keep the shingle transform off the scan
        # filter
        base = base.localCheckpoint(eager=False)
    bgd = (
        base.select(id_col, F.explode("_bigrams").alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count("*").alias("cnt_in_doc"))
        .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
    )
    c_b = bgd.groupBy("bigram").agg(F.sum("cnt_in_doc").alias("c_b"))
    # unigram counts C(w) over ALL token occurrences (every position,
    # matching the oracle's cw CTE), keyed directly as the join column —
    # a plain equi-join key so the planner sees a vocabulary-partitioned
    # shuffle join (or a runtime AQE broadcast when the vocab is tiny)
    c_w = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_w"))
    )
    bit_len = lambda c: F.length(F.bin(c))  # noqa: E731  floor_log2(x) + 1
    scored = (
        bgd.join(c_b, "bigram")
        .join(c_w, "w1")
        .groupBy(id_col)
        .agg(
            F.sum("cnt_in_doc").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.when(F.col("c_b") == 1, F.col("cnt_in_doc")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_novel"),
            F.sum(
                F.col("cnt_in_doc") * (bit_len(F.col("c_w")) - bit_len(F.col("c_b")))
            )
            .cast("bigint")
            .alias("surprisal_bits"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        "n_novel",
        F.expr("n_novel * 1000000 DIV n_bigrams").alias("novelty_ppm"),
        "surprisal_bits",
        F.expr("surprisal_bits * 1000 DIV n_bigrams").alias("mean_milli_bits"),
    )


DSIR_BUCKETS = 4096  # hashed n-gram feature space (bounded by construction)


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    n_buckets: int = DSIR_BUCKETS,
    *,
    base: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR-style importance score against a declared
    target subset (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): hashed bigram features, per-feature
    log-ratio of target-vs-raw probability, summed per document. High
    score = the document's feature profile looks like the target
    distribution — the data-SELECTION family (DSIR, DoReMi, fastText
    quality classifiers), distinct from the dedup and quality-signal
    families already in this module.

    Kept in exact integer arithmetic per the registry determinism
    convention (same ``floor_log2``-via-bit-length quantization as
    ``bigram_surprisal``, exact to 1 bit/term and order-independent
    where a float SUM of log-ratios is not):

    - features: bigrams hashed into ``n_buckets`` buckets via the md5
      cross-engine recipe (first 8 hex digits -> BIGINT -> mod).
    - per-bucket counts ``c_tgt`` (target subset) / ``c_raw`` (whole
      corpus), +1 smoothed so unseen-in-target buckets stay finite.
    - ``score_bits`` = sum over doc features of
      ``cnt * (bit_len(c_tgt+1) - bit_len(c_raw+1))``
      ``+ n_feats * (bit_len(raw_total+1) - bit_len(tgt_total+1))``
      — the integer quantization of ``sum cnt * log2(p_tgt/p_raw)``.
    - ``n_tgt_feats``: feature occurrences whose bucket the target has
      seen at all (model-coverage diagnostic).

    Scale shape: ONE bigram explode feeds both model builds and the
    scoring join; every join is keyed on the bucket id, and the bucket
    tables are bounded by construction (<= ``n_buckets`` rows), so the
    planner broadcasts them from size statistics at any corpus scale —
    no hint needed, and no corpus-cardinality relation ever sits under
    a BroadcastExchange. The totals frame is a 1-row scalar combined
    via the allowlisted 1-row cross-join pattern. Documents with < 2
    tokens have no bigram features and are excluded by contract,
    mirroring ``bigram_surprisal``.

    ``base`` short-circuits the bigram-array derivation with a
    precomputed ``(id_col, _is_tgt, _bigrams)`` frame (rows with < 2
    tokens already excluded, same contract as ``bigram_surprisal``'s
    ``base``) so callers can share ONE materialized bigram table
    between the surprisal and importance scorers instead of
    re-exploding the corpus per scorer. When ``base`` is passed,
    ``df``/``text_col``/``target_pred`` are NOT consulted — the base
    frame already carries the ids, target flags, and bigram arrays.
    """
    if base is None:
        toks = tokens(F.col(text_col))
        base = df.where(F.size(toks) >= 2).select(
            F.col(id_col),
            target_pred.alias("_is_tgt"),
            shingles(toks, 2).alias("_bigrams"),
        )
    bg = (
        base.select(F.col(id_col), "_is_tgt", F.explode("_bigrams").alias("bigram"))
        .select(
            id_col,
            "_is_tgt",
            F.pmod(
                F.conv(F.md5(F.col("bigram")).substr(1, 8), 16, 10).cast("bigint"),
                F.lit(n_buckets),
            ).alias("bkt"),
        )
    )
    # per-(doc, bucket) counts: shrinks every downstream join/agg input
    # to distinct buckets per doc (map-side combined)
    per_doc = bg.groupBy(id_col, F.col("_is_tgt"), F.col("bkt")).agg(
        F.count("*").alias("cnt")
    )
    c_raw = per_doc.groupBy("bkt").agg(F.sum("cnt").alias("c_raw"))
    c_tgt = (
        per_doc.where(F.col("_is_tgt"))
        .groupBy("bkt")
        .agg(F.sum("cnt").alias("c_tgt"))
    )
    totals = c_raw.join(c_tgt, "bkt", "left").agg(
        F.sum("c_raw").cast("bigint").alias("raw_total"),
        F.sum(F.coalesce("c_tgt", F.lit(0))).cast("bigint").alias("tgt_total"),
    )
    bit_len = lambda c: F.length(F.bin(c))  # noqa: E731  floor_log2(x) + 1
    smoothed_tgt = F.coalesce("c_tgt", F.lit(0)) + F.lit(1)
    scored = (
        per_doc.join(c_raw, "bkt")
        .join(c_tgt, "bkt", "left")
        .groupBy(id_col, "_is_tgt")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.sum(F.when(F.col("c_tgt").isNotNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_tgt_feats"),
            F.sum(F.col("cnt") * (bit_len(smoothed_tgt) - bit_len(F.col("c_raw") + 1)))
            .cast("bigint")
            .alias("_ratio_bits"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.col("_is_tgt").alias("is_target"),
        "n_feats",
        "n_tgt_feats",
        (
            F.col("_ratio_bits")
            + F.col("n_feats")
            * (bit_len(F.col("raw_total") + 1) - bit_len(F.col("tgt_total") + 1))
        )
        .cast("bigint")
        .alias("score_bits"),
    )


# ---------------------------------------------------------------------------
# Quality / language heuristics
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "und", "das", "ein"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholder forms
}


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    # lowercased match: sentence-initial 'The'/'El'/'Der' must count as
    # stopword hits (the word lists are lowercase)
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc token statistics (all single-pass column expressions).
    Ratios are NULL for empty documents (0 tokens) instead of raising
    ANSI division-by-zero.

    The token split and the distinct-size/length scalars are projected
    ONCE in a staging select — round 2's per-output-column ``tokens()``
    instances re-ran the regex split up to 4x per row (the q18/q19
    bench regression)."""
    staged = df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("_len"),
        tokens(F.col(text_col)).alias("_t"),
    ).select(
        F.col(id_col),
        F.col("_len"),
        F.size("_t").cast("bigint").alias("_n"),
        F.size(F.array_distinct("_t")).cast("bigint").alias("_nd"),
    )
    nz = F.nullif(F.col("_n"), F.lit(0))
    return staged.select(
        F.col(id_col),
        F.col("_n").alias("n_tokens"),
        F.col("_nd").alias("n_distinct_tokens"),
        F.col("_len").alias("n_chars"),
        # BPE-ish budget estimate: ~4 chars/token on English-like text.
        F.ceil(F.col("_len") / F.lit(4.0)).cast("bigint").alias("n_tokens_bpe_est"),
        (F.col("_nd") / nz).alias("type_token_ratio"),
        ((F.col("_len") - (F.col("_n") - 1)) / nz).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality score in [0,1] + band, per doc.

    Components (each bounded to [0,1], integer counts -> one division,
    so Spark and any SQL twin agree bit-for-bit): length credit
    (chars/500 capped), lexical diversity (distinct/total tokens),
    stopword presence (en stopword ratio scaled by 5, capped).
    """
    staged = df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("_len"),
        tokens(F.col(text_col)).alias("_t"),
    ).select(
        F.col(id_col),
        F.col("_len"),
        F.size("_t").alias("_n"),
        F.size(F.array_distinct("_t")).alias("_nd"),
        _count_in(F.col("_t"), STOPWORDS["en"]).alias("_stop"),
    ).select(
        F.col(id_col),
        (
            (
                F.least(F.col("_len") / F.lit(500.0), F.lit(1.0))
                + F.col("_nd") / F.nullif(F.col("_n"), F.lit(0))
                + F.least(
                    F.col("_stop") / F.nullif(F.col("_n"), F.lit(0)) * 5, F.lit(1.0)
                )
            )
            / 3
        ).alias("_score"),
    )
    score = F.col("_score")
    return staged.select(
        F.col(id_col),
        score.alias("quality_score"),
        F.when(score >= 0.75, "high")
        .when(score >= 0.5, "medium")
        .otherwise("low")
        .alias("quality_band"),
    )


def language_votes(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-profile language ID: argmax of per-language stopword hits.

    Deterministic tie-break: language order en > es > fr > de > zh,
    encoded as a greatest-of-structs comparison both here and in the
    SQL oracle. ``unknown`` when no profile matches at all.
    """
    langs = list(STOPWORDS)
    # token array projected once — five per-language _count_in filters
    # then scan the SAME array instead of re-splitting per language
    scored = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col),
        *[
            _count_in(F.col("_t"), STOPWORDS[lang]).alias(f"hits_{lang}")
            for lang in langs
        ],
    )
    # predicted = first language (in fixed order) achieving the max hits
    max_hits = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):
        pred = F.when(F.col(f"hits_{lang}") == max_hits, F.lit(lang)).otherwise(pred)
    pred = F.when(max_hits > 0, pred).otherwise(F.lit("unknown"))
    return scored.select(F.col(id_col), pred.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def repetition_signals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_bigram_threshold: float = 0.18,
) -> DataFrame:
    """Per-document repetition statistics in the style of the published
    Gopher/MassiveText quality filters (duplicate-word fraction, most-
    frequent-n-gram fraction, duplicate-n-gram fraction) — the standard
    pre-training signal for catching boilerplate and degenerate
    repetition that exact/near dedup misses because it repeats WITHIN a
    document, not across documents.

    Columns: ``n_words``, ``dup_word_frac`` (1 - distinct/total),
    ``top_bigram_frac`` (occurrences of the most frequent bigram /
    total bigrams), ``dup_bigram_frac`` (1 - distinct/total bigrams),
    ``is_repetitive`` (top_bigram_frac > threshold).

    Scale shape: word-level stats are per-row higher-order functions
    (no shuffle); bigram stats explode to (doc, bigram) rows and come
    back down through TWO partial-aggregated shuffles — (doc, bigram)
    counts, then per-doc max/sum. Nothing is quadratic in document
    length (a per-row mode-of-array via HOFs would be O(len²) on long
    documents; the explode path is O(len)). Documents with fewer than
    2 tokens have no bigrams and are excluded by contract.

    Reference analogue: the cleansing/quality stage of the retail ETL
    (/root/reference/etl/transform.py text standardization) generalized
    to corpus-quality signals.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct_words"),
        shingles(toks, 2).alias("_bigrams"),
    ).where(F.col("n_words") >= 2)
    # materialize before the explode: InferFiltersFromGenerate adds a
    # size(_bigrams) > 0 guard whose expression is the WHOLE (interpreted,
    # non-codegen) shingle transform, and predicate pushdown sinks it to
    # the scan — re-evaluating the transform 3x per row on the narrowest
    # stage. Measured 8.3s -> 0.5s at sf0.1 for the explode stage. The
    # materialized projection is id + 2 ints + the bigram array (~corpus
    # bytes), cheap to hold and cheap to recompute on executor loss.
    base = base.localCheckpoint(eager=False)
    bg_counts = (
        base.select(
            id_col, "n_words", "n_distinct_words",
            F.explode("_bigrams").alias("bigram"),
        )
        .groupBy(id_col, "n_words", "n_distinct_words", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    top_frac = F.max("cnt").cast("double") / F.sum("cnt")
    return (
        bg_counts.groupBy(id_col, "n_words", "n_distinct_words")
        .agg(
            top_frac.alias("top_bigram_frac"),
            (F.lit(1.0) - F.count("*").cast("double") / F.sum("cnt")).alias(
                "dup_bigram_frac"
            ),
        )
        .select(
            id_col,
            "n_words",
            (
                F.lit(1.0)
                - F.col("n_distinct_words").cast("double") / F.col("n_words")
            ).alias("dup_word_frac"),
            "top_bigram_frac",
            "dup_bigram_frac",
            (F.col("top_bigram_frac") > top_bigram_threshold).alias(
                "is_repetitive"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Flag corpus documents sharing at least one k-token n-gram with
    an evaluation set — the standard pre-training decontamination pass
    (drop training documents that leak benchmark content).

    Returns one row per contaminated corpus document: ``n_doc_grams``
    (distinct k-grams in the document), ``n_shared_grams`` (of those,
    how many appear anywhere in the eval set), and
    ``contamination_frac`` = shared/total.

    Scale shape: both sides explode to DISTINCT (id, gram) / (gram)
    rows; the probe is a plain equi-join on gram. The eval side is
    deduplicated to one row per gram and broadcast — eval suites are
    small by nature (≪ executor memory) even when the corpus is 100 TB.
    Join output is bounded by the CORPUS gram count (each corpus gram
    matches at most the one deduplicated eval gram), so no hot-key
    quadratic blowup is possible by construction — unlike a doc-doc
    similarity self-join, no cap is needed.
    """
    def grams(df: DataFrame, with_id: bool) -> DataFrame:
        # project the gram array first and materialize it, THEN explode:
        # same InferFiltersFromGenerate trap as repetition_signals — the
        # inferred size()>0 guard would re-evaluate the interpreted
        # shingle transform per row at the scan
        ids = [F.col(id_col)] if with_id else []
        arr = df.select(
            *ids, shingles(tokens(F.col(text_col)), k).alias("_grams")
        ).localCheckpoint(eager=False)
        return arr.select(*ids, F.explode("_grams").alias("gram")).distinct()

    corpus_grams = grams(corpus, with_id=True)
    eval_grams = grams(eval_set, with_id=False)
    per_doc = corpus_grams.groupBy(id_col).agg(
        F.count("*").alias("n_doc_grams")
    )
    shared = (
        corpus_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return shared.join(per_doc, id_col).select(
        id_col,
        "n_doc_grams",
        "n_shared_grams",
        (
            F.col("n_shared_grams").cast("double") / F.col("n_doc_grams")
        ).alias("contamination_frac"),
    )


def lsh_probe_pairs(
    sig_new: DataFrame,
    sig_hist: DataFrame,
    id_col: str,
    n_bands: int = 4,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Incremental-ingest near-dup candidates: (id_new, id_hist) pairs
    where a NEW batch document shares >= 1 LSH band bucket with a
    HISTORY document.

    The ingest-time complement of ``lsh_candidate_pairs`` (which
    compares a corpus against itself): signatures are per-document and
    never expire, so history signatures are computed ONCE and stored;
    each new batch pays signatures for |batch| docs plus a
    batch x history bucket join — never history x history, never a
    full-corpus rescan. With the history melt laid out bucketed on
    (band_id, bucket) the probe is a shuffle-free lookup, the same
    layout trick as the IVF member table
    (operators/similarity.py::write_members_bucketed).

    Hot-bucket guard on the HISTORY side (the unbounded one): buckets
    holding more than ``max_bucket_size`` history docs leave the join
    (drop mode semantics, audit via ``lsh_hot_buckets``); a hot batch
    bucket is bounded by the batch size by construction.
    """
    mn = _melt_bands(sig_new, id_col, n_bands)
    mh = _melt_bands(sig_hist, id_col, n_bands)
    return lsh_probe_pairs_from_bands(mn, mh, id_col, max_bucket_size=max_bucket_size)


def lsh_probe_pairs_from_bands(
    melted_new: DataFrame,
    melted_hist: DataFrame,
    id_col: str,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Probe from already-melted ``(id, band_id, bucket)`` tables — the
    persisted-history form of ``lsh_probe_pairs`` (a thin wrapper over
    this). At ingest time the history side IS the table
    ``write_signatures_bucketed`` maintains: the hot-bucket count and
    the probe join both reuse its scan partitioning, so only the
    (small) batch side shuffles — the history side is never
    re-partitioned, never recomputed and never heap-resident
    (tests/test_bucketing.py asserts the plan).
    """
    mn = melted_new.withColumnRenamed(id_col, "id_new")
    mh = melted_hist.withColumnRenamed(id_col, "id_hist")
    keys = ["band_id", "bucket"]
    if max_bucket_size is not None:
        ok = (
            mh.groupBy(*keys)
            .agg(F.count("*").alias("bucket_size"))
            .where(F.col("bucket_size") <= max_bucket_size)
            .select(*keys)
        )
        mh = mh.join(ok, keys)
    return mn.join(mh, keys).select("id_new", "id_hist").distinct()


# ---------------------------------------------------------------------------
# BPE merge learning (iterative tokenizer induction)
# ---------------------------------------------------------------------------
def bpe_symbolize(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Initial BPE state: each word as a space-joined character
    sequence (``syms``). regexp_replace('(.)', '$1 ') + trim is
    engine-portable (the DuckDB twin writes '\\1' for the same)."""
    return words.withColumn(
        "syms", F.trim(F.regexp_replace(F.col(word_col), "(.)", "$1 "))
    )


def _bpe_merge_syms(syms_arr: Column, a: str, b: str) -> Column:
    """Apply ONE merge rule (a, b) LEFTMOST-NON-OVERLAPPING to a symbol
    array — a per-row fold (``aggregate``), entirely map work. Shared
    by the learning loop and corpus-wide application (bpe_apply_merges).

    Scanning left to right, a merge fires when the accumulator's last
    symbol equals ``a`` and the current symbol equals ``b``; the fired
    merge rewrites the accumulator tail to ``a+b``. Because ``b`` is
    non-empty, len(a+b) > len(a), so a just-merged symbol can never
    itself equal ``a`` — the fold can never re-consume it, which IS the
    non-overlap rule. For a == b this yields merges at even offsets
    from each equal-symbol run start — exactly the run-parity predicate
    of the windowed formulation the DuckDB twins replay (the two forms
    are pinned equal by tests/test_properties.py's pure-Python
    reference and the q137/q141/q174 oracle rows). try_element_at
    returns NULL on the empty accumulator (first element), which makes
    the merge predicate null -> the otherwise-branch appends."""
    return F.aggregate(
        syms_arr,
        F.slice(syms_arr, F.lit(1), F.lit(0)),  # empty array<string>
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_apply_merges(
    words: DataFrame, rules: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Apply an already-learned ordered BPE merge list to a vocabulary
    table — the TOKENIZER-APPLICATION side of bpe_learn_merges
    (encode with the trained vocab, the step every serving/data
    pipeline runs per corpus). Returns (word, syms).

    Scale: the whole K-rule application is ONE per-row projection over
    the DISTINCT-word table (the corpus is reduced to per-doc word
    counts upstream and joined back afterwards) — the K merge folds
    chain inside the row, so there is no shuffle, no per-rule pass,
    and no materialized intermediate at any corpus size; the rule list
    is a tiny constant that lives in the plan itself — nothing is
    collected here."""
    state = bpe_symbolize(words, word_col)
    syms = F.split(F.col("syms"), " ")
    for a, b in rules:
        syms = _bpe_merge_syms(syms, a, b)
    return state.select(
        F.col(word_col).alias("word"), F.concat_ws(" ", syms).alias("syms")
    )


def bpe_learn_merges(words: DataFrame, n_merges: int) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from a weighted
    word table (columns ``word``, ``freq``) — the real iterative
    tokenizer-induction loop (Sennrich et al. 2016), not just one
    pair-count step (that is q112).

    Per iteration: count adjacent symbol pairs weighted by word
    frequency (overlapping occurrences counted, the reference
    convention), pick the argmax with a total-order tie-break
    (count DESC, pair ASC — deterministic across engines and
    partitionings), then apply the merge LEFTMOST-NON-OVERLAPPING.
    The subtlety is equal-symbol runs: merging pair (a,a) in
    "a a a a" must produce "aa aa", not depend on scan direction —
    handled by the left-to-right merge fold (``_bpe_merge_syms``):
    within each maximal run of the same symbol, merges land at the
    even offsets from the run start — the same positions the DuckDB
    twin's gaps-and-islands/run-parity windows select. For a != b
    overlaps are impossible, so every matching position merges.

    Returns one row per learned rule: (merge_rank, pair_a, pair_b,
    pair_count, n_symbols_after) — all integer/string, so the DuckDB
    twin (a generated chain of per-iteration CTEs) is hash-exact.

    Scale: each iteration is one pair-count aggregate (explode +
    partial-agg shuffle) plus a PER-ROW merge-fold projection over
    the VOCABULARY table (|distinct words|, not corpus tokens — the
    corpus is reduced to (word, freq) once upstream); per-iteration
    state is localCheckpoint-truncated like the other fixpoint
    operators (graph.py). The two 1-row collects per
    iteration (argmax + symbol count) are scalars — the same bounded
    contract as the centroid/snapshot collects. Production vocab
    sizes (1e5-1e6 types) hold in one executor's partition shard
    comfortably; K is a small constant (the merge budget).
    """
    spark = words.sparkSession
    state = bpe_symbolize(words).select("word", "freq", "syms").localCheckpoint()
    rules: list[tuple] = []
    for rank in range(1, n_merges + 1):
        l = F.split("syms", " ")
        pairs = state.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    l.alias("a"),
                    F.slice(l, 2, F.greatest(F.size(l) - 1, F.lit(0))).alias("b"),
                )
            ).alias("p"),
        ).where(F.col("p.b").isNotNull())
        best_rows = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: exactly one scalar row
        )
        if not best_rows:
            break  # vocabulary fully merged
        a, b, cnt = best_rows[0]["a"], best_rows[0]["b"], int(best_rows[0]["cnt"])

        state = state.withColumn(
            "syms", F.concat_ws(" ", _bpe_merge_syms(F.split("syms", " "), a, b))
        ).localCheckpoint()
        n_after = int(
            state.agg(
                F.sum(F.col("freq") * F.size(F.split("syms", " ")))
            ).first()[0]
        )
        rules.append((rank, a, b, cnt, n_after))
    return spark.createDataFrame(
        rules,
        "merge_rank long, pair_a string, pair_b string, "
        "pair_count long, n_symbols_after long",
    )


CDC_CHUNK_MOD = 16  # expected chunk length in tokens (boundary rate 1/mod)


def cdc_chunks(
    df: DataFrame, text_col: str, id_col: str, mod: int = CDC_CHUNK_MOD
) -> DataFrame:
    """Content-defined chunking at token granularity (the Rabin/gear
    CDC scheme of dedup storage systems — LBFS, restic, dataset
    versioning): a token STARTS a new chunk when its hash falls in the
    boundary class (``h % mod == 0``), so chunk boundaries depend only
    on content, not position — two documents sharing a long run
    produce byte-identical chunks for the shared interior regardless
    of where the run sits in each document (fixed-size chunking
    q74 loses exactly this alignment). Expected chunk length = mod.

    Emits one row per (doc, chunk): start position, token count, the
    chunk's md5 (over space-joined tokens), and ``chunk_df`` — how
    many chunks corpus-wide share that hash (the dedup-storage
    signal: bytes stored once = sum over distinct hashes).

    Scale shape (r13 restructure, guide §2.3/§2.4): chunking is a
    per-document computation, so it now runs entirely per-row with
    array higher-order functions — boundary positions via one filter
    over the positioned token array, then one chunk struct per
    boundary interval (slice + md5). The chunk rows are emitted by a
    map-side explode: NO corpus-wide token explode shuffle, NO per-doc
    cumulative window, NO collect_list reassembly aggregate (the prior
    shape paid all three). What crosses the wire afterwards is one row
    per CHUNK (expected |tokens| / mod), not one per token — the only
    remaining Exchanges are the chunk_df count aggregate and its join.
    Per-token md5 work is unchanged.
    """
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    # a token STARTS a chunk when its hash is in the boundary class;
    # position 0 additionally starts chunk 0 when it is not itself a
    # boundary (the window formulation's cumulative-sum semantics)
    is_b = lambda t: (  # noqa: E731
        F.pmod(
            F.conv(F.md5(t).substr(1, 8), 16, 10).cast("bigint"), F.lit(mod)
        )
        == 0
    )
    starts = F.filter(
        F.transform(
            F.col("_toks"), lambda t, i: F.struct(i.alias("p"), is_b(t).alias("b"))
        ),
        lambda x: (x["p"] == 0) | x["b"],
    )
    base = base.select(F.col(id_col), "_toks", starts.alias("_starts"))
    # chunk_id = cumulative boundary count at the chunk's start: with a
    # boundary first token the starts array is all boundaries (ids
    # 1..n); otherwise starts[0] is the synthetic chunk 0 (ids 0..n-1)
    first_b = F.element_at(F.col("_starts"), 1)["b"]
    _next = lambda j: F.coalesce(  # noqa: E731  next chunk's start (or doc end)
        # try_: ANSI mode makes a past-the-end element_at THROW; the
        # last chunk's "next start" is deliberately out of bounds
        F.try_element_at(F.col("_starts"), j + F.lit(2))["p"],
        F.size("_toks"),
    )
    chunk_structs = F.transform(
        F.col("_starts"),
        lambda s, j: F.struct(
            (j + F.when(first_b, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("chunk_id"),
            s["p"].cast("bigint").alias("chunk_start"),
            (_next(j) - s["p"]).cast("bigint").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("_toks"), s["p"] + 1, _next(j) - s["p"])
                )
            ).alias("chunk_md5"),
        ),
    )
    per_chunk = base.select(
        F.col(id_col), F.explode(chunk_structs).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.chunk_start").alias("chunk_start"),
        F.col("_c.n_tokens").alias("n_tokens"),
        F.col("_c.chunk_md5").alias("chunk_md5"),
    )
    counts = per_chunk.groupBy("chunk_md5").agg(
        F.count("*").cast("bigint").alias("chunk_df")
    )
    return per_chunk.join(counts, "chunk_md5").select(
        id_col, "chunk_id", "chunk_start", "n_tokens", "chunk_md5", "chunk_df"
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1): the
# published heuristic filter bundle web-scale LLM corpora are gated
# through before training. Each rule is a per-document flag; the
# overall gate is their conjunction. All ratios are integer-exact
# (x100 / ppm with DIV), so the DuckDB twin hash-matches bit-for-bit.
#
# Scale shape: pure per-row projection over the scan — no shuffle, no
# UDF; every expression whole-stage-codegens into the scan projection.
# ---------------------------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_X100 = 300  # mean word length in [3, 10]
GOPHER_MAX_MWL_X100 = 1000
GOPHER_MAX_SYMBOL_X1000 = 100  # (hash + ellipsis) per word <= 0.1
GOPHER_MAX_BULLET_PPM = 900_000  # <= 90% of lines bullet-led
GOPHER_MAX_ELLIPSIS_PPM = 300_000  # <= 30% of lines ellipsis-ended
GOPHER_MIN_ALPHA_PPM = 800_000  # >= 80% of words contain a letter
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Gopher rule metrics + flags + the overall gate.

    Output grain: one row per document with the integer-exact metric
    each rule evaluates, a 0/1 bigint flag per rule, and
    ``passes_gopher`` = conjunction. NULL metrics (empty documents)
    fail their rule — a document with no words has no mean word
    length, and the filter's job is to drop it, not to pass it
    vacuously.
    """
    text = F.col(text_col)
    toks = tokens(text)
    zero = F.lit(0).cast("bigint")
    n_words = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")), zero,
        lambda a, x: a + x,
    )
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("bigint")
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ).cast("bigint")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("*"),
        )
    ).cast("bigint")
    n_ell_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).endswith("..."))
    ).cast("bigint")
    # distinct over LOWERED tokens — 'The' and 'the' are one stopword,
    # not two (the rule needs two DIFFERENT stopwords present)
    n_stop = F.size(
        F.array_distinct(
            F.transform(
                F.filter(toks, lambda t: F.lower(t).isin(*GOPHER_STOPWORDS)),
                F.lower,
            )
        )
    ).cast("bigint")

    m = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_alpha.alias("n_alpha_words"),
        (n_hash.cast("bigint") + (n_ell / 3).cast("bigint")).alias("n_symbols"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ell_lines.alias("n_ellipsis_lines"),
        n_stop.alias("n_stopwords"),
    )
    m = m.select(
        id_col,
        "n_words",
        F.expr("sum_word_len * 100 DIV NULLIF(n_words, 0)").alias("mwl_x100"),
        F.expr("n_alpha_words * 1000000 DIV NULLIF(n_words, 0)").alias(
            "alpha_ppm"
        ),
        F.expr("n_symbols * 1000 DIV NULLIF(n_words, 0)").alias(
            "symbol_x1000"
        ),
        F.expr("n_bullet_lines * 1000000 DIV n_lines").alias("bullet_ppm"),
        F.expr("n_ellipsis_lines * 1000000 DIV n_lines").alias(
            "ellipsis_ppm"
        ),
        "n_stopwords",
    )

    def flag(cond) -> F.Column:
        return F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("bigint")

    flags = m.select(
        id_col,
        "n_words",
        "mwl_x100",
        "alpha_ppm",
        "symbol_x1000",
        "bullet_ppm",
        "ellipsis_ppm",
        "n_stopwords",
        flag(
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (F.col("n_words") <= GOPHER_MAX_WORDS)
        ).alias("f_word_count"),
        flag(
            (F.col("mwl_x100") >= GOPHER_MIN_MWL_X100)
            & (F.col("mwl_x100") <= GOPHER_MAX_MWL_X100)
        ).alias("f_mean_word_len"),
        flag(F.col("alpha_ppm") >= GOPHER_MIN_ALPHA_PPM).alias("f_alpha"),
        flag(F.col("symbol_x1000") <= GOPHER_MAX_SYMBOL_X1000).alias(
            "f_symbol"
        ),
        flag(F.col("bullet_ppm") <= GOPHER_MAX_BULLET_PPM).alias("f_bullet"),
        flag(F.col("ellipsis_ppm") <= GOPHER_MAX_ELLIPSIS_PPM).alias(
            "f_ellipsis"
        ),
        flag(F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS).alias("f_stop"),
    )
    all_flags = (
        F.col("f_word_count")
        * F.col("f_mean_word_len")
        * F.col("f_alpha")
        * F.col("f_symbol")
        * F.col("f_bullet")
        * F.col("f_ellipsis")
        * F.col("f_stop")
    )
    return flags.withColumn("passes_gopher", all_flags.cast("bigint"))


def source_kl_drift(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Per-group unigram KL divergence against the whole corpus — the
    distribution-drift audit a multi-source training mix runs per feed
    (and, re-grouped by snapshot date, per crawl): a source whose token
    distribution diverges from the mix is over/under-represented or
    has changed underneath the pipeline.

    KL(p_group || p_corpus) = sum_t p_gt * log2(p_gt / p_t), computed
    in the registry's exact-integer convention: every log2 is the
    floor_log2-via-bit-length quantization (same scheme as
    bigram_surprisal / dsir_importance), applied to each factor
    SEPARATELY — cnt and total bits subtract instead of multiplying
    into a product that could overflow int64 at corpus scale. The
    result is a whole-bits approximation with order-independent
    integer sums, so Spark and DuckDB hash-match and the number is
    comparable across rounds.

    Scale shape: explode -> (group, token) hash agg with map-side
    partials, token re-agg for corpus counts, one vocabulary-keyed
    shuffle equi-join (AQE may broadcast at small SF; never a forced
    broadcast of a corpus-cardinality table), then a |groups|-row agg.
    """
    bit_len = lambda c: F.length(F.bin(c))  # noqa: E731  floor_log2(x) + 1
    # (group, token) counts feed FOUR consumers (corpus re-agg, per-
    # group totals, the 1-row grand total, and the final join) —
    # materialized once instead of re-running the corpus explode+agg
    # per consumer (r13 plan capture: 4 identical scan->agg subtrees;
    # guide §2.4). At scale this is the persisted term-stats table.
    st = (
        df.select(F.col(group_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count("*").cast("bigint").alias("c_st"))
        .localCheckpoint(eager=True)
    )
    ct = st.groupBy("tok").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    ns = st.groupBy(group_col).agg(
        F.sum("c_st").cast("bigint").alias("n_g"),
        F.count("*").cast("bigint").alias("n_distinct_tokens"),
    )
    nt = st.agg(F.sum("c_st").cast("bigint").alias("n_total"))
    term = F.col("c_st") * (
        (bit_len(F.col("c_st")) - bit_len(F.col("n_g")))
        - (bit_len(F.col("c_t")) - bit_len(F.col("n_total")))
    )
    return (
        st.join(ct, "tok")
        .join(ns, group_col)
        .crossJoin(F.broadcast(nt))  # 1-row scalar, allowlisted
        .groupBy(group_col, "n_g", "n_distinct_tokens")
        .agg(F.sum(term).cast("bigint").alias("kl_bits"))
        .select(
            group_col,
            F.col("n_g").alias("n_tokens"),
            "n_distinct_tokens",
            "kl_bits",
            F.expr("kl_bits * 1000 DIV n_g").alias("mean_milli_bits"),
        )
    )
