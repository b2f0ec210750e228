"""Scale rehearsal: run the most expensive queries at a synthetic
multiple of sf0.1 and check for superlinear growth.

The driver ships no SF above 0.1, so this tool manufactures an
approximately-Nx corpus from sf0.1 inside the repo scratch dir
(.scale_tmp/, gitignored): big tables are unioned N times with key
offsets and deterministic perturbation (texts get a per-copy suffix
token, embeddings per-element noise, timestamps per-copy shifts) so
dedup/LSH/bucket structures keep realistic distributions instead of
degenerating into N-times-duplicated buckets (which would inflate
join cost quadratically by construction, not by operator design).

Usage:
    python tools/scale_rehearsal.py [multiplier] [query ...]

Prints a markdown table of sf0.1 vs scaled wall-times and the growth
ratio per query (steady-state: best of 2 runs). Results land in
SCALE.md by hand.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import DataFrame, functions as F  # noqa: E402

from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.sources.testdata import (  # noqa: E402
    TESTDATA_TABLES,
    load_table,
)

BASE_SF = "/root/testdata/sf0.1"
SCRATCH = os.path.join(REPO, ".scale_tmp")

DEFAULT_QUERIES = [
    "q01_monthly_sales_trend",
    "q22_ngram_jaccard",
    "q23_minhash_signatures",
    "q24_lsh_candidates",
    "q25_simhash",
    "q28_ann_lsh_topk",
    "q37_cosine_neardup",
    "q53_dup_clusters",
    "q65_shipping_priority",
    "q66_pricing_summary",
    "q81_heavy_hitters",
    "q82_volume_shipping",
]

KEY_OFFSETS = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
OFF = 10_000_000
# documents get a small per-copy id stride (ids stay dense); the
# queries' synthetic-id offsets (plans/registry.py id_offset) follow
# the scaled corpus's max doc_id, so the ids need no headroom
TABLE_OFF = {"documents": 10_000}


def _copy_variant(
    df: DataFrame, table: str, k: int, doc_group_size: int | None = None
) -> DataFrame:
    if k == 0 and doc_group_size is None:
        return df
    for col in KEY_OFFSETS.get(table, ()):
        df = df.withColumn(col, F.col(col) + F.lit(k * TABLE_OFF.get(table, OFF)))
    if table == "documents":
        if doc_group_size is not None:
            # GROUPED mode (r12 verdict ask #4): the default suffix-only
            # perturbation keeps every copy's INTERIOR k-grams shared by
            # all N copies, so at x64+ every winnow fingerprint's DF
            # blows past the max_fp_df=50 boilerplate cap and the match
            # join vacuously emits 0 pairs. Here copies are split into
            # groups of ``doc_group_size``: a per-GROUP suffix on every
            # token gives each group a disjoint gram universe, so a
            # fingerprint's DF is ~group_size x its base-corpus DF —
            # under the cap when the group is small — while copies
            # WITHIN a group stay genuine near-dups (shared interior,
            # per-copy tail) and the match join has real work at any
            # multiplier.
            gid = k // doc_group_size
            toks = F.split(F.trim("text"), r"\s+")
            df = df.withColumn(
                "text",
                F.concat_ws(
                    " ",
                    F.transform(toks, lambda t: F.concat(t, F.lit(f"_g{gid}"))),
                ),
            )
        # distinct shingle/token universes per copy — near-dup structure
        # stays sparse instead of every doc having N exact clones
        df = df.withColumn("text", F.concat("text", F.lit(f" copytag{k}")))
    if table == "embeddings":
        df = df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: (
                    x.cast("double")
                    + ((F.pmod(F.col("vec_id") * 31 + i * 7 + F.lit(k * 13), 200) - 100)
                       / 500.0)
                ).cast("float"),
            ),
        )
    if table == "events":
        df = df.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k} HOURS"))
    # temporal perturbation must keep the scaled schema IDENTICAL to the
    # base sf: on a DATE-typed generation, +INTERVAL would silently
    # promote to TIMESTAMP and the rehearsal plans would no longer be
    # schema-comparable with the baseline — shift by whole days there
    if table == "orders":
        df = df.withColumn("o_orderdate", _shift_keep_type(df, "o_orderdate", k))
    if table == "lineitem":
        df = df.withColumn("l_shipdate", _shift_keep_type(df, "l_shipdate", k))
    return df


def _shift_keep_type(df: DataFrame, col: str, k: int):
    if dict(df.dtypes)[col] == "date":
        return F.date_add(F.col(col), k)
    return F.col(col) + F.expr(f"INTERVAL {k} HOURS")


def build_scaled(spark, mult: int, doc_group_size: int | None = None) -> str:
    tag = f"sf0.1x{mult}" + (f"g{doc_group_size}" if doc_group_size else "")
    out_dir = os.path.join(SCRATCH, tag)
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for table in TESTDATA_TABLES:
        src = load_table(spark, BASE_SF, table)
        if table in KEY_OFFSETS:
            parts = [
                _copy_variant(src, table, k, doc_group_size) for k in range(mult)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            # several row groups / files so scans split like production
            df.repartition(32).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{table}.parquet")
            )
        else:
            src.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
    open(marker, "w").write("ok")
    return out_dir


def time_query(spark, fn, sf_dir: str, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _parse_spec(spec: str) -> tuple[int, int | None]:
    """``<mult>`` or ``<mult>g<group>`` (``64g8``: groups of 8 for the
    grouped-documents corpus) -> (multiplier, group size or None)."""
    mult, _, group = spec.partition("g")
    return int(mult), (int(group) if group else None)


def main() -> None:
    args = sys.argv[1:]
    mult, group = _parse_spec(args[0] if args else "8")
    names = args[1:] or DEFAULT_QUERIES
    spark = get_spark("scale_rehearsal")
    queries = entrymod.queries()
    scaled_dir = build_scaled(spark, mult, group)
    if names == ["--build-only"]:
        print(f"built {scaled_dir}")
        return

    print(f"\n| query | sf0.1 (s) | sf0.1 x{mult} (s) | ratio | verdict |")
    print("|---|---|---|---|---|")
    for name in names:
        fn = queries[name]
        base = time_query(spark, fn, BASE_SF)
        big = time_query(spark, fn, scaled_dir)
        ratio = big / base if base > 0 else float("inf")
        verdict = "OK (<= ~linear)" if ratio <= mult * 1.3 else "SUPERLINEAR"
        # leading newline: Spark's progress bar leaves the cursor
        # mid-line, which would glue the row onto a stage fragment
        print(
            f"\n| {name} | {base:.2f} | {big:.2f} | {ratio:.1f}x | {verdict} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
