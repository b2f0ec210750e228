"""Driver-contract invariants: the registry must stay fully
oracle-checked (a new query silently registered without a DuckDB twin
downgrades the correctness gate to rows-only — fail here instead)."""

import glob
import os
import re

import pytest

import __spark_entry__ as entry
from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
    TESTDATA_TABLES,
)


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert not missing, f"queries without DuckDB twins: {missing}"
    stale = sorted(set(oracles) - set(qs))
    assert not stale, f"oracles without queries: {stale}"


def test_query_names_follow_convention():
    pat = re.compile(r"^q\d{2,3}_[a-z0-9_]+$")
    bad = [n for n in entry.queries() if not pat.match(n)]
    assert not bad, bad


def test_oracles_reference_only_registered_tables():
    # every FROM/JOIN target must be a testdata view or a CTE defined in
    # the same oracle (the driver registers only TESTDATA_TABLES)
    ident = r"[a-zA-Z_][a-zA-Z0-9_]*"
    for name, sql in entry.oracle_sql().items():
        sql = re.sub(r"--[^\n]*", "", sql)  # strip SQL comments
        # EXTRACT(year FROM expr) is not a relation reference
        sql = re.sub(r"EXTRACT\s*\([^()]*\)", "", sql, flags=re.IGNORECASE)
        ctes = set(re.findall(rf"({ident})\s+AS\s*\(", sql))
        targets = re.findall(
            rf"(?:FROM|JOIN)\s+({ident})\b(?!\s*\.)", sql, flags=re.IGNORECASE
        )
        for t in targets:
            assert (
                t.lower() in TESTDATA_TABLES or t in ctes or t.lower() in ("unnest",)
            ), f"{name}: unknown relation {t!r}"


def test_registry_runs_in_query_number_order():
    """queries() and oracle_sql() share one order: ascending query
    number, so the q000/q997 generation fingerprints bracket the run."""
    names = list(entry.queries())
    assert names == list(entry.oracle_sql())
    assert names[0] == "q000_generation_fingerprint"
    assert names[-1] == "q997_generation_fingerprint_tail"
    nums = [int(n.split("_", 1)[0][1:]) for n in names]
    assert all(a < b for a, b in zip(nums, nums[1:])), "query numbers must increase"


def test_no_oracle_output_binds_to_hugeint():
    """DuckDB promotes SUM(BIGINT) and integer ``//`` to HUGEINT
    (int128), which ``fetchdf()`` renders as float64 while the Spark
    twin emits int64 — the driver's dtype-sensitive value hash then
    fails on exactly-equal values. This was the root cause of EVERY
    driver-red row from rounds 4-7 (q81, q103, q128, q129, q139 and
    all fingerprint guards; see CORRECTNESS_NOTES.md). Bind each
    registered oracle against the real views and reject any output
    column whose DuckDB type is int128 or unsigned, so the class can
    never come back."""
    import os

    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    banned = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}
    offenders = []
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        offenders.extend(
            f"{name}.{col}: {typ}"
            for col, typ in zip(rel.columns, (str(t) for t in rel.types))
            if typ in banned
        )
    assert not offenders, (
        "oracle outputs the driver hash will type-mismatch "
        f"(wrap in CAST(... AS BIGINT)): {offenders}"
    )


def test_broadcast_hints_only_on_bounded_relations():
    """Repo-wide scale rule (r8 verdict What's-wrong #1, generalized in
    r9): a broadcast HINT forces the build side to the driver
    regardless of spark.sql.autoBroadcastJoinThreshold, so it is only
    sound on relations BOUNDED BY CONSTRUCTION — fixed dimensions
    (nation=25, region=5 rows), 1-row scalar aggregates, cutpoint/
    counter/rate tables, literal query batches. Anything whose
    cardinality scales with the corpus or SF (vocabulary tables,
    customer/part/supplier and their subsets, per-key aggregates)
    must be hint-free: the planner/AQE broadcasts it at small scale
    from size statistics and shuffle-joins past the ceiling. This test
    greps every `F.broadcast(` site in the package and fails on any
    identifier not in the justified allowlist below — add a line with
    the boundedness argument or drop the hint."""
    import re
    from pathlib import Path

    allowed = {
        # fixed dimensions / their aliases
        "nation": "25 rows by the data model",
        "region": "5 rows by the data model",
        "ns": "nation alias (supplier side)",
        "nc": "nation alias (customer side)",
        # 1-row scalar aggregates
        "tot": "1-row global total (TPC-H Q11 threshold)",
        "total": "1-row global total",
        "totals": "1-row KPI totals",
        "stats": "1-row corpus stats (n_docs, avgdl)",
        "avg_bal": "1-row average balance (TPC-H Q22)",
        "n": "1-row count",
        "nt": "1-row corpus token total (q170 KL drift)",
        "pop": "1-row population total (q172 k-anonymity)",
        "pairs": "event-type pair table, bounded by |type domain|^2 (q175)",
        "base": "1-row max-surrogate-key scalar (SCD2 insert batch)",
        # bounded lookup/cutpoint/counter tables
        "histogram_bucket_map": "k+1-row cutpoint table by construction",
        "cells": "CMS counter table (depth x width, fixed)",
        "med": "per-event-type medians (bounded by |event types|)",
        "rates": "per-language rates (bounded by |langs|)",
        "avgs": "per-nation averages (25 rows)",
        "touched": "(order_month x status) keys of one CDC batch",
        "wtab": "bloom-filter word table (bounded vocabulary sample)",
        "api_flag": "category-source flags (bounded category list)",
        "retail_flag": "category-source flags (bounded category list)",
        "eval_grams": "eval-suite grams (bounded by the benchmark)",
        "df_counts": "BM25 df restricted to the literal query terms",
        # reference retail data model dims (bounded by the source feed)
        "dim_customer": "reference retail dim, bounded by source CSV",
        "dim_date": "calendar dim",
        "dim_category": "reference category list",
    }
    pkg = Path(__file__).resolve().parents[1] / (
        "_multi_source_retail_data_integration_hub_spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        for m in re.finditer(r"F\.broadcast\(\s*(\w+)", py.read_text()):
            if m.group(1) not in allowed:
                offenders.append(f"{py.name}: F.broadcast({m.group(1)}...)")
    assert not offenders, (
        "broadcast hint on a relation not in the bounded allowlist "
        f"(justify in test_contract.py or drop the hint): {offenders}"
    )


def test_session_table_storage_stays_in_one_module():
    """How session tables are keyed and stored is decided in
    plans/training_data.py alone: every other package module goes
    through ``session_table`` and never names the store or its key."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / (
        "_multi_source_retail_data_integration_hub_spark"
    )
    offenders = sorted(
        str(py.relative_to(pkg))
        for py in pkg.rglob("*.py")
        if py != pkg / "plans" / "training_data.py"
        and re.search(r"_SIG_CACHE|_sig_cache_key", py.read_text())
    )
    assert not offenders, f"use training_data.session_table instead: {offenders}"


def test_fingerprint_tail_is_byte_identical_to_head():
    """q997's oracle must be the SAME SQL as q000's and its Spark side
    must delegate to q000 — the bracket only works if the two ends of
    the run compute the identical fingerprint."""
    oracles = entry.oracle_sql()
    assert (
        oracles["q997_generation_fingerprint_tail"]
        == oracles["q000_generation_fingerprint"]
    )


def test_ranked_topk_matches_full_sort(spark):
    """operators/ranking.py::ranked_topk — rank-after-top-k must equal
    the naive rank-everything-then-limit result under a total order,
    and the plan must keep TakeOrderedAndProject below the Window."""
    import pyspark.sql.functions as F
    from _multi_source_retail_data_integration_hub_spark.operators.ranking import (
        ranked_topk,
    )

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("score")
    )
    got = ranked_topk(df, [F.desc("score"), F.asc("id")], 10).collect()
    naive = sorted(
        ((r["score"], r["id"]) for r in df.collect()),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [(r["score"], r["id"]) for r in got] == naive
    assert [r["rank"] for r in got] == list(range(1, 11))
    plan = ranked_topk(df, [F.desc("score"), F.asc("id")], 10)
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert physical.index("TakeOrderedAndProject") > physical.index("Window")


def test_grouped_topk_matches_per_group_sort(spark):
    """operators/ranking.py::grouped_topk — per-group rank must equal
    the naive sort-within-group result under a total order, and the
    plan must stay partition-parallel (no SinglePartition exchange)."""
    import pyspark.sql.functions as F
    from _multi_source_retail_data_integration_hub_spark.operators.ranking import (
        grouped_topk,
    )

    df = spark.range(300).select(
        (F.col("id") % 4).alias("g"),
        F.col("id"),
        (F.col("id") * 13 % 101).alias("score"),
    )
    got = sorted(
        (r["g"], r["rank"], r["id"])
        for r in grouped_topk(
            df, ["g"], [F.desc("score"), F.asc("id")], 5
        ).collect()
    )
    rows = [(r["g"], r["score"], r["id"]) for r in df.collect()]
    want = []
    for g in range(4):
        grp = sorted(
            ((s, i) for gg, s, i in rows if gg == g),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        want.extend((g, rank + 1, i) for rank, (_, i) in enumerate(grp))
    assert got == sorted(want)
    plan = (
        grouped_topk(df, ["g"], [F.desc("score"), F.asc("id")], 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan
    assert "WindowGroupLimit" in plan


# only real testdata dirs enter the parametrization (a stray sf* file
# or half-generated dir must not error the suite); if NONE are found,
# fall back to the canonical path so the gate FAILS loudly on missing
# testdata instead of silently skipping via an empty parameter set
_HLL_SF_DIRS = sorted(
    p
    for p in glob.glob("/root/testdata/sf*")
    if os.path.exists(os.path.join(p, "events.parquet"))
) or ["/root/testdata/sf0.001"]


@pytest.mark.parametrize(
    "sf_dir", _HLL_SF_DIRS, ids=lambda p: os.path.basename(p)
)
def test_q175_hll_bound_headroom(sf_dir):
    """q175's hll_within_bound flag must not sit near its envelope —
    a flag that flips at a new SF would land a red driver row. Assert
    the actual inclusion-exclusion error is under HALF the bound at
    EVERY available SF (r9 advice: a new SF must prove headroom before
    it enters the driver rotation; sf0.001, the smallest corpus, is
    where HLL relative error is worst)."""
    from pyspark.sql import functions as F

    from _multi_source_retail_data_integration_hub_spark.plans.scale_ops import (
        APPROX_RSD,
    )
    from _multi_source_retail_data_integration_hub_spark.session import get_spark
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    spark = get_spark("tests")
    events = load_table(spark, sf_dir, "events")
    # unpersist in finally: a failing assert must not leave this SF's
    # cached frame pinned for the rest of the shared test session
    ut = events.select("event_type", "user_id").distinct().cache()
    try:
        per_t = {
            r.event_type: r
            for r in ut.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.approx_count_distinct("user_id", rsd=APPROX_RSD).alias("h"),
            )
            .collect()
        }
        a = ut.select(F.col("event_type").alias("ta"), "user_id")
        b = ut.select(F.col("event_type").alias("tb"), "user_id")
        inter = {
            (r.ta, r.tb): r.x
            for r in a.join(b, "user_id")
            .where(F.col("ta") < F.col("tb"))
            .groupBy("ta", "tb")
            .agg(F.count("*").alias("x"))
            .collect()
        }
        for (ta, tb), exact in inter.items():
            u = (
                ut.where(F.col("event_type").isin(ta, tb))
                .agg(F.approx_count_distinct("user_id", rsd=APPROX_RSD))
                .first()[0]
            )
            ha, hb = per_t[ta].h, per_t[tb].h
            est = ha + hb - u
            bound = 3 * APPROX_RSD * (ha + hb + u)
            assert abs(est - exact) <= bound / 2, (ta, tb, est, exact, bound)
    finally:
        ut.unpersist()
