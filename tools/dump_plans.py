"""Record the physical plans of the most expensive bench queries into
PLANS.md (generated on demand, not committed) so a plan-affecting
change can be diffed against the plans before it and regressions
caught (e.g. a broadcast join silently falling back to sort-merge).

Usage: python tools/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402

# the bench suite's historically most expensive queries + the flagship
DEFAULT_QUERIES = [
    "q01_monthly_sales_trend",
    "q39_user_gap_stats",
    "q24_lsh_candidates",
    "q37_cosine_neardup",
    "q22_ngram_jaccard",
    "q28_ann_lsh_topk",
    "q44_interval_join",
    "q53_dup_clusters",
    "q23_minhash_signatures",
    "q61_cogroup_timelines",
    "q66_pricing_summary",
    "q68_forward_fill",
    "q71_fuzzy_part_match",
    "q75_late_orders_semi",
    "q79_retention_cohorts",
    "q80_minhash_accuracy",
    "q81_heavy_hitters",
    "q82_volume_shipping",
    "q88_best_price_supplier",
    "q93_supplier_diversity",
    "q98_sole_failing_supplier",
    "q100_repetition_signals",
    "q101_decontamination",
    "q105_embedding_quantization",
    "q106_mixture_sample",
    "q108_snapshot_diff",
    "q109_vocab_coverage",
    "q110_bloom_membership",
    "q111_incremental_mart",
    "q112_bpe_pairs",
    "q114_rare_token_score",
    "q115_data_expectations",
    "q116_neardup_keep_best",
    "q121_cdc_mart",
    "q122_bm25_search",
    "q123_supplier_pagerank",
    "q124_priority_sample",
    "q125_incremental_neardup",
    "q127_golden_record",
    "q131_market_basket",
    "q000_generation_fingerprint",
    "q134_lsh_subsplit",
    "q135_cluster_split",
    "q137_bpe_merges",
    "q138_regex_pretokenize",
    "q141_bpe_tokenize",
    "q142_decile_cutpoints",
    "q143_quantile_rollup",
    "q132_rfm_segments",
    "q144_topn_per_segment",
    "q145_mart_distinct_rollup",
    "q146_pareto_curve",
    "q147_simhash_neardup",
    "q148_bigram_surprisal",
    "q149_winnowing_fingerprints",
    "q150_winnowing_matches",
    "q151_simhash_neardup_wide",
    "q152_winnow_dup_spans",
    "q153_winnow_span_trim",
    "q154_boilerplate_spans",
    "q155_dsir_importance",
    "q156_dsir_select",
    "q157_hybrid_rrf",
    "q158_contrastive_pairs",
    "q159_length_buckets",
    "q160_dsir_calibration",
    "q161_temperature_mixture",
    "q162_cdc_chunks",
    "q163_source_overlap",
    "q164_hard_negatives",
    "q165_image_dhash_neardup",
    "q166_user_sequences",
    "q167_semdedup",
    "q168_gopher_rules",
    "q169_epoch_shuffle",
    "q170_source_kl_drift",
    "q171_curation_funnel",
    "q172_k_anonymity",
    "q173_centroid_drift",
    "q174_tokenizer_fertility",
    "q175_audience_overlap",
    "q176_feature_corr",
    "q177_mad_outliers",
    "q178_semdedup_probe",
]


# Operator pipelines whose registered query snapshots are truncated by
# a session-cache localCheckpoint (the query plan shows Scan
# ExistingRDD): dump the UNCACHED pipeline too so plan audits see the
# real shape.
def _winnow_selection_uncached(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        winnow_selection,
    )
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    return winnow_selection(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", k=3, w=4
    )


def _bigram_surprisal_uncached(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        bigram_surprisal,
    )
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    return bigram_surprisal(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _winnow_span_trim_uncached(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        winnow_span_trim,
    )
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    return winnow_span_trim(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", k=3, w=4
    )


def _bm25_ranked_uncached_plan(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
        _bm25_ranked_uncached,
    )

    return _bm25_ranked_uncached(spark, sf_dir)


def _bucket_pair_cands_uncached_plan(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.plans.similarity import (
        _bucket_pair_cands_uncached,
    )

    return _bucket_pair_cands_uncached(spark, sf_dir)


def _dsir_importance_uncached(spark, sf_dir):
    from pyspark.sql import functions as F

    from _multi_source_retail_data_integration_hub_spark.operators.text import (
        dsir_importance,
    )
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    return dsir_importance(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        F.col("lang") == "en",
    )


def _label_centroids_uncached_plan(spark, sf_dir):
    from pyspark.sql import functions as F

    from _multi_source_retail_data_integration_hub_spark.operators.similarity import (
        quantized,
    )
    from _multi_source_retail_data_integration_hub_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p = emb.select(
        "label", F.posexplode(quantized(F.col("embedding"))).alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    return p.groupBy("label", "pos").agg(
        F.sum("v").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    )


def _semdedup_uncached_plan(spark, sf_dir):
    from _multi_source_retail_data_integration_hub_spark.operators.similarity import (
        semdedup,
    )
    from _multi_source_retail_data_integration_hub_spark.plans.similarity import (
        _augmented,
    )

    return semdedup(_augmented(spark, sf_dir))


EXTRA_PLANS = {
    "winnow_selection (uncached operator; feeds q149/q150/q152/q153)": _winnow_selection_uncached,
    "bigram_surprisal (uncached operator; q148 — unigram leg must NOT be hint-broadcast)": _bigram_surprisal_uncached,
    "winnow_span_trim (uncached operator; q153 end-to-end)": _winnow_span_trim_uncached,
    "dsir_importance (uncached operator; q155/q156 — model joins keyed on the bounded bucket table; the only broadcast is the 1-row totals scalar)": _dsir_importance_uncached,
    "bm25_ranked (uncached pipeline; q122/q157 — term-bounded tf join, 1-row stats scalar, ranked_topk final)": _bm25_ranked_uncached_plan,
    "bucket_pair_cands (uncached pipeline; q37/q53/q158/q164 — LSH bucket equi-join + exact cosine, pre-threshold)": _bucket_pair_cands_uncached_plan,
    "semdedup (uncached operator; q167 — cluster-scoped verify is a list_id equi-join, never all-pairs)": _semdedup_uncached_plan,
    "label_centroids (uncached stage; q173 — ONE corpus scan builds the |labels| x dim sum table every consumer reads)": _label_centroids_uncached_plan,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = get_spark("dump_plans")
    qs = dict(entrymod.queries())
    if not sys.argv[2:]:
        qs.update(EXTRA_PLANS)
        names = list(names) + list(EXTRA_PLANS)
    out = [
        "# Physical plans (generated by tools/dump_plans.py)\n",
        f"\nScale factor dir: `{sf_dir}`. Regenerate after plan-affecting",
        " changes and diff in review: a disappearing `BroadcastHashJoin`,",
        " a new `Exchange`, or a shrinking `WholeStageCodegen` span is a",
        " scale regression.\n",
    ]
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {name}\n\n```\n{plan}```\n")
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
