"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All implementations live in the package
``_multi_source_retail_data_integration_hub_spark``; this module only
exposes its query registry in the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from _multi_source_retail_data_integration_hub_spark.plans import (  # noqa: E402
    ORACLE,
    QUERIES,
)
from _multi_source_retail_data_integration_hub_spark.plans import (  # noqa: E402,F401
    analytics,  # registers q01..q08, q52, q54-q55, q57-q58, q64-q65, q76, q82-q87, q127, q130-q132
    dashboard,  # registers q09..q16, q50 (incl. unpivot), q144 (top-N per group), q146 (Pareto curve scale path)
    events_ts,  # registers q29..q31, q48, q51, q62-q63, q113, q118-q119, q126, q166 (windows, sessions, CDC, lateral/recursive SQL, streaming-vs-batch, sequence dataset construction)
    grouped_map,  # registers q39..q40, q61 (grouped map, frame windows, cogroup)
    incremental,  # registers q111, q121 (mergeable-partial + CDC-aware mart refresh)
    multimodal_plan,  # registers q32, q59-q60, q165 (binary payload features, frames, image dHash near-dup)
    quality,  # registers q115 (declarative data-quality expectations)
    rollups,  # registers q38, q46 (rollup, cube)
    scale_ops,  # registers q33..q35, q45, q49, q81, q110, q123, q128-q129, q145 (JSON, salting, sketches, pagerank, skew/checksum audits, mart HLL rollup)
    scd2_query,  # registers q77 (oracle-checked SCD2 merge)
    temporal,  # registers q36 (as-of join), q44 (interval join)
    tpch_shapes,  # registers q88..q99 (Q2/Q9/Q11/Q13/Q15-Q22 shapes)
    similarity,  # registers q26..q28, q37, q41-q42, q53, q158, q164, q167 (embedding ANN, dedup, contrastive pair + hard-negative mining, SemDeDup cluster-scoped dedup)
    training_data,  # registers q17..q25, q47, q56, q100-q109, q112, q114, q116, q120, q122, q124-q125, q147-q157, q159-q163 (dedup, text analysis, curation, BM25, sampling, simhash joins incl. production 32/4/3, bigram LM, winnowing + span-trim dedup + boilerplate spans, DSIR importance scoring + quota selection, hybrid BM25+ANN RRF retrieval, length-bucketed batching, DSIR calibration curve, temperature mixture, content-defined chunking, cross-source overlap, q168 Gopher rule bundle, q169 epoch shuffle, q170 KL drift audit, q171 curation funnel)
    # (q172 k-anonymity + q176 feature corr live in analytics; q173
    # centroid drift in similarity; q174 tokenizer fertility in
    # training_data; q175 audience overlap in scale_ops; q177 MAD
    # outliers in events_ts; q178 semdedup probe in similarity)
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _qnum(name: str) -> int:
    """Query number: the integer after ``q`` in the name's first field."""
    return int(name.split("_", 1)[0][1:])


def _ordered(mapping: dict) -> dict:
    # q000 sorts first and its twin q997 last, so the two generation
    # fingerprints bracket the whole run.
    return {k: mapping[k] for k in sorted(mapping, key=_qnum)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (monthly sales trend with MoM growth) on sf0.001."""
    return QUERIES["q01_monthly_sales_trend"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLE)
