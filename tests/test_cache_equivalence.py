"""Session tables must be value-invisible (r9 verdict ask #5):
``session_table`` models persisted upstream tables, so a query must
return byte-identical rows whether its shared stage is built cold or
read warm — and must rebuild correctly after eviction, including the
semdedup entry whose cached tuple carries a SparkContext Broadcast
(evicted with an explicit unpersist since r10)."""

import os

from _multi_source_retail_data_integration_hub_spark.plans.similarity import (
    q178_semdedup_probe,
)
from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
    _SIG_CACHE,
    clear_session_caches,
    q116_neardup_keep_best,
)

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_q116_cold_equals_warm(spark):
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        import pytest

        pytest.skip("testdata missing")
    clear_session_caches()
    cold = _sorted_rows(q116_neardup_keep_best(spark, SF_DIR))
    assert _SIG_CACHE, "q116 should have populated the signature cache"
    warm = _sorted_rows(q116_neardup_keep_best(spark, SF_DIR))
    assert cold == warm


def test_q178_cold_equals_warm_and_survives_broadcast_eviction(spark):
    if not os.path.exists(os.path.join(SF_DIR, "embeddings.parquet")):
        import pytest

        pytest.skip("testdata missing")
    clear_session_caches()
    cold = _sorted_rows(q178_semdedup_probe(spark, SF_DIR))
    warm = _sorted_rows(q178_semdedup_probe(spark, SF_DIR))
    assert cold == warm
    # evict (unpersists the cached centroid Broadcast) and rebuild:
    # the probe must re-broadcast and reproduce the same rows
    assert clear_session_caches() > 0
    rebuilt = _sorted_rows(q178_semdedup_probe(spark, SF_DIR))
    assert rebuilt == cold
