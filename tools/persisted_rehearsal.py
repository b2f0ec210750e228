"""Rehearse the persisted-bucketed-state paths at a scale multiplier.

The SCALE.md round-12 capacity claims (16g heap at x64/x128 where the
in-process session caches needed 48-96g) come from this exact
sequence; rerun it any round to reproduce them. For each structure in
the persisted family the tool writes the bucketed table from the
manufactured corpus (tools/scale_rehearsal.py must have built
.scale_tmp/sf0.1x<mult> first — this tool fails fast if it hasn't),
then drives the Exchange-free reader end-to-end and prints wall
times. Heap is whatever SPARK_DRIVER_MEMORY says (the point of the
rehearsal: 16g suffices at any multiplier because nothing corpus-sized
is heap-resident).

Usage:
    SPARK_DRIVER_MEMORY=16g python tools/persisted_rehearsal.py [mult] [step ...]

Steps (default: all): minhash, probe, simhash, tokens, winnow, ivf.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window, functions as F  # noqa: E402

from _multi_source_retail_data_integration_hub_spark.operators import text as T  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402

DB = "persisted_rehearsal_db"


def _timed(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{label}: {time.perf_counter() - t0:.1f}s"
          + (f" ({out} rows)" if isinstance(out, int) else ""), flush=True)
    return out


def step_minhash(spark, sf):
    from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
        _mutated,
    )

    sig = T.minhash_signatures(_mutated(spark, sf), "text", "id")
    _timed(
        "minhash bands write (bucketed)",
        lambda: T.write_signatures_bucketed(
            sig, f"{DB}.mh_bands", id_col="id", n_buckets=64
        ),
    )
    tbl = spark.table(f"{DB}.mh_bands")
    _timed(
        "candidate pairs from table (drop)",
        lambda: T.lsh_candidate_pairs_from_bands(tbl, "id").count(),
    )
    _timed(
        "candidate pairs from table (subsplit)",
        lambda: T.lsh_candidate_pairs_from_bands(
            tbl, "id", hot_bucket_mode="subsplit"
        ).count(),
    )


def step_probe(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    hist = docs.select(F.col("doc_id").alias("id"), "text")
    T.write_signatures_bucketed(
        T.minhash_signatures(hist, "text", "id"),
        f"{DB}.hist_bands",
        id_col="id",
        n_buckets=64,
    )
    batch = docs.limit(1000).select(
        (F.col("doc_id") + 900_000_000).alias("id"), "text"
    )
    melted_new = T._melt_bands(T.minhash_signatures(batch, "text", "id"), "id", 4)
    _timed(
        "incremental probe vs persisted history",
        lambda: T.lsh_probe_pairs_from_bands(
            melted_new, spark.table(f"{DB}.hist_bands"), "id"
        ).count(),
    )


def step_simhash(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sig = T.simhash(docs, "text", "doc_id", bits=32)
    _timed(
        "simhash bands write (32-bit/4-band)",
        lambda: T.write_simhash_bands_bucketed(
            sig, f"{DB}.sh_bands", id_col="doc_id", bits=32, n_bands=4, n_buckets=64
        ),
    )
    _timed(
        "simhash pairs from table",
        lambda: T.simhash_pairs_from_bands(
            spark.table(f"{DB}.sh_bands"), "doc_id", n_bands=4, hamming_max=3
        ).count(),
    )


def step_tokens(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    _timed(
        "token table write (bucketed)",
        lambda: T.write_tokens_bucketed(
            docs, "text", "doc_id", f"{DB}.toks", n_buckets=64
        ),
    )

    def _term_stats() -> int:
        tbl = spark.table(f"{DB}.toks")
        tf = tbl.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
        dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", F.desc("tf"), "token")
        return (
            tf.join(dfc, "token")
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= 3)
            .count()
        )

    _timed("term-stats from token table", _term_stats)


def step_winnow(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    _timed(
        "winnow index write (bucketed)",
        lambda: T.write_winnow_index_bucketed(
            docs, "text", "doc_id", f"{DB}.wn_idx", n_buckets=64
        ),
    )
    _timed(
        "winnow matches from index",
        lambda: T.winnowing_matches_from_index(
            spark.table(f"{DB}.wn_idx"), "doc_id"
        ).count(),
    )


def step_ivf(spark, sf):
    from _multi_source_retail_data_integration_hub_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cq = S.with_quantized(emb, "embedding", "vec_id")
    bc = spark.sparkContext.broadcast(S.ivf_centroid_matrix(cq, "vec_id"))
    _timed(
        "ivf members write (bucketed)",
        lambda: S.write_members_bucketed(
            S.ivf_members(cq, bc, "vec_id"), f"{DB}.ivf_members", n_buckets=64
        ),
    )
    queries = emb.limit(500).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "embedding"
    )
    _timed(
        "ivf topk from members table",
        lambda: S.ivf_topk_from_members(
            spark.table(f"{DB}.ivf_members"), queries, bc, k=3, nprobe=2
        ).count(),
    )


STEPS = {
    "minhash": step_minhash,
    "probe": step_probe,
    "simhash": step_simhash,
    "tokens": step_tokens,
    "winnow": step_winnow,
    "ivf": step_ivf,
}


def main() -> None:
    # corpus spec: a plain multiplier (``64``) or the grouped-documents
    # form ``<mult>g<group>`` (``64g8``) that tools/scale_rehearsal.py
    # builds for the winnow match stage (the suffix-only corpus pushes
    # every fingerprint over the boilerplate cap at x64+, so its match
    # join vacuously emits 0 pairs)
    spec = sys.argv[1] if len(sys.argv) > 1 else "64"
    names = sys.argv[2:] or list(STEPS)
    bad = [n for n in names if n not in STEPS]
    if bad:
        raise SystemExit(f"unknown steps {bad}; choose from {sorted(STEPS)}")
    sf = os.path.join(REPO, ".scale_tmp", f"sf0.1x{spec}")
    if not os.path.isdir(sf):
        raise SystemExit(
            f"{sf} missing — build it first: python tools/scale_rehearsal.py {spec}"
            " --build-only"
        )
    spark = get_spark("persisted_rehearsal")
    heap = spark.conf.get("spark.driver.memory")
    print(f"corpus {sf}, heap {heap}", flush=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    try:
        for n in names:
            STEPS[n](spark, sf)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


if __name__ == "__main__":
    main()
