"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _write(root, seed):
    gen.write_corpus(os.path.join(root, "corpus"), seed, 50)
    return gen.write_retail(os.path.join(root, "retail"), seed, 2000, 20, 31)


def _contents(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write(str(tmp_path / "a"), 5)
    b = _write(str(tmp_path / "b"), 5)
    _write(str(tmp_path / "c"), 6)
    assert a == b
    ca, cb, cc = (_contents(str(tmp_path / x)) for x in "abc")
    assert len(ca) == 6 and ca == cb
    assert ca["retail/sales.csv"] != cc["retail/sales.csv"]
    assert ca["corpus/documents.parquet"] != cc["corpus/documents.parquet"]


def test_corpus_is_a_sample_of_the_reference_tables(tmp_path):
    gen.write_corpus(str(tmp_path), 4, 50)
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        got = pd.read_parquet(tmp_path / f"{name}.parquet")
        ref = gen.read_table(name).set_index(key)
        assert len(got) == 50 and got[key].is_unique and got[key].is_monotonic_increasing
        assert got.set_index(key).astype(str).equals(ref.loc[got[key]].astype(str))


def test_malformed_rows_and_change_set_follow_their_shares(tmp_path):
    changes = _write(str(tmp_path), 3)
    assert changes["malformed"] == {k: round(v * 2000) for k, v in gen.MALFORMED.items()}
    assert len(changes["repriced_products"]) == round(gen.CHANGE_SET["repriced_products"] * 20)
    sales = pd.read_csv(tmp_path / "retail" / "sales.csv")
    dates = pd.to_datetime(sales["Date"], format="%Y-%m-%d", errors="coerce")
    assert dates.isna().sum() == changes["malformed"]["bad_date"]
    assert (sales["Quantity"] <= 0).sum() == changes["malformed"]["zero_quantity"]
    valid = dates.dropna()
    assert valid.dt.year.eq(gen.RETAIL_YEAR).all() and valid.nunique() == 31
    incr = pd.read_csv(tmp_path / "retail" / "sales_incr.csv")
    assert incr["Transaction ID"].min() == 2001
    assert incr["Customer ID"].str.startswith("NEW").sum() == changes["new_customers"]


def _as_json(jobs):
    return {str(jid): {k: round(v, 6) if isinstance(v, float) else v for k, v in vars(js).items()}
            for jid, js in jobs.items()}


def test_event_log_parser_on_recorded_fixture(tmp_path):
    """Two op jobs (one writes a shuffle, one reads it) and one job of a
    streaming query, trimmed from a traced curation run's log."""
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl"), encoding="utf-8") as f:
        lines = f.readlines()
    with open(os.path.join(HERE, "fixtures", "eventlog_expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    assert _as_json(tracing.parse_event_log(lines)) == expected
    # the same events as Spark's rolling log, split over two files
    app = "local-1"
    roll = tmp_path / f"eventlog_v2_{app}"
    roll.mkdir()
    half = len(lines) // 2
    (roll / f"events_2_{app}").write_text("".join(lines[half:]))
    (roll / f"events_1_{app}").write_text("".join(lines[:half]))
    assert _as_json(tracing.read_event_log(str(tmp_path), app)) == expected


def test_tracer_self_time_subtracts_children():
    t = tracing.Tracer()
    t.spans = [
        tracing.Span(0, "run_pipeline", "plans.pipeline", 1, None, 0.0, 10.0),
        tracing.Span(1, "validate_transform", "plans.transform_gate", 1, 0, 1.0, 4.0),
        tracing.Span(2, "write_warehouse_table", "sinks.write", 1, 0, 5.0, 7.0),
        tracing.Span(3, "inner", "sinks.other", 1, 2, 5.5, 6.0),
    ]
    assert t.self_seconds(t.spans[0]) == 5.0
    assert t.self_seconds(t.spans[2]) == 1.5


def test_printed_metric_names_equal_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    for name, cls in workloads.WORKLOADS.items():
        wl = cls("unused", 1)
        e2e = run.end_to_end_metrics([{"cpu_s": 1.0, "seconds": 1.0, "cycle": 0}], 1, [(1.0, 1.0)], 1.0)
        assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layers = run.layer_metrics(wl, tracing.Tracer(), [], {}, {}, {}, 1, [(1.0, 1.0)])
        assert {k: v["unit"] for k, v in layers.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
