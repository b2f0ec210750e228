"""bench.py's driver line: one first-run pass in the order the registry
returns queries, one JSON line on stdout, the full artifact on disk."""

import glob
import json
import os
import tempfile

import bench
import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def _boom(spark, sf_dir):
    raise RuntimeError("boom")


def test_bench_prints_driver_line_in_registry_order(spark, monkeypatch, tmp_path, capsys):
    registry = entry.queries()
    # deliberately out of name order: the bench must keep the given order
    given = {
        "q40_moving_avg": registry["q40_moving_avg"],
        "q03_boom": _boom,
        "q16_pareto": registry["q16_pareto"],
        "q01_monthly_sales_trend": registry["q01_monthly_sales_trend"],
    }
    out_path = tmp_path / "bench_latest.json"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out_path))
    monkeypatch.setattr(bench.entrymod, "queries", lambda: dict(given))
    warm_glob = os.path.join(tempfile.gettempdir(), "bench_stream_warm_*")
    warm_before = set(glob.glob(warm_glob))

    bench.main()

    line = capsys.readouterr().out.strip().splitlines()[-1]
    out = json.loads(line)
    assert list(out["queries"]) == ["q40_moving_avg", "q01_monthly_sales_trend"]
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["n_queries"] == 2
    assert out["sf"] == 0.001
    assert list(out["failures"]) == ["q03_boom"]
    assert "boom" in out["failures"]["q03_boom"]
    assert "q16_pareto" not in out["queries"]
    assert "q16_pareto" not in out["failures"]
    assert "steady" not in out

    artifact = json.loads(out_path.read_text())
    assert "run_config" in artifact and "steady" not in artifact
    assert list(artifact["queries"]) == list(out["queries"])
    assert not os.path.exists(os.path.join(bench.REPO, "bench_floor.json"))
    assert not os.path.exists(tmp_path / "bench_floor.json")
    assert set(glob.glob(warm_glob)) <= warm_before
