"""bench.py's driver contract: exactly one JSON line on stdout with a
fixed set of 16 keys, a detail file at SPARK_GRAFT_DETAIL_OUT, and the
caller's session left running."""

import json
import os

import bench

KEYS = (
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "headline23_total",
    "headline23_complete",
    "n_queries",
    "n_errors",
    "n_resampled",
    "drift_reran",
    "loadavg_start",
    "loadavg_end",
    "load_waited_sec",
    "contended",
    "detail",
)


def test_bench_prints_one_json_line_and_keeps_the_session(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    names = bench.HEADLINE_23[1:3]
    detail_path = tmp_path / "detail.json"
    monkeypatch.setattr(bench, "BENCH_QUERIES", names)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_DETAIL_OUT", str(detail_path))

    bench.main(spark)

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    assert tuple(out) == KEYS
    assert out["n_resampled"] == 0
    assert out["load_waited_sec"] == 0.0
    assert out["drift_reran"] is None
    assert out["n_errors"] == 0
    assert sorted(out["queries"]) == sorted(names)
    assert out["sf"] == 0.001
    assert out["detail"] == os.path.basename(detail_path)

    detail = json.loads(detail_path.read_text())
    assert sorted(detail["queries"]) == sorted(names)
    assert detail["errors"] == {}

    assert spark.range(3).count() == 3
