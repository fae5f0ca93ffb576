"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark tests start one local session (about 10 s).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.layers import LAYER_METRICS, LAYERS, SEAM, layer_of  # noqa: E402
from perfbench.probe import parse_sql_metric  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    TPCH_TABLES,
    WORKLOADS,
    duck_connect,
    duck_digest,
    spark_digest,
)

# BENCHMARK.json limits: names, units and paths
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH_RE = re.compile(r"[A-Za-z0-9_./-]{1,200}")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


@pytest.mark.parametrize(
    "write", [lambda d, s: gen.write_pipeline(d, s, orgs=12),
              lambda d, s: gen.write_tpch(d, s, customers=300)],
    ids=["pipeline", "tpch"],
)
def test_generator_is_deterministic_per_seed(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))


def test_generated_leader_names_pass_the_engine_name_rule(tmp_path):
    import pyarrow.parquet as pq

    from leader_graph_spark.extract.html import is_valid_person_name

    gen.write_pipeline(str(tmp_path), 3, orgs=30)
    names = pq.read_table(str(tmp_path / "gt_leaders.parquet")).column("name").to_pylist()
    assert names and all(is_valid_person_name(n) for n in names)


def test_every_end_to_end_metric_is_declared():
    decl = _declared()
    names = [m["name"] for m in decl["end_to_end"]]
    assert set(names) == {"run_s", "cpu_s", "peak_rss_mb", "shuffle_mb", "setup_s"}
    assert all(NAME_RE.fullmatch(n) for n in names)
    assert {w["name"] for w in decl["workloads"]} == set(WORKLOADS)


def test_benchmark_json_is_within_its_limits():
    decl = _declared()
    assert set(decl) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= len(decl["command"]) <= 32
    assert all(isinstance(a, str) and len(a) <= 200 for a in decl["command"])
    assert 1 <= len(decl["paths"]) <= 16
    assert all(PATH_RE.fullmatch(p) and not p.startswith("/") and ".." not in p.split("/")
               for p in decl["paths"])
    assert isinstance(decl["run_seconds"], int) and 1 <= decl["run_seconds"] <= 60
    assert 2 <= len(decl["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
               for w in decl["workloads"])
    assert 1 <= len(decl["end_to_end"]) <= 16 and 1 <= len(decl["per_layer"]) <= 128
    for m in decl["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in decl["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = decl["end_to_end"] + decl["per_layer"]
    assert all(m["better"] in ("lower", "higher") for m in metrics)
    assert all(UNIT_RE.fullmatch(m["unit"]) for m in metrics)
    names = [x["name"] for x in decl["workloads"] + metrics]
    assert len(set(names)) == len(names)
    assert all(NAME_RE.fullmatch(n) for n in names), [n for n in names if not NAME_RE.fullmatch(n)]
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in decl["end_to_end"] if m["name"] == "setup_s").items()


def test_declared_layer_metrics_match_the_workloads():
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert declared == LAYER_METRICS
    assert len(declared) <= 128
    assert all(NAME_RE.fullmatch(n) for n in declared)
    called = [{s.layer for s in w.steps(None, "")} for w in WORKLOADS.values()]
    # each step is charged to a declared layer, and each layer is called
    assert set().union(*called) == set(LAYERS)
    assert all(layer_of(n) in LAYERS for n, u in declared.items()
               if u != "ratio" and n != "trace.overhead_s")


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n5.6 s (1.4 s, 1.4 s)") == 5.6
    assert parse_sql_metric("935 ms") == pytest.approx(0.935)
    assert parse_sql_metric("total (min, med, max)\n2.0 MiB (1 KiB)") == pytest.approx(2.097152)
    assert parse_sql_metric("1,234") == 1234.0


@pytest.fixture(scope="module")
def spark():
    run._prepare_environment()
    from leader_graph_spark.session import get_spark

    s = get_spark("perfbench_tests")
    yield s
    s.stop()


def test_planted_wrong_answer_fails_the_check(spark, tmp_path):
    from leader_graph_spark.plans import REGISTRY

    d = str(tmp_path)
    gen.write_tpch(d, 5, customers=300)
    q = "same_nation_supplier_pairs"
    df = REGISTRY[q].spark(spark, d)
    con = duck_connect(d, TPCH_TABLES)
    expected = duck_digest(con, REGISTRY[q].oracle)
    con.close()
    rows, digest = spark_digest(df)
    assert (rows, digest) == expected
    first = df.limit(1)
    dropped = df.exceptAll(first)
    rows, digest = spark_digest(dropped)
    assert rows == expected[0] - 1
    assert digest != expected[1]


def test_python_seam_metrics_are_read_from_the_sql_store(spark):
    from leader_graph_spark.extract.html import parse_pages
    from perfbench.probe import StatusProbe

    pages = spark.createDataFrame(
        [(i, f"<html><body><h2>机构领导</h2><p>第{i}页</p></body></html>") for i in range(200)],
        "id long, remark string",
    )
    import time

    probe = StatusProbe(spark)
    spark.sparkContext.setJobGroup("perfbench-test-seam", "seam")
    t0 = time.time()
    rows, _ = spark_digest(parse_pages(pages, id_col="id", html_col="remark"))
    (st,) = probe.collect_steps([("perfbench-test-seam", t0, time.time())])
    assert rows == 200
    assert st.jobs >= 1 and st.tasks >= 1
    assert st.py_total_s > 0 and st.py_sent_mb > 0 and st.py_received_mb > 0


_SMALL_INPUTS = {
    "pipeline_full": lambda d: gen.write_pipeline(d, 11, orgs=6),
    "graph_queries": lambda d: gen.write_tpch(d, 11, customers=400),
}


def test_traced_pass_of_each_workload_measures_the_layers_it_calls(spark, tmp_path):
    assert set(_SMALL_INPUTS) == set(WORKLOADS)
    ratio_names = set()
    for name, workload in WORKLOADS.items():
        d = str(tmp_path / name)
        _SMALL_INPUTS[name](d)
        runner = run.Runner(spark, workload, d, "test")
        passes = [runner.run_pass(check=True), runner.run_pass(traced=True)]
        passes[0]["traced"], passes[1]["traced"] = False, True
        runner.check_against_duckdb()
        assert runner.failures == []
        ratios = workload.ratios(spark, d, runner.rows)
        assert set(ratios) <= set(LAYER_METRICS)
        assert all(0 < v <= 1 for v in ratios.values()), ratios
        ratio_names |= set(ratios)
        out = run._layer_metrics(passes, ratios, runner.layers)
        assert set(out) == set(LAYER_METRICS)
        for layer in runner.layers:
            for measure in ("s", "jobs", "tasks", "rows_out"):
                if f"{layer}.{measure}" in out:
                    assert out[f"{layer}.{measure}"][0] > 0, (name, layer, measure)
            if layer in SEAM:
                assert out[f"{layer}.py_total_s"][0] > 0, (name, layer)
                assert out[f"{layer}.py_sent_mb"][0] > 0, (name, layer)
        for metric, (value, unit) in out.items():
            if unit != "ratio" and layer_of(metric) not in runner.layers | {"trace"}:
                assert value == 0, (name, metric)
        assert out["trace.overhead_s"][0] > 0
    assert ratio_names == {n for n, u in LAYER_METRICS.items() if u == "ratio"}
