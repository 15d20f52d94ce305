"""Tests of the benchmark itself: seeded generators, metric names, the
correctness gates (pass on real output, fail on perturbed output) and the
shape of the timed action.

    python3 -m pytest perfbench/tests -q
"""

import io
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gates, gen, harness, run, workloads

ROOT = run.ROOT
TINY = 0.02


def _bytes(df) -> bytes:
    buf = io.BytesIO()
    df.to_parquet(buf, index=False)
    return buf.getvalue()


@pytest.mark.parametrize("make", [
    lambda s: gen.documents(s, TINY),
    lambda s: gen.crawl_pages(s, TINY),
    lambda s: gen.aliases(s),
    lambda s: gen.lineitem(s, TINY),
])
def test_generators_are_seeded(make):
    assert _bytes(make(5)) == _bytes(make(5))
    assert _bytes(make(5)) != _bytes(make(6))


def test_printed_metric_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def tiny(request, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    d = gen.materialize(request.param, 3, TINY, str(tmp_path_factory.mktemp("cache")))
    w = workloads.WORKLOADS[request.param](d, work, 3)
    w.prepare()
    return w


def test_tiny_run_passes_its_gate(spark, tiny):
    first = tiny.run(spark)
    assert first.problems == [] and first.failed == 0
    assert first.triples > 0 and first.wall_s > 0
    assert tiny.run(spark).digest == first.digest


def test_trace_reports_only_declared_layers(spark, tiny):
    got = tiny.trace(spark, harness.Groups(spark, "test"))
    assert set(got) <= set(run.PER_LAYER)
    assert got["trace.layer_sum_s"] > 0


def test_perturbed_triple_fails_the_gate(tmp_path):
    d = gen.materialize("extract_longsent", 3, TINY, str(tmp_path))
    w = workloads.ExtractLongsent(d, str(tmp_path / "work"), 3)
    w.prepare()
    rows = {doc: [dict(r) for r in rs] for doc, rs in w.want.items()}
    assert gates.check_sample(rows, w.want) == []
    doc = next(doc for doc, rs in rows.items() if rs)
    rows[doc][0]["score"] += 1e-9
    assert gates.check_sample(rows, w.want)


def test_perturbed_graph_result_fails_the_gate(tmp_path):
    d = gen.materialize("kg_build_graph", 3, TINY, str(tmp_path))
    want = gates.oracle_graph("kg_triangle_count", os.path.join(d, "lineitem.parquet"))
    assert gates.check_graph_query("kg_triangle_count", want.copy(), want) == []
    bad = want.copy()
    bad.iloc[0, bad.columns.get_loc("n_triangles")] += 1
    assert gates.check_graph_query("kg_triangle_count", bad, want)


def test_timed_action_keeps_the_rerank_window(spark, tmp_path):
    from deepex_spark.queries import REGISTRY

    d = gen.materialize("extract_longsent", 3, TINY, str(tmp_path))
    df = REGISTRY["pipeline_triples"].spark_fn(spark, d)
    plan = harness.checksum_frame(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in plan
    # what the sink guards against: a bare count lets Catalyst drop it
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in counted


def test_cli_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_longsent", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
