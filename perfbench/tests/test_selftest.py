"""Fast self-test of the benchmark: every workload at toy size.

    python3 -m pytest perfbench/tests -q

Fails if a workload gives a wrong result, or if any metric named in
BENCHMARK.json is missing from a run or has no unit.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402
from tracing import SparkCounter, Tracer  # noqa: E402


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b, {m["name"]: m["unit"] for m in b["end_to_end"]}, {
        m["name"]: m["unit"] for m in b["per_layer"]
    }


def test_benchmark_json_matches_the_metric_tables():
    b, e2e, layers = _declared()
    assert e2e == workloads.END_TO_END
    assert layers == workloads.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert set(inputs.load_record()["workloads"]) == set(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from text_search_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")])
    s = get_spark("perfbench-selftest", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_workload_at_toy_size(spark, tmp_path, name):
    run = workloads.Run(
        spark=spark, cpus=2, seed=3, seconds=1.0,
        sizes=inputs.load_record()["sizes"]["toy"],
        tracer=Tracer(True, SparkCounter(spark.sparkContext)),
        work_dir=str(tmp_path),
    )
    workloads.WORKLOADS[name](run)
    assert run.failed == 0, run.errors
    assert run.attempted > 0
    # set by run.py after the workload; any value exercises the report
    run.e2e.update(setup_s=1.0, driver_peak_rss_mb=1.0)
    _b, e2e, layers = _declared()
    traced = workloads.report(run)
    run.tracer.enabled = False
    untraced = workloads.report(run)
    for declared, got in ((e2e, untraced), (layers, traced)):
        assert set(got) == set(declared)
        for metric, m in got.items():
            assert m["unit"] == declared[metric] and m["unit"]
            assert isinstance(m["value"], (int, float))
    for metric in ("throughput_per_s", "latency_p50_ms"):
        assert untraced[metric]["value"] > 0


@pytest.mark.xfail(strict=True, reason=(
    "engine defect: _score_single_term_local (index/query.py) lists the call's "
    "uncached terms before _postings_cache_put evicts cached terms of the same "
    "call, so those queries return no rows"))
def test_rows_batch_while_the_postings_cache_evicts(spark, tmp_path):
    """bm25_topk_rows with several single-term queries must agree with the
    oracle also when fetching some of their postings evicts others."""
    from text_search_spark.index.build import build_index, hash_doc_id_py, prepare_corpus
    from text_search_spark.index.query import IndexReader, bm25_topk_rows

    sizes = inputs.load_record()["sizes"]["toy"]["serve"]
    inp = inputs.index_inputs(3, sizes)
    ix = str(tmp_path / "ix")
    df = spark.createDataFrame(inp.base, ["url", "text"])
    build_index(spark, prepare_corpus(df, url_col="url"), ix)
    oracle = checks.OracleAnswers([(hash_doc_id_py(u), t) for u, t in inp.base])
    specs = inputs.ServeMix(inp, 1 << 30).singles(12)
    reader = IndexReader(spark, ix)
    reader.postings_cache_max_postings = sum(
        oracle.index.df(checks.tokenize(q.terms[0])[0]) for q in specs) // 3
    for q in specs[::2]:  # cache half of the terms
        bm25_topk_rows(spark, ix, [q], k=checks.K, reader=reader)
    got = checks.by_query(bm25_topk_rows(spark, ix, specs, k=checks.K, reader=reader))
    problems = [checks.diff(got.get(q.query_id, []), oracle.expected(q)) for q in specs]
    assert problems == [None] * len(specs)


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
