"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The smoke tests start Spark in a subprocess per workload (about half a
minute each); the rest run in-process without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
for _p in (BENCH, ROOT, os.path.join(ROOT, "tests")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads as wls  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


class Frame:
    """A pandas frame behind the ``toPandas()`` interface that
    ``oracle_harness.compare`` consumes."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha1(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize(
    "write",
    [
        lambda d, s: gen.write_hic_inputs(d, s, 5_000, 100),
        lambda d, s: gen.write_fixture(d, s, 0.05),
    ],
    ids=["hic", "fixture"],
)
def test_inputs_depend_only_on_seed(tmp_path, write):
    a, b, c = (str(tmp_path / n) for n in "abc")
    write(a, 7)
    write(b, 7)
    write(c, 8)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert da.keys() == dc.keys()
    assert any(da[f] != dc[f] for f in da)


def test_metric_names_match_benchmark_json():
    assert metrics.names(0) == [m["name"] for m in SPEC["end_to_end"]]
    assert metrics.names(1) == [m["name"] for m in SPEC["per_layer"]]
    assert [w["name"] for w in SPEC["workloads"]] == list(wls.WORKLOADS)


def test_fixture_documents_have_planted_duplicates():
    docs = gen.fixture_tables(3)["documents"][0]
    assert docs.doc_id.is_unique
    assert docs.text.str.endswith(" dup").sum() >= 10


def test_hic_check_rejects_planted_errors(tmp_path):
    info = gen.write_hic_inputs(str(tmp_path), 5, 8_000, 200)
    want = wls.hic_reference(info)
    got = want.sample(frac=1.0, random_state=1)  # row order is free
    assert wls.hic_matches(got, want) is None
    bad = want.copy()
    bad.loc[3, "q_value"] *= 1 + 1e-6
    assert wls.hic_matches(bad, want) is not None
    assert wls.hic_matches(want.iloc[1:], want) is not None
    bad = want.copy()
    bad.loc[0, "contact_count"] += 1
    assert wls.hic_matches(bad, want) is not None


def test_sweep_check_rejects_planted_errors(tmp_path):
    from oracle_harness import compare, oracle_connection

    import __spark_entry__ as entry

    gen.write_fixture(str(tmp_path), 5, 0.2)
    con = oracle_connection(str(tmp_path))
    sql = entry.oracle_sql()["q_agg_group"]
    good = con.execute(sql).df()
    compare(Frame(good), con, sql, "q_agg_group")
    bad = good.copy()
    col = bad.select_dtypes("number").columns[-1]
    bad.loc[0, col] = bad.loc[0, col] + 1
    with pytest.raises(AssertionError):
        compare(Frame(bad), con, sql, "q_agg_group")
    con.close()


class _FakeWorkload:
    """Two operations per pass; "bad" fails its output check."""

    pass_s = 1.0

    def ops(self):
        return ["good", "bad"]

    def run_op(self, spark, op):
        pass

    def check_op(self, spark, op):
        return "planted mismatch" if op == "bad" else None


def test_failed_check_counts_as_failed_operation():
    passes = run.measure(_FakeWorkload(), None, 0.0)
    assert len(passes) == 1
    assert [f["op"] for f in passes[0]["failed"]] == ["bad"]
    assert len(passes[0]["lat"]) == 2


def test_check_that_cannot_run_counts_as_failed():
    class Broken(_FakeWorkload):
        def check_op(self, spark, op):
            raise FileNotFoundError("no output")

    passes = run.measure(Broken(), None, 0.0)
    assert len(passes[0]["failed"]) == 2


def test_refuses_to_run_without_the_package(tmp_path):
    skip = shutil.ignore_patterns(".work", "__pycache__")
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=skip)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hic_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(wls.WORKLOADS))
def test_tiny_smoke(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == metrics.names(0)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_tiny_traced_smoke():
    out = _run("query_sweep", 1)
    assert out["correct"]
    assert list(out["metrics"]) == metrics.names(1)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["registry.calls"] > 0 and m["registry.exec_jobs"] > 0
    assert m["io.calls"] > 0 and m["session.setup_s"] > 0
    assert 0.9 < m["trace.root_frac"] <= 1.0
