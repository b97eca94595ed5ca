"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases start Spark and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.corpus import same_ranking
from perfbench.harness import Tracer, tail_percentile
from perfbench.run import ROOT

TINY = ["--seed", "5", "--seconds", "1", "--files", "60"]


def _run(args: list[str], code: str | None = None, cwd: str = ROOT):
    cmd = [sys.executable]
    cmd += ["-c", code] if code else [os.path.join(cwd, "perfbench", "run.py")]
    return subprocess.run(cmd + args, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# ------------------------------------------------------------------ units


def test_same_ranking_needs_order_and_scores():
    want = [(1, 2.0), (2, 1.0)]
    assert same_ranking([(1, 2.0), (2, 1.0 + 1e-13)], want)
    assert not same_ranking([(2, 1.0), (1, 2.0)], want)
    assert not same_ranking([(1, 2.0), (2, 1.0 + 1e-9)], want)
    assert not same_ranking([(1, 2.0)], want)


def test_tail_percentile_needs_a_hundred_samples_beyond():
    assert tail_percentile(list(range(1, 10_001)))[1] == "p99"
    assert tail_percentile(list(range(1, 1001)))[1] == "p90"
    assert tail_percentile(list(range(1, 201)))[1] == "p50"
    assert tail_percentile([3.0, 1.0]) == (3.0, "max")


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("serve:outer"):
        with tr.span("plans.lower:inner"):
            sum(range(10_000))
    outer = tr.durations("serve:outer")[0]
    inner = tr.durations("plans.lower:inner")[0]
    st = tr.self_times()
    assert st["plans.lower"] == pytest.approx(inner)
    assert st["serve"] == pytest.approx(outer - inner)
    assert [s[4] for s in tr.spans] == [tr.spans[1][0], None]


# ------------------------------------------------------------ end to end


def test_same_seed_corpora_hash_equal(tmp_path):
    from perfbench.corpus import content_sha256, generate
    from perfbench.harness import start_spark, stop_spark

    spark = start_spark(ROOT, str(tmp_path), 2, "1g")
    try:
        a = content_sha256(generate(spark, 7, 50, 2))
        b = content_sha256(generate(spark, 7, 50, 2))
        c = content_sha256(generate(spark, 8, 50, 2))
    finally:
        stop_spark(spark)
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload,trace", [("build", "0"), ("serve", "1")])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--trace", trace] + TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared("per_layer" if trace == "1" else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == "0":  # the contract's end-to-end metrics never read 0
        assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
    assert all(m["samples"] >= 1 for m in report["end_to_end"].values())


def test_wrong_result_counts_as_failed():
    """A one-ulp-scale error in one oracle answer must fail that check."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); sys.argv = sys.argv[1:]\n"
        "import perfbench.corpus as c\n"
        "orig = c.oracle_answers\n"
        "def skewed(*a, **k):\n"
        "    ans = orig(*a, **k)\n"
        "    name = sorted(ans)[0]\n"
        "    ans[name] = [(d, s + 1e-9) for d, s in ans[name]]\n"
        "    return ans\n"
        "c.oracle_answers = skewed\n"
        "from perfbench import run\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    p = _run([ROOT, "--workload", "build", "--trace", "0"] + TINY, code=code)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] >= 1 and not result["correct"]
    report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
    assert report["ops_failed_frac"] == result["failed"] / result["attempted"] > 0


def test_without_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "build"] + TINY, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
