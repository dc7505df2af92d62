#!/usr/bin/env python3
"""Self-tests of the benchmark.

Usage (from the repository root): python3 perfbench/selftest.py

1. Smoke: every workload (fixture-concurrent too, which BENCHMARK.json does
   not list) on the sf0.001-sized corpus prints every metric BENCHMARK.json
   names (end-to-end untraced, per-layer traced), each with its unit, and
   its output check passes.
2. Seeds: the same seed gives the same mix and the same corpus digest; a
   different seed gives a different mix and corpus.
3. Output check: an injected wrong output raises failed_frac.
4. Pool: pool.json keeps to the rule it was picked by, checked against the
   per-query calibration in BASELINE.json, and covers every module.
5. Corpus types: with SPARK_GRAFT_SF_DIR set to a fixture directory (the
   engine's own sf0.001 .. sf0.1 corpora), every generated table has the
   parquet column types of the fixture's table.
"""
import json
import os
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import mixes  # noqa: E402
import run  # noqa: E402


def bench(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--size", "smoke",
           "--seconds", "1"] + list(args)
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, cwd=ROOT).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_smoke():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in sorted(run.WORKLOADS):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = bench("--workload", w, "--seed", "7", "--trace", str(trace))
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w, trace, got, want)
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            print("ok smoke %s trace=%d" % (w, trace), flush=True)


def test_seeds():
    assert mixes.fixture_mix(3) == mixes.fixture_mix(3)
    assert mixes.fixture_mix(3) != mixes.fixture_mix(4)
    orders = mixes.client_orders(3, mixes.fixture_mix(3), 4)
    assert orders == mixes.client_orders(3, mixes.fixture_mix(3), 4)
    assert len({tuple(o) for o in orders}) == 4
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        a = corpus.ensure(os.path.join(d, "a"), 3, "smoke")[1]["digest"]
        b = corpus.ensure(os.path.join(d, "b"), 3, "smoke")[1]["digest"]
        c = corpus.ensure(os.path.join(d, "c"), 4, "smoke")[1]["digest"]
    assert a == b and a != c, (a, b, c)
    print("ok seeds", flush=True)


def test_pool():
    with open(os.path.join(HERE, "BASELINE.json")) as f:
        cal = json.load(f)["pool_calibration"]["queries"]
    pool = mixes.load_pool()
    pooled = list(pool["fixed"]) + [n for pair in pool["pairs"] for n in pair]
    assert len(set(pooled)) == len(pooled), pooled
    assert {cal[n][0] for n in pooled} == {row[0] for row in cal.values()}
    for a, b in pool["pairs"]:
        (ma, ca, wa), (mb, cb, wb) = cal[a][:3], cal[b][:3]
        assert ma == mb and max(wa, wb) <= 0.6 and max(ca, cb) <= 1.1, (a, b)
        assert abs(wa - wb) <= 0.11 and abs(ca - cb) <= 0.5, (a, b)
    assert any(cal[n][3] for n in pool["fixed"]), "no fixed sink builder"
    print("ok pool", flush=True)


def test_fixture_schema():
    fixture = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not fixture:
        print("skip corpus types: SPARK_GRAFT_SF_DIR is not set", flush=True)
        return

    def types(path):
        s = pq.ParquetFile(path).schema
        return [(c.path, c.physical_type, str(c.logical_type))
                for c in (s.column(i) for i in range(len(s)))]

    with tempfile.TemporaryDirectory(dir=HERE) as d:
        generated = corpus.ensure(d, 7, "smoke")[0]
        for t in corpus.TABLES:
            want = types(os.path.join(fixture, t + ".parquet"))
            got = types(os.path.join(generated, t + ".parquet"))
            assert got == want, (t, got, want)
    print("ok corpus types match %s" % fixture, flush=True)


def test_injected_wrong_output():
    victim = sorted(mixes.fixture_mix(7))[0]
    res = bench("--workload", "fixture-serial", "--seed", "7", "--trace", "1",
                "--inject-wrong", victim)
    assert not res["correct"] and res["failed"] > 0, res
    assert res["metrics"]["failed_frac"]["value"] > 0, res
    print("ok injected wrong output of %s: failed_frac %.3f"
          % (victim, res["metrics"]["failed_frac"]["value"]), flush=True)


if __name__ == "__main__":
    test_seeds()
    test_pool()
    test_fixture_schema()
    test_injected_wrong_output()
    test_smoke()
    print("all self-tests passed")
