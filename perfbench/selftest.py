#!/usr/bin/env python3
"""Self-test of the benchmark at the smallest scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, in the configuration
BENCHMARK.json runs but with `--seconds 1`, so the timed region is one
pass (two when traced), and asserts that each run is correct and prints
every metric BENCHMARK.json names, with its unit, and no other, and that
layers.json maps every per-layer metric. Takes about six minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# BENCHMARK.json's workloads plus llm_pipeline, which is run by hand.
WORKLOADS = ("relational", "llm_pipeline", "glue_statements")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--trace-out",
           os.path.join(ROOT, ".bench_build", "selftest", f"{workload}.jsonl")]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise AssertionError(f"{workload} trace={trace}: exit {r.returncode}")
    return r.stdout.strip().splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        mapped = set(json.load(fh)["per_layer"])
    failures = []
    unmapped = {m["name"] for m in spec["per_layer"]} ^ mapped
    if unmapped:
        failures.append(f"layers.json and BENCHMARK.json per_layer differ: {sorted(unmapped)}")
        print(f"FAIL {failures[-1]}")
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            try:
                lines = run(w, trace)
                res = json.loads(lines[-1])
                assert sorted(res) == ["attempted", "correct", "failed", "metrics"], sorted(res)
                assert res["correct"] is True and res["failed"] == 0, res
                assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                assert got == want, f"metrics differ from BENCHMARK.json {key}: " \
                    f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
                    f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}"
                for k, v in res["metrics"].items():
                    assert isinstance(v["value"], (int, float)), (k, v)
                    assert any(l == f"metric {k} {json.dumps(v['value'])} {v['unit']}"
                               or l.startswith(f"metric {k} ") and l.endswith(f" {v['unit']}")
                               for l in lines), f"no human-readable line for {k}"
                if trace == 0:
                    for k in ("setup_s", "wall_s", "latency_p50_ms"):
                        assert res["metrics"][k]["value"] > 0, (k, res["metrics"][k])
                print(f"ok   {w} trace={trace}: {len(got)} metrics, {res['attempted']} attempted")
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    if failures:
        sys.exit(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
