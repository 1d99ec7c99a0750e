#!/usr/bin/env python3
"""Layer diff of two traced runs.

    python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are trace files written by `perfbench/run.py --trace 1`
(.bench_build/trace/<workload>-seed<n>.jsonl), or directories of them;
traces are matched by workload. For each workload it prints the
end-to-end delta of the two runs (their timings come from the untraced
ops of each traced run) beside every layer's self-time delta and the
per-layer metric deltas, and names the layer whose self time moved most. Per-layer metrics are mapped
to the end-to-end metric they should move in perfbench/layers.json.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".jsonl")]
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        with open(f) as fh:
            head = json.loads(fh.readline())
        if head.get("kind") != "run":
            sys.exit(f"{f}: not a perfbench trace")
        runs[head["workload"]] = head
    return runs


def pct(b, n):
    return f"{(n - b) / b * 100:+.1f}%" if b else ("  n/a" if n == 0 else "  new")


def describe(h):
    p = h["provenance"]
    return f"commit {p.get('git_commit', '?')[:10]} src {p.get('source_digest', '?')} seed {p.get('seed')}"


def diff(workload, b, n, moves):
    print(f"== {workload}")
    print(f"   base: {describe(b)}")
    print(f"   new:  {describe(n)}")
    print(f"   {'end-to-end':34s} {'base':>12s} {'new':>12s} {'delta':>9s}")
    for k, bv in b["end_to_end"].items():
        nv = n["end_to_end"].get(k)
        if nv is not None:
            print(f"   {k:34s} {bv:12.3f} {nv:12.3f} {pct(bv, nv):>9s}")
    wall_delta_ms = (n["end_to_end"]["wall_s"] - b["end_to_end"]["wall_s"]) * 1e3
    print(f"   {'layer self time, ms per pass':34s} {'base':>12s} {'new':>12s} {'delta ms':>9s}")
    deltas = {}
    for layer, bv in b["layer_self_ms"].items():
        nv = n["layer_self_ms"].get(layer, 0.0)
        deltas[layer] = nv - bv
        print(f"   {layer:34s} {bv:12.1f} {nv:12.1f} {nv - bv:+9.1f}")
    print(f"   {'per-layer metric':34s} {'base':>12s} {'new':>12s} {'delta':>9s}  should move")
    for k, bv in b["per_layer"].items():
        nv = n["per_layer"].get(k, 0.0)
        if bv == 0 and nv == 0:
            continue
        print(f"   {k:34s} {bv:12.4g} {nv:12.4g} {pct(bv, nv):>9s}  {moves.get(k, '')}")
    top = max(deltas, key=lambda k: abs(deltas[k]))
    share = deltas[top] / wall_delta_ms * 100 if wall_delta_ms else float("nan")
    print(f"   => wall_s moved {wall_delta_ms:+.0f} ms per pass; the largest self-time change is "
          f"{top} ({deltas[top]:+.0f} ms, {share:.0f}% of the wall change)")
    return top


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(HERE, "layers.json")) as fh:
        moves = {k: v["moves"] for k, v in json.load(fh)["per_layer"].items()}
    common = [w for w in base if w in new]
    if not common:
        sys.exit("no workload traced in both")
    for w in common:
        diff(w, base[w], new[w], moves)


if __name__ == "__main__":
    main()
