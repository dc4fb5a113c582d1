"""Tracing overhead and span accounting.

    python3 perfbench/overhead.py [--seeds 3] [--seconds 20]

Runs every workload untraced and traced on the same seeds, alternating which
mode goes first. Prints, per end-to-end metric, the median of each mode and
their difference (the tracing overhead). Then it checks that the spans
account for the operations: the mean self time summed over one operation's
spans (a serve request, an eval execution), traced, against the same
operation's untraced median wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

# the span that is one operation, and the e2e metric that times it
OPERATION = {"ingest_serve": ("serve.request", "latency_p50_ms"),
             "eval": ("eval.execution", "latency_p50_ms")}


def one(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=200)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    return json.loads(p.stderr.strip().splitlines()[-1])["e2e"]


def span_self_ms(workload, seed):
    """Mean over operations of the summed self time of each operation's
    spans, in ms. Self times of a span tree sum to its root's duration."""
    with open(os.path.join(build.build_dir(), "spans",
                           f"{workload}-{seed}.json")) as f:
        spans = json.load(f)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_ms(s):
        covered, end = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            covered += max(0.0, b - a)
            end = max(end, b)
        return s["end_ms"] - s["start_ms"] - covered

    def tree(s):
        return self_ms(s) + sum(tree(c) for c in kids.get(s["id"], []))

    name = OPERATION[workload][0]
    ops = [s for s in spans if s["name"] == name and s["req"] > 0]
    return statistics.mean(tree(s) for s in ops)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    for w in run.WORKLOADS:
        res = {0: [], 1: []}
        accounted = []
        for i in range(args.seeds):
            seed = 5000 + i
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                res[trace].append(one(w, seed, args.seconds, trace))
            accounted.append(span_self_ms(w, seed))
        print(f"## {w} ({args.seeds} seeds, --seconds {args.seconds})")
        print("| metric | untraced median | traced median | traced − untraced |")
        print("|---|---|---|---|")
        med = {}
        for k in run.E2E:
            u = statistics.median(r[k] for r in res[0])
            t = statistics.median(r[k] for r in res[1])
            med[k] = (u, t)
            print(f"| `{k}` | {u:.4g} | {t:.4g} | {t - u:+.4g} |")
        name, metric = OPERATION[w]
        u, t = med[metric]
        a = statistics.median(accounted)
        print(f"\nSpan self time per `{name}` (traced, summed over its spans): "
              f"{a:.4g} ms; untraced `{metric}`: {u:.4g} ms; difference "
              f"{a - u:+.4g} ms against a tracing overhead of {t - u:+.4g} ms.\n")


if __name__ == "__main__":
    main()
