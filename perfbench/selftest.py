"""Self-test of the benchmark, at sf0.001 shapes (`--scale tiny`).

    python3 perfbench/selftest.py

1. Smoke: each workload, untraced and traced, with a few seconds of
   requests, triggers and executions. Every metric BENCHMARK.json names
   must be printed, with its unit, and every output must check correct.
2. Negative controls: a corrupted lookup row, a corrupted top 10 and a
   corrupted eval row must each be counted as failed.
Exits non-zero on the first broken expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, trace, corrupt="none", seconds=4):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", str(seconds), "--trace",
           str(trace), "--scale", "tiny", "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=200)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {cmd}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect(e2e == run.E2E, "BENCHMARK.json end_to_end matches run.py")
    expect(layers == run.layer_units(), "BENCHMARK.json per_layer matches run.py")
    expect([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
           "BENCHMARK.json workloads match run.py")

    for w in run.WORKLOADS:
        for trace, names in ((0, e2e), (1, layers)):
            out = bench(w, trace)
            tag = f"{w} trace={trace}"
            expect(out["correct"] and out["failed"] == 0 and
                   out["attempted"] >= 1, f"{tag}: outputs check correct")
            expect(set(out["metrics"]) == set(names),
                   f"{tag}: prints every metric")
            expect(all(out["metrics"][k]["unit"] == u
                       for k, u in names.items()), f"{tag}: units")
            if trace == 0:
                expect(all(out["metrics"][k]["value"] > 0 for k in names),
                       f"{tag}: no end-to-end metric is 0")

    for w, corrupt in (("ingest_serve", "lookup"), ("ingest_serve", "topk"),
                       ("eval", "eval")):
        out = bench(w, 0, corrupt)
        expect(not out["correct"] and out["failed"] >= 1,
               f"negative control {corrupt}: counted as failed "
               f"({out['failed']}/{out['attempted']})")
    print("selftest passed")


if __name__ == "__main__":
    main()
