"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_serve|eval --seed N \
        --seconds N --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark
program (`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs the workload in one JVM (`graft.perfbench.Main`), checks every output,
and prints one JSON line: with `--trace 0` the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run. Exits non-zero, without
a result line, when the build, the run or a check cannot complete.
See perfbench/NOTES.md for the workloads and what each metric means.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_serve", "eval")
E2E = {  # name -> unit
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "freshness_p50_ms": "ms",
    "freshness_tail_ms": "ms",
    "setup_s": "s",
}
# names the files the set-up drains before measuring (Ingest.WarmupPrefix)
WARMUP_PREFIX = "warmup"
# ingest_serve spends this share of --seconds in its ingest phase (the
# generator's run) and the rest in its serve phase
INGEST_SHARE = 0.6


def phase_seconds(args):
    """(generator seconds, seconds of the JVM's own measuring loop)."""
    if args.workload != "ingest_serve":
        return 0, args.seconds
    g = max(1, round(args.seconds * INGEST_SHARE))
    return g, max(1, args.seconds - g)


def layer_units():
    """Every per-layer metric, in report order, with its unit."""
    units = {}
    for m in ("lookup_ms", "lookup_jobs", "lookup_tasks",
              "rows_read_per_row_returned"):
        units["feature_store." + m] = None
    for m in ("retrieve_ms", "retrieve_jobs", "retrieve_tasks",
              "rows_read_per_result", "driver_ms", "recall_at_10"):
        units["similarity." + m] = None
    for m in ("trigger_ms", "add_batch_ms", "query_planning_ms",
              "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
              "rows_per_trigger"):
        units["streaming." + m] = None
    for m in ("upsert_jobs", "upsert_tasks", "buckets_rewritten_per_trigger",
              "bytes_written_per_byte_ingested", "store_files_end"):
        units["feature_store." + m] = None
    units["generator.late_ms"] = None
    for st in ("sources.scan_join", "relational.labels", "relational.kcore",
               "relational.time_split", "ranking.topk_exclude",
               "ranking.metrics"):
        for m in ("s", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
                  "task_skew"):
            units[f"{st}_{m}"] = None
    units["relational.kcore_rows_kept_share"] = None
    for m in ("driver_plan_s", "job_floor_ms", "slot_wait_ms", "jobs"):
        units["spark." + m] = None
    units["jvm.heap_peak_mb"] = None
    ratios = ("_task_skew", "recall_at_10", "rows_read_per_row_returned",
              "rows_read_per_result", "bytes_written_per_byte_ingested",
              "kept_share")
    for k in units:
        units[k] = ("ms" if k.endswith("_ms") else
                    "s" if k.endswith("_s") else
                    "MB" if k.endswith("_mb") else
                    "ratio" if k.endswith(ratios) else "count")
    return units


JAVA_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
      "-XX:-UsePerfData",  # no perf-data file in the system temp dir
      # C1 only: a run's JVM lives under a minute on a few cores, where C2
      # compile threads take the cores the run measures (eval run wall
      # 52 s -> 41 s on 4 cores)
      "-XX:TieredStopAtLevel=1",
      # C1 only reserves a 48 MB code cache; Spark's generated code fills it
      # mid-run, the JIT is then switched off and the rest of the run is
      # interpreted. Reserve what tiered compilation has.
      "-XX:ReservedCodeCacheSize=240m"]

# A run must end well inside the 180 s a run is allowed.
JVM_TIMEOUT_S = 170


def run_jvm(classes, work, data, args, extra):
    """Runs the workload JVM; for `ingest_serve`, starts the event generator
    when the JVM reports its stream is ready. Returns the JVM's result dict."""
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JAVA_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classes + ":" + os.path.join(build.SPARK_JARS, "*"),
        "graft.perfbench.Main",
        "--workload", args.workload, "--data", data, "--work", work,
        "--seconds", str(phase_seconds(args)[1]), "--trace", str(args.trace),
        "--seed", str(args.seed), "--corrupt", args.corrupt, "--out", out] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    err = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
    killer = threading.Timer(JVM_TIMEOUT_S, p.kill)
    killer.start()
    gen_thread = None
    gen_state = {}
    try:
        for line in p.stdout:
            if line.strip() == "READY" and args.workload == "ingest_serve":
                gen_thread = threading.Thread(
                    target=generate_stream, args=(work, args, gen_state))
                gen_thread.start()
        p.wait()
    finally:
        killer.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        if gen_thread is not None:
            gen_thread.join()
        err.close()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"workload JVM exited with {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    if "late_ms" in gen_state:
        res["layers"]["generator.late_ms"] = median(gen_state["late_ms"])
    return res


def generate_stream(work, args, state):
    """The open-loop generator: the ingest phase's files, each published on
    schedule, then a marker telling the JVM the last file is out."""
    t0 = time.time()
    state["late_ms"] = gen.stream_events(
        os.path.join(work, "ingest-input"), args.seed, args.scale,
        phase_seconds(args)[0], t0)
    tmp = os.path.join(work, ".generator.json")
    with open(tmp, "w") as f:
        json.dump({"t0": t0, "late_ms": state["late_ms"]}, f)
    os.rename(tmp, os.path.join(work, "generator.json"))


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def check_eval(res, data):
    """Each execution's row must equal c7_e2e_eval's DuckDB oracle exactly,
    value and type (the rule of tools/check.py). Returns failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    cur = con.execute(res["notes"]["oracle_sql"])
    names = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    if len(rows) != 1:
        return [f"oracle returned {len(rows)} rows"]
    want = dict(zip(names, rows[0]))
    fails = []
    for i, got in enumerate(res["notes"]["eval_rows"]):
        if sorted(got) != sorted(want):
            fails.append(f"execution {i}: columns {sorted(got)}")
            continue
        for c, (typ, val) in got.items():
            w = want[c]
            ok = (typ == "long" and isinstance(w, int) and int(val) == w) or \
                 (typ == "double" and isinstance(w, float) and
                  float(val) == w) or (val is None and w is None)
            if not ok:
                fails.append(f"execution {i}: {c} spark={typ}:{val} duck={w!r}")
                break
    return fails


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(gen.SCALES), default="bench")
    ap.add_argument("--corrupt", choices=("none", "lookup", "topk", "eval"),
                    default="none", help="negative control: corrupt one answer")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and generator (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    work = os.path.join(build.build_dir(), "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.generate(data, args.seed, args.scale, args.workload)
        if args.workload == "ingest_serve":
            # one second of warm-up files, drained by the set-up before
            # measuring
            gen.stream_events(os.path.join(work, "ingest-input"), args.seed,
                              args.scale, 1, time.time() - 1,
                              prefix=WARMUP_PREFIX,
                              first_id=gen.STREAM_EVENT_ID_BASE // 2)
        shape = gen.SCALES[args.scale]["jvm"]
        res = run_jvm(classes, work, data, args,
                      [x for k, v in shape.items() for x in ("--" + k, str(v))])
        failures = list(res["failures"])
        failed = res["failed"]
        if args.workload == "eval":
            bad = check_eval(res, data)
            failed += len(bad)
            failures += bad
        for f in failures[:10]:
            sys.stderr.write("check failed: " + f + "\n")
        if args.trace:
            spans_dir = os.path.join(build.build_dir(), "spans")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                spans_dir, f"{args.workload}-{args.seed}.json"))
            units = layer_units()
            vals = {k: float(res["layers"].get(k, 0.0)) for k in units}
            metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
        else:
            metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                       for k, u in E2E.items()}
        for k, m in metrics.items():
            if not math.isfinite(m["value"]):
                raise SystemExit(f"metric {k} is not finite")
        notes = {k: v for k, v in res["notes"].items()
                 if k not in ("eval_rows", "oracle_sql")}
        sys.stderr.write(json.dumps({"e2e": res["e2e"], "notes": notes}) + "\n")
        print(json.dumps({"correct": failed == 0,
                          "attempted": int(res["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
