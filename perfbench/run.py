"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_onefile|gold_serve|battery_hot \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM on local[nproc], checks its outputs against DuckDB
(perfbench/check.py) and prints one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). A readable summary goes to stderr.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 170  # a run, JVM and checks, must end within 180 s once built


def tail(xs):
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest sample, and its percentile."""
    if len(xs) < 11:
        return None, None
    return 100 * (len(xs) - 10) / len(xs), sorted(xs)[-11]


def child(cmd, log, deadline, **kw):
    """Runs cmd with its output in the file log; kills it, and waits for it
    to end, if it outlives deadline (time.time()). Returns its exit code."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return proc.wait(timeout=max(0.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def log_tail(log, lines):
    with open(log) as f:
        sys.stderr.write("".join(f.readlines()[-lines:]))


def jvm(args, work, jar, archive, deadline):
    cmd = build.java(jar, f"-XX:SharedArchiveFile={archive}", work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = os.path.join(work, "jvm.log")
    rc = child(cmd, log, deadline, cwd=work)
    if rc != 0:
        log_tail(log, 40)
        raise SystemExit(f"perfbench: {args.workload} run failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def verdict(workload, work, deadline):
    """The DuckDB half of the output check (check.py), in a child process:
    DuckDB and Arrow are native code, and a crash of theirs must not take
    the run down with it. The check is deterministic, so a child that dies
    before it writes its verdict is run once more; a second death ends the
    run without a result."""
    out = os.path.join(work, "verdict.json")
    log = os.path.join(work, "check.log")
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "check.py"), "verdict",
           workload, os.path.join(work, "result.json"), out]
    # Arrow on the system allocator: a failed allocation raises, not aborts
    env = dict(os.environ, ARROW_DEFAULT_MEMORY_POOL="system")
    for attempt in (1, 2):
        if os.path.exists(out):
            os.remove(out)
        rc = child(cmd, log, deadline, env=env)
        if os.path.exists(out):
            with open(out) as f:
                return json.load(f)
        log_tail(log, 20)
        sys.stderr.write(f"perfbench: output check died ({rc}), attempt {attempt}\n")
        if rc == "timeout":
            break
    raise SystemExit(f"perfbench: {workload} output check could not run")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")

    jar, archive = build.build()
    work = os.path.join(build.OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launch = time.time()
    deadline = launch + RUN_LIMIT_S
    rec = jvm(args, work, jar, archive, deadline)
    jvm_done = time.time()

    checks = dict(rec["checks"])
    checks.update(verdict(args.workload, work, deadline))
    bad = [k for k, ok in checks.items() if not ok]
    attempted = rec["ops_attempted"] + len(checks)
    failed = rec["ops_failed"] + len(bad)

    spans = rec["spans"]
    prefix = "battery." if args.workload == "battery_hot" else "analytics.q"
    per_query = {k: v for k, v in spans.items() if k.startswith(prefix)}
    queries = [x for v in per_query.values() for x in v]
    e2e = {
        "setup_s": rec["first_op_epoch_ms"] / 1e3 - launch,
        "pass_s": statistics.median(rec["pass_s"]),
        # each query's median over the passes; then every query weighs the
        # same, whichever sits in the middle
        "query_geomean_s": statistics.geometric_mean(
            [statistics.median(v) for v in per_query.values()]),
    }
    # the workload's own names for the same numbers, for the summary
    view = {"query_p50_s": (statistics.median(queries), "s")}
    if args.workload == "etl_onefile":
        view["pipeline_s"] = (e2e["pass_s"], "s")
        view["pipeline_rows_per_s"] = (rec["facts"]["rows_in"] / e2e["pass_s"], "1/s")
    elif args.workload == "gold_serve":
        p, t = tail(queries)
        view["read_latency_p50_s"] = (statistics.median(queries), "s")
        view[f"read_latency_tail_s (p{p or 0:.0f} of {len(queries)})"] = (t, "s")
        view["upsert_latency_p50_s"] = (statistics.median(spans["store.upsert"]), "s")
        ops = len(queries) + len(spans["store.upsert"])
        view["serve_ops_per_s"] = (ops / sum(rec["pass_s"]), "1/s")
    else:
        view["battery_s"] = (e2e["pass_s"], "s")
    view["failed_ops_ratio"] = (failed / attempted, "ratio")
    view["host.cpu_canary_s"] = (max(rec["canary_s"]), "s")

    if args.trace:
        want = spec["per_layer"]
        values = rec["per_layer"]
    else:
        want = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want}

    err = sys.stderr
    err.write(f"[perfbench] jvm {jvm_done - launch:.1f} s, checks {time.time() - jvm_done:.1f} s\n")
    err.write(f"[perfbench] {args.workload} seed={args.seed} cores={rec['cores']} "
              f"passes={len(rec['pass_s'])} trace={args.trace}\n")
    for k, v in list(e2e.items()) + [(k, v[0]) for k, v in view.items()]:
        unit = next((m["unit"] for m in spec["end_to_end"] if m["name"] == k), None)
        unit = unit or view.get(k, (None, ""))[1]
        err.write(f"  {k:44s} {v if v is not None else float('nan'):.6g} {unit}\n")
    err.write(f"  output check: {'PASS' if not bad else 'FAIL ' + '; '.join(bad)} "
              f"({len(checks) - len(bad)}/{len(checks)})\n")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
