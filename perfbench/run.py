#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one long-lived local Spark
session, seeded inputs, every result checked against its DuckDB oracle.

    python3 perfbench/run.py --workload driver_loops --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the harness
(perfbench/build.sbt, against the root project) with sbt; later runs
reuse the build while the sources are unchanged. Each run generates
its inputs from --seed (outside every timed region), starts the
harness JVM (perfbench/src), replays the oracles, and prints a report
followed by one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. A traced run also keeps its spans and per-layer
self times under .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

# The harness JVM's heap, fixed (-Xms = -Xmx) so heap growth does not
# shift lap times: the root build's default (32g) exceeds small hosts,
# and every workload's live heap stays far below this.
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def _t(rows, files=1, row_groups=1):
    return {"rows": rows, "files": files, "row_groups": row_groups}


# Sizes and layouts are part of each workload's definition (see
# BENCHMARK.json for why each workload exists).
WORKLOADS = {
    "driver_loops": {
        "queries": ["dedup_clusters", "text_bpe_train", "stream_wordcount"],
        "tables": {"documents": _t(500)},
    },
    "single_action": {
        "queries": ["wordcount", "dedup_minhash_lsh", "q2_shape_min_cost", "q9_shape_profit"],
        "tables": {"documents": _t(3000, files=4), "region": _t(5), "nation": _t(25),
                   "supplier": _t(200), "customer": _t(1500), "part": _t(2000),
                   "orders": _t(15000), "lineitem": _t(60000, files=4)},
    },
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, log_path, timeout, **kw):
    """Runs `cmd` in its own process group, output to `log_path`; on
    timeout kills the whole group and waits for it. Returns the exit code."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout:.0f} s, see {log_path}")


def source_digest(root):
    """Hash of everything the harness build depends on."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """(classpath, JVM options) of the harness, building it if stale."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = launch + ".digest"
    digest = source_digest(root)
    if not (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest):
        log("building the harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        tmp = os.path.join(root, ".bench_build", "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
        build_log = os.path.join(root, ".bench_build", "build.log")
        if run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeLaunch"],
                     build_log, BUILD_TIMEOUT_S, cwd=HERE, env=env) != 0:
            raise RuntimeError(f"harness build failed, see {build_log}")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if not o.startswith(("-Xms", "-Xmx"))]


def run_harness(cp, jvm_opts, args, queries, data, work, deadline):
    tmp, local, out = (os.path.join(work, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    cmd = ["java"] + jvm_opts + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Harness", "--queries", ",".join(queries), "--data", data,
        "--out", out, "--local", local, "--seconds", str(args.seconds), "--trace", str(args.trace)]
    harness_log = os.path.join(work, "harness.log")
    spawn_ms = time.time() * 1e3
    if run_group(cmd, harness_log, deadline - time.time()) != 0:
        tail = open(harness_log).read().splitlines()[-20:]
        raise RuntimeError("harness failed:\n" + "\n".join(tail))
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f), spawn_ms, os.path.join(out, "results")


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def summarize(run, checks, workload, seed, trace, spawn_ms):
    """Every metric of one run. A query whose result does not match its
    oracle (or has no oracle) fails all of its timed executions."""
    queries = WORKLOADS[workload]["queries"]
    mismatched = {q: checks.get(q, "no oracle SQL") for q in queries
                  if checks.get(q, "no oracle SQL") is not None}
    timed = [e for e in run["execs"] if e["lap"] > 0]
    traced = {l["lap"] for l in run["laps"] if l["traced"]}
    failed = sum(1 for e in timed if not e["ok"] or e["query"] in mismatched)
    out = {"workload": workload, "seed": seed, "trace": trace,
           "cores": run["cores"], "heap_max_mb": run["heap_max_mb"],
           "measured_s": run["measured_s"], "attempted": len(timed), "failed": failed,
           "failed_frac": failed / len(timed), "mismatched": mismatched,
           "errors": sorted({f"{e['query']}: {e['error']}" for e in run["execs"] if not e["ok"]}),
           "query_s": {q: statistics.median(e["wall_s"] for e in timed
                                            if e["query"] == q and e["lap"] not in traced)
                       for q in queries}}
    out.update(report.end_to_end(run, spawn_ms))
    out["probes"] = report.leak_probes(run)
    if trace:
        counters = report.per_query_counters(run)
        out["per_layer"] = report.per_layer(run)
        out["jobs"] = {q: statistics.median(c["jobs"] for n, c in laps.items() if n > 0)
                       for q, laps in counters.items()}
        out["stability"] = report.stability(counters)
        batches = report.batch_durations(run)
        if batches:
            out["batch_s.p50"] = report.percentile(batches, 50)
            out["batch_s.p90"] = report.percentile(batches, 90)
            out["batch_s.count"] = len(batches)
    return out


E2E_UNITS = {"setup_s": "s", "lap_s": "s", "query_slowdown.p90": "ratio", "heap_live_mb": "MB"}


def result_line(out):
    """The last stdout line: end-to-end metrics, or per-layer when traced."""
    if out["trace"]:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(out["per_layer"].items())}
    else:
        metrics = {k: {"value": out[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": not out["mismatched"] and out["failed"] == 0,
            "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    wl = WORKLOADS[args.workload]
    bench_build = os.path.join(root, ".bench_build")
    os.makedirs(bench_build, exist_ok=True)
    cp, jvm_opts = build(root)
    start = time.time()

    work = os.path.join(bench_build, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen.generate(data, args.seed, wl["tables"])
        log(f"inputs generated in {time.time() - start:.1f} s")
        run, spawn_ms, results = run_harness(cp, jvm_opts, args, wl["queries"], data, work,
                                             start + RUN_TIMEOUT_S)
        log(f"harness done at {time.time() - start:.1f} s")
        checks = oracle.check(data, results, run["oracle_sql"])
        log(f"oracle checked at {time.time() - start:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = summarize(run, checks, args.workload, args.seed, args.trace, spawn_ms)
    name = f"{args.workload}-seed{args.seed}"
    if args.trace:
        os.makedirs(os.path.join(bench_build, "traces"), exist_ok=True)
        with open(os.path.join(bench_build, "traces", f"{name}.json"), "w") as f:
            json.dump({"spans": run["spans"], "self_s_per_lap": {
                n: {k: v for k, v in m.items() if k.startswith("self_s.")}
                for n, m in report.per_lap_layers(run).items()}}, f)
    os.makedirs(os.path.join(bench_build, "reports"), exist_ok=True)
    with open(os.path.join(bench_build, "reports", f"{name}-trace{args.trace}.json"), "w") as f:
        json.dump(out, f, indent=1)
    print_report(out)
    for q, why in sorted(out["mismatched"].items()):
        log(f"ORACLE MISMATCH {q}: {why}")
    print(json.dumps(result_line(out)))
    return 0


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.startswith(("self_s.", "batch_s.")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb") or "_mb_" in name:
        return "MB"
    if name.endswith(("_frac", "_util", ".p90")):
        return "ratio"
    return "count"


def print_report(out):
    """Every metric by name with its unit, then the counter stability."""
    print(f"workload {out['workload']} seed {out['seed']} trace {out['trace']}: "
          f"{out['cores']} cores, heap {out['heap_max_mb']:.0f} MB, "
          f"{out['lap_s.count']} untraced timed laps, {out['measured_s']:.1f} s measured")
    for k in ("setup_s", "setup.session_s", "setup.warm_lap_s", "lap_s", "query_slowdown.p90",
              "heap_live_mb", "failed_frac", "batch_s.p50", "batch_s.p90"):
        if k in out:
            print(f"  {k} = {fmt(out[k])} {unit_of(k)}")
    q = out["lap_s.quartiles"]
    print(f"  lap_s quartiles {q[0]:.4f} / {q[1]:.4f} / {q[2]:.4f} s over {out['lap_s.count']} laps; "
          f"query_slowdown over {out['query_slowdown.count']} executions"
          + (f"; batch_s over {out['batch_s.count']} batches" if "batch_s.count" in out else ""))
    for k, v in sorted(out["query_s"].items()):
        print(f"  query_s.{k} = {fmt(v)} s")
    for k, v in sorted(out.get("jobs", {}).items()):
        print(f"  jobs.{k} = {fmt(v)} count")
    for k, v in sorted(out["probes"].items()):
        print(f"  {k} = {fmt(v)} {unit_of(k)}")
    for k, v in sorted(out.get("per_layer", {}).items()):
        if k not in out["probes"]:
            print(f"  {k} = {fmt(v)} {unit_of(k)}")
    for k, s in sorted(out.get("stability", {}).items()):
        flag = "  UNSTABLE: do not cite as an exact count" if s["unstable"] else ""
        print(f"  stability {k}: min {fmt(s['min'])} max {fmt(s['max'])} over {s['laps']} laps{flag}")
    for q, why in sorted(out["mismatched"].items()):
        print(f"  MISMATCH {q}: {why}")
    for e in out["errors"]:
        print(f"  ERROR {e}")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed build or run prints no result line
        log(f"failed: {e}")
        sys.exit(1)
