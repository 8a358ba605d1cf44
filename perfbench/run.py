#!/usr/bin/env python3
"""The repository benchmark: two seeded, closed-loop, single-client
workloads over graft, with end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload crawl_tick --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the program from source
(`build.py`), generates the workload's inputs from `--seed` (`gen.py`),
runs one JVM (Spark `local[min(4, nproc)]`, one client thread) that
sets up, warms up with untimed ops and then issues ops back to back
for `--seconds` of timed work, checks the outputs (`checks.py`), and
prints one JSON object as the last line of stdout: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The
line before it carries the seed, load flags and percentile details.
Exit code 0 only when the run completed and every check passed.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build   # noqa: E402
import checks  # noqa: E402
import gen     # noqa: E402
import stats   # noqa: E402

WORKLOADS = ["batch_queries", "crawl_tick"]
DEADLINE_S = 170          # a run must end within 180 s once built
QUERIES = ["q_join_nation_revenue", "q_chunk_containment", "q_dedup_incr",
           "q_threshold_sweep"]
CRAWL_STEPS = ["tick_cdx", "tick_delta", "tick_ingest", "tick_filter", "tick_publish",
               "tick_promote", "maint_rebuild_mh", "maint_compact"]
UNITS = {"wall_s": "s", "jobs": "count", "driver_gap_s": "s", "shuffle_write_bytes": "B",
         "executor_cpu_s": "s", "output_bytes": "B"}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s"),
              ("cpu_s_per_op", "s"), ("rss_peak_mb", "MB"), ("space_amp", "ratio")]


def per_layer_names():
    """(metric, span name, counter, unit) for every per-layer metric."""
    out = []
    for q in QUERIES:
        for c in ["wall_s", "jobs", "shuffle_write_bytes", "executor_cpu_s"]:
            out.append((f"SparkEntry.{q}.{c}", f"SparkEntry.{q}", c, UNITS[c]))
    for s in CRAWL_STEPS:
        for c in ["wall_s", "jobs", "driver_gap_s", "shuffle_write_bytes", "output_bytes"]:
            out.append((f"pipelines.{s}.{c}", f"pipelines.{s}", c, UNITS[c]))
    out.append(("plans.Plan.overhead_s", "plans.Plan", "wall_s", "s"))
    out.append(("trace_overhead", None, None, "ratio"))
    return out


def read_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[2], v[7] if len(v) > 7 else 0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cp, stamp, args, work, deadline):
    """Runs perfbench.Main. The first run of a build dumps the classes it
    loaded into a class-data-sharing archive at exit; later runs, of any
    workload, map it and skip most class loading at start-up."""
    log = os.path.join(work, "jvm.log")
    cds = os.path.join(build.OUT, f"classes-{stamp[:16]}.jsa")
    if os.path.exists(cds):
        share = f"-XX:SharedArchiveFile={cds}"
    else:
        for old in glob.glob(os.path.join(build.OUT, "*.jsa")):
            os.remove(old)  # archives of earlier builds
        share = f"-XX:ArchiveClassesAtExit={cds}"
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
    # a fixed young generation keeps VmHWM tracking retained data; G1's
    # adaptive heap sizing moved it by +-25 % between identical runs
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xmn512m", "-XX:-UseAdaptiveSizePolicy",
            "-XX:-UsePerfData", share, f"-Djava.io.tmpdir={work}/tmp"] + opens
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"))
    # few malloc arenas: with one per thread, native resident memory
    # depends on which threads happen to allocate
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT, env=env,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("JVM run exceeded the time limit")
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"JVM run failed with exit code {r.returncode}")


def end_to_end(raw, setup_s):
    p = raw["phases"][0]
    ops = p["ops"]
    tail, _, _ = stats.tail(ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.median(ops),
        "op_tail_s": tail,
        "ops_per_s": len(ops) / p["wall_s"],
        "cpu_s_per_op": p["cpu_s"] / len(ops),
        "rss_peak_mb": raw["rss_peak_kb"] / 1024.0,
        "space_amp": raw["workspace_bytes"] / raw["input_bytes"],
    }


def per_layer(raw):
    plain, traced = raw["phases"]
    n = {"op": len(traced["ops"]) + traced["op_failed"],
         "bg": len(traced["bgs"]) + traced["bg_failed"]}
    by_kind = {k: stats.layer_metrics([s for s in raw["spans"] if s["kind"] == k],
                                      raw["jobs"], {k: n[k]}) for k in n}
    out = {}
    for metric, span, counter, _ in per_layer_names():
        if span is None:
            out[metric] = (len(traced["ops"]) / traced["wall_s"]) / (
                len(plain["ops"]) / plain["wall_s"])
            continue
        m = by_kind["op"].get(span) or by_kind["bg"].get(span) or {}
        out[metric] = m.get(counter, 0.0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, stamp = build.ensure()
    deadline = time.time() + DEADLINE_S
    root = os.path.join(build.ROOT, ".bench_build", "work")
    work = os.path.join(root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        load_before, stat_before = load1(), read_stat()
        t_setup = time.time()
        inputs = os.path.join(work, "input")
        # ops a run can reach: the timed work is at most 2 x seconds
        gen.generate(a.workload, a.seed, inputs)
        out = os.path.join(work, "raw.json")
        run_jvm(cp, stamp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--input", inputs, "--work", work, "--out", out,
                     "--queries", ",".join(QUERIES)], work, deadline)
        with open(out) as f:
            raw = json.load(f)
        fails = raw["failures"] + checks.CHECKS[a.workload](raw, inputs)
        load_after, stat_after = load1(), read_stat()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    phases = raw["phases"]
    if not all(p["ops"] for p in phases):
        raise SystemExit(f"no op completed in a timed phase; check failures: {fails}")
    attempted, failed = stats.counts(phases)
    ticks = stat_after[0] - stat_before[0] or 1
    ops = phases[0]["ops"]
    _, pct, n = stats.tail(ops)
    cpu_per_wall = [c / w for c, w in zip(phases[0]["op_cpu"], ops) if w > 0]
    steal = 100.0 * (stat_after[2] - stat_before[2]) / ticks
    flags = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": raw["cores"],
        "op_samples": n, "op_tail_percentile": pct, "op_latencies_s": ops,
        # reported beside the bounded metrics: fail_ratio is 0 on a
        # healthy run, and the background op is absent from batch_queries
        # and a millisecond listing on etl_tick
        "fail_ratio": {"value": stats.fail_ratio(failed, attempted), "unit": "ratio"},
        "bg_p50_s": {"value": stats.median(phases[0]["bgs"]) if phases[0]["bgs"] else None,
                     "unit": "s", "samples": len(phases[0]["bgs"])},
        "load1_before": load_before, "load1_after": load_after,
        "steal_pct": steal, "sys_pct": 100.0 * (stat_after[1] - stat_before[1]) / ticks,
        "op_cpu_per_wall_p50": stats.median(cpu_per_wall),
        # set-up split: input generation, JVM + Spark session, bootstrap, warm-up op
        "setup_parts_s": [raw["jvm_start_ms"] / 1e3 - t_setup,
                          (raw["session_ms"] - raw["jvm_start_ms"]) / 1e3,
                          (raw["bootstrap_ms"] - raw["session_ms"]) / 1e3,
                          (raw["first_op_ms"] - raw["bootstrap_ms"]) / 1e3],
        # flag only: a loaded run is reported, never dropped or re-run
        "loaded": load_before > os.cpu_count() or steal > 2.0,
        "check_failures": fails,
    }
    if a.trace:
        values = per_layer(raw)
        units = [(m, u) for m, _, _, u in per_layer_names()]
    else:
        values = end_to_end(raw, raw["first_op_ms"] / 1000.0 - t_setup)
        units = END_TO_END
    metrics = {m: {"value": values[m], "unit": u} for m, u in units}
    print(json.dumps(flags))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
