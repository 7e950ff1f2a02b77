#!/usr/bin/env python3
"""The benchmark: one workload, one seed, one JVM.

  python3 perfbench/run.py --workload corpus|stream --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs graft.perfbench.Main in one JVM, checks the
outputs (DuckDB oracle, row counts, streamed row totals) and prints as
its last line one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Run artifacts go to .bench_build/perfbench/runs/.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
FAMILIES = ("dedup", "graph", "text")


def untraced(rec):
    return [p for p in rec["passes"] if not p["traced"]]


def end_to_end(rec, workload, setup_s):
    passes = untraced(rec)
    pass_s = stats.median([p["wall_s"] for p in passes])
    by_op, batches = {}, {}
    for p in passes:
        for op in p["ops"]:
            by_op.setdefault(op["name"], []).append(op["latency_s"])
            # a batch is a micro-batch on stream and one query execution elsewhere
            batches.setdefault(op["name"], []).extend(
                [b["trigger_s"] for b in op["batches"]] if workload == "stream"
                else [op["latency_s"]])
    batch_p50 = {name: stats.median(xs) for name, xs in batches.items()}
    # the ops' batch times form separate clusters, and a median or rank
    # pooled over raw times lands on a cluster boundary; so each batch is
    # scaled to its op's median, and the op medians combine by geomean
    relative = [x / batch_p50[name] for name, xs in batches.items() for x in xs]
    p50 = stats.geomean(list(batch_p50.values()))
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "query_geomean_s": (stats.geomean([stats.median(xs) for xs in by_op.values()]), "s"),
        "heap_retained_mb": (rec["heap_retained_mb"], "MB"),
        "batch_p50_s": (p50, "s"),
        "batch_tail_s": (p50 * stats.tail(relative)[0], "s"),
    }


def per_layer(rec, cpus):
    """Each metric is a per-pass total (or ratio), median over traced passes."""
    traced = [p for p in rec["passes"] if p["traced"]]
    rows = []
    for p in traced:
        ops = p["ops"]
        ex = [op.get("exec", {}) for op in ops]
        phases = [op.get(ph, {}) for op in ops for ph in ("build", "plan", "exec")]

        def tot(cs, key):
            return sum(c.get(key, 0) for c in cs)

        exec_wall = sum(op.get("exec_s", op["latency_s"]) for op in ops)
        gap = sum(stats.driver_gap(op["exec"]["job_intervals_ms"], op["exec_start_ms"],
                                   op["exec_end_ms"]) / 1000.0 for op in ops if "exec" in op)
        builds = sum(op.get("memo_builds", 0) for op in ops)
        reuses = sum(op.get("memo_reuses", 0) for op in ops)
        batches = [b for op in ops for b in op.get("batches", [])]
        last = [op["batches"][-1] for op in ops if op.get("batches")]
        m = {
            "ops.build_s": sum(op.get("build_s", 0.0) for op in ops),
            "ops.build_jobs": sum(op.get("build", {}).get("jobs", 0) for op in ops),
            "plan.plan_s": sum(op.get("plan_s", 0.0) for op in ops),
            "exec.run_s": exec_wall,
            "exec.jobs": tot(ex, "jobs"),
            "exec.stages": tot(ex, "stages"),
            "exec.tasks": tot(ex, "tasks"),
            "exec.driver_gap_s": gap,
            "exec.slot_busy_ratio": tot(ex, "run_ms") / 1000.0 / (exec_wall * cpus),
            "exec.task_cpu_s": tot(ex, "cpu_ns") / 1e9,
            "exec.task_gc_s": tot(ex, "gc_ms") / 1000.0,
            "exec.failed_tasks": tot(phases, "failed_tasks"),
            "tables.scan_mb": tot(phases, "input_bytes") / 1048576.0,
            "tables.scan_rows": tot(phases, "input_records"),
            "shuffle.write_mb": tot(phases, "shuffle_write_bytes") / 1048576.0,
            "shuffle.read_mb": tot(phases, "shuffle_read_bytes") / 1048576.0,
            "shuffle.records": tot(phases, "shuffle_write_records"),
            "shuffle.spill_mb": tot(phases, "spill_bytes") / 1048576.0,
            "memo.builds": builds,
            "memo.reuse_ratio": reuses / (reuses + builds) if reuses + builds else 0.0,
            "streaming.batches": len(batches),
            "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
            "streaming.plan_s": sum(b["plan_s"] for b in batches),
            "streaming.commit_s": sum(b["commit_s"] for b in batches),
            "state.rows_total": sum(b["state_rows"] for b in last),
            "state.memory_mb": sum(b["state_memory_bytes"] for b in last) / 1048576.0,
            "state.commit_s": sum(b["state_commit_s"] for b in batches),
            "jvm.gc_s": p["gc_s"],
            "jvm.heap_peak_mb": p["heap_peak_mb"],
        }
        for fam in FAMILIES:
            fops = [op for op in ops if op.get("family") == fam]
            m[f"ops.build_s.{fam}"] = sum(op.get("build_s", 0.0) for op in fops)
            m[f"exec.task_cpu_s.{fam}"] = sum(op.get("exec", {}).get("cpu_ns", 0) for op in fops) / 1e9
        rows.append(m)
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    out["trace.overhead_ratio"] = (stats.median([p["wall_s"] for p in traced]) /
                                   stats.median([p["wall_s"] for p in untraced(rec)]))
    return out


UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def unit_of(name):
    base = name.split(".")[1] if name.count(".") > 1 else name
    for suffix, unit in UNITS.items():
        if base.endswith(suffix):
            return unit
    return "count"


def run_jvm(args, log_path, deadline):
    tmp = os.path.join(args[3], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_command(WORK, "graft.perfbench.Main", args, tmp,
                             f"-XX:SharedArchiveFile={build.archive_path(WORK)}")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=args[3])
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("the JVM ran past the run's time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"the JVM exited with code {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["corpus", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build.build(WORK)
    # the build (first run in a checkout only) is not part of the run's limit
    started = time.time()
    deadline = started + RUN_LIMIT_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    problems = []

    # set-up, part 1: the inputs (test_perfbench.py checks that a seed
    # always gives the same files)
    t = time.time()
    data = os.path.join(run_dir, "data")
    gen.generate(os.path.join(build.testdata_dir(), "sf0.1"), data, a.workload, a.seed)
    control = os.path.join(run_dir, "control")
    gen.generate(os.path.join(build.testdata_dir(), "sf0.001"), control, "control", a.seed)
    gen_s = time.time() - t

    # set-up, part 2 and the timed phase: the JVM
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    jvm_launch = time.time()
    run_jvm([a.workload, data, control, out, str(a.seed), str(a.seconds), str(a.trace),
             str(cpus)], os.path.join(run_dir, "jvm.log"), deadline)
    jvm_s = time.time() - jvm_launch
    rec = json.load(open(os.path.join(out, "run.json")))
    setup_s = gen_s + rec["first_timed_ms"] / 1000.0 - jvm_launch

    # output checks
    t = time.time()
    problems += rec["mismatches"]
    n_oracled = 0
    if a.workload != "stream":
        duck_tmp = os.path.join(out, "tmp", "duckdb")
        report, failed = oracle.check(data, os.path.join(out, "check"), duck_tmp)
        with open(os.path.join(run_dir, "oracle.log"), "w") as fh:
            fh.write("\n".join(report) + "\n")
        n_oracled = sum(line.startswith(("PASS", "FAIL", "TYPE-FAIL")) for line in report)
        problems += [f"oracle {f}" for f in failed]
    failed_ops = len(rec["failures"])
    oracle_s = time.time() - t

    ctrl = rec["control_s"]
    print(json.dumps({
        "host_control": {"query": "q1_pricing_summary", "input": "sf0.001",
                         "head_mid_tail_s": ctrl, "max_min_ratio": max(ctrl) / min(ctrl)},
        "oracled_queries": n_oracled,
        "phase_s": {"generate": gen_s, "jvm": jvm_s,
                    "oracle": oracle_s, "total": time.time() - started},
        "problems": problems, "failures": rec["failures"],
        "run_dir": os.path.relpath(run_dir, ROOT)}))
    metrics = {}
    if not failed_ops:
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(rec, cpus).items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                       end_to_end(rec, a.workload, setup_s).items()}
    for d in (data, control, os.path.join(out, "tmp"), os.path.join(out, "check")):
        shutil.rmtree(d, ignore_errors=True)
    correct = not problems and not failed_ops
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": failed_ops,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
