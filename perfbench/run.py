"""Benchmark of the distinct-count engine.

    python3 perfbench/run.py --workload hashset_volume --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

One run builds the workload's inputs from the seed, sets up a session
(``get_spark`` + ``register_all`` + a warm-up query), times the first
("cold") pass, then makes ``--seconds / NOMINAL_PASS_S`` warm passes.
``pass_s`` is the sum over operations of each one's median time in the
warm passes. Every operation's output in the last warm pass is
then checked, untimed. Four more set-ups in the same process give
``setup_s`` as a median of five.

``--trace 1`` harvests Spark's status stores around every build and
execution call, records spans, alternates traced and untraced warm
passes to report the tracing overhead, and prints the per-layer
metrics instead of the end-to-end ones.

Metric names and units come from ``BENCHMARK.json``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The full record (environment stamp, every
pass and op, every check) goes to ``.perfbench/records/``, the spans of
a traced run to ``.perfbench/traces/``; ``--smoke`` runs every workload
in both modes at a tiny size and checks every metric and output.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "impala_hashset_count_spark"
SETUPS = 5
#: A warm pass takes about this long on a 4-core machine. A run makes
#: ``--seconds / NOMINAL_PASS_S`` warm passes (at least ``MIN_WARM``)
#: whatever the host's speed, so that every run, and every commit,
#: reports the same passes of the JVM's warm-up curve.
NOMINAL_PASS_S = 5.0
MIN_WARM = 2
#: A run that has already taken this long (a slow or loaded host)
#: starts no warm pass beyond ``MIN_WARM``.
RUN_BUDGET_S = 55.0
#: Directories a run may change without it counting as a change to
#: the tree: its own work dir and Python's bytecode caches.
SCRATCH_DIRS = {".perfbench", "__pycache__", ".git"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Deployment settings only: cores, and every scratch file Spark,
    the JVM and Python write kept inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no hsperfdata file: the JVM would write it under /tmp whatever
    # java.io.tmpdir says
    opt = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), opt]))
    sys.path.insert(0, ROOT)


def tree_snapshot() -> dict[str, tuple[int, int]]:
    snap = {}
    for base, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SCRATCH_DIRS]
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def tree_changes(before: dict, after: dict) -> list[str]:
    return sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))


def git_rev() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- session --------------------------------------------------------------


def setup_session(tracer):
    """Session creation, ``register_all`` and warm-up, timed by part."""
    from impala_hashset_count_spark.register import register_all
    from impala_hashset_count_spark.session import get_spark

    with tracer.span("setup") as attrs:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        live = register_all(spark)
        t2 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        attrs.update(get_spark_s=t1 - t0, register_all_s=t2 - t1,
                     warmup_s=t3 - t2, setup_s=t3 - t0, live=live)
    return spark, attrs


def stop_jvm() -> None:
    """Stop the gateway JVM the session started and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# --- passes ---------------------------------------------------------------


def timed_call(fn, phase, tracer, harvester):
    with tracer.span(phase) as attrs:
        mark = harvester.mark() if harvester else None
        t0 = time.perf_counter()
        value = fn()
        wall = time.perf_counter() - t0
        counts = harvester.since(mark) if harvester else None
        attrs.update(wall_s=wall, counts=counts)
    return wall, counts, value


def run_pass(spark, workload, out_dir, label, tracer, harvester):
    """One pass over the workload's ops; an op that raises is recorded
    and the pass goes on. Returns the pass record and each op's result."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    ops, results = [], {}
    t0 = time.perf_counter()
    with tracer.span("pass", label=label, traced=harvester is not None):
        for op in workload.ops:
            rec = {"name": op.name}
            with tracer.span("op", name=op.name) as attrs:
                try:
                    rec["build_s"], rec["build"], df = timed_call(
                        lambda: op.build(spark, out_dir), "build", tracer, harvester)
                    rec["exec_s"], rec["exec"], results[op.name] = timed_call(
                        lambda: op.sink(df, out_dir), "exec", tracer, harvester)
                except Exception as exc:  # an op failure is a result, not a crash
                    rec["error"] = "".join(
                        traceback.format_exception_only(type(exc), exc)).strip()[-2000:]
                rec["notes"] = dict(op.notes)
                attrs.update(notes=rec["notes"], error=rec.get("error"))
            spark.catalog.clearCache()
            ops.append(rec)
    return {"label": label, "wall_s": time.perf_counter() - t0,
            "traced": harvester is not None, "ops": ops}, results


def pass_layers(p: dict, cores: int) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    from layers import PEAKS, empty_counts

    ok = [o for o in p["ops"] if "error" not in o]
    build, ex = empty_counts(), empty_counts()
    for o in ok:
        for total, part in ((build, o["build"]), (ex, o["exec"])):
            for k, v in part.items():
                total[k] = max(total[k], v) if k in PEAKS else total[k] + v
    exec_wall = sum(o["exec_s"] for o in ok)
    out = {
        "plans.build_s": sum(o["build_s"] for o in ok),
        "plans.build_jobs": build["jobs"],
        "plans.build_task_cpu_s": build["cpu_s"],
        "exec.wall_s": exec_wall,
        "exec.slot_busy_ratio": ex["task_s"] / (exec_wall * cores) if exec_wall else 0.0,
    }
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_fetch_wait_s",
              "peak_exec_mem_bytes", "spill_bytes"):
        out[f"exec.{k}"] = ex[k]
    for k in ("boot_s", "init_s", "run_s", "bytes_sent", "bytes_received"):
        out[f"python.{k}"] = build[k] + ex[k]
    for k in ("scan_rows", "scan_bytes", "write_bytes"):
        out[f"sources.{k}"] = build[k] + ex[k]
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(b, f))
               for b, _, fs in os.walk(path) for f in fs)


# --- one run --------------------------------------------------------------


def run(workload_name: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    """One benchmark run; returns the full record."""
    import pyspark

    from layers import Harvester, Tracer
    from workloads import BUILDERS

    before = tree_snapshot()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload_name}-", dir=WORK)
    tracer = Tracer(trace)
    cores = nproc()
    try:
        t0 = time.perf_counter()
        workload = BUILDERS[workload_name](seed, size, run_dir)
        gen_s = time.perf_counter() - t0
        passes, setups = [], []
        with tracer.span("workload", name=workload_name, seed=seed):
            spark, setup = setup_session(tracer)
            setups.append(setup)
            java = spark._jvm.System.getProperty("java.version")
            harvester = Harvester(spark) if trace else None
            out_dir = os.path.join(run_dir, "out")
            p, _ = run_pass(spark, workload, out_dir, "cold", tracer, harvester)
            passes.append(p)
            want = max(MIN_WARM, round(seconds / NOMINAL_PASS_S))
            while len(passes) - 1 < want and (
                    len(passes) - 1 < MIN_WARM or time.perf_counter() - t0 < RUN_BUDGET_S):
                # a traced run alternates traced and untraced warm passes
                traced = trace and len(passes) % 2 == 1
                p, results = run_pass(spark, workload, out_dir, "warm", tracer,
                                      harvester if traced else None)
                passes.append(p)
            state_bytes = sum(dir_bytes(p) for p in workload.final_states(out_dir))
            peak_rss = vm_hwm_mb(spark._jvm.ProcessHandle.current().pid())
            t_check = time.perf_counter()
            with tracer.span("check"):
                checks = run_checks(spark, workload, results, out_dir)
            check_s = time.perf_counter() - t_check
            spark.stop()
            for _ in range(SETUPS - 1):
                spark, setup = setup_session(tracer)
                setups.append(setup)
                spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    changed = tree_changes(before, tree_snapshot())

    warm = [p for p in passes if p["label"] == "warm"]
    ops = op_summary(passes)
    executions = [o for p in passes for o in p["ops"]]
    failures = {o["name"]: o["error"] for o in executions if "error" in o}
    failures.update({k: v for k, v in checks.items() if v})
    attempted = len(executions)
    failed = sum("error" in o for o in executions) + sum(bool(v) for v in checks.values())
    metrics = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "pass_s": sum(d["total_s"] for d in ops.values()),
        "cold.pass_s": passes[0]["wall_s"],
        "memory.peak_rss_mb": peak_rss,
        "session.get_spark_s": median([s["get_spark_s"] for s in setups]),
        "cold.setup_s": setups[0]["setup_s"],
        "register.register_all_s": median([s["register_all_s"] for s in setups]),
        "sources.state_bytes_per_input_byte": state_bytes / workload.inputs["bytes"],
        "ops.failed_ratio": failed / attempted,
        "hermetic.changed_files": len(changed),
    }
    if trace:
        traced = [pass_layers(p, cores) for p in warm if p["traced"]]
        metrics.update({k: median([t[k] for t in traced]) for k in traced[0]})
        metrics["trace.overhead_s"] = (
            median([p["wall_s"] for p in warm if p["traced"]])
            - median([p["wall_s"] for p in warm if not p["traced"]]))
    return {
        "workload": workload_name,
        "env": {
            "seed": seed, "trace": trace, "seconds": seconds, "size": size,
            "nproc": cores, "mem_total_mb": mem_total_mb(),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": java, "git_rev": git_rev(), "inputs": workload.inputs,
            "input_gen_s": gen_s, "check_s": check_s,
            "run_s": time.perf_counter() - t0,
        },
        "metrics": metrics,
        "warm_passes": len(warm),
        "ops": ops,
        "passes": passes,
        "setups": setups,
        "checks": checks,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "tree_changed": changed,
        "spans": tracer.spans,
    }


def run_checks(spark, workload, results, out_dir) -> dict[str, str | None]:
    """Checks the outputs of the last warm pass, one entry per op that
    completed in it (an op that raised is already counted as failed).
    A check that raises fails every op it covers."""
    try:
        res = workload.check(spark, results, out_dir)
    except Exception as exc:  # reported per op, never dropped
        msg = "".join(traceback.format_exception_only(type(exc), exc)).strip()[-2000:]
        return {name: f"check raised: {msg}" for name in results}
    res.update({name: "no check ran" for name in results if name not in res})
    return res


def op_summary(passes) -> dict[str, dict]:
    """Median build, exec and build + exec seconds per op over the
    untraced warm passes. ``pass_s`` is the sum of the ops' median
    build + exec: a burst of host load that slows one op in one pass
    moves that op's median less than it moves the median pass."""
    warm = [p for p in passes if p["label"] == "warm" and not p["traced"]]
    out = {}
    for p in warm:
        for o in p["ops"]:
            if "error" not in o:
                d = out.setdefault(o["name"], {"build_s": [], "exec_s": [], "total_s": []})
                d["build_s"].append(o["build_s"])
                d["exec_s"].append(o["exec_s"])
                d["total_s"].append(o["build_s"] + o["exec_s"])
    return {k: {m: median(v) for m, v in d.items()} for k, d in out.items()}


# --- output ---------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(record: dict, spec: dict) -> dict:
    declared = spec["per_layer"] if record["env"]["trace"] else spec["end_to_end"]
    metrics = record["metrics"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }


def save(record: dict) -> str:
    env = record["env"]
    stem = f"{record['workload']}-seed{env['seed']}-trace{int(env['trace'])}-{time.time_ns()}"
    spans = record.pop("spans")
    for sub in ("records", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    if env["trace"]:
        with open(os.path.join(WORK, "traces", stem + ".json"), "w") as fh:
            json.dump({"spans": spans}, fh)
    path = os.path.join(WORK, "records", stem + ".json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def report(record: dict, line: dict, path: str) -> None:
    env = record["env"]
    print(f"# {record['workload']} seed={env['seed']} trace={int(env['trace'])} "
          f"nproc={env['nproc']} git={env['git_rev'][:12]} "
          f"inputs={env['inputs']} warm_passes={record['warm_passes']}")
    for name, m in line["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    for name, d in record["ops"].items():
        print(f"  op {name:34s} build_s={d['build_s']:.4f} exec_s={d['exec_s']:.4f}")
    for name, problem in record["failures"].items():
        print(f"FAILED {name}: {problem}")
    for p in record["tree_changed"]:
        print(f"TREE CHANGED by the run: {p}")
    print(f"# record: {os.path.relpath(path, ROOT)}")


# --- smoke ----------------------------------------------------------------


def smoke(spec: dict) -> int:
    """Every workload once in each mode at a tiny size, through the same
    command line; every declared metric must appear with its unit and
    every check must pass."""
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--size", "smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            label = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                bad.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            print(proc.stdout, end="")
            line = json.loads(proc.stdout.strip().splitlines()[-1])
            declared = spec["per_layer"] if trace else spec["end_to_end"]
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want:
                bad.append(f"{label}: metrics {got} != declared {want}")
            if not line["correct"] or line["failed"]:
                failed = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAILED")]
                bad.append(f"{label}: {line['failed']} of {line['attempted']} failed\n"
                           + "\n".join(failed))
    for b in bad:
        print(f"SMOKE FAILED {b}", file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload in both modes at a tiny size")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.smoke:
        return smoke(spec)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    prepare_env()
    record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    line = result_line(record, spec)
    report(record, line, save(record))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
