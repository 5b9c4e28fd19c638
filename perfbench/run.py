#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process, one Spark
session.

    python3 perfbench/run.py --workload pair_analysis --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A run builds seeded inputs and their oracles, runs warm-up ops, then
times a fixed number of ops (seconds / the workload's nominal op time,
at least two), each on fresh inputs, checking every op's output.
`--trace 0` reports the end-to-end metrics named in BENCHMARK.json,
`--trace 1` the per-layer metrics (traced and untraced ops alternate
in ABBA order, so the run also measures the tracing overhead). `--workload all` runs
every workload untraced, one process each, and prints a table.

The last stdout line is the JSON result. A detail record (seed, pinned
settings, per-op samples, host-noise ledger) goes to
perfbench/.results/. Everything the run writes stays inside the
checkout; every process it starts is stopped before it exits.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from layers import LAYERS, ROOT as OP, JobLedger, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pair_analysis", "lidar_dod", "doc_curation")
# Spark gets one core less than the 4-core, 15 GB reference host has,
# and a driver heap far below the 48g session default such a host
# cannot back
PINS = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "2g"}
N_WARMUP = 2
MIN_OPS = 2
DEADLINE_S = 150.0   # stop timing new ops past this (the limit is 180 s)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# host-noise ledger and process bookkeeping (Linux /proc)
# --------------------------------------------------------------------------

def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calib_s() -> float:
    """A fixed single-threaded numpy kernel: its time tracks how much
    CPU the host gives this process."""
    import numpy as np
    a = np.random.RandomState(0).rand(1_000_000)
    t = time.perf_counter()
    for _ in range(10):
        np.sort(a, kind="quicksort")
    return time.perf_counter() - t


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children to exit; kill any
    still alive at the timeout."""
    end = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < end:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_end = time.monotonic() + 5
    while any(os.path.exists(f"/proc/{p}") for p in live) \
            and time.monotonic() < wait_end:
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    the JVM forked, and wait until each has exited."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(kids, 10.0)


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def derive_seed(seed: int, phase: int, i: int) -> int:
    """Distinct per-op seeds: phase 0 = warm-up, 1 = timed. Kept below
    10**6 because the engine derives seeds as `seed * 1000 + k` and numpy
    seeds must fit in 32 bits."""
    import numpy as np
    return int(np.random.SeedSequence([seed, phase, i])
               .generate_state(1)[0]) % 1_000_000


def prepare_env(work: str) -> None:
    """Pin the engine's knobs and keep every file Spark, the JVM and
    Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(PINS)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files: HotSpot writes them to /tmp regardless
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # appended after the session's own --conf flags, so this
        # java.io.tmpdir wins over the one session.py sets
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp}") + " pyspark-shell",
    })
    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse, derby.log, ... land here


def layer_metrics(spans, jobs, wall: float) -> dict:
    """Per-layer values of one traced op."""
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        j = jobs.get(layer, {})
        self_s = sum(s.self_s for s in mine)
        out.update({
            f"{layer}.calls": len(mine),
            f"{layer}.self_s": self_s,
            f"{layer}.driver_s": self_s - j.get("job_wall_s", 0.0),
            f"{layer}.jobs": j.get("jobs", 0),
            f"{layer}.tasks": j.get("tasks", 0),
            f"{layer}.cpu_s": j.get("cpu_s", 0.0),
            f"{layer}.run_s": j.get("run_s", 0.0),
            f"{layer}.shuffle_write_mb": j.get("shuffle_write_mb", 0.0),
            f"{layer}.spill_mb": j.get("spill_mb", 0.0),
            f"{layer}.stage_reuse": (j["skipped_stages"] / j["stages"]
                                     if j.get("stages") else 0.0),
        })
    top = sum(s.end - s.start for s in spans) - sum(s.child_s for s in spans)
    j = jobs.get(OP, {})
    out.update({
        "op.unattributed_s": wall - top,
        "op.jobs": j.get("jobs", 0),
        "op.cpu_s": j.get("cpu_s", 0.0),
        "op.shuffle_write_mb": j.get("shuffle_write_mb", 0.0),
        "align.regrid_calls": sum(1 for s in spans
                                  if s.layer == "align" and s.name == "regrid"),
        # accounting identity: span self times + remainder == wall
        "op.accounting_error_s": abs(sum(s.self_s for s in spans)
                                     + (wall - top) - wall),
    })
    return out


def coverage_errors(name: str, m: dict) -> list[str]:
    """Layer-coverage assertions: a refactor that reroutes work between
    layers fails the traced run."""
    checks = [
        ((m["pointcloud.calls"] > 0) == (name == "lidar_dod"),
         "pointcloud runs only on lidar_dod"),
        (name != "lidar_dod"
         or (m["variogram.calls"] == 0 and m["fitting.calls"] == 0),
         "no variogram or fitting on lidar_dod"),
        ((m["dedup.calls"] > 0) == (name == "doc_curation"),
         "dedup runs only on doc_curation"),
        ((m["align.regrid_calls"] > 0) == (name == "lidar_dod"),
         "align takes its regrid (shuffle) path only on lidar_dod"),
        (m["op.accounting_error_s"] < 1e-6,
         "span self times plus the remainder sum to the op wall"),
    ]
    return [msg for ok, msg in checks if not ok]


def run_one(args: argparse.Namespace, spec: dict) -> int:
    sys.path.insert(0, ROOT)
    try:
        import error_analysis_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    prepare_env(work)
    try:
        return measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, spec: dict, work: str) -> int:
    ledger = {"load1_start": os.getloadavg()[0], "calib_start_s": calib_s(),
              "steal_start_s": steal_s()}

    import gc
    import workloads as WL
    from error_analysis_spark.session import get_spark

    w = WL.WORKLOADS[args.workload]
    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        gc_beans = sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()

        def jvm_gc_s() -> float:
            return sum(b.getCollectionTime() for b in gc_beans) / 1e3

        tracer, jobs = Tracer(sc), JobLedger(sc)
        n_timed = max(MIN_OPS, round(args.seconds / w.nominal_op_s))
        if args.trace:
            n_timed = max(4, n_timed)  # room for the ABBA order below
        seeds = ([derive_seed(args.seed, 0, i) for i in range(N_WARMUP)]
                 + [derive_seed(args.seed, 1, i) for i in range(n_timed)])

        t = time.perf_counter()
        inputs = [w.build(s, os.path.join(work, "inputs", str(i)))
                  for i, s in enumerate(seeds)]
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        for inp in inputs:
            w.oracle(inp)
        oracle_s = time.perf_counter() - t

        ops = []
        timed_from = None
        for i, (seed, inp) in enumerate(zip(seeds, inputs)):
            timed = i >= N_WARMUP
            if timed and timed_from is None:
                timed_from = time.perf_counter()
                setup_s = timed_from - T0
                steal0 = steal_s()
            elif timed and time.perf_counter() - T0 > DEADLINE_S:
                break
            # traced and untraced ops in ABBA order (T U U T ...), so a
            # warm-up trend does not bias the overhead estimate
            traced = (bool(args.trace) and timed
                      and (i - N_WARMUP) % 4 in (0, 3))
            if args.trace:
                (tracer.install if traced else tracer.uninstall)()
            gc.collect()
            gc0 = jvm_gc_s()
            tracer.begin(i)
            t = time.perf_counter()
            try:
                out, err = w.run(spark, inp), None
            except Exception:  # a failed op is counted, not fatal
                out, err = None, traceback.format_exc(limit=3)
            wall = time.perf_counter() - t
            tracer.end()
            spans = tracer.spans
            bad = [err] if err else w.check(inp, out)
            if out is not None:
                w.release(out)
            else:
                spark.catalog.clearCache()
            per_layer = jobs.op_jobs(i)
            rec = {"seed": seed, "timed": timed, "traced": traced,
                   "wall_s": wall, "failed": bad,
                   "cpu_s": sum(v.get("cpu_s", 0.0)
                                for v in per_layer.values()),
                   "failed_tasks": sum(v.get("failed_tasks", 0)
                                       for v in per_layer.values()),
                   "gc_s": jvm_gc_s() - gc0}
            if traced:
                rec["layers"] = layer_metrics(spans, per_layer, wall)
            ops.append(rec)
            if bad:
                print(f"perfbench: op {i} (seed {seed}) failed: {bad}",
                      file=sys.stderr)
        timed_ops = [o for o in ops if o["timed"]]
        ledger.update({"steal_s": steal_s() - steal0,
                       "calib_end_s": calib_s(),
                       "load1_end": os.getloadavg()[0]})
        jvm_rss = peak_rss_mb(sc._gateway.proc.pid)
    finally:
        stop_spark(spark)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    n_failed = sum(1 for o in timed_ops if o["failed"])
    warm_failed = sum(1 for o in ops if not o["timed"] and o["failed"])
    untraced = [o["wall_s"] for o in timed_ops if not o["traced"]]
    values = {
        "setup_s": setup_s,
        "op_p50_s": median(untraced),
        "cpu_s_per_op": median([o["cpu_s"] for o in timed_ops
                                if not o["traced"]]),
    }
    problems = []
    if args.trace:
        traced = [o for o in timed_ops if o["traced"]]
        for key in traced[0]["layers"] if traced else ():
            values[key] = median([o["layers"][key] for o in traced])
        values.update({
            "session.start_s": session_s,
            "inputs.build_s": inputs_s,
            "oracle.build_s": oracle_s,
            "warmup.ops": N_WARMUP,
            "jvm.gc_s": median([o["gc_s"] for o in timed_ops]),
            "jvm.peak_rss_mb": jvm_rss,
            "py.peak_rss_mb": py_rss,
            "spark.failed_tasks": sum(o["failed_tasks"] for o in ops),
            "host.steal_s": ledger["steal_s"],
            "host.calib_s": (ledger["calib_start_s"]
                             + ledger["calib_end_s"]) / 2,
            "trace.overhead_s": (median([o["wall_s"] for o in traced])
                                 - values["op_p50_s"]),
            "op_fail_ratio": n_failed / max(1, len(timed_ops)),
        })
        problems = coverage_errors(args.workload, values) if traced else \
            ["no traced op completed"]
        for p in problems:
            print(f"perfbench: coverage assertion failed: {p}",
                  file=sys.stderr)

    group = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "pins": PINS,
        "warmup_ops": N_WARMUP, "timed_ops": len(timed_ops),
        "op_fail_ratio": n_failed / max(1, len(timed_ops)),
        "coverage_failures": problems, "host": ledger,
        "values": values, "ops": ops,
    }
    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    print(f"{args.workload} seed={args.seed} pins={PINS} "
          f"setup_s={values['setup_s']:.3f} s "
          f"op_p50_s={values['op_p50_s']:.3f} s (n={len(untraced)}) "
          f"cpu_s_per_op={values['cpu_s_per_op']:.3f} CPU-s "
          f"op_fail_ratio={detail['op_fail_ratio']:.3f} ratio "
          f"steal_s={ledger['steal_s']:.2f} load1={ledger['load1_end']:.2f} "
          f"detail={os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": n_failed == 0 and warm_failed == 0 and not problems,
        "attempted": len(timed_ops), "failed": n_failed,
        "metrics": metrics}))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload untraced, each in its own process; one table."""
    rows, rc = [], 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0"], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            sys.stderr.write(p.stderr[-2000:])
            rows.append((name, None))
            rc = 1
            continue
        rows.append((name, json.loads(lines[-1])))
    print(f"{'workload':<14} {'setup_s':>10} {'op_p50_s':>10} "
          f"{'cpu_s_per_op':>14} {'op_fail_ratio':>14}  correct")
    print(f"{'':<14} {'(s)':>10} {'(s)':>10} {'(CPU-s)':>14} "
          f"{'(ratio)':>14}")
    for name, r in rows:
        if r is None:
            print(f"{name:<14} run failed")
            continue
        m = r["metrics"]
        print(f"{name:<14} {m['setup_s']['value']:>10.3f} "
              f"{m['op_p50_s']['value']:>10.3f} "
              f"{m['cpu_s_per_op']['value']:>14.3f} "
              f"{r['failed'] / r['attempted']:>14.3f}  {r['correct']}")
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return run_all(args) if args.workload == "all" else run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
