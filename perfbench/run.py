"""Seeded link-graph benchmark for parrsb_spark.

One run is one closed-loop client: a single Python driver process on
local[<cores>] that sets up the named workload, then makes timed passes of
its kernel calls for --seconds, each in a child process on a freshly
launched driver JVM, and checks every answer. Run from the root of the
repository:

    python3 perfbench/run.py --workload powerlaw-analytics --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs with a Spark event
log on and prints the per-layer metrics it yields. Every
metric is printed as `name value unit` and then, as the last line, in one
JSON object. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB", "ok_frac": "1"}

# timed call → the counters the trace reports for it (wall_s and
# failed_tasks are reported for every call)
CALL_STATS = {
    "sources.edges_from_pages": ["task_s", "shuffle_write_mb", "output_mb", "files_written"],
    "plans.pagerank_resumable": ["jobs", "driver_gap_s", "output_mb", "files_written"],
    "operators.pagerank": ["jobs", "stages", "driver_gap_s", "shuffle_write_mb", "exec_busy_frac"],
    "operators.connected_components": ["jobs", "driver_gap_s", "shuffle_write_mb"],
    "operators.label_propagation": ["jobs", "shuffle_write_mb", "spill_mb"],
    "operators.triangle_total": ["shuffle_write_mb", "spill_mb", "task_s", "gc_s"],
    "operators.rsb_partition": ["jobs", "jobs_per_lanczos_iter", "driver_gap_s", "exec_busy_frac"],
    "operators.quality_gate": [],
}
# rsb_partition's durable checkpoints are the plans layer's work inside it
ALIASES = {"plans.rsb_ckpt": ("operators.rsb_partition", ["output_mb", "files_written"])}
UNITS = {
    "wall_s": "s", "task_s": "s", "gc_s": "s", "driver_gap_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB",
    "files_written": "count", "jobs": "count", "stages": "count", "failed_tasks": "count",
    "jobs_per_lanczos_iter": "1", "exec_busy_frac": "1",
}


def per_layer_spec() -> dict[str, tuple[str, str, str]]:
    """per-layer metric name → (unit, call, stat)."""
    spec = {"session.start_s": ("s", "", "start_s"), "input.load_s": ("s", "", "load_s")}
    for call, stats in CALL_STATS.items():
        for stat in ["wall_s", *stats, "failed_tasks"]:
            spec[f"{call}.{stat}"] = (UNITS[stat], call, stat)
    for alias, (call, stats) in ALIASES.items():
        for stat in stats:
            spec[f"{alias}.{stat}"] = (UNITS[stat], call, stat)
    spec["trace.overhead_frac"] = ("1", "", "overhead_frac")
    return spec


def pin_environment() -> None:
    """Deployment settings, passed only through the environment and conf."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    # pandas-UDF workers import parrsb_spark from the checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    env["TMPDIR"] = tmp
    env.pop("SPARK_GRAFT_MASTER", None)
    for k in [k for k in env if k.startswith("PARRSB_SPARK_")]:
        del env[k]  # EngineOptions overrides


def start_session(extra: dict[str, str] | None = None):
    from parrsb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap with fixed generations: G1's resizing moves peak
        # RSS by ±10% from run to run. No perf-data file: it goes to /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+UseParallelGC -XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
        **(extra or {}),
    }
    return get_spark(
        master=f"local[{CORES}]", app_name="perfbench", shuffle_partitions=CORES, extra_conf=conf
    )


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def count_files(path: str) -> int:
    """Data files under `path` (Spark's _SUCCESS markers and .crc sums excluded)."""
    return sum(
        sum(1 for f in files if not f.startswith(("_", "."))) for _, _, files in os.walk(path)
    )


class Recorder:
    """Times the calls of one pass; tags their jobs when tracing."""

    def __init__(self, sc, trace: bool, label: str):
        self.sc, self.trace, self.label = sc, trace, label
        self.calls: list[dict] = []

    def call(self, module: str, name: str, fn, check, files=()) -> bool:
        key = f"{module}.{name}"
        group = f"{key}#{self.label}"
        gc.collect()  # drop dead checkpoint references outside the timed region
        if self.trace:
            self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        t1 = time.time()
        print(f"perfbench: {key} {t1 - t0:.3f} s", file=sys.stderr)
        if self.trace:
            self.sc.setJobGroup("perfbench.check", "untimed checks")
        if ok:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"perfbench: wrong answer from {key}", file=sys.stderr)
        self.calls.append(
            {"key": key, "group": group, "t0": t0, "t1": t1, "ok": ok,
             "files": sum(count_files(p) for p in files)}
        )
        return ok

    def skip(self, module: str, name: str) -> None:
        """A call that could not run because an earlier one failed."""
        self.calls.append({"key": f"{module}.{name}", "group": None, "ok": False})


def setup(wl, inp, extra=None):
    t0 = time.time()
    spark = start_session(extra)
    t1 = time.time()
    data = wl.load(spark, inp)
    return spark, data, t1 - t0, time.time() - t1


def pass_wall(calls: list[dict]) -> float:
    """From the first timed call's start to the last one's result."""
    timed = [c for c in calls if c["group"]]
    return timed[-1]["t1"] - timed[0]["t0"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def call_medians(passes: list[list[dict]], key: str) -> list[float]:
    return [c["t1"] - c["t0"] for p in passes for c in p if c["key"] == key and c["group"]]


def kernel_report(passes, shape, params) -> list[tuple[str, float, str, int]]:
    """The workload's own figures (name, median, unit, samples)."""
    out = []

    def add(name, xs, unit, f=lambda m: m):
        if xs:
            out.append((name, f(median(xs)), unit, len(xs)))

    add("ingest_pages_per_s", call_medians(passes, "sources.edges_from_pages"), "1/s",
        lambda m: shape["pages"] / m)
    add("pagerank_ckpt_s", call_medians(passes, "plans.pagerank_resumable"), "s")
    add("pagerank_edges_per_s", call_medians(passes, "operators.pagerank"), "1/s",
        lambda m: shape["edges"] * params["pr_iters"] / m)
    add("cc_s", call_medians(passes, "operators.connected_components"), "s")
    add("labelprop_s", call_medians(passes, "operators.label_propagation"), "s")
    add("triangles_s", call_medians(passes, "operators.triangle_total"), "s")
    parts = [
        sum(c["t1"] - c["t0"] for c in p if c["group"] and c["key"] in
            ("operators.rsb_partition", "operators.quality_gate"))
        for p in passes if any(c["key"] == "operators.rsb_partition" for c in p)
    ]
    add("partition_s", parts, "s")
    return out


def layer_metrics(passes, groups, params, setup) -> dict[str, float]:
    # nominal Lanczos iterations of one rsb_partition: max_iter per bisection level
    lanczos_iters = params.get("rsb_max_iter", 1) * max(1, (params.get("k", 1) - 1).bit_length())
    per_call: dict[str, list[dict[str, float]]] = {}
    for p in passes:
        for c in p:
            if not c["group"]:
                continue
            g = groups.get(c["group"], eventlog.GroupStats())
            wall = c["t1"] - c["t0"]
            task_s = g.run_ms / 1000.0
            per_call.setdefault(c["key"], []).append({
                "wall_s": wall,
                "jobs": g.jobs,
                "stages": g.stages,
                "task_s": task_s,
                "gc_s": g.gc_ms / 1000.0,
                "shuffle_write_mb": g.shuffle_write_bytes / 1e6,
                "spill_mb": g.spill_bytes / 1e6,
                "output_mb": g.output_bytes / 1e6,
                "files_written": c["files"],
                "failed_tasks": g.failed_tasks,
                "driver_gap_s": wall - eventlog.covered(g.job_spans, c["t0"], c["t1"]),
                "exec_busy_frac": task_s / (wall * CORES),
                "jobs_per_lanczos_iter": g.jobs / lanczos_iters,
            })
    out = {}
    for name, (_, call, stat) in per_layer_spec().items():
        if call:
            out[name] = median([s[stat] for s in per_call.get(call, [])])
        else:
            out[name] = setup.get(stat, 0.0)
    return out


def prepare_input(wl, params, size: str, seed: int) -> tuple[str, dict]:
    """Generate the seeded input and oracles once per (workload, size, seed)."""
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    inp = os.path.join(WORK, "inputs", wl.name, f"{size}-s{seed}-{digest}")
    if not os.path.isfile(os.path.join(inp, "shape.json")):
        tmp = f"{inp}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        shape = wl.generate(params, seed, tmp)
        with open(os.path.join(tmp, "shape.json"), "w") as f:
            json.dump(shape, f)
        shutil.rmtree(inp, ignore_errors=True)
        os.rename(tmp, inp)
    with open(os.path.join(inp, "shape.json")) as f:
        return inp, json.load(f)


def one_pass(wl, params, inp: str, run_dir: str, label: str, trace: bool) -> dict:
    """One timed pass in this process, on a freshly launched driver JVM, as a
    batch job runs. The first pass of a run also sets up SETUP_REPS times and
    makes its pass on the last session."""
    extra = event_log_conf(os.path.join(run_dir, "events")) if trace else None
    spark = None
    starts, loads = [], []
    try:
        for _ in range(SETUP_REPS if label == "p0" else 1):
            if spark is not None:
                spark.stop()
            spark, data, s, l = setup(wl, inp, extra)
            starts.append(s)
            loads.append(l)
        rec = Recorder(spark.sparkContext, trace, label)
        outdir = os.path.join(run_dir, label)
        wl.run_pass(spark, data, rec, outdir, params)
        shutil.rmtree(outdir, ignore_errors=True)
        rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_jvm(spark)
    return {"starts": starts, "loads": loads, "rss": rss, "calls": rec.calls}


def untraced_wall_s(args, inp: str) -> float:
    """wall_s of an untraced run of the same workload, seed and size: the
    cached one if this checkout has made it, else a fresh run."""
    path = os.path.join(inp, "untraced.json")
    if not os.path.isfile(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--size", args.size]
        subprocess.run(cmd, stdout=sys.stderr, check=True, timeout=170)
    with open(path) as f:
        return json.load(f)["wall_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    # internal: make one pass in this process and write its record to run-dir
    ap.add_argument("--pass-label", help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    for need in ("parrsb_spark/__init__.py", "tests/oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found beside perfbench/", file=sys.stderr)
            return 2
    pin_environment()
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    params = wl.sizes[args.size]
    inp, shape = prepare_input(wl, params, args.size, args.seed)
    if args.pass_label:
        job = one_pass(wl, params, inp, args.run_dir, args.pass_label, bool(args.trace))
        with open(os.path.join(args.run_dir, f"{args.pass_label}.json"), "w") as f:
            json.dump(job, f)
        return 0
    base_wall = untraced_wall_s(args, inp) if args.trace else None

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    jobs = []
    try:
        t_end = time.time() + args.seconds
        while True:
            t = time.time()
            label = f"p{len(jobs)}"
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--size", args.size,
                   "--pass-label", label, "--run-dir", run_dir]
            subprocess.run(cmd, stdout=sys.stderr, check=True, timeout=170)
            with open(os.path.join(run_dir, f"{label}.json")) as f:
                jobs.append(json.load(f))
            if time.time() + (time.time() - t) > t_end:
                break
        if args.trace:
            groups = eventlog.parse_dir(os.path.join(run_dir, "events"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = [job["calls"] for job in jobs]
    starts, loads = jobs[0]["starts"], jobs[0]["loads"]
    calls = [c for p in passes for c in p]
    attempted, failed = len(calls), sum(not c["ok"] for c in calls)
    wall_s = median([pass_wall(p) for p in passes if all(c["ok"] for c in p)])
    print(f"# {wl.name} size={args.size} seed={args.seed} cores={CORES} passes={len(passes)} "
          + " ".join(f"{k}={v}" for k, v in shape.items()))
    if not args.trace:
        metrics = {
            "setup_s": median([s + l for s, l in zip(starts, loads)]),
            "wall_s": wall_s,
            "peak_rss_mb": median([job["rss"] for job in jobs]),
            "ok_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
        for name, value, unit, n in kernel_report(passes, shape, params):
            print(f"{name} {value:.6g} {unit} (median of {n})")
        with open(os.path.join(inp, "untraced.json"), "w") as f:
            json.dump({"wall_s": wall_s}, f)
    else:
        metrics = layer_metrics(passes, groups, params,
                                {"start_s": median(starts), "load_s": median(loads)})
        metrics["trace.overhead_frac"] = wall_s / base_wall - 1.0
        units = {k: v[0] for k, v in per_layer_spec().items()}
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
