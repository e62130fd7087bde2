"""sparktext benchmark: one workload per invocation.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 40 --trace 0

Runs the workload on ``bigdata_cookbook_spark.session.get_spark()``, the
session users get, in ``local[N]`` with N = the CPUs this process may use.
Prints a table of every metric with its unit and sample count, then, as
the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` repeats the
run with spans, job groups and Spark's event log on and reports the
per-layer metrics instead, also written to
``.perfbench_run/traces/<workload>-seed<seed>.json``. The work of a run
is fixed by the workload, whatever ``--seconds`` says: ``--seconds`` is
the run length the caller expects and is not used to decide how much
timed work runs. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# set-ups per run; setup_s is their median
SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
}


def configure_env(work: str, trace: bool) -> None:
    """Settings that must be in place before the JVM starts.

    Everything Spark writes goes under ``work``. The package is put on the
    Python workers' path through PYTHONPATH, which the JVM passes on to
    the workers it starts: ``get_spark`` does not ship the package, so
    without this a worker fails to import it whenever the driver's cwd is
    not the repository root."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM and the Python workers: the
    sum of VmHWM over every process this one started."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to someone else: a
    run that overlaps a busy neighbour reads slower for a reason the
    program does not control, and the share of stolen ticks shows it."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Context:
    """What a workload runs with: the session, the tracer, a scratch
    directory and the generated inputs."""

    def __init__(self, spark, tracer, work: str, inputs: str):
        self.spark, self.tracer, self.work, self.inputs = spark, tracer, work, inputs


def setup(setup_fn, work: str, seed: int):
    """SETUP_REPS set-ups: session start, then input generation. The first
    starts the JVM; later ones stop the session and start a fresh one in
    the same JVM. Returns the last session and per-rep timings."""
    from bigdata_cookbook_spark.session import get_spark

    reps = []
    spark = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        t_session = time.perf_counter() - t0
        data = setup_fn(os.path.join(work, "inputs"), seed)
        reps.append((time.perf_counter() - t0, t_session, time.perf_counter() - t0 - t_session))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, data, reps


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def op_layers(groups: dict, spans: list[dict], op: dict) -> dict[str, float]:
    """Layer figures of one operation from its job groups and spans."""
    r: dict[str, float] = defaultdict(float)
    for v in groups.values():
        for key, val in v.items():
            if key.startswith(("sched.", "exec.", "shuffle.", "spill.", "python.", "input.")):
                r[key] += val
    wall = {g: v.get("job.wall_s", 0.0) for g, v in groups.items()}
    r["job.wall_s"] = sum(wall.values())
    builds = [s for s in spans if s["group"].endswith("/build")]
    runs = [s for s in spans if s["group"].endswith(("/run", "/accounting"))]
    build_groups = [g for g in groups if g.endswith("/build")]
    r["plan.build_s"] = sum(s["end"] - s["start"] for s in builds) - sum(wall[g] for g in build_groups)
    r["plan.eager_jobs"] = sum(groups[g].get("sched.jobs", 0.0) for g in build_groups)
    r["plan.optimize_s"] = sum(s["end"] - s["start"] for s in spans if s["group"].endswith("/optimize"))
    run_wall = sum(wall[g] for g in groups if g.endswith(("/run", "/accounting")))
    if "batch" in op:  # a micro-batch: its time comes from the stream's progress
        r["sched.driver_s"] = op["s"] - run_wall
        r["state.read_bytes"] = r["input.bytes"]
    else:
        r["sched.driver_s"] = sum(s["end"] - s["start"] for s in runs) - run_wall
    r["result.s"] = sum(
        max(0.0, s["end"] - groups[s["group"]]["job.last_end"])
        for s in runs
        if s["name"] == "toPandas" and s["group"] in groups
    )
    if op["groups"] == ["batch/"]:
        r["corpus.accounting_jobs"] = r["plan.eager_jobs"] + groups.get("batch/accounting", {}).get("sched.jobs", 0.0)
    r.pop("input.bytes", None)
    return r


def per_layer(out, spans: list[dict], work: str, cores: int, per_pass: bool) -> dict[str, float]:
    """Per-layer figures of a traced run, from its spans and event log.

    With ``per_pass`` (the query suite) each figure is the median over the
    warm passes, except Python-worker start-up, summed over the whole run
    since it happens in the cold pass; otherwise every figure is summed
    over every operation of the run. A suite pass that skipped a stage
    (work reused from an earlier rep) fails a check."""
    from perfbench import tracing

    groups = tracing.layer_metrics(tracing.read_event_log(os.path.join(work, "eventlog")))
    rows = []
    for op in out.ops:
        mine = {g: v for g, v in groups.items() if g.startswith(tuple(op["groups"]))}
        op_spans = [s for s in spans if (s["group"] or "").startswith(tuple(op["groups"]))]
        rows.append(op_layers(mine, op_spans, op))
    if per_pass:
        for p, r in enumerate(rows):
            skipped = r.get("sched.stages_skipped", 0.0)
            out.check(skipped == 0, f"suite pass {p} skipped {skipped:g} stages")
    for r in rows:
        r["exec.busy_frac"] = r["exec.run_s"] / (cores * r["job.wall_s"]) if r["job.wall_s"] else 0.0
    keys = sorted({k for r in rows for k in r})
    total = {k: sum(r.get(k, 0.0) for r in rows) for k in keys}
    if not per_pass:
        total["exec.busy_frac"] = total["exec.run_s"] / (cores * total["job.wall_s"]) if total["job.wall_s"] else 0.0
        return total
    layers = {k: statistics.median(r.get(k, 0.0) for r in rows[1:]) for k in keys}
    for k in ("python.boot_s", "python.init_s"):
        layers[k] = total[k]
    return layers


def main(argv=None) -> int:
    from perfbench import inputs, workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    work = os.path.join(RUN_DIR, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work, trace)

    from perfbench.tracing import Tracer

    setup_fn, run_fn = wl.WORKLOADS[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark, data, reps = setup(setup_fn, work, args.seed)
        t1 = time.perf_counter()
        tracer = Tracer(spark, trace)
        steal0, ticks0 = cpu_ticks()
        out = run_fn(Context(spark, tracer, work, data))
        t2 = time.perf_counter()
        steal1, ticks1 = cpu_ticks()
        steal = (steal1 - steal0) / max(1, ticks1 - ticks0)
        rss = peak_rss_mb()
        shutdown(spark)
        spark = None
        out.notes.append(f"wall: set-up {t1 - t0:.1f} s, run and checks {t2 - t1:.1f} s, shutdown {time.perf_counter() - t2:.1f} s")
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        if trace:
            layers = per_layer(out, tracer.spans, work, cores, per_pass=args.workload == "query_suite")
        e2e = {
            "setup_s": (statistics.median(r[0] for r in reps), len(reps)),
            "cold_s": (out.cold_s, 1),
            "warm_s": (out.warm_s, out.n_warm),
        }
        named = {k: (v, END_TO_END[k], n) for k, (v, n) in e2e.items()}
        named.update(out.named)
        named["peak_rss_mb"] = (rss, "MB", 1)
        named["host_steal_frac"] = (steal, "ratio", 1)
        named["failed_frac"] = (out.failed / out.attempted, "ratio", out.attempted)
        print(f"# {args.workload} seed={args.seed} local[{cores}] trace={args.trace}: {'; '.join(out.notes)}")
        for name, (v, unit, n) in named.items():
            print(f"{name:24s} {v:14.4f} {unit:6s} n={n}")
        if trace:
            layers.update(out.layers)
            layers["session.start_s"] = reps[0][1]
            layers["sources.gen_s"] = statistics.median(r[2] for r in reps)
            layers["sources.input_bytes"] = inputs.tree_bytes(data)
            layers["trace.cold_s"] = out.cold_s
            layers["trace.warm_s"] = out.warm_s
            layers["mem.peak_rss_mb"] = rss
            layers["host.steal_frac"] = steal
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
            os.makedirs(os.path.join(RUN_DIR, "traces"), exist_ok=True)
            with open(os.path.join(RUN_DIR, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "layers": layers, "spans": tracer.spans}, f, indent=1)
            for name, m in metrics.items():
                print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        for note in out.notes:
            if note.startswith("check failed"):
                print(f"# {note}")
        result = {"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path[0] = ROOT
    sys.exit(main())
