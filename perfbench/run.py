"""Nightly-cycle benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload kg_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one ``local[nproc]``
session through the package's ``session.get_spark`` and generates the
workload's inputs from ``--seed``. Then, closed loop with one driver
thread: a cold full phase (the first in the process) loads night 1 into
an empty store and an incremental phase applies night 2 over it. More
(full, incremental) cycles on fresh stores follow while the phases so
far took less than ``--seconds`` (none at the declared ``run_seconds``).
Outputs are checked after every phase, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
package's public calls (see tracing.py), turns on Spark's event log and
prints the per-layer metrics. Its tracing overhead is its program CPU
time in the phases over that of a plain run of the same workload (see
untraced_phase_s).

The last line of standard output is the result JSON; the line before
it holds the recorded fields: input sizes, every timing sample, the
error rate and host telemetry (nproc, load average, drift probe). Files
go under ``perfbench/.work``; a run's data directory is removed when it
ends. Exit status is non-zero when any phase failed or any check did.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
END_TO_END = {
    "setup_s": "s",
    "cold_full_cpu_s": "s",
    "incremental_cpu_s": "s",
    "store_bytes_per_source_byte": "ratio",
    "success_rate": "ratio",
}
# HotSpot's JIT compiler and garbage collector threads. Their CPU in a
# phase depends on when the JVM decides to compile or collect and on the
# host's load more than on the program: over ten runs of kg_nightly's
# cold full phase it spread twice as widely as the other threads' CPU.
RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")
# Fixed work for one drift-probe sample: about 2 s of one core of a
# 2020s x86 server; three samples a run.
PROBE_ITERATIONS = 55_000_000


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def drift_probe() -> float:
    """Seconds for a fixed amount of single-core interpreter work."""
    t = time.perf_counter()
    acc = 0
    for i in range(PROBE_ITERATIONS):
        acc ^= i
    return time.perf_counter() - t


def process_tree() -> list[int]:
    """This process and all its descendants: the JVM and any Python
    workers it started."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    todo, pids = [os.getpid()], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM")), 0)
        except OSError:
            pass
    return kb / 1024.0


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds, user and system, that the process tree has used so
    far (with those of the children its processes reaped), split into
    (program, runtime): runtime is the JVM's compiler and garbage
    collector threads (RUNTIME_THREADS), program everything else."""
    total = runtime = 0
    for pid in process_tree():
        try:
            total += sum(map(int, _stat_fields(f"/proc/{pid}/stat")[1][11:15]))
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(RUNTIME_THREADS):
                    runtime += int(fields[11]) + int(fields[12])
        except OSError:
            pass
    tck = os.sysconf("SC_CLK_TCK")
    return (total - runtime) / tck, runtime / tck


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    exits when its standard input closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait()


def launch_env(work: str, event_log: str | None) -> dict:
    """Launch configuration for the JVM: scratch and temp files stay in
    the work directory, one ``local[nproc]`` session, and the
    uncompressed event log when traced."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        from tracing import event_log_conf

        os.makedirs(event_log, exist_ok=True)
        args += event_log_conf(event_log)
    return dict(
        PYSPARK_SUBMIT_ARGS=" ".join(args + ["pyspark-shell"]),
        # Compiler threads live for the whole run: the CPU of one that
        # exited would stay in the process total as the program's (see
        # tree_cpu_s).
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
    )


def main(argv: list[str]) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads
    from tracing import PKG

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(WORK, run_id)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    plain_env = dict(os.environ)
    os.environ.update(launch_env(work, event_log))
    sys.path.insert(0, ROOT)

    load_start = os.getloadavg()
    from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_s = time.time() - t_start
    cores = spark.sparkContext.defaultParallelism

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark.sparkContext, run_id)
        tracer.install()
    wl = workloads.WORKLOADS[args.workload](workloads.Context(spark, work, tracer), args.seed)

    drift = [drift_probe()]
    t_gen = time.time()
    sizes = wl.generate()
    gen_s = time.time() - t_gen

    attempted = failed = 0
    problems: list[str] = []
    times: dict[str, list[float]] = {"cold_full": [], "full": [], "incremental": []}
    cpu: dict[str, list[float]] = {k: [] for k in times}
    runtime_cpu: dict[str, list[float]] = {k: [] for k in times}

    def phase(kind: str, rep: str) -> float | None:
        """Run and check one phase; its wall time, or None if it failed."""
        nonlocal attempted, failed
        attempted += 1
        span = tracer.span(f"phase.{kind}", kind="phase") if tracer else contextlib.nullcontext()
        try:
            with span:
                c, r = tree_cpu_s()
                t = time.perf_counter()
                result = wl.incremental(rep) if kind == "incremental" else wl.full(rep)
                dt = time.perf_counter() - t
                c2, r2 = tree_cpu_s()
            found = wl.check_incremental(result) if kind == "incremental" else wl.check_full(result)
        except Exception:
            failed += 1
            problems.append(f"{rep} {kind} raised:\n{traceback.format_exc()}")
            return None
        if found:
            failed += 1
            problems.extend(f"{rep} {p}" for p in found)
        times[kind].append(dt)
        cpu[kind].append(c2 - c)
        runtime_cpu[kind].append(r2 - r)
        return dt

    spent, cycle = 0.0, 0
    while cycle == 0 or spent < args.seconds:
        rep = f"r{cycle}"
        full_s = phase("cold_full" if cycle == 0 else "full", rep)
        if cycle == 0:
            drift.append(drift_probe())
        inc_s = phase("incremental", rep) if full_s is not None else None
        if inc_s is None:
            break
        spent += full_s + inc_s
        cycle += 1

    store_ratio = wl.store_bytes("r0") / sizes["source_bytes"] if times["incremental"] else 0.0
    drift.append(drift_probe())
    peak_rss = tree_peak_rss_mb()
    stop_spark(spark)
    load_end = os.getloadavg()
    nproc = len(os.sched_getaffinity(0))

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sizes": sizes,
        "generate_s": gen_s,
        "samples": {
            "setup_s": [setup_s],
            "cold_full_s": times["cold_full"],
            "incremental_s": times["incremental"],
            "warm_full_s": times["full"],
            "cold_full_cpu_s": cpu["cold_full"],
            "incremental_cpu_s": cpu["incremental"],
            "warm_full_cpu_s": cpu["full"],
            "runtime_cpu_s": runtime_cpu,
        },
        # Recorded, not a metric: the JVM's heap growth makes it spread by
        # a third between runs of the same inputs.
        "peak_rss_mb": peak_rss,
        "host": {
            "nproc": nproc,
            "spark_cores": cores,
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            "drift_probe_s": drift,
            "drift_ratio": max(drift) / min(drift),
            # The samples spread by up to a fifth even at a steady load
            # average; a run whose probe spread by more than a quarter, or
            # whose load average exceeded the core count, shared the host.
            "contended": max(drift) / min(drift) > 1.25
            or max(load_start[0], load_end[0]) > nproc,
        },
    }

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    if tracer is not None:
        metrics = traced_metrics(tracer, event_log, cores, wl)
        plain = untraced_phase_s(args, plain_env)
        if plain is None:
            attempted += 1
            failed += 1
            problems.append("the untraced comparison run failed")
        elif cpu["cold_full"] and cpu["incremental"]:
            traced = cpu["cold_full"][0] + med(cpu["incremental"])
            detail["overhead_phase_cpu_s"] = {"traced": traced, "untraced": plain}
            metrics["trace.overhead"] = (traced / plain - 1.0, "ratio")
    else:
        values = {
            "setup_s": setup_s,
            "cold_full_cpu_s": med(cpu["cold_full"]),
            "incremental_cpu_s": med(cpu["incremental"]),
            "store_bytes_per_source_byte": store_ratio,
            "success_rate": 1.0 - failed / attempted,
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    detail["error_rate"] = failed / attempted
    detail["problems"] = problems[:20]
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump({**detail, "result": result}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:5]:
        print(p, file=sys.stderr)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def untraced_phase_s(args, env: dict) -> float | None:
    """cold_full_cpu_s + incremental_cpu_s of a correct ``--trace 0`` run of the
    same workload: the newest one recorded in this checkout, of the same
    seed if there is one (seeds change the inputs' contents, not their
    sizes), or else a run of the same seed made now in a child process.
    None if that run failed."""
    def newest() -> dict | None:
        found = []
        for path in glob.glob(os.path.join(WORK, "results", f"{args.workload}-s*-t0-*.json")):
            with open(path) as f:
                d = json.load(f)
            if d["result"]["correct"]:
                found.append((d["seed"] == args.seed, os.path.getmtime(path), d["result"]))
        return max(found, key=lambda x: x[:2])[2] if found else None

    result = newest()
    if result is None:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, env=env, capture_output=True, text=True,
        )
        result = newest()
    if result is None:
        return None
    m = result["metrics"]
    return m["cold_full_cpu_s"]["value"] + m["incremental_cpu_s"]["value"]


def traced_metrics(tracer, event_log: str, cores: int, wl) -> dict:
    """Per-layer metrics from the spans and the event log (the spans are
    written next to the results); ``trace.overhead`` is left at 0 for
    the caller to fill in."""
    import tracing

    tracer.uninstall()
    tracer.write(os.path.join(WORK, "spans", f"{tracer.run_id}.jsonl"))
    jobs, tasks = tracing.read_event_log(event_log)
    values = tracing.layer_metrics(tracer.spans, jobs, tasks, cores,
                                   wl.info.get("changed_source_bytes", 0))
    return {name: (values.get(name, 0.0), unit) for name, unit in tracing.metric_units().items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
