"""Benchmark of the relational -> graph engine, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_train --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 1

Workloads (see README.md in this directory):

* ``etl_train``  convert -> load_graph -> train -> edge store + sampled
  GNN training -> recommend, cold, in a fresh process;
* ``analytics``  ten headline analytics queries, one per operator family,
  in a fresh session.

One run copies its inputs (the star-schema fixture in ``data/``) to a
temporary directory in the checkout, starts Spark on ``local[nproc]``
with every temporary path under that directory, runs the workload for at
least ``--seconds``, checks the outputs, stops Spark and its JVM, removes
the temporary directory and prints, as its last stdout line, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` launches Spark
with its event log on and reports the per-layer metrics folded from it.
The lines before the last one give every metric with its sample count,
the host facts (``facts`` line) and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (--trace 0): name -> unit
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "spark_jobs": "count",
}
#: measured on every run, but too noisy on a shared host to gate a change
#: (see README.md): printed by untraced runs, reported by traced runs
INFORMATIONAL = {"request_p50_s": "s", "peak_rss_mb": "MB"}
#: per-call statistics (--trace 1)
CALL_STATS = {"s": "s", "jobs": "count", "executor_cpu_s": "s",
              "driver_only_s": "s"}
#: whole-pass statistics (--trace 1)
PASS_STATS = {"tasks": "count", "shuffle_read_mb": "MB",
              "shuffle_write_mb": "MB", "spill_mb": "MB",
              "trace.pass_s": "s", "trace.spark_jobs": "count"}
#: input scale factor of the fixture in data/ (lineitem 6,000 rows). Each
#: call runs the same Spark jobs here as at sf0.1, give or take a few, in
#: half to all of the time (measured on a 4-vCPU host, see README.md).
SF = 0.001
DATA = os.path.join(HERE, "data", f"sf{SF}")


def _stat(pid) -> tuple[str, list[str]] | None:
    """(command name, fields after it) from /proc/<pid>/stat, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def process_start() -> float:
    """Epoch time at which this process started."""
    start_ticks = int(_stat("self")[1][19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from workloads import Analytics, EtlTrain

    names = {"session.get_spark.s": "s"}
    for call in EtlTrain.calls + Analytics.calls:
        for stat, unit in CALL_STATS.items():
            names[f"{call}.{stat}"] = unit
    names.update(PASS_STATS)
    names.update(INFORMATIONAL)
    return names


def pin_environment(tmp: str, trace: bool) -> None:
    """Hermetic settings, set before pyspark starts its JVM: local[nproc],
    one shuffle partition per core (the inputs are small), every temporary
    path under ``tmp``, and the event log when tracing."""
    cpus = str(nproc())
    for sub in ("local", "warehouse", "java", "eventlog"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    confs = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    java_opts = f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData"
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": shlex.join(args),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp


def _status(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    parent = {}
    for name in os.listdir("/proc"):
        st = _stat(name) if name.isdigit() else None
        if st:
            parent[int(name)] = int(st[1][1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB."""
    me = os.getpid()
    jvms = [p for p in descendants(me)
            if (st := _stat(p)) and st[0] == "java" and int(st[1][1]) == me]
    return sum(_status(p, "VmHWM") for p in [me] + jvms) / 1024.0


def stop_children() -> None:
    """Terminate every process this run started and wait until each ends."""
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    live = pids
    while live and time.time() < deadline:
        time.sleep(0.1)
        live = [p for p in pids if (st := _stat(p)) and st[1][0] != "Z"]
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)  # reaps our own children (the JVM)
        except ChildProcessError:
            pass  # a grandchild: its parent, or init, reaps it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_facts(spark, args, sf: float) -> dict:
    import platform

    import pyspark

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "sf": sf,
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
    }


def trace_metrics(log_dir: str, passes: list, session_s: float,
                  runner) -> tuple[dict[str, float], int]:
    """Per-layer metrics of the timed passes, folded from the event log,
    and the number of jobs that ran outside every call."""
    import eventlog

    windows = [(op.group, op.start, op.end) for ops, _ in passes for op in ops]
    groups = eventlog.fold(eventlog.find_log(log_dir), windows)
    names = per_layer_names()
    per_pass: list[dict[str, float]] = []
    for ops, wall in passes:
        row: dict[str, float] = {k: 0.0 for k in names}
        row["trace.pass_s"] = wall
        for op in ops:
            st = groups.get(op.group)
            row[f"{op.name}.s"] += op.seconds
            if st is None:
                continue
            row[f"{op.name}.jobs"] += st.jobs
            row[f"{op.name}.executor_cpu_s"] += st.executor_cpu_s
            row[f"{op.name}.driver_only_s"] += op.seconds - eventlog.covered(
                st.stage_spans, op.start, op.end)
            row["tasks"] += st.tasks
            row["shuffle_read_mb"] += st.shuffle_read_bytes / 2**20
            row["shuffle_write_mb"] += st.shuffle_write_bytes / 2**20
            row["spill_mb"] += st.spill_bytes / 2**20
            row["trace.spark_jobs"] += st.jobs
        tracked = sum(op.jobs for op in ops)
        runner.check(row["trace.spark_jobs"] == tracked,
                     f"event log has {row['trace.spark_jobs']:.0f} jobs, "
                     f"the status tracker {tracked}")
        per_pass.append(row)
    unattributed = groups.get(None)
    out = {k: median([row[k] for row in per_pass]) for k in names}
    out["session.get_spark.s"] = session_s
    return out, (unattributed.jobs if unattributed else 0)


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_train", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rel_db_to_graph_spark", "__init__.py")):
        print(f"perfbench: no rel_db_to_graph_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import selfcheck

    problems = selfcheck.violations(HERE)
    if problems:
        print("perfbench: public-surface self-check failed:\n  "
              + "\n  ".join(problems), file=sys.stderr)
        return 3

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        return run(args, SF, tmp, t_proc)
    finally:
        stop_children()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is using it


def run(args, sf: float, tmp: str, t_proc: float) -> int:
    pin_environment(tmp, bool(args.trace))
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq
    import workloads

    sf_dir = shutil.copytree(DATA, os.path.join(tmp, "data"))
    n_parts = pq.read_metadata(os.path.join(sf_dir, "part.parquet")).num_rows

    from rel_db_to_graph_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    facts = host_facts(spark, args, sf)

    runner = workloads.Runner(spark, args.seed)
    if args.workload == "etl_train":
        wl = workloads.EtlTrain(runner, sf_dir, os.path.join(tmp, "graphs"),
                                n_parts)
    else:
        pinned = workloads.load_pinned(os.path.join(HERE, "digests.json"))
        wl = workloads.Analytics(runner, sf_dir, pinned)

    passes = []
    t_first = None
    while True:
        t = time.time()
        t_first = t_first or t
        ops = wl.run_pass()
        passes.append((ops, time.time() - t))
        if time.time() - t_first >= args.seconds:
            break
    wl.verify()

    requests = [op.seconds for ops, _ in passes for op in ops if op.request]
    e2e = {
        "setup_s": t_first - t_proc,
        "pass_s": median([wall for _, wall in passes]),
        "spark_jobs": median([sum(op.jobs for op in ops) for ops, _ in passes]),
    }
    info = {"request_p50_s": median(requests), "peak_rss_mb": peak_rss_mb()}
    samples = {"setup_s": 1, "pass_s": len(passes), "spark_jobs": len(passes),
               "request_p50_s": len(requests), "peak_rss_mb": 1}

    spark.stop()
    if args.trace:
        metrics, unattributed = trace_metrics(
            os.path.join(tmp, "eventlog"), passes, session_s, runner)
        metrics.update(info)
        runner.check(unattributed == 0,
                     f"{unattributed} Spark jobs ran outside every call")
        units = per_layer_names()
        samples = {k: samples.get(k, len(passes)) for k in units}
        samples["session.get_spark.s"] = 1
        shown = units
    else:
        metrics, units = e2e, END_TO_END
        shown = {**END_TO_END, **INFORMATIONAL}
        metrics.update(info)
    stop_children()

    for ops, _ in passes:
        for op in ops:
            print(f"call {op.name:44s} {op.seconds:10.4f} s  jobs={op.jobs}")
    for name, unit in shown.items():
        print(f"{name:48s} {metrics[name]:14.4f} {unit:6s} n={samples[name]}")
    print(f"fail_ratio {len(runner.failures) / max(runner.attempted, 1):.4f} "
          f"({len(runner.failures)} of {runner.attempted})")
    for failure in runner.failures:
        print(f"FAILED {failure}")
    print(json.dumps({"facts": facts}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
