"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload graphrag_dag --seed 1 --seconds 10 --trace 0

Builds the session with the engine's ``get_spark()`` at
``local[<cores>]``, makes the workload's inputs from the seed, sets it
up, warms it, then runs a closed loop with one client for ``--seconds``
seconds. Every op's outputs are checked outside the timed region; a
failed check counts as a failed op.

Standard output carries two JSON lines: a run record (environment,
input properties, op times and, with ``--trace 1``, the per-call layer
breakdown), then the result line ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are ``END_TO_END``; with
``--trace 1`` they are ``PER_LAYER``. Everything else the process or
the JVM prints goes to standard error.

All files (inputs, index, CDC state, Spark scratch, event log) live in
a fresh directory under ``.perfbench_runs/`` in the checkout, removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

# set-up is timed from here (the process has just started, only the
# standard library is loaded) to the first timed op
T_START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
# an op takes 5-12 s on 4 cores, about the window's length: without a
# floor a run would hold one op or two depending on the host's speed,
# and the mix of the two adds spread
MIN_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.shuffle_read_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.single_task_job_frac": "ratio",
    "spark.parallel_eff": "ratio",
    "driver.build_s_per_op": "s",
    "driver.self_s_per_op": "s",
    "driver.build_frac": "ratio",
    "driver.eager_jobs_per_op": "count",
    "sources.bytes_written_per_op": "B",
    "sources.files_written_per_op": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true", help="tiny inputs (self-test smoke runs)"
    )
    return p.parse_args(argv)


def _git_commit() -> str | None:
    """HEAD of the checkout, read from ``.git`` without leaving it;
    None when the checkout is not a git repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        with open(os.path.join(git, head[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat: steal is
    time the hypervisor ran something else while this VM wanted a CPU."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children (the JVM's Python
    workers) to exit; kill any that outlive ``timeout``."""
    deadline = time.monotonic() + timeout
    for sig in (None, 9):
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig or 15)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10


def _start_session(run_root: str, cores: int, trace: bool):
    """``get_spark()`` with its own memory and JVM options; the runner
    adds only settings ``get_spark`` leaves alone: no console progress,
    Spark scratch and warehouse in the run directory, and the event log
    for traced runs."""
    from graphragpart1datapipeline_spark.session import get_spark

    local = os.path.join(run_root, "spark-local")
    os.makedirs(local)
    # every JVM (the spark-submit launcher included) reads this from the
    # environment, so the driver's extraJavaOptions stay get_spark's:
    # no hsperfdata in /tmp, JVM temp files under the run directory
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()} "
        f"-Dderby.system.home={run_root}"
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
    }
    if trace:
        events = os.path.join(run_root, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for both the JVM and
    the Python workers it forked."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    _wait_gone(workers, 30)


def _quartile(values: list[float], q: int) -> float:
    """The q-th quartile by linear interpolation between samples (it
    never extrapolates past the largest, unlike the default method)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[q - 1]


def run(args, run_root: str, emit) -> int:
    # the package and its workers import from the checkout root
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import pyspark

    import workloads as W
    from spans import Tracer, read_event_log, summarize

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    trace = bool(args.trace)

    t = time.monotonic()
    spark = _start_session(run_root, cores, trace)
    session_s = time.monotonic() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        tracer = Tracer(spark.sparkContext, tagging=trace)
        wl = W.WORKLOADS[args.workload](
            spark, tracer, args.seed, W.TINY if args.tiny else W.SIZES
        )
        d = os.path.join(run_root, "work")
        t = time.monotonic()
        wl.prepare(d)
        prepare_s = time.monotonic() - t
        wl.build(d)
        build_s = time.monotonic() - t - prepare_s
        # warm-up ops are not checked: the timed ops and finish() are
        warmup = []
        for i in range(wl.warmup_ops):
            wl.before_op(i)
            t = time.monotonic()
            wl.op(i)
            warmup.append(time.monotonic() - t)
        setup_s = time.monotonic() - T_START

        times: dict[int, float] = {}
        spans_at: dict[str, tuple[float, float]] = {}
        traced: set[int] = set()
        failed = 0
        i = wl.warmup_ops
        # ops start until --seconds have passed (checks included), so the
        # last op may end later; a run holds at least MIN_OPS ops (4
        # traced: T U U T)
        min_ops = 4 if trace else MIN_OPS
        deadline = time.monotonic() + args.seconds
        while time.monotonic() < deadline or len(times) < min_ops:
            wl.before_op(i)
            # traced runs interleave traced (T) and untraced (U) ops as
            # T U U T ..., so the tracing overhead is measured in the same
            # warm session and a steady warming trend cancels out
            tracer.enabled = trace and (i - wl.warmup_ops) % 4 in (0, 3)
            if tracer.enabled:
                traced.add(i)
            tracer.begin(f"op{i}")
            t, wall0 = time.perf_counter(), time.time()
            try:
                out = wl.op(i)
            except Exception:
                traceback.print_exc()
                out = None
            times[i] = time.perf_counter() - t
            if tracer.enabled:
                spans_at[f"op{i}"] = (wall0, time.time())
            tracer.enabled = False
            tracer.begin("check")
            try:
                ok = out is not None and wl.check(out)
                if ok and i in traced:
                    wl.observe(out)
            except Exception:
                traceback.print_exc()
                ok = False
            failed += not ok
            i += 1
        try:
            correct = wl.finish() and failed == 0
        except Exception:
            traceback.print_exc()
            correct = False
        rss = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(jvm_pid)}
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        _stop_session(spark)

    all_times = list(times.values())
    untraced = [t for k, t in times.items() if k not in traced]
    plain = untraced if trace else all_times
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": cores,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": _steal_frac(ticks_start, _cpu_ticks()),
            "spark": pyspark.__version__,
            "java": java,
            "python": platform.python_version(),
            "git_commit": _git_commit(),
        },
        "inputs": wl.props,
        "setup": {
            "setup_s": setup_s,
            "session_s": session_s,
            "prepare_s": prepare_s,
            "build_s": build_s,
            "warmup_op_s": warmup,
        },
        "ops": {
            "attempted": len(all_times),
            "failed": failed,
            "times_s": all_times,
            # a run holds a few ops: too few for a tail, so p75 is a
            # record field, not an end-to-end metric
            "p75_s": _quartile(plain, 3),
        },
        # not gated: under get_spark's 8 GB heap the JVM's peak depends
        # on when G1 grows the heap and varies by about 20% run to run
        "peak_rss_mb": {**rss, "total": rss["python"] + rss["jvm"]},
    }
    layers = record["layers"] = wl.summary(times)
    if trace:
        log = read_event_log(os.path.join(run_root, "events"))
        engine, per_call = summarize(
            log,
            tracer.spans,
            spans_at,
            cores,
            wl.sink_calls,
        )
        layers.update(engine)
        for name, m in per_call.items():
            wall = "wall_s" if name in wl.sink_calls else "build_s"
            layers[f"{name}.{wall}"] = m["build_s"]
            layers[f"{name}.jobs"] = m["jobs"]
            layers[f"{name}.task_s"] = m["task_s"]
            if name in wl.sink_calls:
                layers[f"{name}.shuffle_mb"] = m["shuffle_mb"]
        for name, vals in wl.observed.items():
            layers[name] = statistics.median(vals)
        traced_p50 = statistics.median(times[k] for k in traced)
        layers["trace.op_p50_s"] = traced_p50
        layers["trace.overhead_frac"] = traced_p50 / statistics.median(plain) - 1.0
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(plain),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    emit(json.dumps({"record": record}))
    emit(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": len(all_times),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # keep standard output for the two result lines: everything else
    # (our prints, the JVM, Python workers) goes to standard error
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    def emit(line: str) -> None:
        print(line, file=out, flush=True)

    run_root = os.path.join(RUNS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        return run(args, run_root, emit)
    except ImportError:
        traceback.print_exc()
        print("perfbench: the engine package is not importable here", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass
        out.close()


if __name__ == "__main__":
    sys.exit(main())
