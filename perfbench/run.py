"""NEMSIS ETL benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The run generates its
inputs from ``--seed`` under ``.perfbench_work/``, starts a ``local[nproc]``
Spark session, sets up, measures operations for ``--seconds`` seconds of
timed work, checks every output and prints one line per metric followed by
one JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics
(from spans, the Spark event log and filesystem counters) with
``--trace 1``.  A traced run alternates traced and untraced iterations and
reports the difference as ``trace.overhead_pct``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def process_start_epoch() -> float:
    """When this process started, from /proc (falls back to now)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


STARTED = process_start_epoch()

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "batch_p50_s": "s",
    "elements_per_s": "1/s",
    "rows_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
    "query_p50_s": "s",
    "query_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "flatten.busy_s": "s",
    "flatten.elements": "count",
    "flatten.files_failed": "count",
    "flatten.tasks": "count",
    "flatten.python_start_s": "s",
    "warehouse.schema_s": "s",
    "warehouse.write_s": "s",
    "warehouse.write_jobs": "count",
    "warehouse.files_written": "count",
    "warehouse.bytes_written": "B",
    "warehouse.read_s": "s",
    "warehouse.files_read": "count",
    "bookkeeping.md5_s": "s",
    "bookkeeping.files_skipped": "count",
    "bookkeeping.log_s": "s",
    "bookkeeping.log_files": "count",
    "overwrite.tables_rewritten": "count",
    "overwrite.tables_touched": "count",
    "overwrite.useful_ratio": "ratio",
    "overwrite.bytes_rewritten": "B",
    "overwrite.write_amplification": "ratio",
    "jdbc_sink.stage_s": "s",
    "jdbc_sink.promote_s": "s",
    "jdbc_sink.tasks": "count",
    "jdbc_sink.connections": "count",
    "jdbc_sink.bulk_insert_s": "s",
    "jdbc_sink.rows_per_task": "count",
    "definitions.decode_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.gc_s": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (self-test)")
    return ap.parse_args(argv)


def start_spark(work: str, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")  # the session's Python-side temp files
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # executors import the benchmark's own hook modules (duck.py)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = HERE + (os.pathsep + pp if pp else "")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed, pre-touched heap: peak RSS then moves with what the program
        # keeps outside it, not with when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from nemsis_xml_parser_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly or
    not (PR_SET_CHILD_SUBREAPER), so that a Python worker whose parent dies
    first is still waited for here."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(entry))
    return kids


def stop_jvm(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM and wait until it has exited.  The JVM leaves when
    its stdin closes; it is killed if it has not left within ``grace_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every process still left below this one and wait for each
    to end: SIGTERM, then SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or zombie
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in child_pids():
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # run the clean-up in main's finally


def end_to_end(b, rss: float) -> dict[str, float]:
    from workloads import query_p50, quantile_tail

    return {
        "setup_s": b.ready_at - STARTED,
        "peak_rss_mb": rss,
        "batch_p50_s": statistics.median(b.op_s),
        "elements_per_s": statistics.median(b.elements_per_s),
        "rows_per_s": statistics.median(b.rows_per_s),
        "stored_bytes_ratio": statistics.median(b.ratios),
        "query_p50_s": query_p50(b.query_kinds),
        "query_tail_s": quantile_tail(b.query_s)[0],
    }


def per_layer(b, events_dir: str, session_start_s: float) -> dict[str, float]:
    import probe

    n = max(1, len(b.iter_windows))  # traced iterations
    ops = max(1.0, b.layer["ops"])  # timed operations (filesystem/hook counters)
    spans = b.tracer.closed()
    log = probe.EventLog.read(events_dir)
    att = log.attribute(spans)

    def busy(*names, key="run_s"):
        return sum(v[key] for k, v in att.items() if any(k == x or k.startswith(x + ".") for x in names))

    def wall(name):
        return sum(s.end - s.start for s in spans if s.name == name or s.name.startswith(name + "."))

    in_windows = [
        t for t in log.tasks if any(lo <= t.launch <= hi for lo, hi in b.iter_windows)
    ]
    per_op = lambda k: b.layer[k] / ops  # noqa: E731
    traced = [s for s, tr in zip(b.op_s, b.op_traced) if tr]
    # the first timed operation is still warming up; it is untraced
    plain = [s for s, tr in zip(b.op_s[1:], b.op_traced[1:]) if not tr] or b.op_s[:1]
    jdbc_tasks = busy("jdbc_sink", key="tasks") / n
    return {
        "session.start_s": session_start_s,
        "session.warmup_s": b.ready_at - b.session_ready,
        "flatten.busy_s": busy("flatten") / n,
        "flatten.elements": per_op("flatten.elements"),
        "flatten.files_failed": per_op("flatten.files_failed"),
        "flatten.tasks": busy("flatten", key="tasks") / n,
        "flatten.python_start_s": busy("flatten", key="python_start_s") / n,
        "warehouse.schema_s": wall("warehouse.schema") / n,
        "warehouse.write_s": busy("warehouse.write", "warehouse.rewrite") / n,
        "warehouse.write_jobs": busy("warehouse.write", "warehouse.rewrite", key="jobs") / n,
        "warehouse.files_written": per_op("warehouse.files_written"),
        "warehouse.bytes_written": per_op("warehouse.bytes_written"),
        "warehouse.read_s": busy("query", "definitions") / n,
        "warehouse.files_read": per_op("warehouse.files_read"),
        "bookkeeping.md5_s": wall("bookkeeping.md5") / n,
        "bookkeeping.files_skipped": per_op("bookkeeping.files_skipped"),
        "bookkeeping.log_s": wall("bookkeeping.log") / n,
        "bookkeeping.log_files": per_op("bookkeeping.log_files"),
        "overwrite.tables_rewritten": per_op("overwrite.tables_rewritten"),
        "overwrite.tables_touched": per_op("overwrite.tables_touched"),
        "overwrite.useful_ratio": (b.layer["overwrite.tables_touched"] / b.layer["overwrite.tables_rewritten"]
                                   if b.layer["overwrite.tables_rewritten"] else 0.0),
        "overwrite.bytes_rewritten": per_op("overwrite.bytes_rewritten"),
        "overwrite.write_amplification": per_op("overwrite.write_amplification"),
        "jdbc_sink.stage_s": per_op("jdbc_sink.stage_s"),
        "jdbc_sink.promote_s": per_op("jdbc_sink.promote_s"),
        "jdbc_sink.tasks": jdbc_tasks,
        "jdbc_sink.connections": per_op("jdbc_sink.connections"),
        "jdbc_sink.bulk_insert_s": per_op("jdbc_sink.bulk_insert_s"),
        "jdbc_sink.rows_per_task": per_op("jdbc_sink.rows") / jdbc_tasks if jdbc_tasks else 0.0,
        "definitions.decode_s": wall("definitions.decode_join") / n,
        "spark.jobs": b.spark_counts["jobs"] / n,
        "spark.tasks": b.spark_counts["tasks"] / n,
        "spark.failed_tasks": b.spark_counts["failed_tasks"] / n,
        "spark.executor_run_s": sum(t.run_s for t in in_windows) / n,
        "spark.shuffle_write_bytes": sum(t.shuffle_bytes for t in in_windows) / n,
        "spark.gc_s": sum(t.gc_s for t in in_windows) / n,
        "trace.overhead_pct": (100.0 * (statistics.median(traced) / statistics.median(plain) - 1)
                               if traced and plain else 0.0),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nemsis_xml_parser_spark")):
        print("perfbench: run from the root of a checkout (nemsis_xml_parser_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    spark = None
    try:
        spark, start_s = start_spark(work, bool(args.trace))
        b = workloads.Bench(spark, work, args.seed, args.seconds, bool(args.trace), args.tiny)
        workloads.WORKLOADS[args.workload](b)
        rss = probe.peak_rss_mb()
        spark.stop()
        spark = None
        if args.trace:
            metrics = per_layer(b, os.path.join(work, "events"), start_s)
            units = PER_LAYER
        else:
            metrics = end_to_end(b, rss)
            units = END_TO_END
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
            reap_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    _, pct, nq = workloads.quantile_tail(b.query_s)
    print(f"workload {args.workload}: seed {args.seed}, {len(b.op_s)} timed operations, "
          f"{nq} timed queries (query_tail_s is p{pct:.1f} of {nq} samples)")
    print("operation seconds: " + ", ".join(f"{s:.3f}" for s in b.op_s))
    print("query seconds, median by kind: " + ", ".join(
        f"{k} {statistics.median(v):.4f}" for k, v in b.query_kinds.items()))
    print(f"failed_frac = {b.failed / b.attempted:.4f} ({b.failed} of {b.attempted} operations)")
    for p in b.problems[:20]:
        print(f"CHECK FAILED: {p}")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
