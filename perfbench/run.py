#!/usr/bin/env python3
"""Benchmark of the spark-kg engine: one workload per run, one result line.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: the program is imported from the
checkout's source, and every file a run writes (Spark local dirs, JVM and
Python temp files, catalog roots) goes under ``.perfbench_work/<pid>`` there
and is removed when the run ends. The workload seed is the only input; the
program sees only the inputs generated from it.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics from a separate traced run. The
line before it is the run record: host readings, every operation's time, the
per-bucket commit distribution and the failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: set-up repetitions whose median is reported
SETUP_REPS = 3
#: safety cap on operations in one run
MAX_OPS = 40

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "turns_per_s": "1/s",
    "py_worker_peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.init_s": "s",
    "kg_pipeline.init_s": "s",
    "bench.self_s": "s",
    "kg_pipeline.self_s": "s",
    "extraction.self_s": "s",
    "linking.self_s": "s",
    "canonicalize.self_s": "s",
    "similarity.self_s": "s",
    "catalog.self_s": "s",
    "scale.self_s": "s",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jobs_per_pass": "count",
    "spark.jobs_per_commit": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "extraction.py_run_s": "s",
    "extraction.py_init_s": "s",
    "extraction.py_boot_s": "s",
    "extraction.py_bytes_sent": "B",
    "extraction.py_bytes_recv": "B",
    "extraction.rows_out": "count",
    "extraction.task_skew": "ratio",
    "linking.alias_hits": "count",
    "linking.fallback_forms": "count",
    "linking.below_threshold": "count",
    "linking.self_loops_dropped": "count",
    "linking.fallback_s": "s",
    "catalog.overwrite_partition_s.triples": "s",
    "catalog.overwrite_partition_s.edge_deltas": "s",
    "catalog.overwrite_partition_s.node_deltas": "s",
    "catalog.overwrite_partition_s.surface_deltas": "s",
    "catalog.read_committed_s": "s",
    "kg_pipeline.run_partitioned_s": "s",
    "kg_pipeline.compacted_read_s": "s",
    "catalog.files_written": "count",
    "catalog.commit_p50_s": "s",
    "catalog.commit_tail_s": "s",
    "catalog.commit_tail_pct": "%",
    "catalog.commit_samples": "count",
    "canonicalize.connected_components_s": "s",
    "canonicalize.cc_rounds": "count",
    "similarity.lsh_candidate_pairs": "count",
    "similarity.lsh_kept_pairs": "count",
    "similarity.lsh_pair_yield": "ratio",
    "host.pass_cpu_s": "s",
    "host.pass_steal_frac": "ratio",
    "trace.accounted_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract_bulk", "ledgered_graph"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below 11 samples."""
    s = sorted(samples)
    if len(s) < 11:
        return (s[-1], 100.0) if s else (0.0, 0.0)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


class Runner:
    """Drives one workload through set-up, timed operations and checks."""

    def __init__(self, args: argparse.Namespace, work: str):
        import host
        import workloads

        self.args = args
        self.work = work
        self.host = host
        self.nproc = host.nproc()
        self.wl = workloads.WORKLOADS[args.workload](
            args.seed, work, self.nproc, trace=bool(args.trace)
        )
        self.ops: list = []  # host.Interval of every untraced timed operation
        self.traced: list = []
        self.commits: list[float] = []
        self.rss = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.layer_records: list[dict] = []

    def run_op(self, i: int, tracer=None):
        """Run, time and check operation ``i`` → its ``host.Interval``."""
        wl = self.wl
        wl.before_op(i)
        self.attempted += 1
        err = None
        root = None
        me = os.getpid()
        with self.host.Interval(cpu_pid=me) as iv:
            try:
                if tracer is None:
                    out = wl.op(i)
                else:
                    with tracer.span("bench", "pass") as root:
                        out = wl.op(i)
            except Exception:  # a failed operation is counted, and the run goes on
                err = traceback.format_exc(limit=3)
        if err is None:
            try:
                err = wl.check(i, out)
            except Exception:
                err = "check raised: " + traceback.format_exc(limit=3)
        if err is not None:
            self.failures.append(f"op {i}: {err}")
            print(f"perfbench: op {i} failed: {err}", file=sys.stderr)
        else:
            self.commits.extend(wl.commit_seconds(i))
        self.rss = max(self.rss, self.host.python_worker_peak_rss_mb(me))
        if root is not None:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            rec = tracer.pass_record(self.spark, root)
            rec.update(wl.layer_extras(i))
            self.layer_records.append(rec)
        wl.after_op(i)
        return iv

    def measure(self, seconds: float, min_ops: int, first: int, tracer=None) -> list:
        """Operations until ``seconds`` are used, at least ``min_ops``; an
        operation that would likely end past the deadline is not started."""
        ops: list = []
        t_end = time.perf_counter() + seconds
        i = first
        while len(ops) < min_ops or (
            time.perf_counter() + ops[-1].wall <= t_end and len(ops) < MAX_OPS
        ):
            ops.append(self.run_op(i, tracer))
            i += 1
        return ops

    def run(self) -> tuple[dict, dict]:
        args, wl, host = self.args, self.wl, self.host
        ticks0, load0 = host.cpu_ticks(), host.loadavg()
        phases = {}
        t = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        with host.Interval() as session:
            spark = self.spark = start_spark(self.work, self.nproc, f"perfbench-{args.workload}")
        try:
            reps = []
            for _ in range(SETUP_REPS):
                with host.Interval() as rep:
                    split = wl.setup(spark)
                reps.append((rep, split))
            t = time.perf_counter()
            wl.reference()
            phases["reference_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for i in range(wl.warmup):
                self.run_op(i)
            i = wl.warmup
            if not args.trace:
                self.ops = self.measure(args.seconds, wl.min_ops, i)
            else:
                import tracing

                half = args.seconds / 2
                self.ops = self.measure(half, 1, i)
                tracer = tracing.Tracer()
                tracer.install()
                try:
                    self.traced = self.measure(half, 1, i + len(self.ops), tracer)
                finally:
                    tracer.uninstall()
            phases["ops_s"] = time.perf_counter() - t
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - t
        self.session = session
        setup_s = session.net + statistics.median(rep.net for rep, _ in reps)
        pass_s = statistics.median(iv.net for iv in self.ops)
        commit_tail, commit_pct = tail(self.commits)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {
                "nproc": self.nproc,
                "loadavg_start": load0,
                "steal_pct": host.steal_pct(ticks0, host.cpu_ticks()),
            },
            "turns": wl.n_turns,
            "setup": {
                "session": _readings(session),
                "reps": [_readings(rep) for rep, _ in reps],
            },
            "phases": phases,
            "ops": [_readings(iv) for iv in self.ops],
            "traced_ops": [_readings(iv) for iv in self.traced],
            "commit": {"p50_s": statistics.median(self.commits) if self.commits else 0.0,
                       "tail_s": commit_tail, "tail_pct": commit_pct,
                       "samples": len(self.commits)},
            "failed_op_frac": len(self.failures) / self.attempted,
            "failures": self.failures,
        }
        if not args.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "turns_per_s": wl.n_turns / pass_s,
                "py_worker_peak_rss_mb": self.rss,
            }
            units = END_TO_END
        else:
            values = self.layer_values(reps, record)
            units = PER_LAYER
        result = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
        return record, result

    def layer_values(self, reps, record) -> dict:
        values = {k: 0.0 for k in PER_LAYER}
        for k in self.layer_records[0]:
            if k in values:
                values[k] = statistics.median(r[k] for r in self.layer_records)
        values["session.init_s"] = self.session.wall
        values["kg_pipeline.init_s"] = statistics.median(split[1] for _, split in reps)
        for k, v in self.wl.corpus.funnel.items():
            values[f"linking.{k}"] = v
        values["catalog.commit_p50_s"] = record["commit"]["p50_s"]
        values["catalog.commit_tail_s"] = record["commit"]["tail_s"]
        values["catalog.commit_tail_pct"] = record["commit"]["tail_pct"]
        values["catalog.commit_samples"] = record["commit"]["samples"]
        values["host.pass_cpu_s"] = statistics.median(iv.cpu for iv in self.ops)
        values["host.pass_steal_frac"] = statistics.median(iv.steal for iv in self.traced)
        untraced = statistics.median(iv.net for iv in self.ops)
        values["trace.overhead_frac"] = statistics.median(iv.net for iv in self.traced) / untraced - 1.0
        return values


def _readings(iv) -> dict:
    return {"wall_s": iv.wall, "steal": iv.steal, "net_s": iv.net, "cpu_s": iv.cpu}


def start_spark(work: str, nproc: int, app_name: str):
    """``get_spark`` at ``local[nproc]`` with every file it writes under ``work``."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from cdrc_semantic_search_spark import session

    conf = {
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = session.get_spark(app_name=app_name, parallelism=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children(host) -> None:
    """Wait for every process this run started, killing stragglers."""
    deadline = time.time() + 20
    while True:
        left = host.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cdrc_semantic_search_spark" / "__init__.py").is_file():
        print(f"perfbench: no cdrc_semantic_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # a terminated run still stops Spark and its workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work_base = ROOT / ".perfbench_work"
    work = work_base / str(os.getpid())
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    import host

    try:
        record, result = Runner(args, str(work)).run()
    finally:
        _reap_children(host)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work_base.rmdir()
        except OSError:
            pass
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
