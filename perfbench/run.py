#!/usr/bin/env python3
"""Extraction benchmark for smart_ocr_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload mixed_docs --seed 1 --seconds 10 --trace 0

One process, one Spark application at ``local[nproc]``.  The run

1. generates the seeded inputs, then sets up ``SETUPS`` times --
   starting a fresh session, writing the inputs as parquet and a first
   read, and a warm-up run of the operation on a small table -- and
   reports the median as ``setup_s``; the first set-up also launches
   the JVM;
2. repeats the workload's operation until ``--seconds`` have passed,
   each repetition starting from an empty Spark cache and ending in the
   workload's output check;
3. prints the end-to-end metrics of BENCHMARK.json (``--trace 0``) or
   its per-layer metrics (``--trace 1``, see ``layers.py``) as the last
   line of stdout:
   ``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.

``attempted`` counts timed repetitions and ``failed`` those that raised
or failed their output check.  A line before it records nproc, the
master, the Spark version and every repetition.  Temporary data lives in
``.perfbench/`` under the checkout and is removed on exit, except the
span files of traced runs (``.perfbench/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
# at least two repetitions per run, so every run reports the median of
# the same mix: even after the warm-up the first full-size repetition
# runs a little slower than the next
MIN_REPS = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the JVM
    and its Python workers): every 100 ms it reads each live process's
    VmHWM, and ``stop`` returns the sum of the per-process peaks.  A sum
    of peaks does not depend on whether the processes peak at the same
    instant, which a sampled total does.  VmHWM is a lifetime peak, so
    the figure of this process includes the input generation and that
    of the JVM the set-ups.

    Only processes seen in at least two samples count, with their last
    reading.  A helper the JVM spawns shares the JVM's memory until it
    execs, so one reading of it in that window would count the JVM's
    resident memory twice."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}
        self.samples: dict[int, int] = {}
        self._lock = threading.Lock()
        self._halt = threading.Event()

    @staticmethod
    def _tree() -> list[int]:
        """This process and its live descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def drop_exited(self) -> None:
        """Forget the processes that have exited, such as the Python
        workers of a stopped SparkContext.  A process that exits later
        still counts: its peak was read while it lived."""
        with self._lock:
            alive = set(self._tree())
            for pid in set(self.hwm_kb) - alive:
                del self.hwm_kb[pid], self.samples[pid]

    def _sample(self) -> None:
        with self._lock:
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmHWM:"):
                                self.hwm_kb[pid] = int(line.split()[1])
                                self.samples[pid] = self.samples.get(pid, 0) + 1
                                break
                except OSError:
                    pass

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; the summed peaks in MB."""
        self._halt.set()
        self.join()
        return sum(
            kb for pid, kb in self.hwm_kb.items() if self.samples[pid] >= 2
        ) / 1e3


class Session:
    """The benchmark's Spark session: started through the library's own
    ``build_session`` with parallelism pinned to the cores this process
    may use, restartable in the same JVM, and stopped for good by
    ``close``."""

    def __init__(self, nproc: int) -> None:
        self.nproc = nproc
        self.master = f"local[{nproc}]"
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from pyspark import SparkConf, SparkContext

        from smart_ocr_spark.session import build_session

        self.stop()
        if event_log_dir:
            # event-log settings are fixed when a SparkContext starts, so
            # start it here; build_session then adopts it and applies the
            # library's SQL settings
            os.makedirs(event_log_dir, exist_ok=True)
            SparkContext.getOrCreate(
                SparkConf()
                .setMaster(self.master)
                .setAppName("perfbench")
                .set("spark.ui.enabled", "false")
                .set("spark.eventLog.enabled", "true")
                .set("spark.eventLog.dir", "file://" + event_log_dir)
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = build_session(
            "perfbench", master=self.master, shuffle_partitions=self.nproc
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes; its Python workers
                # exit with it
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def timed_reps(sess, wl, seconds: float, min_reps: int = MIN_REPS) -> list[dict]:
    """Repeat the workload's operation until ``seconds`` have passed and
    at least ``min_reps`` repetitions ran."""
    reps = []
    t_end = time.perf_counter() + seconds
    while len(reps) < min_reps or time.perf_counter() < t_end:
        spark = sess.spark
        rep = {"errors": []}
        # a repeated plan would otherwise be served from the frames the
        # previous repetition left persisted
        spark.catalog.clearCache()
        if sess.persisted_rdds() != 0:
            rep["errors"].append("persisted RDDs before the timed run")
        try:
            t0 = time.perf_counter()
            res = wl.op(spark)
            rep["run_s"] = time.perf_counter() - t0
            rep["cached_frames_left"] = sess.persisted_rdds()
            rep["errors"] += wl.check(res)
            rep["result"] = res
        except Exception:
            traceback.print_exc()
            rep["errors"].append("raised")
        reps.append(rep)
    spark.catalog.clearCache()
    return reps


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "smart_ocr_spark", "__init__.py")):
        fail(f"no smart_ocr_spark package under {ROOT}; run from a source checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        fail(f"cannot read BENCHMARK.json: {exc}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of this process, the JVM and Spark in the
    # checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the heap sets most of the JVM's resident memory: pinned, like the
    # master and the shuffle partitions
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        "pyspark-shell",
    ])

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, nproc)
    sess = Session(nproc)
    sampler = RssSampler()
    sampler.start()
    try:
        if args.trace:
            import layers

            reps, metrics, info = layers.traced_run(sess, wl, work, timed_reps)
        else:
            # generating the inputs is the benchmark's own work, not the
            # program's: it happens once, before the set-ups
            wl.generate()
            setups = []
            for k in range(SETUPS):
                t0 = time.perf_counter()
                # a fresh SparkContext each time (in the same JVM): the
                # package is shipped and the Python workers are forked
                # and import the library again
                spark = sess.start()
                data_dir = os.path.join(work, f"setup{k}")
                wl.materialize(spark, data_dir)
                wl.warm(spark)
                spark.catalog.clearCache()
                setups.append(time.perf_counter() - t0)
                if k:
                    shutil.rmtree(os.path.join(work, f"setup{k - 1}"))
            # the workers of the stopped contexts do not count
            sampler.drop_exited()
            reps = timed_reps(sess, wl, args.seconds)
            walls = [r["run_s"] for r in reps if "run_s" in r]
            if not walls:
                fail("no repetition completed")
            run_s = statistics.median(walls)
            metrics = {
                "docs_per_sec": wl.n_docs / run_s,
                "input_mb_per_sec": wl.input_mb / run_s,
                "run_s": run_s,
                "setup_s": statistics.median(setups),
            }
            info = {"setup_s": setups}
        import pyspark

        info.update(
            workload=wl.name, seed=args.seed, nproc=nproc, master=sess.master,
            spark_version=pyspark.__version__, n_docs=wl.n_docs,
            input_mb=wl.input_mb, reps=reps,
        )
    finally:
        sess.close()
        peak_rss_mb = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics["peak_rss_mb"] = peak_rss_mb

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")
    failed = sum(1 for r in reps if r["errors"])
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
