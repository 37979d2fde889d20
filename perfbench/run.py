"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process, one Spark session at
``local[nproc]``, one job at a time (closed loop, no concurrent load). The
run sets up the session, generates its input from ``--seed``, then runs the
workload back to back for ``--seconds`` and checks every iteration's output.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The full record of the run, every
iteration included, goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "wall_s": "s", "docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.worker_warm_s": "s",
    "scan.time_ms": "ms", "scan.bytes": "B",
    "parse.self_s": "s", "parse.py_rows": "count", "parse.py_bytes_sent": "B",
    "parse.py_bytes_recv": "B", "parse.py_time_ms": "ms", "parse.ok_ratio": "ratio",
    "enrich.self_s": "s", "enrich.bcast_build_ms": "ms", "enrich.bcast_bytes": "B",
    "enrich.hit_ratio": "ratio",
    "routing.self_s": "s",
    **{f"routing.rows.{r}": "count" for r in (
        "sink_refused", "sink_quarantine", "sink_en", "sink_de", "sink_other")},
    "writer.self_s": "s", "writer.exchange_bytes": "B", "writer.bytes": "B",
    "writer.files": "count", "writer.task_skew": "ratio", "writer.commit_ms": "ms",
    "aggregate.self_s": "s", "aggregate.scan_bytes": "B",
    "aggregate.exchange_bytes": "B", "aggregate.groups": "count",
    "runner.jobs": "count", "runner.stages": "count", "runner.tasks": "count",
    "runner.gc_ms": "ms", "runner.resume_s": "s",
    "checkpoint.mark_done_ms": "ms", "checkpoint.days_pending": "count",
    "checkpoint.cache_bytes": "B", "checkpoint.rows_parsed_per_row_written": "ratio",
    **{f"curation.{q}_s": "s" for q in (
        "dedup_exact", "paragraph_dedup", "dedup_minhash_lsh", "contamination",
        "stratified_sample", "pack_blocks")},
    "curation.exchange_bytes": "B", "curation.minhash_candidates_per_pair": "ratio",
    "host.steal_pct": "%", "host.loadavg": "load",
    "trace.overhead_s": "s", "trace.noise_s": "s", "trace.collect_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


class Session:
    """The run's Spark session, sized for this host, with every scratch
    file inside the run's work directory; ``close`` stops the JVM and waits
    for it and the Python workers it forked."""

    def __init__(self, work: str):
        from opentelemetry_collector_contrib_spark.session import get_spark
        from pyspark import SparkContext

        self.cores = len(os.sched_getaffinity(0))
        # an eighth of RAM, at most 2 GiB: the inputs are small, and the
        # package default (32g) lets the heap outgrow a small host
        self.driver_mem = f"{min(2048, _mem_total_mb() // 8)}m"
        os.environ["SPARK_DRIVER_MEM"] = self.driver_mem
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=self.cores,
            extra_conf={
                # workers import the package wherever the run starts from
                "spark.executorEnv.PYTHONPATH": ROOT,
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        import sparkstats

        gateway = SparkContext._gateway
        family = sparkstats.descendants(self.jvm_pid) | {self.jvm_pid}
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any failure: kill and reap
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(family)


def _wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait for processes this run started (not children of this process
    once the JVM is gone), killing any left at the deadline."""
    deadline = time.monotonic() + timeout
    while pids:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _median(vals):
    vals = [v for v in vals if v is not None]
    return statistics.median(vals) if vals else 0.0


def run(args) -> dict:
    import sparkstats as ss
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    wl = WORKLOADS[args.workload](work, args.seed)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    session = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        session = Session(work)
        spark = session.spark
        t1 = time.perf_counter()
        wl.generate(spark)
        record["inputs"] = wl.inputs
        t2 = time.perf_counter()
        wl.warm(spark)
        t3 = time.perf_counter()
        # generating the input is the benchmark's cost, not set-up
        record["setup"] = {"setup_s": (t1 - t0) + (t3 - t2),
                           "session.start_s": t1 - t0,
                           "session.worker_warm_s": t3 - t2}
        record["host"] = {"cores": session.cores, "driver_mem": session.driver_mem,
                          "mem_total_mb": _mem_total_mb()}
        iterations = []
        with ss.Sampler(lambda: ss.tree_rss_bytes(session.jvm_pid), 0.25) as rss:
            start = time.perf_counter()
            i = 0
            # with tracing, untraced and traced iterations alternate so the
            # overhead is measured under the same conditions: the first
            # iteration, then at least two pairs; an iteration starts only
            # if one as long as the last still fits in the window
            last = 0.0
            while (time.perf_counter() - start + last < args.seconds
                   or i < (5 if args.trace else 1)):
                traced = bool(args.trace and i % 2)
                tag = f"{'tr' if traced else 'it'}{i}"
                rss.reset()
                j0, t_it = ss.cpu_jiffies(), time.perf_counter()
                try:
                    res = wl.iteration(spark, tag, traced)
                except Exception:  # noqa: BLE001 - a failed iteration is counted
                    res = {"problems": [traceback.format_exc()]}
                res.update(tag=tag, traced=traced,
                           elapsed_s=time.perf_counter() - t_it,
                           peak_rss_mb=rss.peak() / 2**20,
                           steal_pct=ss.steal_pct(j0, ss.cpu_jiffies()),
                           loadavg=ss.loadavg())
                iterations.append(res)
                last = res["elapsed_s"]
                i += 1
            record["window_s"] = time.perf_counter() - start
        record["iterations"] = iterations
        ok = [r for r in iterations if not r["problems"]]
        untraced = [r for r in ok if not r["traced"]]
        traced = [r for r in ok if r["traced"]]
        wall = _median(r["wall_s"] for r in untraced)
        record["end_to_end"] = {
            "wall_s": wall,
            "docs_per_s": _median(wl.inputs / r["wall_s"] for r in untraced),
            "setup_s": record["setup"]["setup_s"],
            "peak_rss_mb": _median(r["peak_rss_mb"] for r in untraced),
            "sink_files": _median(r.get("sink_files") for r in untraced),
            "fail_ratio": (len(iterations) - len(ok)) / len(iterations),
            "samples": len(untraced),
        }
        if args.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(wl.layers(spark, traced))
            layers["session.start_s"] = record["setup"]["session.start_s"]
            layers["session.worker_warm_s"] = record["setup"]["session.worker_warm_s"]
            layers["host.steal_pct"] = _median(r["steal_pct"] for r in iterations)
            layers["host.loadavg"] = _median(r["loadavg"] for r in iterations)
            # Spark records its metrics either way: inside the timed run a
            # traced iteration differs only by its samplers; after it, it
            # reads the status stores (collect_s). The overhead is resolved
            # only where it exceeds noise_s, the larger half-range of wall_s
            # among the traced and among the untraced iterations. The first
            # iteration is left out: the JIT is still settling in it.
            paired = [r["wall_s"] for r in untraced if r is not iterations[0]]
            layers["trace.overhead_s"] = (
                _median(r["wall_s"] for r in traced) - _median(paired))
            layers["trace.noise_s"] = max(
                (max(w) - min(w)) / 2 if w else 0.0
                for w in (paired, [r["wall_s"] for r in traced]))
            layers["trace.collect_s"] = _median(r.get("collect_s") for r in traced)
            record["per_layer"] = layers
            record["layer_rows"] = [
                [args.workload, k.split(".")[0], k.split(".", 1)[1], v]
                for k, v in layers.items()
            ]
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
    return record


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import opentelemetry_collector_contrib_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package is not in {ROOT}: found {pkg.__file__}",
              file=sys.stderr)
        return 2
    record = run(args)
    iterations = record["iterations"]
    failed = sum(1 for r in iterations if r["problems"])
    units = PER_LAYER if args.trace else END_TO_END
    values = record["per_layer"] if args.trace else record["end_to_end"]
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    e2e = record["end_to_end"]
    print(f"{args.workload} seed={args.seed}: {e2e['samples']} samples,"
          f" wall_s={e2e['wall_s']:.3f} setup_s={e2e['setup_s']:.2f}"
          f" fail_ratio={e2e['fail_ratio']:.2f}; record: {os.path.relpath(path, ROOT)}")
    if args.trace:
        lay = record["per_layer"]
        resolved = abs(lay["trace.overhead_s"]) > lay["trace.noise_s"]
        print(f"  tracing: overhead_s={lay['trace.overhead_s']:+.3f}"
              f" ({'resolved' if resolved else 'unresolved'},"
              f" noise_s={lay['trace.noise_s']:.3f}),"
              f" store reads collect_s={lay['trace.collect_s']:.3f}")
    for r in iterations:
        if r["problems"]:
            print(f"  {r['tag']}: {r['problems'][0].strip().splitlines()[-1]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(iterations),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
