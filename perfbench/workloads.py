"""The benchmark's workloads.

Each drives the package only through its public entry points and checks
every iteration against the model in ``expected.py`` or a DuckDB oracle.

- ``batch_pipeline``: ``runner.run_pipeline(write=True)``, the production
  parse -> enrich -> route -> fan-out write -> two aggregates DAG.
  Its traced run also forces ``runner.run_incremental`` crashed after
  ``FAIL_AFTER`` days, then resumed, for the checkpoint layer.
- ``curation_registry``: six curation queries of the driver registry,
  JVM-only and shuffle/join-bound; the workload a parse or writer change
  should not move.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.functions import parse as parse_fns
from opentelemetry_collector_contrib_spark.operators import attributes, spanmetrics, statsd
from opentelemetry_collector_contrib_spark.plans import runner
from opentelemetry_collector_contrib_spark.plans.checkpoint import Manifest
from opentelemetry_collector_contrib_spark.sinks import writer

import expected
import sparkstats as ss

FAIL_AFTER = 3
PREFIX_REPEATS = 3
WARM_DOCS = 500
WRITE = ss.WRITE_NODE


def force(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def seed_offset(seed: int) -> int:
    """First doc_id of a seed's input: the seed shifts the id range, and so
    which ids are corrupt, quarantined, and in which language and day."""
    return (seed % 1000) * 1009


def count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_times(calls: dict[str, callable], repeats: int) -> dict[str, float]:
    """Median seconds of each call, interleaved so drift hits all alike."""
    times: dict[str, list[float]] = {k: [] for k in calls}
    for _ in range(repeats):
        for k, fn in calls.items():
            times[k].append(_timed(fn))
    return {k: statistics.median(v) for k, v in times.items()}


class Workload:
    """One workload: ``prepare`` (no Spark), ``generate`` (untimed),
    ``warm`` (timed into set-up), then ``iteration`` in a closed loop."""

    name = ""
    inputs = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self) -> None:
        pass

    def warm(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def generate(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def iteration(self, spark: SparkSession, tag: str, traced: bool) -> dict:
        raise NotImplementedError

    def layers(self, spark: SparkSession, traced: list[dict]) -> dict[str, float]:
        """Per-layer metrics of this workload; zero for layers it does not
        run. ``traced`` holds the results of the traced iterations."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pipeline workloads
# ---------------------------------------------------------------------------


def generate_pages(spark: SparkSession, lo: int, n: int) -> DataFrame:
    """Pages for doc_ids ``lo .. lo + n - 1`` from ``synth``'s generator and
    its Spark-dialect page template."""
    docs = synth.synth_documents(spark, lo + n).where(F.col("doc_id") >= lo)
    docs.createOrReplaceTempView("perfbench_documents")
    pages = spark.sql(
        f"WITH {synth.pages_oracle_cte('spark', 'perfbench_documents')}"
        " SELECT * FROM pages"
    )
    return pages.withColumn("html", F.encode(F.col("html_str"), "UTF-8")).select(
        "url", "warc_ts", "html", "text", "lang"
    )


def _duck(sql: str) -> list[tuple]:
    """Rows of ``sql`` in a fresh DuckDB connection: outputs are checked by
    another engine, and without adding jobs to the Spark session."""
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _sink_rows(out: str) -> str:
    return f"read_parquet('{out}/sinks/*/*/*.parquet', hive_partitioning = true)"


def _sink_counts(out: str) -> dict[tuple[str, str], int]:
    rows = _duck(f"SELECT route, CAST(day AS VARCHAR), count(*) FROM {_sink_rows(out)}"
                 " GROUP BY ALL")
    return {(r, d): n for r, d, n in rows}


def _execs_writing(nodes: list[dict], marker: str) -> set[int]:
    return {n["execution"] for n in nodes
            if n["node"].startswith(WRITE) and marker in n["desc"]}


def _in(nodes: list[dict], execs: set[int]) -> list[dict]:
    return [n for n in nodes if n["execution"] in execs]


def _route_rows(sink_counts: dict[tuple[str, str], int]) -> dict[str, float]:
    """Rows each route wrote to the sinks, and the share the parse kept."""
    rows = dict.fromkeys(expected.ROUTES, 0)
    for (route, _), n in sink_counts.items():
        rows[route] = rows.get(route, 0) + n
    out = {f"routing.rows.{r}": float(n) for r, n in rows.items()}
    out["parse.ok_ratio"] = 1.0 - rows["sink_refused"] / sum(rows.values())
    return out


def _median_of(traced: list[dict], key: str) -> float:
    vals = [t[key] for t in traced if key in t]
    return statistics.median(vals) if vals else 0.0


class _Pipeline(Workload):
    pages_n = 0

    def warm(self, spark):
        self._run(spark, self.pages, f"{self.work}/warm", "warm")
        shutil.rmtree(f"{self.work}/warm", ignore_errors=True)

    def generate(self, spark):
        lo = seed_offset(self.seed)
        self.docs = expected.synth_docs(lo, self.pages_n)
        self.pages_dir = f"{self.work}/input_pages"
        generate_pages(spark, lo, self.pages_n).repartition(
            spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(self.pages_dir)
        self.pages = spark.read.parquet(self.pages_dir)
        self.inputs = self.pages_n

    def _run(self, spark, pages, out, tag) -> dict:
        raise NotImplementedError

    def iteration(self, spark, tag, traced):
        out = f"{self.work}/{tag}"
        res = self._run(spark, self.pages, out, tag)
        res["sink_files"] = count_files(f"{out}/sinks")
        sinks = _sink_counts(out)
        res["problems"] += self._check(res, out, sinks)
        if traced:
            t0 = time.perf_counter()
            res.update(self._collect(spark, tag, out))
            res.update(_route_rows(sinks))
            res["collect_s"] = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return res

    def _collect(self, spark, tag, out) -> dict:
        """Layer figures Spark recorded for the traced iteration ``tag``."""
        nodes = ss.sql_nodes(spark, tag + ":")
        sinks = _execs_writing(nodes, "/sinks,")
        sink_nodes = _in(nodes, sinks)
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "gc_ms": 0}
        task_ms: list[int] = []
        for phase in self.phases:
            js = ss.job_stats(spark, f"{tag}:{phase}")
            for k in stats:
                stats[k] += js[k]
            for sid in ss.write_stages(spark, f"{tag}:{phase}", "/sinks,"):
                task_ms += js["task_ms"].get(sid, [])
        hit, n = _duck(f"SELECT count(org), count(*) FROM {_sink_rows(out)}")[0]
        return {
            "scan.time_ms": ss.node_sum(nodes, "Scan parquet", "scan time", self.pages_dir),
            "scan.bytes": ss.node_sum(nodes, "Scan parquet", "size of files read", self.pages_dir),
            "parse.py_rows": ss.node_sum(nodes, "ArrowEvalPython", "number of output rows"),
            "parse.py_bytes_sent": ss.node_sum(nodes, "ArrowEvalPython", "data sent to Python workers"),
            "parse.py_bytes_recv": ss.node_sum(nodes, "ArrowEvalPython", "data returned from Python workers"),
            "parse.py_time_ms": ss.node_sum(nodes, "ArrowEvalPython", "time to run Python workers"),
            "enrich.bcast_build_ms": ss.node_sum(nodes, "BroadcastExchange", "time to build"),
            "enrich.bcast_bytes": ss.node_sum(nodes, "BroadcastExchange", "data size"),
            "enrich.hit_ratio": hit / n,
            "writer.exchange_bytes": ss.node_sum(sink_nodes, "Exchange", "shuffle bytes written"),
            "writer.bytes": ss.node_sum(sink_nodes, WRITE, "written output"),
            "writer.files": ss.node_sum(sink_nodes, WRITE, "number of written files"),
            "writer.commit_ms": ss.node_sum(sink_nodes, WRITE, "task commit time")
            + ss.node_sum(sink_nodes, WRITE, "job commit time"),
            "writer.task_skew": ss.skew(task_ms),
            **{f"runner.{k}": float(v) for k, v in stats.items()},
        }

    def _prefix_layers(self, spark) -> dict[str, float]:
        """Self times from forced prefixes of the DAG, timed here.

        scan -> parse_stage -> + enrich_lookup -> build_tagged, each forced
        with a no-op write; the fan-out write on a pre-materialised tagged
        table less a forced scan of that table; the two aggregates on
        pre-written sinks. ``routing.self_s`` also holds the cheap columns
        build_tagged adds around the route tag.
        """
        pages = self.pages
        calls = {
            "scan": lambda: force(pages),
            "parse": lambda: force(parse_fns.parse_stage(pages)),
            "enrich": lambda: force(attributes.enrich_lookup(
                parse_fns.parse_stage(pages), synth.domain_info(spark),
                on="domain", attrs=["org", "category", "tier"], override=False)),
            "routing": lambda: force(runner.build_tagged(spark, pages)),
        }
        t = _median_times(calls, PREFIX_REPEATS)
        mat = f"{self.work}/prefix_tagged"
        runner.build_tagged(spark, pages).drop("text").write.mode(
            "overwrite").parquet(mat)
        tagged = spark.read.parquet(mat)
        sinks = f"{self.work}/prefix_sinks"
        fpp = max(1, spark.sparkContext.defaultParallelism // 4)
        t.update(_median_times({
            "tagged_scan": lambda: force(tagged),
            "write": lambda: writer.write_fanout(tagged, sinks, files_per_partition=fpp),
        }, PREFIX_REPEATS))
        out = {
            "parse.self_s": t["parse"] - t["scan"],
            "enrich.self_s": t["enrich"] - t["parse"],
            "routing.self_s": t["routing"] - t["enrich"],
            "writer.self_s": t["write"] - t["tagged_scan"],
        }
        ok = spark.read.parquet(sinks).filter(F.col("parse_ok"))
        out["aggregate.self_s"] = _median_times({"aggs": lambda: (
            force(spanmetrics.span_metrics(
                ok, dims=runner.SPANMETRIC_DIMS, latency_col="latency_ms",
                dim_defaults={"severity_text": "Undefined"})),
            force(statsd.statsd_aggregate(
                ok, ts_col="warc_ts", name_col="lang", value_col="latency_ms",
                interval="1 hour", order_col="page_id")),
        )}, PREFIX_REPEATS)["aggs"]
        shutil.rmtree(mat, ignore_errors=True)
        shutil.rmtree(sinks, ignore_errors=True)
        return out



class BatchPipeline(_Pipeline):
    name = "batch_pipeline"
    pages_n = 30_000
    phases = ("run",)

    def _run(self, spark, pages, out, tag):
        spark.sparkContext.setJobGroup(f"{tag}:run", f"{tag}:run")
        t0 = time.perf_counter()
        res = runner.run_pipeline(spark, pages, out_dir=out, write=True)
        wall = time.perf_counter() - t0
        problems = [] if res.metrics.conservation_ok() else ["conservation broken"]
        return {"wall_s": wall, "route_counts": res.route_counts, "problems": problems}

    def _check(self, res, out, sinks):
        calls = dict(_duck(
            "SELECT route, CAST(sum(calls_total) AS BIGINT)"
            f" FROM read_parquet('{out}/agg_spanmetrics/*.parquet') GROUP BY route"))
        timer = _duck("SELECT CAST(sum(timer_count) AS BIGINT)"
                      f" FROM read_parquet('{out}/agg_window/*.parquet')")[0][0]
        return expected.check_batch(
            self.docs, res["route_counts"], sinks, calls, timer)

    def _collect(self, spark, tag, out):
        res = super()._collect(spark, tag, out)
        nodes = ss.sql_nodes(spark, tag + ":")
        aggs = _in(nodes, _execs_writing(nodes, "/agg_"))
        res.update({
            "aggregate.scan_bytes": ss.node_sum(aggs, "Scan parquet", "size of files read"),
            "aggregate.exchange_bytes": ss.node_sum(aggs, "Exchange", "shuffle bytes written"),
            "aggregate.groups": ss.node_sum(aggs, WRITE, "number of output rows"),
        })
        return res

    def layers(self, spark, traced):
        out = self._prefix_layers(spark)
        for key in LAYER_KEYS_FROM_ITERATIONS:
            out[key] = _median_of(traced, key)
        out.update(IncrementalResume(self).checkpoint_layer(spark))
        return out


class IncrementalResume(_Pipeline):
    """``runner.run_incremental`` crashed after ``FAIL_AFTER`` days, then
    resumed, on the batch workload's pages: the forced call that measures
    the checkpoint layer in a traced run."""

    phases = ("crash", "resume")

    def __init__(self, batch: BatchPipeline):
        super().__init__(batch.work, batch.seed)
        self.docs, self.pages, self.pages_dir = batch.docs, batch.pages, batch.pages_dir

    def _run(self, spark, pages, out, tag):
        sc = spark.sparkContext
        man = f"{out}/manifest.json"
        sc.setJobGroup(f"{tag}:crash", f"{tag}:crash")
        t0 = time.perf_counter()
        crashed = runner.run_incremental(spark, pages, out, man, fail_after=FAIL_AFTER)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}:resume", f"{tag}:resume")
        resumed = runner.run_incremental(spark, pages, out, man)
        t2 = time.perf_counter()
        return {"wall_s": t2 - t0, "resume_s": t2 - t1, "crashed": crashed,
                "resumed": resumed, "problems": []}

    def _check(self, res, out, sinks):
        return expected.check_resume(
            self.docs, res["crashed"], res["resumed"],
            Manifest(f"{out}/manifest.json").done(), FAIL_AFTER, sinks)

    def iteration(self, spark, tag, traced):
        if not traced:
            return super().iteration(spark, tag, traced)
        with ss.Sampler(lambda: ss.cached_bytes(spark), 0.1) as cache:
            res = super().iteration(spark, tag, traced)
            res["checkpoint.cache_bytes"] = float(cache.peak())
        res["checkpoint.days_pending"] = float(len(res.get("resumed", ())))
        return res

    def _collect(self, spark, tag, out):
        res = super()._collect(spark, tag, out)
        resume = ss.sql_nodes(spark, f"{tag}:resume")
        written = ss.node_sum(resume, WRITE, "number of output rows", "/sinks,")
        parsed = ss.node_sum(resume, "ArrowEvalPython", "number of output rows")
        res["checkpoint.rows_parsed_per_row_written"] = parsed / written if written else 0.0
        return res

    def checkpoint_layer(self, spark) -> dict[str, float]:
        # the first pair compiles the plans; the second is the one measured
        for tag in ("ckpt_cold", "ckpt"):
            res = self.iteration(spark, tag, traced=True)
            if res["problems"]:
                raise RuntimeError(f"crash + resume: {res['problems']}")
        out = {k: res[k] for k in CHECKPOINT_KEYS}
        out["runner.resume_s"] = res["resume_s"]
        man = Manifest(f"{self.work}/mark_done/manifest.json")
        out["checkpoint.mark_done_ms"] = 1e3 * statistics.median(
            _timed(lambda d=d: man.mark_done(d)) for d in expected.DAYS)
        return out


LAYER_KEYS_FROM_ITERATIONS = [
    "scan.time_ms", "scan.bytes", "parse.py_rows", "parse.py_bytes_sent",
    "parse.py_bytes_recv", "parse.py_time_ms", "enrich.bcast_build_ms",
    "enrich.bcast_bytes", "enrich.hit_ratio", "writer.exchange_bytes",
    "writer.bytes", "writer.files", "writer.commit_ms", "writer.task_skew",
    "aggregate.scan_bytes", "aggregate.exchange_bytes", "aggregate.groups",
    "runner.jobs", "runner.stages", "runner.tasks", "runner.gc_ms", "parse.ok_ratio",
    *(f"routing.rows.{r}" for r in expected.ROUTES),
]
CHECKPOINT_KEYS = [
    "checkpoint.cache_bytes", "checkpoint.rows_parsed_per_row_written",
    "checkpoint.days_pending",
]


# ---------------------------------------------------------------------------
# curation workload
# ---------------------------------------------------------------------------

CURATION_QUERIES = (
    "dedup_exact", "paragraph_dedup", "dedup_minhash_lsh", "contamination",
    "stratified_sample", "pack_blocks",
)
# the sf0.1 ``documents`` table of the repository's test data, as shipped
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")


def shift_documents(src: str, dst: str, offset: int, n: int | None = None) -> int:
    """Copy ``src`` (its first ``n`` rows, if given) to ``dst`` with every
    ``doc_id`` moved up by ``offset``; returns the row count."""
    table = pq.read_table(src).slice(0, n)
    i = table.schema.get_field_index("doc_id")
    table = table.set_column(
        i, "doc_id", pc.add(table.column(i), pa.scalar(offset, pa.int64())))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    pq.write_table(table, dst)
    return table.num_rows


class CurationRegistry(Workload):
    name = "curation_registry"

    def prepare(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        sys.path.insert(0, root)
        import __spark_entry__ as entry
        from check_contract import value_hash

        self.value_hash = value_hash
        self.queries = {q: entry.queries()[q] for q in CURATION_QUERIES}
        self.docs_dir = f"{self.work}/input_docs"
        docs = f"{self.docs_dir}/documents.parquet"
        self.inputs = shift_documents(DOCUMENTS, docs, seed_offset(self.seed))
        self.warm_dir = f"{self.work}/warm_docs"
        shift_documents(DOCUMENTS, f"{self.warm_dir}/documents.parquet",
                        seed_offset(self.seed), WARM_DOCS)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            self.want = {}
            for q in CURATION_QUERIES:
                cur = con.execute(oracles[q])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                self.want[q] = (value_hash(cols, rows), len(rows))
        finally:
            con.close()

    def warm(self, spark):
        # a cold pass on a small input compiles every plan; a second pass on
        # the full input lets the JIT settle, without which the one timed
        # iteration a window holds ran some 15% slower and less steadily
        for docs_dir in (self.warm_dir, self.docs_dir):
            for q in CURATION_QUERIES:
                self.queries[q](spark, docs_dir).collect()

    def generate(self, spark):
        pass

    def iteration(self, spark, tag, traced):
        sc = spark.sparkContext
        res: dict = {"problems": [], "wall_s": 0.0}
        for q in CURATION_QUERIES:
            sc.setJobGroup(f"{tag}:{q}", f"{tag}:{q}")
            t0 = time.perf_counter()
            df = self.queries[q](spark, self.docs_dir)
            rows = [tuple(r) for r in df.collect()]
            dt = time.perf_counter() - t0
            res["wall_s"] += dt
            res[f"curation.{q}_s"] = dt
            if (self.value_hash(df.columns, rows), len(rows)) != self.want[q]:
                res["problems"].append(f"{q}: result differs from its oracle")
            if q == "dedup_minhash_lsh":
                res["minhash_pairs"] = len(rows)
        if traced:
            t0 = time.perf_counter()
            nodes = ss.sql_nodes(spark, tag + ":")
            mh = ss.sql_nodes(spark, f"{tag}:dedup_minhash_lsh")
            band_rows = sum(
                n["metrics"].get("number of output rows", 0.0) for n in mh
                if "Join" in n["node"] and "[band#" in n["desc"]
            )
            res.update({
                "scan.time_ms": ss.node_sum(nodes, "Scan parquet", "scan time", self.docs_dir),
                "scan.bytes": ss.node_sum(nodes, "Scan parquet", "size of files read", self.docs_dir),
                "curation.exchange_bytes": ss.node_sum(nodes, "Exchange", "shuffle bytes written"),
                "curation.minhash_candidates_per_pair":
                    band_rows / res["minhash_pairs"] if res["minhash_pairs"] else 0.0,
            })
            stats = {"jobs": 0, "stages": 0, "tasks": 0, "gc_ms": 0}
            for q in CURATION_QUERIES:
                js = ss.job_stats(spark, f"{tag}:{q}")
                for k in stats:
                    stats[k] += js[k]
            res.update({f"runner.{k}": float(v) for k, v in stats.items()})
            res["collect_s"] = time.perf_counter() - t0
        return res

    def layers(self, spark, traced):
        keys = [f"curation.{q}_s" for q in CURATION_QUERIES] + [
            "curation.exchange_bytes", "curation.minhash_candidates_per_pair",
            "scan.time_ms", "scan.bytes",
            "runner.jobs", "runner.stages", "runner.tasks", "runner.gc_ms",
        ]
        return {k: _median_of(traced, k) for k in keys}


WORKLOADS = {w.name: w for w in (BatchPipeline, CurationRegistry)}
