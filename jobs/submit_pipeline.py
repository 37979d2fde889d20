"""spark-submit entry point for the parse->enrich->route->aggregate pipeline.

Packaged per north_rule for cluster runs:

    ./tools/package.sh     # builds dist/otelcol_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/otelcol_spark.zip \
        jobs/submit_pipeline.py --input <pages table/dir> --out <dir> \
        [--synth-pages N] [--incremental --manifest <path>]

On a real cluster --input points at the Iceberg/parquet pages table; in this
sandbox --synth-pages generates the deterministic table at any scale.
Prints one JSON line of pipeline metrics (accepted/refused/dropped/routed);
both modes also leave them in ``<out>/_run_report.json``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet/Iceberg path")
    ap.add_argument("--synth-pages", type=int, help="generate N synthetic pages instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--incremental", action="store_true",
                    help="checkpointed per-day run (resume-with-lineage)")
    ap.add_argument("--manifest", help="manifest path for --incremental")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("otelcol-spark-pipeline").getOrCreate()
    # zipped package arrives via --py-files; imports resolve from it
    from opentelemetry_collector_contrib_spark import synth
    from opentelemetry_collector_contrib_spark.plans import runner

    if args.synth_pages:
        pages = synth.synth_pages(spark, args.synth_pages)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        sys.exit("one of --input / --synth-pages is required")

    t0 = time.perf_counter()
    if args.incremental:
        if not args.manifest:
            sys.exit("--incremental requires --manifest")
        done = runner.run_incremental(spark, pages, args.out, args.manifest)
        with open(f"{args.out}/{runner.REPORT}") as f:
            report = json.load(f)
        assert report["conservation_ok"], "metric conservation violated"
        print(json.dumps({"mode": "incremental", "days_processed": done,
                          "sec": round(time.perf_counter() - t0, 2),
                          "metrics": {f"{s}.{n}": v for s, n, v in report["metrics"]}}))
    else:
        res = runner.run_pipeline(spark, pages, out_dir=args.out, write=True)
        assert res.metrics.conservation_ok(), "metric conservation violated"
        print(json.dumps({
            "mode": "full",
            "sec": round(time.perf_counter() - t0, 2),
            "metrics": {f"{s}.{n}": v for (s, n), v in sorted(res.metrics.rows.items())},
        }))
    spark.stop()


if __name__ == "__main__":
    main()
