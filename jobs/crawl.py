#!/usr/bin/env python
"""Materialize the EXTERNAL/REDIRECT (blob_id, content) table.

The engine resolves E/R datastreams through a pre-fetched ds-store table
instead of the reference's inline per-object HTTP fetch
(ObjectProcessor.java:217-222) — an inline fetch inside the extraction
UDF would couple job throughput to remote-server latency, re-fetch the
same hot URL once per referencing object, and make retries re-crawl.
This job builds that table:

    python jobs/crawl.py --source /data/objects --out /data/ds_store \
        [--fetcher http|file] [--timeout 10] [--local 8]

Stages:
  1. enumerate  JVM-only request pass over the source table -> the
                newest E/R contentLocation URL per DC/RELS datastream
  2. distinct   each URL fetched exactly once regardless of how many
                objects reference it (the inline design re-fetched per
                object)
  3. fetch      Arrow-batched Python stage; per-URL error isolation —
                an unreachable URL becomes a NULL-content row with an
                error column, never a failed job. This stage is
                I/O-bound by design: rows-per-task is the concurrency
                knob (repartition count), not a CPU batch size. At
                scale, add per-host rate limiting inside the fetcher.
  4. write      parquet keyed by blob_id — feed to
                jobs/extract.py --ds-store (rows with NULL content are
                dropped from the store: the extraction UDF then emits
                its per-datastream error row, the same contract as a
                URL that was never crawled).

Fetchers: "http" (urllib, the production path), "file" (local paths /
file:// URLs — hermetic tests, air-gapped mirrors).

Exit contract: ONE JSON summary line (url counts, error count, output
path) on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def make_fetcher(mode: str, timeout: float):
    """Batch fetcher for mapInPandas. Defined at module top level so the
    closure pickles cleanly to Python workers."""

    def fetch(batches):
        import pandas as pd

        for pdf in batches:
            contents, errors = [], []
            for u in pdf["blob_id"]:
                try:
                    if mode == "file":
                        path = u[7:] if u.startswith("file://") else u
                        with open(path, encoding="utf-8") as f:
                            contents.append(f.read())
                    else:
                        import urllib.request

                        with urllib.request.urlopen(u, timeout=timeout) as r:
                            contents.append(r.read().decode("utf-8", "replace"))
                    errors.append(None)
                except Exception as e:  # per-URL isolation: never the job
                    contents.append(None)
                    errors.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"blob_id": pdf["blob_id"], "content": contents, "error": errors}
            )

    return fetch


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True, help="source table path")
    ap.add_argument("--source-format", default="parquet")
    ap.add_argument("--out", required=True, help="ds_store output path")
    ap.add_argument("--fetcher", choices=["http", "file"], default="http")
    ap.add_argument("--timeout", type=float, default=10.0)
    ap.add_argument("--concurrency", type=int, default=None,
                    help="fetch tasks (default: 4x parallelism)")
    ap.add_argument("--local", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.session import job_session

    spark = job_session("crawl", args.local)

    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests
    from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

    src = read_source(spark, args.source, fmt=args.source_format)
    urls = (
        managed_content_requests(src, keep_group=True)
        .filter(F.col("control_group").isin("E", "R"))
        .select("blob_id")
        .distinct()
    )
    n_tasks = args.concurrency or 4 * spark.sparkContext.defaultParallelism
    fetched = urls.repartition(n_tasks).mapInPandas(
        make_fetcher(args.fetcher, args.timeout),
        "blob_id string, content string, error string",
    )
    fetched.write.mode("overwrite").parquet(args.out)

    written = spark.read.parquet(args.out)
    counts = written.agg(
        F.count("*").alias("n"),
        F.count("content").alias("ok"),
        F.count("error").alias("err"),
    ).collect()[0]
    print(json.dumps({
        "out": args.out,
        "n_urls": counts["n"],
        "n_fetched": counts["ok"],
        "n_errors": counts["err"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
