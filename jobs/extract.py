#!/usr/bin/env python
"""Bulk KG-extraction job — the spark-submit entry point.

Cluster:
    spark-submit --py-files engine.zip jobs/extract.py \
        --source my_catalog.db.blobs --format iceberg \
        --out /warehouse/triples --nquads-out /warehouse/nquads \
        --checkpoint /warehouse/ckpt --graph '#ri' --skip-empty-literals

Local smoke (same code path, master from --local):
    python jobs/extract.py --source /tmp/src_parquet --out /tmp/triples \
        --local 8

The session (``session.job_session``) sets no master unless ``--local N``
is given, so the submitted cluster master/deploy-mode win; the engine
confs it applies (``session.ENGINE_CONF``) are equally valid as
``--conf`` flags on a real cluster (the reference's CLI analog is
``Extract.java:76-175``).

Exit contract: prints one JSON summary line (objects, triples, errors,
per-stage error counts, output paths) to stdout; nonzero exit on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True,
                    help="blob table: parquet/orc path or iceberg table name")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "orc", "iceberg", "json", "csv"])
    ap.add_argument("--out", required=True, help="triples table output path")
    ap.add_argument("--nquads-out", default=None,
                    help="optional N-Quads text output path")
    ap.add_argument("--graph", default="#ri")
    ap.add_argument("--skip-empty-literals", action="store_true")
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--checkpoint", default=None,
                    help="chunk-manifest dir; enables resumable mode")
    ap.add_argument("--num-chunks", type=int, default=64)
    ap.add_argument("--aliases", default=None,
                    help="parquet path of (alias, canonical) dictionary")
    ap.add_argument("--ds-store", default=None,
                    help="parquet path of pre-fetched datastream content "
                         "(blob_id, content): Akubra blob ids for MANAGED, "
                         "verbatim URLs for EXTERNAL/REDIRECT")
    ap.add_argument("--buckets", type=int, default=256,
                    help="subject-hash buckets for the triple table layout")
    ap.add_argument("--canonical-sort", action="store_true",
                    help="byte-stable output order (extra within-partition sort)")
    ap.add_argument("--previous", default=None,
                    help="prior run's PER-DOCUMENT triples table; enables "
                         "incremental refresh (only new/changed rows "
                         "re-extract). Must be a prior incremental --out or "
                         "a fresh run with --no-dedup: a deduped table keeps "
                         "one witness per triple and cannot be maintained "
                         "incrementally")
    ap.add_argument("--paths", nargs="*", default=None,
                    help="explicit object path(s) to extract — the "
                         "reference's positional-URI mode "
                         "(Extract.java:138-139,221); the IN-list pushes "
                         "down to the source scan")
    ap.add_argument("--paths-file", default=None,
                    help="file with one object path per line; combined "
                         "with --paths")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] instead of the submitted master")
    args = ap.parse_args(argv)
    if args.previous and args.checkpoint:
        print("error: --previous (incremental) and --checkpoint "
              "(resumable chunks) are separate modes; pick one",
              file=sys.stderr)
        return 2

    from fcrepo3_rdf_extractor_spark.session import job_session

    spark = job_session("kg-extract", args.local)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fcrepo3_rdf_extractor_spark.operators.extractor import triples_only
    from fcrepo3_rdf_extractor_spark.plans.checkpoint import (
        read_layout_marker,
        write_layout_marker,
    )
    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig,
        dedup_mixed,
        extract_incremental,
        extract_plan,
        materialize_graph,
        run_resumable,
    )
    from fcrepo3_rdf_extractor_spark.sources.nquads import write_nquads
    from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

    source = read_source(spark, args.source, fmt=args.format)
    selected = list(args.paths or [])
    if args.paths_file:
        with open(args.paths_file) as fh:
            selected += [line.strip() for line in fh if line.strip()]
    if selected:
        if args.previous or args.checkpoint:
            why = (
                "--previous: the incremental identity anti-join would "
                "treat every unselected object as DELETED and drop its "
                "rows from the refreshed state"
                if args.previous else
                "--checkpoint: the resumable run marks every chunk done, "
                "selected objects or not, so a later full run on the "
                "same checkpoint would skip everything and output only "
                "the selected objects"
            )
            print(f"error: --paths/--paths-file cannot combine with {why}",
                  file=sys.stderr)
            spark.stop()
            return 2
        from fcrepo3_rdf_extractor_spark.operators.filters import (
            select_objects,
        )

        source = select_objects(source, selected)
    aliases = spark.read.parquet(args.aliases) if args.aliases else None
    ds_store = spark.read.parquet(args.ds_store) if args.ds_store else None
    config = ExtractConfig(
        graph=args.graph,
        skip_empty=args.skip_empty_literals,
        dedup=not args.no_dedup,
        num_chunks=args.num_chunks,
    )

    summary: dict = {"out": args.out}
    if selected:
        summary["n_selected_paths"] = len(selected)
    if args.previous:
        prev_layout = (read_layout_marker(args.previous) or {}).get("layout")
        if prev_layout is not None and prev_layout != "per_document":
            print(
                f"error: --previous table has layout '{prev_layout}'; "
                "incremental refresh requires a per-document table (a prior "
                "incremental --out, or a fresh run with --no-dedup) — a "
                "deduped table keeps one witness per triple and cannot be "
                "maintained incrementally",
                file=sys.stderr,
            )
            spark.stop()
            return 2
        if prev_layout is None:
            print(
                "warning: --previous has no _LAYOUT.json marker; proceeding "
                "on the assumption it is a per-document table",
                file=sys.stderr,
            )
        prev = spark.read.parquet(args.previous)
        plan = extract_incremental(
            source, prev, config, aliases=aliases, ds_store=ds_store
        )
        summary["n_changed_docs"] = plan.changed.count()
        # materialize the PER-DOCUMENT state: it is the only sound
        # --previous for the next refresh (dedup keeps one witness per
        # triple and loses the other asserting documents). Dedup, when
        # requested, is applied on the read-back view for counts/export.
        materialize_graph(
            plan.state, args.out, buckets=args.buckets,
            canonical_sort=args.canonical_sort,
        )
        summary["layout"] = "per_document"
        write_layout_marker(args.out, "per_document")
        stored = spark.read.parquet(args.out)
        extracted = dedup_mixed(stored) if config.dedup else stored
    elif args.checkpoint:
        try:
            stats = run_resumable(
                source, args.out, args.checkpoint, config,
                aliases=aliases, ds_store=ds_store,
            )
        except ValueError as e:  # --num-chunks differs from the checkpoint's
            print(f"error: {e}", file=sys.stderr)
            spark.stop()
            return 2
        summary.update(stats)
        summary["checkpoint"] = args.checkpoint
        # per-wave dedup keeps per-document semantics only without dedup;
        # a wave-deduped table is NOT a valid --previous
        write_layout_marker(
            args.out, "per_document" if args.no_dedup else "wave_deduped"
        )
        # export layer: waves dedup independently (chunk idempotency), so
        # cross-wave duplicate triples survive in the materialized table;
        # counts and N-Quads apply the global dedup here, matching the
        # plain (non-checkpoint) run of the same source
        stored = spark.read.parquet(args.out)
        extracted = dedup_mixed(stored) if config.dedup else stored
    else:
        extracted = extract_plan(source, config, aliases=aliases, ds_store=ds_store)
        materialize_graph(
            extracted, args.out, buckets=args.buckets,
            canonical_sort=args.canonical_sort,
        )
        write_layout_marker(
            args.out, "per_document" if args.no_dedup else "deduped"
        )
        # read back with the schema just written: no schema-inference job
        written = T.StructType(
            extracted.schema.fields + [T.StructField("subj_bucket", T.IntegerType())]
        )
        extracted = spark.read.schema(written).parquet(args.out)

    # the whole report is ONE action: the NULL error_stage group is the
    # triples, the others are per-stage error counts. The struct keeps a
    # (repo, path, commit) with a NULL field countable, as .distinct() does
    has_errors = "error_stage" in extracted.columns
    stage = F.col("error_stage") if has_errors else F.lit(None).cast("string")
    groups = {
        r.error_stage: (r.n, r.n_objects)
        for r in extracted.groupBy(stage.alias("error_stage")).agg(
            F.count("*").alias("n"),
            F.count_distinct(F.struct("repo", "path", "commit")).alias(
                "n_objects"
            ),
        ).collect()
    }
    summary["n_triples"], summary["n_objects"] = groups.pop(None, (0, 0))
    if has_errors:
        summary["errors_by_stage"] = {k: n for k, (n, _) in groups.items()}
    summary["n_errors"] = sum(n for n, _ in groups.values())

    if args.nquads_out:
        triples = triples_only(extracted) if has_errors else extracted
        write_nquads(triples.filter(F.col("subj").isNotNull()), args.nquads_out,
                     canonical=args.canonical_sort)
        summary["nquads_out"] = args.nquads_out

    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
