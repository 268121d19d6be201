#!/usr/bin/env python
"""Code knowledge-graph construction job — the spark-submit entry point
for the source-code contract table (repo, path, commit, lang, content).

Cluster:
    spark-submit --py-files engine.zip jobs/code_kg.py \
        --source my_catalog.db.source_files --format iceberg \
        --out /warehouse/code_triples --nquads-out /warehouse/code_nq \
        --checkpoint /warehouse/code_ckpt --vendored --license

Local smoke (same code path):
    python jobs/code_kg.py --source /tmp/files_parquet --out /tmp/triples \
        --local 8

Emits the full quad+lineage table of ``plans/code_pipeline.code_kg_plan``
(constants incl. the code:sha256 lineage triple, definition symbol
nodes, import literals, resolved dependsOn edges, optional
license/cloneKey/vendored annotations) through the SAME materialization
/ N-Quads / checkpoint machinery as the FOXML extract job — so the
output is immediately queryable by jobs/query.py's SPARQL runner.

Resumable mode (--checkpoint): chunked by xxhash64(repo, path, commit)
with per-chunk manifests exactly like extract.py; import resolution and
vendored spread always evaluate against the FULL source table so each
wave's output equals the one-shot run's slice of it (dedup, when on,
runs per wave — apply global set semantics at export, which this job's
counts and N-Quads do).

Exit contract: prints one JSON summary line (files, triples, defines,
imports, resolved fraction, output paths) to stdout; nonzero exit on
failure.
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
                    help="source-code table: parquet/orc path or iceberg name")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "orc", "iceberg", "json", "csv"])
    ap.add_argument("--out", required=True, help="triples table output path")
    ap.add_argument("--nquads-out", default=None,
                    help="optional N-Quads text output path")
    ap.add_argument("--graph", default="#code")
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--local-dedup", action="store_true",
                    help="distinct-by-construction output dedup: skips "
                         "the full-output exchange (37%% of 8-core wall "
                         "time) by deduping only the import-derived "
                         "subsets. REQUIRES a snapshot-table source "
                         "with unique (repo, path) per row (checked: a "
                         "repeated one fails the job) — combine with "
                         "--latest-only on versioned tables")
    ap.add_argument("--no-resolve", action="store_true",
                    help="skip entity linking (no code:dependsOn edges)")
    ap.add_argument("--calls", action="store_true",
                    help="emit code:calls symbol-linked call edges")
    ap.add_argument("--deep-resolve", action="store_true",
                    help="path-aware import linking: try the "
                         "(parent dir).(basename) key before the "
                         "top-level/basename fallback")
    ap.add_argument("--vendored", action="store_true",
                    help="emit code:vendored cross-repo duplicate flags")
    ap.add_argument("--license", action="store_true",
                    help="emit code:license / code:permissive annotations")
    ap.add_argument("--clone-keys", action="store_true",
                    help="emit code:cloneKey type-2 clone hashes")
    ap.add_argument("--latest-only", action="store_true",
                    help="pre-select each (repo, path)'s latest commit "
                         "(lexicographic) before construction — use when "
                         "the source table carries history rows")
    ap.add_argument("--checkpoint", default=None,
                    help="chunk-manifest dir; enables resumable mode")
    ap.add_argument("--previous", default=None,
                    help="prior incremental-run state table (--out of a "
                         "--previous run); enables incremental refresh — "
                         "unchanged files reuse their stored local rows, "
                         "corpus-dependent edges re-assemble from state. "
                         "A nonexistent path bootstraps an empty state.")
    ap.add_argument("--num-chunks", type=int, default=64)
    ap.add_argument("--buckets", type=int, default=256,
                    help="subject-hash buckets for the triple table layout")
    ap.add_argument("--canonical-sort", action="store_true",
                    help="byte-stable output order (extra within-partition sort)")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] instead of the submitted master")
    args = ap.parse_args(argv)
    if args.deep_resolve and args.no_resolve:
        print("error: --deep-resolve needs entity linking; drop "
              "--no-resolve", file=sys.stderr)
        return 2
    if args.previous and args.checkpoint:
        print("error: --previous (incremental) and --checkpoint "
              "(resumable chunks) are separate modes; pick one",
              file=sys.stderr)
        return 2

    from fcrepo3_rdf_extractor_spark.session import job_session

    spark = job_session("code-kg", args.local)
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.dedup import (
        TRIPLE_KEY,
        dedup_exact,
    )
    from fcrepo3_rdf_extractor_spark.plans.checkpoint import (
        read_layout_marker,
        write_layout_marker,
    )
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        CodeKgConfig,
        code_kg_plan,
    )
    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig,
        materialize_graph,
        run_resumable,
    )
    from fcrepo3_rdf_extractor_spark.sources.nquads import write_nquads
    from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

    source = read_source(spark, args.source, fmt=args.format)
    if args.latest_only:
        from fcrepo3_rdf_extractor_spark.operators.code import (
            latest_snapshot,
        )

        source = latest_snapshot(source)
    config = CodeKgConfig(
        graph=args.graph,
        resolve=not args.no_resolve,
        deep_resolve=args.deep_resolve,
        calls=args.calls,
        vendored=args.vendored,
        license=args.license,
        clone_keys=args.clone_keys,
        dedup=(False if args.no_dedup
               else "local" if args.local_dedup else True),
    )

    summary: dict = {"out": args.out}
    if config.dedup == "local" and not args.latest_only:
        # the 'local' mode is distinct by construction only over unique
        # (repo, path) rows; a repeated file would emit duplicate quads
        # silently, so probe for one (repo, path) seen twice
        dup = (
            source.groupBy("repo", "path").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1).limit(1).collect()
        )
        if dup:
            print(
                f"error: --local-dedup requires unique (repo, path) rows, "
                f"but ({dup[0].repo}, {dup[0].path}) occurs {dup[0].n} "
                "times; add --latest-only for a versioned table or drop "
                "--local-dedup",
                file=sys.stderr,
            )
            spark.stop()
            return 2
    if args.previous:
        from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
            code_kg_from_state,
            code_kg_incremental,
            code_kg_state,
        )

        prev_marker = read_layout_marker(args.previous)
        prev_layout = prev_marker.get("layout") if prev_marker else None
        if prev_layout is not None and prev_layout != "code_state":
            print(
                f"error: --previous table has layout '{prev_layout}'; "
                "code-KG incremental refresh requires a code_state table "
                "(a prior incremental run's --out) — plan outputs lack "
                "the kind column and call-mention staging rows",
                file=sys.stderr,
            )
            spark.stop()
            return 2
        if (config.dedup == "local" and prev_marker is not None
                and not prev_marker.get("row_local_dedup")):
            # a state written with --no-dedup (or by an older build)
            # carries row-local repeats the 'local' assembly would pass
            # through silently — distinct-by-construction only holds
            # for state rows that went through the scan-side
            # array_distinct
            print(
                "error: --local-dedup needs a --previous state written "
                "with row-local dedup (not --no-dedup / a pre-feature "
                "state); rerun without --local-dedup or rebuild the "
                "state",
                file=sys.stderr,
            )
            spark.stop()
            return 2
        from pyspark.errors import AnalysisException

        try:
            prev = spark.read.parquet(args.previous)
        except AnalysisException as e:
            # ONLY the documented bootstrap case (path not there yet)
            # may fall through to an empty state; a corrupt or
            # unreadable EXISTING table must fail loudly — silently
            # rebuilding from scratch would mask the corruption as a
            # mysterious full rescan
            if "PATH_NOT_FOUND" not in str(e) and "does not exist" not in str(e):
                raise
            prev = code_kg_state(source.limit(0), config)
        plan = code_kg_incremental(source, prev, config)
        summary["n_changed_files"] = plan.changed.count()
        # materialize the STATE (the only valid --previous for the next
        # refresh); the assembled output is derived for counts/export
        plan.state.write.mode("overwrite").parquet(args.out)
        write_layout_marker(
            args.out, "code_state",
            row_local_dedup=bool(config.dedup),
        )
        summary["layout"] = "code_state"
        stored = spark.read.parquet(args.out)
        # the live files' identities, from their code:sha256 state rows
        # (the same rule code_kg_plan uses), not a second content pass
        cur_ids = stored.filter(F.col("pred") == "code:sha256").select(
            "repo", "path", "commit", "content_sha256"
        ).distinct()
        triples = code_kg_from_state(stored, cur_ids, config)
    elif args.checkpoint:
        # chunking/wave sizing rides the shared ExtractConfig; the plan
        # itself is the code-KG plan with the FULL source as the
        # resolution/vendored basis
        try:
            stats = run_resumable(
                source, args.out, args.checkpoint,
                ExtractConfig(num_chunks=args.num_chunks),
                plan_fn=lambda wave: code_kg_plan(wave, config, corpus=source),
            )
        except ValueError as e:  # --num-chunks differs from the checkpoint's
            print(f"error: {e}", file=sys.stderr)
            spark.stop()
            return 2
        summary.update(stats)
        summary["checkpoint"] = args.checkpoint
        # marked so a later --previous pointing here is rejected BY
        # NAME (a resumable triple table is not refresh state) instead
        # of failing later on a missing kind column
        write_layout_marker(args.out, "code_resumable")
        summary["layout"] = "code_resumable"
        stored = spark.read.parquet(args.out)
        # cross-wave duplicates cannot exist for the code KG (every
        # subject embeds its file's (repo, path) and waves are
        # file-disjoint), so 'local' needs no export pass; only the
        # trust-nothing --global-dedup mode re-applies global set
        # semantics over the stored union, matching its one-shot run
        triples = (
            dedup_exact(stored, key=TRIPLE_KEY)
            if config.dedup is True
            else stored
        )
    else:
        triples = code_kg_plan(source, config)
        materialize_graph(
            triples, args.out, buckets=args.buckets,
            canonical_sort=args.canonical_sort,
        )
        # same rejection-by-name guard as the resumable branch: a plan
        # output is a triple table, never valid refresh state
        write_layout_marker(args.out, "code_plan")
        summary["layout"] = "code_plan"
        triples = spark.read.parquet(args.out)

    # one action: per-pred counts, plus the resolved dependsOn edges
    by_pred = {
        r.pred: r
        for r in triples.groupBy("pred").agg(
            F.count("*").alias("n"),
            F.count_if(F.col("obj_value").startswith("src:")).alias("n_src"),
        ).collect()
    }
    counts = {p: r.n for p, r in by_pred.items()}
    summary["n_triples"] = sum(counts.values())
    summary["n_files"] = counts.get("code:sha256", 0)
    summary["n_defines"] = counts.get("code:defines", 0)
    summary["n_imports"] = counts.get("code:imports", 0)
    if args.calls:
        summary["n_calls"] = counts.get("code:calls", 0)
    n_dep = counts.get("code:dependsOn", 0)
    if n_dep:
        summary["n_depends"] = n_dep
        summary["resolved_frac"] = round(
            by_pred["code:dependsOn"].n_src / n_dep, 6
        )

    if args.nquads_out:
        write_nquads(triples, args.nquads_out, canonical=args.canonical_sort)
        summary["nquads_out"] = args.nquads_out

    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
