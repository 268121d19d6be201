#!/usr/bin/env python
"""Corpus curation job — the training-data pipeline end to end.

    python jobs/curate.py --docs /data/documents.parquet --out /data/curated \
        --quality-min 0.5 --langs en,es --neardup-threshold 0.7 \
        --rates '{"wikipedia": 1.0, "commoncrawl": 0.03}' --default-rate 0.1 \
        --local 8

Stages (each a narrow semi/anti join on doc_id — the corpus text shuffles
at most once, in the near-dup signature stage):

  1. exact dedup           keep the min-id witness per identical text
  2. near-dup clustering   MinHash+LSH pairs -> connected components ->
                           keep one canonical doc per cluster
  2.3 containment (opt-in) drop the smaller doc of any contained pair
                           (--containment-threshold; fragments/quotes
                           symmetric Jaccard misses)
  2.5 line dedup (opt-in)  drop lines occurring in >= N distinct docs
                           (--dedup-lines-min-docs; C4/CCNet boilerplate)
  2.7 substring dedup (opt-in) remove repeated >=k-token spans corpus-wide,
                           keep-first (--dedup-substrings-k; Lee et al.
                           2022 ExactSubstr at token granularity)
  3. quality filter        length/stopword/word-shape score >= threshold
  4. language filter       deterministic marker-based language ID
  4.5 code filter (opt-in) Stack/StarCoder structural source filters:
                           max/mean line length, alnum fraction,
                           alphabetic-word fraction, autogen markers
                           (--code-filter; pure row predicate, so the
                           wave path applies it at export unchanged)
  4.6 license gate (opt-in) keep permissively-licensed docs only
                           (--license-filter; SPDX tag or header phrase,
                           no license = dropped; pure row predicate)
  5. stratified sampling   per-source keep rates, md5-deterministic
  5.5 PII redaction (opt-in) emails/phones/IPv4s -> placeholders
                           (--pii-redact; n_pii stamped per doc)
  6. annotation            token counts stamped on the surviving rows
  7. chunking (opt-in)     overlapping token-window chunks of the
                           curated corpus as a side table (--chunk-out,
                           --chunk-window/--chunk-stride; retrieval
                           prep, reads the written output so it never
                           re-runs the pipeline; one-shot mode only)

Exit contract: ONE JSON summary line (per-stage survivor counts, per-stage
wall seconds + output path) on stdout; the curated parquet carries the
original columns plus pred_lang, quality, n_tokens.

Incremental waves (``--state STATE_DIR``): the corpus arrives append-only,
one wave per run, and per-document state accumulates under
``STATE_DIR/w0000, w0001, ...`` (dedup is an OUTPUT-layer decision — a
deduped table cannot be maintained incrementally because cluster minima
change when later waves bridge clusters, so the state keeps EVERY
document and the keep-set is recomputed at export). Each wave directory
holds only that wave's increment:

  docs.parquet    wave docs + content_md5, quality, pred_lang, keep_exact
  bands.parquet   LSH band rows for the wave's exact-dedup survivors
  pairs.parquet   verified near-dup pairs INTRODUCED by this wave (the
                  new-new/new-old probe against the persisted band table;
                  old-old pairs are never recomputed)
  cindex.parquet  (--containment-threshold) shingle inverted-index rows
                  (g, doc_id) for the wave's exact-dedup survivors
  cpairs.parquet  (--containment-threshold) containment pairs INTRODUCED
                  by this wave (new wave probes the stored index; the df
                  bound is evaluated over the union index)

Per-wave cost is O(wave) for signatures/annotations (the expensive
per-document stages never re-run over the corpus) plus an export pass
over survivors; union(state pairs) feeds clustering, which is exact: the
curated output after wave N is IDENTICAL to a one-shot run over the
concatenated corpus (pytest-enforced). Wave doc_ids must be fresh and
larger than every stored id (append-only contract; keeps exact-dedup
witnesses stable). ``--dedup-lines-min-docs`` and ``--dedup-substrings-k``
are rejected with --state: corpus-level text rewriting changes as the
corpus grows, which would invalidate stored signatures.
``--containment-threshold`` IS wave-capable (cindex/cpairs state above;
the flag must be set from the first wave on, so every stored wave
carries its index). ``--delta-against`` is also rejected with --state:
a CDC delta can contain CHANGED documents, which keep their original
doc_ids and would violate the append-only id requirement. PII redaction
and token counting run at export (same relative order as the one-shot
path).

Stage timing: each stage boundary is persisted and counted before the next
stage builds on it, so the wall time of that persist+count action is the
incremental cost of exactly that stage (upstream is already cached). The
final write is timed as its own "write" stage. `bench.py --curate` runs
this job at two parallelism levels and reports docs/sec + scaling.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _delta_filter(spark, docs, old_path: str):
    """Restrict the input to the CDC delta vs a previous snapshot:
    keep documents whose doc_id is new or whose content digest changed
    (operators/snapshot.py). Removed documents simply don't appear —
    downstream state (dedup witnesses, band indexes) keys on doc_id and
    is unaffected by absence. One digest-compared full-outer join plus
    a left_semi on doc_id; document bodies never ride either exchange."""
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.snapshot import snapshot_diff

    old = spark.read.parquet(old_path)
    delta_ids = (
        snapshot_diff(old, docs)
        .filter(F.col("status").isin("added", "changed"))
        .select("doc_id")
    )
    return docs.join(delta_ids, "doc_id", "left_semi")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="documents parquet path")
    ap.add_argument("--out", required=True, help="curated corpus output path")
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allowlist (default: keep all)")
    ap.add_argument("--neardup-threshold", type=float, default=0.7,
                    help="Jaccard threshold for near-dup clustering; "
                         "<=0 disables the stage")
    ap.add_argument("--containment-threshold", type=float, default=0.0,
                    help="asymmetric containment dedup: drop the smaller "
                         "document of any pair whose shingle containment "
                         "|A∩B|/min(|A|,|B|) meets this (catches fragments "
                         "embedded in longer docs that symmetric Jaccard "
                         "misses); <=0 disables the stage")
    ap.add_argument("--dedup-lines-min-docs", type=int, default=0,
                    help="corpus-level line dedup: drop lines occurring in "
                         ">= this many distinct documents (C4/CCNet "
                         "boilerplate removal); 0 disables the stage")
    ap.add_argument("--compact-substrings", action="store_true",
                    help="export-layer compaction pass: read --docs "
                         "(typically the ACCUMULATED curated output of "
                         "wave runs), apply ONLY substring dedup at "
                         "--dedup-substrings-k, and write --out. This is "
                         "how wave users get the substring pass: dedup is "
                         "an output-layer op, so it runs over the "
                         "accumulated corpus at export/compaction time, "
                         "never inside a wave (a wave-local pass would "
                         "rewrite text as the corpus grows and invalidate "
                         "stored signatures)")
    ap.add_argument("--dedup-substrings-k", type=int, default=0,
                    help="substring-level exact dedup: remove every "
                         "k-token span that occurs more than once "
                         "corpus-wide except its first occurrence (Lee "
                         "et al. 2022 ExactSubstr at token granularity; "
                         "text is rewritten as the normalized token "
                         "stream); 0 disables the stage")
    ap.add_argument("--pii-redact", action="store_true",
                    help="replace emails/phones/IPv4s with typed "
                         "placeholders and stamp an n_pii count")
    ap.add_argument("--code-filter", action="store_true",
                    help="apply the Stack/StarCoder structural source "
                         "filters (line shape, alnum fraction, autogen "
                         "markers) as a keep predicate")
    ap.add_argument("--license-filter", action="store_true",
                    help="keep only permissively-licensed documents "
                         "(SPDX tag or header-phrase detection; no "
                         "license = dropped, the Stack's conservative "
                         "default)")
    ap.add_argument("--vocab-file", default=None,
                    help="tokenizer vocabulary (one piece per line): "
                         "n_tokens becomes the TRUE greedy longest-match "
                         "piece count against this vocab instead of the "
                         "whitespace word count")
    ap.add_argument("--cc-algorithm", default="auto",
                    choices=["auto", "propagation", "star"],
                    help="connected-components algorithm for near-dup "
                         "clustering: 'auto' picks star above "
                         "--cc-star-edges verified pairs (O(log^2 n) "
                         "rounds independent of component diameter; "
                         "propagation's fewer-round advantage on small "
                         "clique-ish graphs flips once round count / "
                         "chain length grows)")
    ap.add_argument("--cc-star-edges", type=int, default=10_000,
                    help="edge count above which --cc-algorithm auto "
                         "switches to the star algorithm (default 10k: "
                         "measured at 320k docs / 32k verified pairs at "
                         "local[32], star's near-dup stage is 46.4s vs "
                         "propagation's 49.2s best-of in calm windows — "
                         "see BASELINE.md; below that the graph is tiny "
                         "and propagation's lighter rounds win)")
    ap.add_argument("--rates", default=None,
                    help='JSON dict of per-source keep rates, e.g. {"src0": 1.0}')
    ap.add_argument("--default-rate", type=float, default=1.0,
                    help="keep rate for sources not listed in --rates")
    ap.add_argument("--state", default=None,
                    help="per-document state directory for incremental "
                         "waves (see module docstring); absent = one-shot")
    ap.add_argument("--delta-against", default=None,
                    help="path to the PREVIOUS corpus snapshot (parquet); "
                         "the input is restricted to documents that are "
                         "added or content-changed relative to it "
                         "(snapshot_diff CDC) before any curation stage — "
                         "the rebuilt-crawl shape where the source can't "
                         "emit a wave itself")
    ap.add_argument("--chunk-out", default=None,
                    help="also write overlapping token-window chunks of "
                         "the curated corpus (retrieval prep) to this "
                         "parquet path")
    ap.add_argument("--chunk-window", type=int, default=64)
    ap.add_argument("--chunk-stride", type=int, default=48)
    ap.add_argument("--local", type=int, default=None)
    ap.add_argument("--input-partitions", type=int, default=None,
                    help="repartition the input scan (a 100-TB corpus gets "
                         "this for free from input splits; a small local "
                         "parquet file is one split and would serialize "
                         "the per-doc stages onto one task)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.session import job_session

    # a local run's shuffle/spill dir; a cluster's comes from its manager
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    extra = {"spark.local.dir": local_dir} if local_dir and args.local else None
    spark = job_session("curate", args.local, extra_conf=extra)

    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_exact_docs,
    )
    from fcrepo3_rdf_extractor_spark.operators.graph import dedup_clusters
    from fcrepo3_rdf_extractor_spark.operators.sampling import stratified_sample
    from fcrepo3_rdf_extractor_spark.operators.text import (
        token_count,
        with_language,
        with_quality,
    )

    if args.compact_substrings:
        if args.dedup_substrings_k <= 0:
            print("error: --compact-substrings needs --dedup-substrings-k",
                  file=sys.stderr)
            spark.stop()
            return 2
        if args.state:
            print("error: --compact-substrings is a one-shot export pass "
                  "over the accumulated corpus; it cannot run inside a "
                  "--state wave", file=sys.stderr)
            spark.stop()
            return 2
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
            dedup_substrings,
        )

        docs = spark.read.parquet(args.docs)
        n_in = docs.count()
        cleaned = dedup_substrings(docs, k=args.dedup_substrings_k)
        out_docs = (
            docs.drop("text")
            .join(
                cleaned.filter(F.col("n_kept") > 0).select("doc_id", "text"),
                "doc_id",
            )
            .withColumn("n_chars", F.length("text"))
        )
        out_docs.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
        print(json.dumps({
            "out": args.out,
            "mode": "compact_substrings",
            "stages": {"input": n_in, "after_substring_dedup": n_out},
            "n_docs": n_out,
        }))
        spark.stop()
        return 0

    if args.state:
        if args.dedup_lines_min_docs > 0:
            print("error: --dedup-lines-min-docs is incompatible with "
                  "--state (corpus-level line dedup rewrites text as the "
                  "corpus grows, invalidating stored signatures)",
                  file=sys.stderr)
            spark.stop()
            return 2
        if args.delta_against:
            print("error: --delta-against is incompatible with --state: "
                  "a CDC delta can contain CHANGED documents, which keep "
                  "their original doc_ids and violate the wave contract's "
                  "append-only id requirement (stored dedup witnesses and "
                  "cluster minima assume ids never recur). Feed waves "
                  "append-only input, or run one-shot with "
                  "--delta-against.", file=sys.stderr)
            spark.stop()
            return 2
        if args.dedup_substrings_k > 0:
            print("error: --dedup-substrings-k is incompatible with "
                  "--state (substring dedup rewrites text as the corpus "
                  "grows, invalidating stored signatures). Run the "
                  "export-layer pass over the accumulated curated output "
                  "instead: --compact-substrings --docs <accumulated out> "
                  "--dedup-substrings-k K --out <compacted>",
                  file=sys.stderr)
            spark.stop()
            return 2
        if args.chunk_out:
            print("error: --chunk-out is incompatible with --state: a "
                  "wave writes only its own docs, so its chunk table "
                  "would cover one wave, not the corpus; chunk the "
                  "accumulated output in a one-shot pass instead",
                  file=sys.stderr)
            spark.stop()
            return 2
        summary = _run_incremental_wave(spark, args)
        print(json.dumps(summary))
        spark.stop()
        return 0

    docs = spark.read.parquet(args.docs)
    if args.delta_against:
        docs = _delta_filter(spark, docs, args.delta_against)
    if args.input_partitions:
        docs = docs.repartition(args.input_partitions)
    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    stages: dict[str, int] = {"input": docs.count()}
    extra_summary: dict = {}

    def mark(label):
        """Attribute everything since the previous boundary to ``label``
        — including eager driver-side work between boundaries (the
        near-dup stage's connected-components loop runs its own jobs
        before the boundary count), so the stage seconds sum to the
        total instead of only counting the boundary action."""
        stage_sec[label] = round(time.perf_counter() - mark._t, 3)
        mark._t = time.perf_counter()

    mark._t = t0
    mark("input")

    def staged(df, label):
        """Persist each stage boundary before counting: every stage's
        count is an action, and without the persist each one (and the
        final write) would RE-RUN the whole upstream pipeline — the
        near-dup clustering alone is several jobs. One cache per
        boundary, previous boundary released immediately."""
        df = df.persist()
        stages[label] = df.count()
        mark(label)
        prev = staged._prev
        if prev is not None:
            prev.unpersist()
        staged._prev = df
        return df

    staged._prev = None

    # 1. exact dedup: keep one witness per identical text
    keep_exact = dedup_exact_docs(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    docs = staged(docs.join(keep_exact, "doc_id", "left_semi"),
                  "after_exact_dedup")
    # the containment stage (2.3) scores pairs over THIS universe —
    # exact-dedup survivors — not the post-near-dup one, so the df
    # bound (max_df) and bounded set sizes are evaluated over the same
    # shingle universe the incremental wave path uses (waves build
    # their cindex from exact survivors; they can't know the near-dup
    # keep-set, which is only resolved at export). Scoring on the
    # post-near-dup set would make wave vs one-shot diverge whenever
    # the df bound binds.
    docs_exact = docs

    # 2. near-dup clustering on the exact-deduped survivors. The
    # signature and shingle tables are referenced on BOTH sides of the
    # candidate/verify self-joins and the sides don't share exchanges,
    # so this stage persists them explicitly and releases them at the
    # stage boundary (measured: ~35%% of stage wall without the caches
    # is spent recomputing the minhash folds and tokenization twice).
    if args.neardup_threshold > 0:
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
            minhash_lsh_candidates,
            minhash_signature,
            ngram_jaccard_shingled,
            shingle_table,
        )

        sigs = minhash_signature(docs).persist()
        sh = shingle_table(docs).persist()
        cands = minhash_lsh_candidates(sigs, bands=4, rows_per_band=2)
        pairs = ngram_jaccard_shingled(cands, sh).filter(
            F.col("jaccard") >= args.neardup_threshold
        )
        # materialize the verified edge list once: the edge count that
        # picks the CC algorithm and the CC loop itself both read it
        # (connected_components would checkpoint its projection anyway)
        pairs = pairs.localCheckpoint()
        n_pairs = pairs.count()
        cc_algorithm = args.cc_algorithm
        if cc_algorithm == "auto":
            cc_algorithm = (
                "star" if n_pairs > args.cc_star_edges else "propagation"
            )
        extra_summary["n_neardup_pairs"] = n_pairs
        extra_summary["cc_algorithm"] = cc_algorithm
        clusters = dedup_clusters(pairs, docs, algorithm=cc_algorithm)
        keep_near = clusters.filter(F.col("keep")).select("doc_id")
        docs = staged(docs.join(keep_near, "doc_id", "left_semi"),
                      "after_neardup")
        sigs.unpersist()
        sh.unpersist()

    # 2.3 (opt-in). containment dedup: drop the SMALLER side of any
    # contained pair (the fragment/quote), tie-broken to the larger
    # doc_id — a pure keep policy over the operator's pair output, so
    # the decision is deterministic across partitionings
    if args.containment_threshold > 0:
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
            containment_near_duplicates,
        )

        # scored over exact-dedup survivors (the wave path's universe;
        # see the note at docs_exact) — the size joins below then
        # restrict the pair set to docs still alive after near-dup,
        # exactly as the wave export layer does
        pairs_c = containment_near_duplicates(
            docs_exact, threshold=args.containment_threshold
        )
        sz_a = docs.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_chars").alias("_ca"))
        sz_b = docs.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_chars").alias("_cb"))
        # pairs are canonical doc_a < doc_b, so the n_chars tie always
        # drops doc_b (the larger id) — no separate tie branch needed
        drop = (
            pairs_c.join(sz_a, "doc_a").join(sz_b, "doc_b")
            .select(
                F.when(F.col("_ca") < F.col("_cb"), F.col("doc_a"))
                .otherwise(F.col("doc_b")).alias("doc_id")
            )
            .distinct()
        )
        docs = staged(docs.join(drop, "doc_id", "left_anti"),
                      "after_containment")

    # 2.5 (opt-in). corpus-level line dedup: strip boilerplate lines,
    # drop docs that became empty, keep n_chars honest
    if args.dedup_lines_min_docs > 0:
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import dedup_lines

        cleaned = dedup_lines(docs, min_docs=args.dedup_lines_min_docs)
        docs = staged(
            docs.drop("text")
            .join(cleaned.filter(F.col("n_kept") > 0)
                  .select("doc_id", "text"), "doc_id")
            .withColumn("n_chars", F.length("text")),
            "after_line_dedup",
        )

    # 2.7 (opt-in). substring-level exact dedup: remove repeated
    # >=k-token spans corpus-wide (keep-first), rewrite text as the
    # surviving token stream, drop docs that became empty, keep
    # n_chars honest (same join-back shape as line dedup)
    if args.dedup_substrings_k > 0:
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
            dedup_substrings,
        )

        cleaned = dedup_substrings(docs, k=args.dedup_substrings_k)
        docs = staged(
            docs.drop("text")
            .join(cleaned.filter(F.col("n_kept") > 0)
                  .select("doc_id", "text"), "doc_id")
            .withColumn("n_chars", F.length("text")),
            "after_substring_dedup",
        )

    # 3+4. quality + language annotations, filtered in one pass — pure
    # in-place projections (with_quality/with_language), NO join-back:
    # the previous doc_id joins were two avoidable exchanges per run
    annotated = with_language(with_quality(docs))
    annotated = annotated.filter(F.col("quality") >= args.quality_min)
    if args.langs:
        allow = [s.strip() for s in args.langs.split(",") if s.strip()]
        annotated = annotated.filter(F.col("pred_lang").isin(allow))
    annotated = staged(annotated, "after_quality_lang")

    # 4.5 (opt-in). structural code filters — in-place join-free
    # predicate (see operators/text.py:with_code_filter); its own stage
    # boundary so the summary shows what it dropped
    if args.code_filter:
        from fcrepo3_rdf_extractor_spark.operators.text import with_code_filter

        annotated = staged(
            with_code_filter(annotated)
            .filter(F.col("code_keep")).drop("code_keep"),
            "after_code_filter",
        )

    # 4.6 (opt-in). license gate — join-free in-place predicate
    # (operators/text.py:with_license); own stage boundary
    if args.license_filter:
        from fcrepo3_rdf_extractor_spark.operators.text import with_license

        annotated = staged(
            with_license(annotated)
            .filter(F.col("permissive") == 1)
            .drop("license", "permissive"),
            "after_license_filter",
        )

    # 5. deterministic stratified sampling by source
    rates = json.loads(args.rates) if args.rates else {}
    if rates or args.default_rate < 1.0:
        annotated = staged(
            stratified_sample(
                annotated, key_col="doc_id", strata_col="source",
                rates=rates, default_rate=args.default_rate,
            ),
            "after_sampling",
        )

    # 5.5 (opt-in). PII redaction — pure projection, counted per doc;
    # runs BEFORE token counting so n_tokens reflects what ships
    if args.pii_redact:
        from fcrepo3_rdf_extractor_spark.operators.text import pii_redact_inplace

        annotated = staged(pii_redact_inplace(annotated), "after_pii_redact")

    # 6. token counts stamped on the survivors (whitespace words by
    # default; a --vocab-file switches to the TRUE greedy longest-match
    # piece count — the number the token budget actually bills)
    if args.vocab_file:
        from fcrepo3_rdf_extractor_spark.operators.text import (
            load_vocab,
            vocab_token_count,
        )

        toks = vocab_token_count(
            annotated, load_vocab(spark, args.vocab_file)
        ).select("doc_id", F.col("n_vocab_tokens").alias("n_tokens"))
    else:
        toks = token_count(annotated).select("doc_id", "n_tokens")
    curated = annotated.join(toks, "doc_id")
    curated.write.mode("overwrite").parquet(args.out)
    mark("write")
    if args.chunk_out:
        # retrieval-prep side output: overlapping token windows over the
        # CURATED corpus (reads the just-written parquet, so chunking
        # never re-runs the pipeline); scan-side only, zero shuffles
        from fcrepo3_rdf_extractor_spark.operators.text import chunk_windows

        chunk_windows(
            spark.read.parquet(args.out),
            window=args.chunk_window,
            stride=args.chunk_stride,
        ).write.mode("overwrite").parquet(args.chunk_out)
        mark("chunk")
        extra_summary["chunk_out"] = args.chunk_out
        extra_summary["n_chunks"] = (
            spark.read.parquet(args.chunk_out).count()
        )
    stage_sec["total"] = round(time.perf_counter() - t0, 3)

    written = spark.read.parquet(args.out)
    summary = {
        "out": args.out,
        "stages": stages,
        "stage_sec": stage_sec,
        "n_docs": written.count(),
        # coalesce: sum() over zero surviving rows is NULL, not 0
        "n_tokens": written.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t")
        ).collect()[0][0],
        **extra_summary,
    }
    if "n_pii" in written.columns:
        summary["n_pii_redacted"] = written.agg(
            F.coalesce(F.sum("n_pii"), F.lit(0)).alias("p")
        ).collect()[0][0]
    print(json.dumps(summary))
    spark.stop()
    return 0


def _run_incremental_wave(spark, args) -> dict:
    """One append-only wave against the per-document state directory
    (module docstring has the layout + invariants). Returns the summary
    dict for the exit-contract JSON line."""
    import glob as globmod
    import time

    extra_summary: dict = {}

    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        band_table,
        minhash_incremental_pairs,
        minhash_near_duplicates,
        minhash_signature,
    )
    from fcrepo3_rdf_extractor_spark.operators.graph import dedup_clusters
    from fcrepo3_rdf_extractor_spark.operators.sampling import stratified_sample
    from fcrepo3_rdf_extractor_spark.operators.text import (
        token_count,
        with_language,
        with_quality,
    )

    t_start = time.perf_counter()
    stage_sec: dict[str, float] = {}

    def mark(label, t0=[t_start]):
        stage_sec[label] = round(time.perf_counter() - t0[0], 3)
        t0[0] = time.perf_counter()

    waves = sorted(globmod.glob(os.path.join(args.state, "w[0-9]*")))
    wave_id = len(waves)
    wdir = os.path.join(args.state, f"w{wave_id:04d}")

    new_docs = spark.read.parquet(args.docs)
    if args.input_partitions:
        new_docs = new_docs.repartition(args.input_partitions)
    new_docs = new_docs.persist()
    n_new = new_docs.count()

    old_docs = None
    if waves:
        old_docs = spark.read.parquet(*[os.path.join(w, "docs.parquet")
                                        for w in waves])
        # append-only contract: fresh ids, larger than everything stored
        # (keeps every exact-dedup witness and cluster minimum stable)
        max_old = old_docs.agg(F.max("doc_id")).collect()[0][0]
        min_new = new_docs.agg(F.min("doc_id")).collect()[0][0]
        if max_old is not None and min_new is not None and min_new <= max_old:
            raise SystemExit(
                f"--state wave violates the append-only contract: new "
                f"min doc_id {min_new} <= stored max doc_id {max_old}"
            )
    mark("input")

    # exact dedup, O(wave): a new doc survives iff its md5 is unseen in
    # the state AND it is the min-id holder of its md5 within the wave
    hashed = new_docs.withColumn("content_md5", F.md5("text"))
    if old_docs is not None:
        unseen = hashed.join(
            old_docs.select("content_md5"), "content_md5", "left_anti"
        )
    else:
        unseen = hashed
    wave_witness = unseen.groupBy("content_md5").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    annotated = (
        hashed.join(wave_witness.withColumn("_ke", F.lit(True)), "doc_id", "left")
        .withColumn("keep_exact", F.coalesce("_ke", F.lit(False)))
        .drop("_ke")
    )

    # per-wave annotations (original text — pii/token-count run at export,
    # same relative order as the one-shot path) — in-place projections,
    # no join-back (see the one-shot path's note)
    annotated = with_language(with_quality(annotated)).persist()
    annotated.count()
    mark("annotate_wave")

    os.makedirs(wdir, exist_ok=True)
    annotated.write.mode("overwrite").parquet(os.path.join(wdir, "docs.parquet"))

    n_pairs_new = 0
    if args.neardup_threshold > 0:
        survivors = annotated.filter(F.col("keep_exact"))
        new_bands = band_table(
            minhash_signature(survivors, "text", 8), bands=4, rows_per_band=2
        )
        new_bands.write.mode("overwrite").parquet(
            os.path.join(wdir, "bands.parquet")
        )
        if waves:
            old_bands = spark.read.parquet(
                *[os.path.join(w, "bands.parquet") for w in waves]
            )
            all_text = old_docs.select("doc_id", "text").union(
                annotated.select("doc_id", "text")
            )
            wave_pairs = minhash_incremental_pairs(
                survivors, old_bands, all_text,
                threshold=args.neardup_threshold, num_hashes=8, bands=4,
            ).select("doc_a", "doc_b")
        else:
            wave_pairs = minhash_near_duplicates(
                survivors, threshold=args.neardup_threshold,
                num_hashes=8, bands=4,
            ).select("doc_a", "doc_b")
        wave_pairs.write.mode("overwrite").parquet(
            os.path.join(wdir, "pairs.parquet")
        )
        n_pairs_new = spark.read.parquet(
            os.path.join(wdir, "pairs.parquet")
        ).count()
    mark("neardup_wave")

    # containment state: persist the wave's (g, doc_id) inverted index
    # and the pairs this wave introduces (new wave probes the stored
    # index; old-old pairs never recompute — same wave discipline as
    # the MinHash band table)
    n_cpairs_new = 0
    if args.containment_threshold > 0:
        from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
            containment_incremental_pairs,
            containment_index,
            containment_near_duplicates,
        )

        survivors = annotated.filter(F.col("keep_exact"))
        new_cindex = containment_index(survivors)
        new_cindex.write.mode("overwrite").parquet(
            os.path.join(wdir, "cindex.parquet")
        )
        if waves:
            missing = [w for w in waves
                       if not os.path.exists(os.path.join(w, "cindex.parquet"))]
            if missing:
                raise SystemExit(
                    "--containment-threshold requires every stored wave to "
                    f"carry cindex.parquet; missing in: {missing} (the flag "
                    "must be set from the first wave on)"
                )
            old_cindex = spark.read.parquet(
                *[os.path.join(w, "cindex.parquet") for w in waves]
            )
            wave_cpairs = containment_incremental_pairs(
                survivors, old_cindex,
                threshold=args.containment_threshold,
                new_index=spark.read.parquet(
                    os.path.join(wdir, "cindex.parquet")
                ),
            ).select("doc_a", "doc_b")
        else:
            wave_cpairs = containment_near_duplicates(
                survivors, threshold=args.containment_threshold
            ).select("doc_a", "doc_b")
        wave_cpairs.write.mode("overwrite").parquet(
            os.path.join(wdir, "cpairs.parquet")
        )
        n_cpairs_new = spark.read.parquet(
            os.path.join(wdir, "cpairs.parquet")
        ).count()
        mark("containment_wave")

    # export over the full state: recompute the keep-set (cluster minima
    # may shift when this wave bridges old clusters) and materialize the
    # curated corpus — cost O(corpus survivors), the export-layer pass
    all_waves = waves + [wdir]
    state_docs = spark.read.parquet(
        *[os.path.join(w, "docs.parquet") for w in all_waves]
    )
    exact_kept = state_docs.filter(F.col("keep_exact"))
    if args.neardup_threshold > 0:
        all_pairs = spark.read.parquet(
            *[os.path.join(w, "pairs.parquet") for w in all_waves]
        )
        # same auto rule as the one-shot path; the edge list is already
        # materialized parquet, so the count is a cheap scan
        cc_algorithm = args.cc_algorithm
        if cc_algorithm == "auto":
            cc_algorithm = (
                "star" if all_pairs.count() > args.cc_star_edges
                else "propagation"
            )
        extra_summary["cc_algorithm"] = cc_algorithm
        clusters = dedup_clusters(all_pairs, exact_kept,
                                  algorithm=cc_algorithm)
        keep_near = clusters.filter(F.col("keep")).select("doc_id")
        kept = exact_kept.join(keep_near, "doc_id", "left_semi")
    else:
        kept = exact_kept
    if args.containment_threshold > 0:
        # same keep policy as the one-shot path: drop the SMALLER side
        # of any contained pair, tie -> larger doc_id (pairs are
        # canonical doc_a < doc_b). The inner size joins restrict the
        # stored pair set to docs still alive after near-dup, exactly
        # the pairs a one-shot run would have scored at this stage.
        all_cpairs = spark.read.parquet(
            *[os.path.join(w, "cpairs.parquet") for w in all_waves]
        )
        sz_a = kept.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_chars").alias("_ca"))
        sz_b = kept.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_chars").alias("_cb"))
        drop = (
            all_cpairs.join(sz_a, "doc_a").join(sz_b, "doc_b")
            .select(
                F.when(F.col("_ca") < F.col("_cb"), F.col("doc_a"))
                .otherwise(F.col("doc_b")).alias("doc_id")
            )
            .distinct()
        )
        kept = kept.join(drop, "doc_id", "left_anti")
    kept = kept.filter(F.col("quality") >= args.quality_min)
    if args.langs:
        allow = [s.strip() for s in args.langs.split(",") if s.strip()]
        kept = kept.filter(F.col("pred_lang").isin(allow))
    if args.code_filter:
        # pure row predicate — applying it at export is identical to
        # the one-shot path's stage 4.5 (no cross-document state)
        from fcrepo3_rdf_extractor_spark.operators.text import with_code_filter

        kept = with_code_filter(kept).filter(F.col("code_keep")).drop("code_keep")
    if args.license_filter:
        # pure row predicate, same reasoning as --code-filter
        from fcrepo3_rdf_extractor_spark.operators.text import with_license

        kept = (with_license(kept).filter(F.col("permissive") == 1)
                .drop("license", "permissive"))
    rates = json.loads(args.rates) if args.rates else {}
    if rates or args.default_rate < 1.0:
        kept = stratified_sample(
            kept, key_col="doc_id", strata_col="source",
            rates=rates, default_rate=args.default_rate,
        )
    if args.pii_redact:
        from fcrepo3_rdf_extractor_spark.operators.text import pii_redact_inplace

        kept = pii_redact_inplace(kept)
    toks = token_count(kept).select("doc_id", "n_tokens")
    curated = kept.drop("content_md5", "keep_exact").join(toks, "doc_id")
    curated.write.mode("overwrite").parquet(args.out)
    mark("export")
    stage_sec["total"] = round(time.perf_counter() - t_start, 3)

    written = spark.read.parquet(args.out)
    new_docs.unpersist()
    annotated.unpersist()
    summary = {
        "out": args.out,
        "state": args.state,
        "wave": wave_id,
        "stages": {"wave_docs": n_new, "wave_pairs": n_pairs_new,
                   **({"wave_cpairs": n_cpairs_new}
                      if args.containment_threshold > 0 else {})},
        "stage_sec": stage_sec,
        "n_docs": written.count(),
        "n_tokens": written.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t")
        ).collect()[0][0],
        **extra_summary,
    }
    if "n_pii" in written.columns:
        summary["n_pii_redacted"] = written.agg(
            F.coalesce(F.sum("n_pii"), F.lit(0)).alias("p")
        ).collect()[0][0]
    return summary


if __name__ == "__main__":
    sys.exit(main())
