"""Structured Streaming tests: the streaming extraction drains a file
source with availableNow and matches the batch plan's output."""

from __future__ import annotations

from conftest import fixture_source
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.operators.extractor import extract_triples
from fcrepo3_rdf_extractor_spark.operators.filters import skip_empty_literals, with_graph
from fcrepo3_rdf_extractor_spark.streaming.extract_stream import (
    read_blob_stream,
    streaming_extract,
    write_triples_stream,
)


def test_streaming_extract_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    source = fixture_source(spark)
    source.write.parquet(src_dir)

    stream = read_blob_stream(spark, src_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    triples = streaming_extract(stream)
    q = write_triples_stream(triples, out_dir, cp_dir, available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).filter(F.col("error_stage").isNull())
    want = skip_empty_literals(with_graph(extract_triples(source))).filter(
        F.col("error_stage").isNull()
    )
    key = ["subj", "pred", "obj_value", "obj_is_literal", "obj_datatype", "path"]
    assert got.count() == want.count()
    assert got.select(key).exceptAll(want.select(key)).count() == 0
    assert want.select(key).exceptAll(got.select(key)).count() == 0

    # restarting with the same checkpoint ingests nothing new (exactly-once)
    q2 = write_triples_stream(streaming_extract(
        read_blob_stream(spark, src_dir)), out_dir, cp_dir, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == got.count()


def test_streaming_repo_totals_stateful(spark, tmp_path):
    """applyInPandasWithState: totals accumulate ACROSS micro-batches
    (maxFilesPerTrigger=1 over two files forces >=2 batches)."""
    from fcrepo3_rdf_extractor_spark.streaming.extract_stream import (
        streaming_repo_totals,
    )

    src_dir = str(tmp_path / "ssrc")
    source = fixture_source(spark)  # 7 objects, all repo='sidora-sample'
    # two separate files -> two micro-batches (deterministic path split;
    # limit() would pick arbitrary, possibly overlapping rows)
    first = source.filter(F.col("path") < "info:fedora/si")
    second = source.filter(F.col("path") >= "info:fedora/si")
    assert first.count() > 0 and second.count() > 0
    first.coalesce(1).write.parquet(src_dir)
    second.coalesce(1).write.mode("append").parquet(src_dir)

    stream = read_blob_stream(spark, src_dir, max_files_per_trigger=1)
    totals = streaming_repo_totals(streaming_extract(stream))
    q = (
        totals.writeStream.format("memory").queryName("repo_totals")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "SELECT * FROM repo_totals ORDER BY batches_seen"
    ).collect()
    assert len(rows) >= 2, rows  # one update row per micro-batch
    assert rows[0].repo == "sidora-sample"
    # cumulative: later batches strictly grow the totals
    assert rows[-1].batches_seen == len(rows)
    assert rows[-1].n_triples > rows[0].n_triples
    assert rows[-1].n_objects == 7
    # final totals equal the batch pipeline's (same plan incl. skip-empty)
    want = skip_empty_literals(with_graph(extract_triples(fixture_source(spark))))
    want_triples = want.filter(F.col("subj").isNotNull()).count()
    assert rows[-1].n_triples == want_triples


def test_streaming_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """The same object arriving in two micro-batches emits its triples
    once: dropDuplicates state (bounded by the watermark) suppresses the
    repeat across batches."""
    from fcrepo3_rdf_extractor_spark.streaming.extract_stream import streaming_dedup

    src_dir = str(tmp_path / "dsrc")
    one = fixture_source(spark).filter(F.col("path") == "info:fedora/ct:85")
    one.coalesce(1).write.parquet(src_dir)
    one.coalesce(1).write.mode("append").parquet(src_dir)  # identical again

    stream = read_blob_stream(spark, src_dir, max_files_per_trigger=1)
    deduped = streaming_dedup(streaming_extract(stream))
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT subj, pred, obj_value FROM dedup_stream WHERE subj IS NOT NULL"
    )
    want = skip_empty_literals(with_graph(extract_triples(one))).filter(
        F.col("subj").isNotNull()
    )
    # batch side may itself carry in-document duplicate triples; compare
    # against its distinct triple set
    assert got.count() == want.select("subj", "pred", "obj_value").distinct().count()


def test_streaming_triple_rates_windowed_counts(spark, tmp_path):
    """Windowed rate counters (M1's streaming twin) total to the batch
    pipeline's triple count."""
    from fcrepo3_rdf_extractor_spark.streaming.extract_stream import (
        streaming_triple_rates,
    )

    src_dir = str(tmp_path / "rsrc")
    fixture_source(spark).coalesce(1).write.parquet(src_dir)
    stream = read_blob_stream(spark, src_dir)
    rates = streaming_triple_rates(streaming_extract(stream))
    # update mode: append would hold open windows until the watermark
    # passes their end, which never happens before availableNow drains
    # (single micro-batch here -> exactly one update row per window)
    q = (
        rates.writeStream.format("memory").queryName("rates_stream")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM rates_stream").collect()
    # availableNow drains everything into one processing-time window set;
    # streaming_extract applies skip_empty by default — mirror it
    want = skip_empty_literals(with_graph(extract_triples(fixture_source(spark))))
    want_triples = want.filter(F.col("subj").isNotNull()).count()
    assert sum(r.n_triples for r in rows) == want_triples
    assert all(r.repo == "sidora-sample" for r in rows)


def test_streaming_curate_front_matches_batch(spark, tmp_path):
    """The curate front-end over a two-micro-batch document stream: a
    duplicate arriving in a LATER batch is suppressed by dedup state,
    quality/language annotate+filter apply per row, and the drained
    output equals the batch twin over the concatenated corpus (doc_id
    excluded from the comparison: streaming keeps the first ARRIVAL of
    each md5 where batch keeps the min doc_id — the documented witness
    caveat)."""
    from fcrepo3_rdf_extractor_spark.streaming.curate_stream import (
        batch_curate_front,
        read_doc_stream,
        streaming_curate_front,
        write_curated_stream,
    )

    en = ("the quick brown fox jumps over the lazy dog and runs into the "
          "deep green forest to find some quiet rest for the long night")
    en2 = ("a different english document of reasonable length that talks "
           "about the weather and the state of the world in plain words")
    es = ("el perro corre por la casa de la abuela en el campo mientras "
          "el gato duerme en la silla junto a la puerta grande")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    wave1 = [(0, en, "en", "srcA", len(en)),
             (1, en, "en", "srcA", len(en)),        # dup WITHIN batch 1
             (2, "x", "und", "srcB", 1)]            # fails quality
    wave2 = [(10, en, "en", "srcA", len(en)),       # dup ACROSS batches
             (11, es, "es", "srcB", len(es)),
             (12, en2, "en", "srcA", len(en2))]

    src_dir = str(tmp_path / "csrc")
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode(
        "append").parquet(src_dir)

    stream = read_doc_stream(spark, src_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    curated = streaming_curate_front(stream, quality_min=0.5)
    q = write_curated_stream(curated, str(tmp_path / "out"),
                             str(tmp_path / "cp"), available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = batch_curate_front(
        spark.createDataFrame(wave1 + wave2, schema), quality_min=0.5)
    cols = ["text", "content_md5", "quality", "pred_lang", "source"]
    assert {tuple(r) for r in got.select(*cols).collect()} == \
           {tuple(r) for r in want.select(*cols).collect()}
    ids = {r.doc_id for r in got.collect()}
    # exactly one witness of the en-triplicate survived; junk dropped
    assert len(ids & {0, 1, 10}) == 1 and 2 not in ids
    assert {11, 12} <= ids
    assert got.count() == 3

    # restart on the same checkpoint ingests nothing new (exactly-once)
    q2 = write_curated_stream(
        streaming_curate_front(read_doc_stream(spark, src_dir),
                               quality_min=0.5),
        str(tmp_path / "out"), str(tmp_path / "cp"), available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


def test_streaming_curate_front_watermarked_dedup(spark, tmp_path):
    """The BOUNDED-state branch (dedup_state_watermark set): duplicates
    arriving within the horizon are still suppressed, and — the point of
    the regression — the plan uses DeduplicateWithinWatermark. A plain
    dropDuplicates on a key subset that excludes the event-time column
    never evicts its state, so the old branch silently kept state
    forever; the plan node is the observable difference."""
    from fcrepo3_rdf_extractor_spark.streaming.curate_stream import (
        read_doc_stream,
        streaming_curate_front,
        write_curated_stream,
    )

    en = ("the quick brown fox jumps over the lazy dog and runs into the "
          "deep green forest to find some quiet rest for the long night")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src_dir = str(tmp_path / "wsrc")
    spark.createDataFrame(
        [(0, en, "en", "srcA", len(en))], schema
    ).coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(
        [(1, en, "en", "srcA", len(en))], schema   # dup, later batch
    ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = read_doc_stream(spark, src_dir, max_files_per_trigger=1)
    curated = streaming_curate_front(
        stream, quality_min=0.5, dedup_state_watermark="1 hour"
    )
    analyzed = curated._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in analyzed, analyzed
    q = write_curated_stream(curated, str(tmp_path / "wout"),
                             str(tmp_path / "wcp"), available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "wout"))
    # both arrivals are inside the 1 h horizon: exactly one survives
    assert got.count() == 1


def test_with_quality_language_match_narrow_ops(spark):
    """The in-place annotators (with_quality/with_language — shared by
    batch curate and the streaming front) must produce the exact values
    of the narrow oracled operators they refactor."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        language_id,
        quality_score,
        with_language,
        with_quality,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(50)
    inplace = {r.doc_id: (r.quality, r.pred_lang)
               for r in with_language(with_quality(docs)).collect()}
    q = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    l = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
    assert inplace == {d: (q[d], l[d]) for d in q}
    # in-place forms keep every input column
    assert set(docs.columns) <= set(with_language(with_quality(docs)).columns)


def test_streaming_curate_front_license_gate(spark, tmp_path):
    """The license gate is a stateless projection, so stream == batch
    holds with it enabled: a GPL-phrased doc is dropped, SPDX-MIT and
    Apache-phrase docs survive in both engines."""
    from fcrepo3_rdf_extractor_spark.streaming.curate_stream import (
        batch_curate_front,
        read_doc_stream,
        streaming_curate_front,
        write_curated_stream,
    )

    pad = ("the quick brown fox jumps over the lazy dog and runs far "
           "into the deep green forest to find some quiet rest tonight")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows1 = [(0, "// SPDX-License-Identifier: MIT\n" + pad, "en", "srcA", 1)]
    rows2 = [
        (10, "licensed under the apache license, version 2.0\n" + pad,
         "en", "srcA", 1),
        (11, "gnu general public license applies\n" + pad, "en", "srcA", 1),
    ]
    src = str(tmp_path / "lsrc")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    curated = streaming_curate_front(
        read_doc_stream(spark, src, max_files_per_trigger=1),
        quality_min=0.0, license_filter=True,
    )
    q = write_curated_stream(curated, str(tmp_path / "lout"),
                             str(tmp_path / "lcp"), available_now=True)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "lout")).collect()}
    assert got == {0, 10}
    want = batch_curate_front(
        spark.createDataFrame(rows1 + rows2, schema),
        quality_min=0.0, license_filter=True,
    )
    assert {r.doc_id for r in want.collect()} == {0, 10}


def test_batch_front_matches_curate_cli(spark, cli_results):
    """Divergence pin for the two implementations of the curate front
    (jobs/curate.py stages 1+3+4+4.6 vs curate_stream.batch_curate_front):
    same survivors AND same annotation values over the license-filter
    scenario corpus. A future change to the witness rule or filter order
    in either place fails here."""
    from conftest import cli_art

    from fcrepo3_rdf_extractor_spark.streaming.curate_stream import (
        batch_curate_front,
    )

    art = cli_art(cli_results, "curate_license_filter")
    assert art["run"]["rc"] == 0, art["run"]["stderr"][-2000:]
    cli = spark.read.parquet(art["out"])
    # reconstruct the scenario corpus from the CLI's own input columns is
    # not possible (input path is scenario-local), so rebuild it the way
    # the scenario does: the docs dir sits next to the output dir
    import os

    docs_dir = os.path.join(os.path.dirname(art["out"]), "docs")
    docs = spark.read.parquet(docs_dir)
    want = batch_curate_front(docs, quality_min=0.0, license_filter=True)
    got_rows = {
        (r.doc_id, r.pred_lang, float(r.quality))
        for r in cli.select("doc_id", "pred_lang", "quality").collect()
    }
    want_rows = {
        (r.doc_id, r.pred_lang, float(r.quality))
        for r in want.select("doc_id", "pred_lang", "quality").collect()
    }
    assert got_rows == want_rows and len(got_rows) == 2


def test_streaming_code_state_then_assemble_matches_plan(spark, tmp_path):
    """The code-KG streaming twin: the file-LOCAL state layer drains
    through an append sink (stateless, exactly-once), and the periodic
    batch assembly over the accumulated state equals the one-shot plan
    over the same corpus — the same local/corpus split the incremental
    batch path uses. Holds with and without call edges: call-mention
    netting is row-local, so the calls branch streams too."""
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        CodeKgConfig,
        code_kg_from_state,
        code_kg_plan,
    )
    from fcrepo3_rdf_extractor_spark.streaming.extract_stream import (
        read_blob_stream,
        streaming_code_state,
        write_triples_stream,
    )

    files = spark.createDataFrame(
        [
            ("r1", "src/util.py", "c1", "py",
             "import os\ndef helper(x):\n    return x\n"),
            ("r1", "src/app.py", "c1", "py",
             "import util\nclass App:\n    pass\n"),
            ("r2", "lib/app.py", "c2", "py", "import util\n"),
            ("r1", "src/cli.py", "c1", "py",
             "import util\ny = helper(1)\n"),
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    src_dir, state_dir, cp_root = (
        str(tmp_path / d) for d in ("src", "state", "cp")
    )
    files.write.parquet(src_dir)
    cur_ids = files.select(
        "repo", "path", "commit",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )

    for cfg in (CodeKgConfig(vendored=True),
                CodeKgConfig(vendored=True, calls=True)):
        tag = "calls" if cfg.calls else "plain"
        out_dir, cp_dir = f"{state_dir}-{tag}", f"{cp_root}-{tag}"
        stream = read_blob_stream(spark, src_dir, max_files_per_trigger=1)
        state_stream = streaming_code_state(stream, cfg)
        assert state_stream.isStreaming
        q = write_triples_stream(state_stream, out_dir, cp_dir,
                                 available_now=True)
        q.awaitTermination(120)

        state = spark.read.parquet(out_dir)
        assembled = code_kg_from_state(state, cur_ids, cfg)
        want = code_kg_plan(files, cfg)
        assert sorted(map(tuple, assembled.collect())) == sorted(
            map(tuple, want.collect())
        ), tag
        n_calls = want.filter(F.col("pred") == "code:calls").count()
        assert n_calls == (1 if cfg.calls else 0), tag
