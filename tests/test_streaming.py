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
    # 7 objects, all repo='sidora-sample': the reference's where it exists,
    # else in-repo stand-ins under the same blob keys (conftest.py)
    source = fixture_source(spark)
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


def test_with_quality_language_match_narrow_ops(spark):
    """The in-place annotators (with_quality/with_language, per-row
    projections that keep every input column) must produce the exact
    values of the narrow oracled operators they refactor."""
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
