"""Self-tests of the benchmark's generators and manifests.

    python -m pytest perfbench -q

The manifest counts are derived from the generator's own plan; these
tests hold them against the engine on a tiny seed, in-process (the
pure-Python extractor) and through the Spark plans the workloads run.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

import gen  # noqa: E402

TINY = 80


def test_generators_are_deterministic_per_seed():
    a, b = gen.foxml_corpus(3, TINY), gen.foxml_corpus(3, TINY)
    assert (a.rows, a.rows_b, a.store, a.manifest) == (b.rows, b.rows_b, b.store, b.manifest)
    assert gen.foxml_corpus(4, TINY).rows != a.rows
    c, d = gen.code_corpus(3, 60), gen.code_corpus(3, 60)
    assert (c.rows, c.manifest) == (d.rows, d.manifest)
    assert gen.code_corpus(4, 60).rows != c.rows


def test_corpus_mix_plants_every_case():
    c = gen.foxml_corpus(5, 400)
    assert set(c.manifest["errors_by_stage"]) == {"object", "dc", "rels_ext", "rels_int"}
    assert c.store, "no MANAGED blobs planted"
    assert c.manifest["source_rows"] > c.manifest["objects"], "no duplicate snapshots"
    assert c.manifest_b["triples"] != c.manifest["triples"]
    contents = "\n".join(r[4] for r in c.rows)
    for marker in ('CONTROL_GROUP="M"', 'CONTROL_GROUP="E"', "RELS-INT", "si:orginal_metadata",
                   "<dc:subject></dc:subject>", 'ownerId" VALUE=""'):
        assert marker in contents, marker


@pytest.mark.parametrize("snapshot", ["a", "b"])
def test_foxml_manifest_matches_pure_python_extraction(snapshot):
    """The pure-Python extractor (no Spark) agrees with the manifest."""
    from fcrepo3_rdf_extractor_spark.extract import extract_object

    c = gen.foxml_corpus(7, TINY)
    rows, manifest = (c.rows, c.manifest) if snapshot == "a" else (c.rows_b, c.manifest_b)
    store = dict(c.store)
    triples, errors = set(), {}
    for _, _, _, _, content in rows:
        got, errs = extract_object(content, ds_lookup=store.get)
        triples |= {t for t in got if not (t.obj_is_literal and t.obj_value == "")}
        for e in errs:
            errors[e.stage] = errors.get(e.stage, 0) + 1
    assert len(triples) == manifest["triples"]
    assert errors == manifest["errors_by_stage"]


@pytest.fixture(scope="module")
def spark():
    from fcrepo3_rdf_extractor_spark.session import build_session

    session = build_session("perfbench-tests", cores=2, shuffle_partitions=4)
    yield session
    session.stop()


def _frame(spark, rows):
    return spark.createDataFrame(rows, "repo string, path string, commit string, "
                                       "lang string, content string")


def test_foxml_manifest_matches_spark_plans(spark):
    from fcrepo3_rdf_extractor_spark.operators.extractor import error_counts, triples_only
    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig, extract_incremental, extract_plan,
    )

    c = gen.foxml_corpus(7, TINY)
    store = spark.createDataFrame(c.store, "blob_id string, content string")
    out = extract_plan(_frame(spark, c.rows), ExtractConfig(), ds_store=store)
    triples = triples_only(out)
    assert triples.count() == c.manifest["triples"]
    assert (triples.select("repo", "path", "commit").distinct().count()
            == c.manifest["objects_with_triples"])
    assert ({r.error_stage: r.n_errors for r in error_counts(out).collect()}
            == c.manifest["errors_by_stage"])
    prev = extract_plan(_frame(spark, c.rows), ExtractConfig(dedup=False), ds_store=store)
    plan = extract_incremental(_frame(spark, c.rows_b), prev.localCheckpoint(), ExtractConfig(),
                               ds_store=store)
    assert triples_only(plan.output).count() == c.manifest_b["triples"]


def test_code_manifest_matches_spark_plan(spark):
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import CodeKgConfig, code_kg_plan

    c = gen.code_corpus(7, 60)
    out = code_kg_plan(_frame(spark, c.rows), CodeKgConfig(calls=True, vendored=True))
    by_pred = {r.pred: r.n for r in out.groupBy("pred").agg(F.count("*").alias("n")).collect()}
    assert by_pred == c.manifest["triples_by_pred"]
    spark.catalog.clearCache()
