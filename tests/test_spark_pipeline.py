"""Spark-layer tests: the vectorized extractor, declarative filters,
dedup, canonicalization, N-Quads rendering parity, managed-content join,
resumable checkpointed runs, and graph materialization."""

from __future__ import annotations

import pathlib
import re

import pytest
from conftest import (
    FIXTURE_TRIPLES,
    SIMPLE_FOXML_TRIPLES,
    SIMPLE_STAND_IN_TRIPLES,
    fixture_source,
    simple_foxml,
    simple_foxml_stand_in,
    stand_in_objects,
)
from conftest import REFERENCE_RES as RES
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.functions import nquad_line_col, subject_bucket
from fcrepo3_rdf_extractor_spark.operators.canonicalize import (
    canonicalize,
    canonicalize_prefixes,
)
from fcrepo3_rdf_extractor_spark.operators.dedup import dedup_exact, dedup_exact_salted
from fcrepo3_rdf_extractor_spark.operators.extractor import (
    error_counts,
    errors_only,
    extract_triples,
    triples_only,
)
from fcrepo3_rdf_extractor_spark.operators.filters import (
    select_objects,
    skip_empty_literals,
    with_graph,
)
from fcrepo3_rdf_extractor_spark.plans.pipeline import (
    ExtractConfig,
    attach_managed_content,
    extract_plan,
    materialize_graph,
    run_resumable,
)
from fcrepo3_rdf_extractor_spark.sources.nquads import read_nquads, write_nquads
from fcrepo3_rdf_extractor_spark.terms import load_nt, sha256_hex

ANSWERS = {
    "ct:85": "ct-85", "ct:86": "ct-86", "ct:88": "ct-88", "ct:90": "ct-90",
    "si-user:10": "si-user-10", "si:1020": "si-1020", "si:1119": "si-1119",
}


def rows_to_set(rows) -> set[tuple]:
    return {
        (r.subj, r.pred, r.obj_value, r.obj_is_literal, r.obj_datatype, r.obj_lang)
        for r in rows
    }


@pytest.fixture(scope="module")
def extracted(spark):
    return extract_plan(
        fixture_source(spark), ExtractConfig(skip_empty=True, dedup=True)
    ).cache()


@pytest.mark.skipif(not RES.exists(), reason="reference answer sets not present")
def test_golden_parity_on_spark(spark, extracted):
    got_by_obj: dict[str, set] = {}
    for r in triples_only(extracted).collect():
        pid = r.path.removeprefix("info:fedora/")
        got_by_obj.setdefault(pid, set()).add(
            (r.subj, r.pred, r.obj_value, r.obj_is_literal, r.obj_datatype, r.obj_lang)
        )
    for pid, answer in ANSWERS.items():
        want = load_nt((RES / "answers" / f"{answer}.nt").read_text())
        assert got_by_obj[pid] == want, f"mismatch for {pid}"


def test_graph_column_assigned(extracted):
    assert triples_only(extracted).filter(F.col("graph") != "#ri").count() == 0


def test_lineage_sha256_invariant(spark):
    src = fixture_source(spark)
    out = extract_triples(src).select("path", "content_sha256").distinct().collect()
    want = {r.path: sha256_hex(r.content) for r in src.collect()}
    assert {r.path: r.content_sha256 for r in out} == want


def test_skip_empty_literals_operator(spark):
    df = spark.createDataFrame(
        [("s", "p", "", True, None, None), ("s", "p", "", False, None, None),
         ("s", "p", "x", True, None, None),
         (None, None, None, None, None, "err")],
        "subj string, pred string, obj_value string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string",
    )
    kept = skip_empty_literals(df).collect()
    assert len(kept) == 3  # empty URI-value row passes, error row passes


def test_select_objects_pushdown(spark):
    src = fixture_source(spark)
    two = select_objects(src, ["info:fedora/ct:85", "info:fedora/ct:86"])
    assert two.count() == 2


def test_errors_for_missing_dc_and_relsext(spark):
    foxml = simple_foxml()
    # the same document without its DC and RELS-EXT datastreams: the
    # reference consumes both unguarded, so each absence is one error
    stripped = re.sub(
        r'<foxml:datastream\b[^>]*\bID="(?:DC|RELS-EXT)".*?</foxml:datastream>',
        "", foxml, flags=re.S,
    )
    ds_ids = re.findall(r'<foxml:datastream\b[^>]*\bID="([^"]+)"', stripped)
    assert not {"DC", "RELS-EXT"} & set(ds_ids)
    src = spark.createDataFrame(
        [("r", "p1", "c", "foxml", foxml), ("r", "stripped", "c", "foxml", stripped)],
        "repo string, path string, commit string, lang string, content string",
    )
    out = extract_triples(src).cache()
    intact, bare = (out.filter(F.col("path") == p) for p in ("p1", "stripped"))
    # the intact row: CRAZYDS is MANAGED but never consumed, DC and
    # RELS-EXT are inline -> no errors
    assert {(r.error_stage, r.error_ds_id) for r in errors_only(intact).collect()} == set()
    assert {r.error_stage: r.n_errors for r in error_counts(intact).collect()} == {}
    errs = {(r.error_stage, r.error_ds_id) for r in errors_only(bare).collect()}
    assert errs == {("dc", "[NO DS ID]"), ("rels_ext", "[NO DS ID]")}
    counts = {r.error_stage: r.n_errors for r in error_counts(out).collect()}
    assert counts == {"dc": 1, "rels_ext": 1}
    # the stripped row keeps its constant triples: 6 object triples + 6
    # per non-AUDIT datastream left
    n_ds = sum(ds != "AUDIT" for ds in ds_ids)
    assert triples_only(bare).count() == 6 + 6 * n_ds


def test_error_rows_isolate_bad_objects(spark):
    good = simple_foxml()
    src = spark.createDataFrame(
        [("r", "good", "c", "foxml", good), ("r", "bad", "c", "foxml", "<broken")],
        "repo string, path string, commit string, lang string, content string",
    )
    out = extract_triples(src).cache()
    assert triples_only(out).filter(F.col("path") == "bad").count() == 0
    assert triples_only(out).filter(F.col("path") == "good").count() == SIMPLE_FOXML_TRIPLES
    errs = errors_only(out).collect()
    assert [(e.path, e.error_stage) for e in errs] == [("bad", "object")]


def test_stand_in_fixtures_follow_the_rules():
    """The in-repo stand-ins plant every FIXTURES.md case the fixture
    tests rely on, and the pure-Python extractor (no Spark) agrees with
    their rules counts, as perfbench's manifest check does for gen's
    corpus."""
    from fcrepo3_rdf_extractor_spark.extract import extract_object

    objects = stand_in_objects()
    assert [o.kind for o in objects] == ["rich", "simple"] * 3 + ["rich"]
    assert 'model#state" VALUE="Active"' in objects[0].content  # ct:85
    text = "\n".join(o.content for o in objects)
    for marker in ("AUDIT", "RELS-INT", "si:orginal_metadata", 'CONTROL_GROUP="M"',
                   'CONTROL_GROUP="E"', "<si:note", "\nsecond line</dc:description>"):
        assert marker in text, marker
    for o in objects:
        got, errs = extract_object(o.content)
        assert errs == [], o.pid
        assert len({t for t in got if not (t.obj_is_literal and t.obj_value == "")}) \
            == o.triples, o.pid

    simple = simple_foxml_stand_in()
    got, errs = extract_object(simple)
    assert errs == [] and len(set(got)) == SIMPLE_STAND_IN_TRIPLES
    for marker in ("<si:note", "AUDIT", "RELS-EXT.1", "si:orginal_metadata",
                   'ID="CRAZYDS" STATE="A" CONTROL_GROUP="M"'):
        assert marker in simple, marker


def test_nquad_rendering_jvm_matches_python(spark, extracted):
    from fcrepo3_rdf_extractor_spark.terms import Triple, nquad_line

    sample = triples_only(extracted).limit(50)
    rows = sample.collect()
    jvm = [r.line for r in sample.select(nquad_line_col().alias("line")).collect()]
    py = [
        nquad_line(
            Triple(r.subj, r.pred, r.obj_value, r.obj_is_literal, r.obj_datatype, r.obj_lang),
            r.graph,
        )
        for r in rows
    ]
    assert sorted(jvm) == sorted(py)


def test_nquad_rendering_jvm_matches_python_on_illegal_uris(spark):
    """URI escaping must be byte-identical across the JVM column chain and
    the pure-Python serializer for IRIREF-illegal characters (the round-1
    hypothesis regression: '>' in an rdf:resource value)."""
    from fcrepo3_rdf_extractor_spark.terms import Triple, nquad_line, parse_nt_line

    nasty = [
        ("a:0", "p:x", ">", False, None, None, "#g"),
        ("s: p", "p:<", "o:a b\\c`d", False, None, None, "#g h"),
        ('q:"{}|^', "p:1", "lit\twith\nctl\x01", True, 'd:t<>"', None, "#g"),
        ("u:\x00\x1f", "p:2", "o:\u00e9\u4e2d", False, None, None, "#g"),
    ]
    df = spark.createDataFrame(
        nasty,
        "subj string, pred string, obj_value string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string, graph string",
    )
    jvm = [r.line for r in df.select(nquad_line_col().alias("line")).collect()]
    py = [nquad_line(Triple(*row[:6]), row[6]) for row in nasty]
    assert sorted(jvm) == sorted(py)
    # and every emitted line parses back to the original terms
    for row, line in zip(nasty, py):
        assert parse_nt_line(line) == row


def test_nquad_rendering_differential_random(spark):
    """Differential test of the JVM render against ``terms.nquad_line``
    over seeded random terms drawn from every character the escapes
    treat specially (C0 controls, space, the IRIREF-illegal set,
    backslash, quotes) and ones they must pass through (U+0085, U+2028,
    a non-BMP character), in every term position: URI and literal
    objects, plain, typed and language-tagged (an empty tag or datatype
    tags nothing), and the graph."""
    import random

    from fcrepo3_rdf_extractor_spark.terms import Triple, nquad_line, parse_nt_line

    rng = random.Random(20261019)
    alphabet = ([chr(c) for c in range(0x20)] + list(' <>"{}|^`\\\'')
                + ["\u0085", "\u2028", "\U0001F600", "a", "Z", "é", ":", "#", "&"])

    def text(prefix=""):
        return prefix + "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 10)))

    rows = []
    for _ in range(400):
        kind = rng.choice(["uri", "plain", "typed", "lang"])
        rows.append((
            text("s:"), text("p:"), text(), kind != "uri",
            rng.choice([text("d:"), ""]) if kind == "typed" else None,
            # xml:lang="" reaches the table as an empty tag
            rng.choice(["en", "de-CH", "x-1", ""]) if kind == "lang" else None,
            text("#g"),
        ))
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_value string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string, graph string",
    )
    jvm = [r.line for r in df.select(nquad_line_col().alias("line")).collect()]
    py = [nquad_line(Triple(*row[:6]), row[6]) for row in rows]
    assert [line.encode() for line in jvm] == [line.encode() for line in py]
    for row, line in zip(rows, jvm):
        s, p, o, is_literal, datatype, lang, g = row
        assert parse_nt_line(line) == (s, p, o, is_literal, datatype or None, lang or None, g)


def test_nquads_roundtrip(spark, extracted, tmp_path):
    out = str(tmp_path / "quads")
    write_nquads(triples_only(extracted), out, canonical=True)
    back = read_nquads(spark, out)
    assert rows_to_set(back.collect()) == rows_to_set(triples_only(extracted).collect())


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [("g", "s", "p", "o", False, None, None, "a"),
         ("g", "s", "p", "o", False, None, None, "b"),
         ("g", "s", "p", "o2", False, None, None, "c")],
        "graph string, subj string, pred string, obj_value string, "
        "obj_is_literal boolean, obj_datatype string, obj_lang string, path string",
    )
    for fn in (dedup_exact, dedup_exact_salted):
        got = fn(df).collect()
        assert len(got) == 2
        witness = {r.obj_value: r.path for r in got}
        assert witness == {"o": "a", "o2": "c"}  # deterministic min() witness


def test_canonicalize_broadcast_dict(spark):
    triples = spark.createDataFrame(
        [("info:fedora/old:1", "p", "info:fedora/old:1", False, None, None),
         ("info:fedora/x:2", "p", "old-literal", True, None, None)],
        "subj string, pred string, obj_value string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string",
    )
    aliases = spark.createDataFrame(
        [("info:fedora/old:1", "info:fedora/new:1"), ("old-literal", "SHOULD-NOT-APPLY")],
        "alias string, canonical string",
    )
    got = {(r.subj, r.obj_value) for r in canonicalize(triples, aliases).collect()}
    assert got == {("info:fedora/new:1", "info:fedora/new:1"),
                   ("info:fedora/x:2", "old-literal")}


def test_canonicalize_prefixes_column_expr(spark):
    triples = spark.createDataFrame(
        [("http://fedora.example/a:1", "p", "http://fedora.example/b:2", False, None, None),
         ("info:fedora/c:3", "p", "http://fedora.example/keep-literal", True, None, None)],
        "subj string, pred string, obj_value string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string",
    )
    got = canonicalize_prefixes(triples, {"http://fedora.example/": "info:fedora/"}).collect()
    by_subj = {r.subj: r.obj_value for r in got}
    assert by_subj == {
        "info:fedora/a:1": "info:fedora/b:2",
        "info:fedora/c:3": "http://fedora.example/keep-literal",
    }


def test_attach_managed_content_join(spark):
    foxml = """<foxml:digitalObject VERSION="1.1" PID="m:1"
      xmlns:foxml="info:fedora/fedora-system:def/foxml#">
      <foxml:objectProperties>
        <foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="A"/>
        <foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" VALUE="2020-01-01T00:00:00.000Z"/>
        <foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" VALUE="2020-01-01T00:00:00.000Z"/>
      </foxml:objectProperties>
      <foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="M">
        <foxml:datastreamVersion ID="RELS-EXT.0" CREATED="2020-01-01T00:00:00.000Z" MIMETYPE="application/rdf+xml">
          <foxml:contentLocation TYPE="INTERNAL_ID" REF="m:1+RELS-EXT+RELS-EXT.0"/>
        </foxml:datastreamVersion>
      </foxml:datastream>
    </foxml:digitalObject>"""
    rels = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="urn:ex#">
      <rdf:Description rdf:about="info:fedora/m:1"><ex:p rdf:resource="urn:o"/></rdf:Description>
    </rdf:RDF>"""
    src = spark.createDataFrame(
        [("r", "info:fedora/m:1", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    ds_store = spark.createDataFrame(
        [("info:fedora/m:1/RELS-EXT/RELS-EXT.0", rels)], "blob_id string, content string"
    )
    out = extract_triples(attach_managed_content(src, ds_store))
    keys = rows_to_set(triples_only(out).collect())
    assert ("info:fedora/m:1", "urn:ex#p", "urn:o", False, None, None) in keys
    # only the DC error remains (DC datastream absent)
    errs = [r.error_stage for r in errors_only(out).collect()]
    assert errs == ["dc"]


def test_attach_managed_content_numeric_ref_end_to_end(spark):
    """A MANAGED contentLocation whose token carries '&#38;' must
    resolve end-to-end: the JVM request pass and the ElementTree-backed
    extraction UDF decode the ref to the same blob key, so the fetch
    join hits and the datastream's triples are emitted (previously the
    raw '&#38;' missed the fetch and surfaced as an error row)."""
    from fcrepo3_rdf_extractor_spark.terms import get_blob_id

    foxml = """<foxml:digitalObject VERSION="1.1" PID="m:7"
      xmlns:foxml="info:fedora/fedora-system:def/foxml#">
      <foxml:objectProperties>
        <foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="A"/>
        <foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" VALUE="2020-01-01T00:00:00.000Z"/>
        <foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" VALUE="2020-01-01T00:00:00.000Z"/>
      </foxml:objectProperties>
      <foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="M">
        <foxml:datastreamVersion ID="RELS-EXT.0" CREATED="2020-01-01T00:00:00.000Z" MIMETYPE="application/rdf+xml">
          <foxml:contentLocation TYPE="INTERNAL_ID" REF="m:7+RELS-EXT+v&#38;1"/>
        </foxml:datastreamVersion>
      </foxml:datastream>
    </foxml:digitalObject>"""
    rels = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="urn:ex#">
      <rdf:Description rdf:about="info:fedora/m:7"><ex:p rdf:resource="urn:o"/></rdf:Description>
    </rdf:RDF>"""
    src = spark.createDataFrame(
        [("r", "info:fedora/m:7", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    ds_store = spark.createDataFrame(
        [(get_blob_id("m:7+RELS-EXT+v&1"), rels)], "blob_id string, content string"
    )
    out = extract_triples(attach_managed_content(src, ds_store))
    keys = rows_to_set(triples_only(out).collect())
    assert ("info:fedora/m:7", "urn:ex#p", "urn:o", False, None, None) in keys
    errs = [r.error_stage for r in errors_only(out).collect()]
    assert errs == ["dc"]  # only the absent-DC error; RELS-EXT resolved


def test_crawl_job_materializes_er_table(spark, cli_results):
    """jobs/crawl.py end-to-end with the file fetcher: enumerates E/R
    URLs via the JVM request pass, fetches each distinct URL once with
    per-URL error isolation, and the resulting table feeds the
    extraction join — resolvable URL yields triples, unreachable URL
    keeps the error-row contract.
    (Scenario: cli_scenarios.crawl_er_table — one resolvable file URL,
    one missing.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "crawl_er_table")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    summary = r["summary"]
    assert summary["n_urls"] == 2
    assert summary["n_fetched"] == 1
    assert summary["n_errors"] == 1

    ds_store = spark.read.parquet(art["out"]).filter(
        F.col("content").isNotNull())
    got = extract_triples(
        attach_managed_content(spark.read.parquet(art["src"]), ds_store))
    keys = rows_to_set(triples_only(got).collect())
    assert ("info:fedora/e:1", "urn:ex#p", "urn:o", False, None, None) in keys
    # the uncrawlable object keeps the per-datastream error contract
    errs = {(r_.path, r_.error_stage) for r_ in errors_only(got).collect()}
    assert ("info:fedora/e:2", "rels_ext") in errs


def test_managed_content_requests_version_pick_and_minting(spark):
    """The JVM request pass must mirror the Python semantics it
    replaced: newest-CREATED version wins (not document order), blob-id
    minting matches terms.get_blob_id including percent-encoding, and a
    malformed token yields no request row (extraction will emit the
    error row) instead of failing the pass."""
    from fcrepo3_rdf_extractor_spark.foxml import parse_foxml
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests
    from fcrepo3_rdf_extractor_spark.terms import get_blob_id

    def foxml(ds: str) -> str:
        return (
            '<foxml:digitalObject PID="m:1" '
            'xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
            + ds + "</foxml:digitalObject>"
        )

    multi_version = foxml(
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M">'
        '<foxml:datastreamVersion ID="DC.1" CREATED="2021-05-05T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="m:1+DC+DC.1"/>'
        "</foxml:datastreamVersion>"
        '<foxml:datastreamVersion ID="DC.0" CREATED="2022-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="m:1+DC+DC.0"/>'
        "</foxml:datastreamVersion>"
        "</foxml:datastream>"
    )  # newest (DC.0) is listed SECOND: CREATED order must win
    encoded = foxml(
        '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="M">'
        '<foxml:datastreamVersion ID="R.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="ns:1+my ds/x+v 1"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    tilde = foxml(
        # '~': quote_plus keeps it, Java URLEncoder/url_encode emits %7E —
        # both minting paths must agree (terms.uri_encode post-replace)
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M">'
        '<foxml:datastreamVersion ID="D.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="ns:2+a~b+c~d"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    malformed = foxml(
        '<foxml:datastream ID="RELS-INT" STATE="A" CONTROL_GROUP="M">'
        '<foxml:datastreamVersion ID="B.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="a+b"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    unmanaged = foxml(
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="X">'
        '<foxml:datastreamVersion ID="DC.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="m:9+DC+DC.0"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    entity_url = foxml(
        # '&' is entity-escaped in well-formed XML attributes; the
        # request key must be the DECODED url (what ElementTree gives
        # the extraction UDF), not the raw '&amp;' text
        '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E">'
        '<foxml:datastreamVersion ID="E.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="URL" REF="http://ex.org/ds?a=1&amp;b=2"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    frac = foxml(
        # variable-length fractions: '..0.15Z' is NEWER than '..0.1Z'
        # numerically but smaller lexicographically ('5' < 'Z') — the
        # pick must use parsed-timestamp order
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M">'
        '<foxml:datastreamVersion ID="F.1" CREATED="2021-05-05T10:00:00.1Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="f:1+DC+OLD"/>'
        "</foxml:datastreamVersion>"
        '<foxml:datastreamVersion ID="F.0" CREATED="2021-05-05T10:00:00.15Z">'
        '<foxml:contentLocation TYPE="INTERNAL_ID" REF="f:1+DC+NEW"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    numeric_refs = foxml(
        # decimal and hex numeric character references (valid XML, which
        # Woodstox/ElementTree decode) must decode in the request pass
        # too, or the fetch key misses
        '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E">'
        '<foxml:datastreamVersion ID="N.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="URL" REF="http://ex.org/ds?a=1&#38;b=2&#x26;c=3"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    no_rescan = foxml(
        # raw '&#38;amp;' is the literal '&amp;' (decode once, never
        # re-scan decoded output — the chained-replace failure mode)
        '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E">'
        '<foxml:datastreamVersion ID="Q.0" CREATED="2020-01-01T00:00:00.000Z">'
        '<foxml:contentLocation TYPE="URL" REF="http://ex.org/ds?q=&#38;amp;"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
    )
    single_quoted = foxml(
        # legal XML, single-quoted attributes — ElementTree accepts them,
        # so the regex request pass must too
        "<foxml:datastream ID='DC' STATE='A' CONTROL_GROUP='M'>"
        "<foxml:datastreamVersion ID='S.0' CREATED='2020-01-01T00:00:00.000Z'>"
        "<foxml:contentLocation TYPE='INTERNAL_ID' REF='sq:1+DC+DC.0'/>"
        "</foxml:datastreamVersion></foxml:datastream>"
    )

    def two_versions(first_created: str, second_created: str, pid: str) -> str:
        # two MANAGED DC versions, REF ...+FIRST listed before ...+SECOND
        def version(vid: str, created: str) -> str:
            return (
                f'<foxml:datastreamVersion ID="DC.{vid}"{created}>'
                f'<foxml:contentLocation TYPE="INTERNAL_ID" REF="{pid}+DC+{vid}"/>'
                "</foxml:datastreamVersion>"
            )

        return foxml(
            '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M">'
            + version("FIRST", first_created) + version("SECOND", second_created)
            + "</foxml:datastream>"
        )

    same = ' CREATED="2021-05-05T00:00:00.000Z"'
    tie = two_versions(same, same, "t:1")        # equal CREATED: first wins
    no_created = two_versions("", "", "t:2")     # no CREATED at all: first wins
    later_created = two_versions("", same, "t:3")  # only the second is dated
    tie_break = {
        "p11": (tie, "t:1+DC+FIRST"),
        "p12": (no_created, "t:2+DC+FIRST"),
        "p13": (later_created, "t:3+DC+SECOND"),
    }
    for content, token in tie_break.values():
        # the expectation is parse_foxml's stable sort, not a restatement
        (ds,) = parse_foxml(content)["datastreams"]
        assert ds["versions"][0]["content_location"] == token
    src = spark.createDataFrame(
        [("r", "p1", "c", "foxml", multi_version),
         ("r", "p2", "c", "foxml", encoded),
         ("r", "p3", "c", "foxml", malformed),
         ("r", "p4", "c", "foxml", unmanaged),
         ("r", "p5", "c", "foxml", tilde),
         ("r", "p6", "c", "foxml", entity_url),
         ("r", "p7", "c", "foxml", frac),
         ("r", "p8", "c", "foxml", single_quoted),
         ("r", "p9", "c", "foxml", numeric_refs),
         ("r", "p10", "c", "foxml", no_rescan)]
        + [("r", path, "c", "foxml", content)
           for path, (content, _) in tie_break.items()],
        "repo string, path string, commit string, lang string, content string",
    )
    got = {(r.path, r.blob_id) for r in managed_content_requests(src).collect()}
    assert got == {
        ("p1", get_blob_id("m:1+DC+DC.0")),          # newest CREATED, not doc order
        ("p2", get_blob_id("ns:1+my ds/x+v 1")),     # percent-encoding parity
        ("p5", get_blob_id("ns:2+a~b+c~d")),         # '~' -> %7E on both paths
        ("p6", "http://ex.org/ds?a=1&b=2"),          # XML entities decoded
        ("p7", get_blob_id("f:1+DC+NEW")),           # parsed-timestamp order
        ("p8", get_blob_id("sq:1+DC+DC.0")),         # single-quoted attributes
        ("p9", "http://ex.org/ds?a=1&b=2&c=3"),      # numeric char refs decoded
        ("p10", "http://ex.org/ds?q=&amp;"),         # decoded once, no re-scan
        ("p11", get_blob_id("t:1+DC+FIRST")),        # CREATED tie: document order
        ("p12", get_blob_id("t:2+DC+FIRST")),        # no CREATED: document order
        ("p13", get_blob_id("t:3+DC+SECOND")),       # a CREATED beats none
    }


def test_run_resumable_and_resume(spark, tmp_path):
    src = fixture_source(spark)
    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    cfg = ExtractConfig(num_chunks=4, chunks_per_wave=2)
    stats1 = run_resumable(src, out_dir, cp_dir, cfg)
    assert stats1["chunks_run"] == 4 and stats1["chunks_done_before"] == 0
    total = spark.read.parquet(out_dir).filter(F.col("error_stage").isNull()).count()
    assert total == FIXTURE_TRIPLES
    # resume: everything is already committed -> nothing runs
    stats2 = run_resumable(src, out_dir, cp_dir, cfg)
    assert stats2["chunks_run"] == 0 and stats2["chunks_done_before"] == 4
    # manifest counters add up
    manifest = spark.read.parquet(str(tmp_path / "cp" / "manifest"))
    agg = manifest.agg(F.sum("n_objects"), F.sum("n_triples")).collect()[0]
    assert agg[0] == 7 and agg[1] == FIXTURE_TRIPLES


def _unparsed_source(spark):
    return spark.createDataFrame(
        [("r", f"info:fedora/x:{i}", "c", "foxml", "<not-parsed/>") for i in range(8)],
        "repo string, path string, commit string, lang string, content string",
    )


def test_run_resumable_refuses_changed_num_chunks(spark, tmp_path):
    """Chunk ids depend on num_chunks: a 4-chunk checkpoint resumed at 8
    would treat 8-chunk ids 0-3 as done and never extract the rest, so
    the resume raises, naming both values. A manifest without the record
    (written before rows carried it) resumes unchecked."""
    src = _unparsed_source(spark)
    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    cfg = ExtractConfig(num_chunks=4, chunks_per_wave=2)
    assert run_resumable(src, out_dir, cp_dir, cfg)["chunks_run"] == 4
    with pytest.raises(ValueError, match="num_chunks=4 but this run has num_chunks=8"):
        run_resumable(src, out_dir, cp_dir, ExtractConfig(num_chunks=8))
    manifest = str(tmp_path / "cp" / "manifest")
    legacy = spark.read.parquet(manifest).drop("num_chunks")
    spark.createDataFrame(legacy.collect(), legacy.schema).write.mode(
        "overwrite").parquet(manifest)
    stats = run_resumable(src, out_dir, cp_dir, cfg)
    assert stats["chunks_done_before"] == 4 and stats["chunks_run"] == 0


def test_run_resumable_refuses_changed_num_chunks_after_crash(
    spark, tmp_path, monkeypatch
):
    """A driver that dies right after the first manifest append leaves
    a checkpoint whose manifest already records num_chunks, so a resume
    under another value still raises instead of skipping objects."""
    import fcrepo3_rdf_extractor_spark.plans.pipeline as pipeline

    calls = []
    real_append = pipeline.append_manifest

    def append_manifest(rows, checkpoint_dir):
        real_append(rows, checkpoint_dir)
        calls.append(checkpoint_dir)
        if len(calls) == 1:
            raise RuntimeError("injected crash after the manifest append")

    monkeypatch.setattr(pipeline, "append_manifest", append_manifest)
    src = _unparsed_source(spark)
    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected crash"):
        run_resumable(src, out_dir, cp_dir, ExtractConfig(num_chunks=4, chunks_per_wave=2))
    monkeypatch.undo()
    with pytest.raises(ValueError, match="num_chunks=4 but this run has num_chunks=8"):
        run_resumable(src, out_dir, cp_dir, ExtractConfig(num_chunks=8))


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders_one_shot(spark, tmp_path_factory):
    """An uninterrupted 4-chunk, 2-wave resumable run over the synthesized
    sf0.001 orders: the table every crash-and-resume must reproduce."""
    if not pathlib.Path(SF_DIR).exists():
        pytest.skip("testdata not generated")
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    src = synthesize_foxml_from_orders(spark, SF_DIR)
    base = tmp_path_factory.mktemp("one_shot")
    cfg = ExtractConfig(num_chunks=4, chunks_per_wave=2)
    run_resumable(src, str(base / "out"), str(base / "cp"), cfg)
    return src, cfg, spark.read.parquet(str(base / "out"))


@pytest.mark.parametrize("crash", ["before_manifest_append", "mid_write"])
def test_run_resumable_crash_then_resume_equals_one_shot(
    spark, tmp_path, monkeypatch, orders_one_shot, crash
):
    """Wave 2 (chunks 2-3) dies either after its chunks are written but
    before they enter the manifest, or inside its write job. The rerun
    must skip exactly wave 1, re-run wave 2, and land the same table as
    an uninterrupted run, with one manifest row per chunk."""
    import fcrepo3_rdf_extractor_spark.plans.pipeline as pipeline
    from fcrepo3_rdf_extractor_spark.plans.checkpoint import with_chunk_id

    src, cfg, want = orders_one_shot
    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    plan_fn = None
    if crash == "before_manifest_append":
        calls = []
        real_append = pipeline.append_manifest

        def append_manifest(rows, checkpoint_dir):
            calls.append(checkpoint_dir)
            if len(calls) == 2:
                raise RuntimeError("injected crash before the manifest append")
            real_append(rows, checkpoint_dir)

        monkeypatch.setattr(pipeline, "append_manifest", append_manifest)
    else:
        bad = (
            with_chunk_id(src, cfg.num_chunks)
            .filter(F.col("chunk_id").isin(2, 3))
            .select("path").first().path
        )

        def plan_fn(wave_src):
            out = extract_plan(wave_src, cfg)
            return out.withColumn("subj", F.when(
                F.col("path") == bad, F.raise_error(F.lit("injected crash"))
            ).otherwise(F.col("subj")))

    with pytest.raises(Exception, match="injected crash"):
        run_resumable(src, out_dir, cp_dir, cfg, plan_fn=plan_fn)
    monkeypatch.undo()

    stats = run_resumable(src, out_dir, cp_dir, cfg)
    assert stats["chunks_done_before"] == 2 and stats["chunks_run"] == 2
    got = spark.read.parquet(out_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    manifest = spark.read.parquet(str(tmp_path / "cp" / "manifest"))
    per_chunk = {r.chunk_id: r.n for r in manifest.groupBy("chunk_id").agg(
        F.count("*").alias("n")).collect()}
    assert per_chunk == {0: 1, 1: 1, 2: 1, 3: 1}


def test_materialize_graph_bucketed(spark, extracted, tmp_path):
    out = str(tmp_path / "graph")
    materialize_graph(extracted, out, buckets=8, canonical_sort=True)
    table = spark.read.parquet(out)
    assert table.count() == FIXTURE_TRIPLES
    # bucket column is consistent with the hash function
    check = table.withColumn("recomputed", subject_bucket("subj", 8))
    assert check.filter(F.col("subj_bucket") != F.col("recomputed")).count() == 0
    # same-subject rows land in the same partition directory
    assert table.select("subj", "subj_bucket").distinct().groupBy("subj").count() \
        .filter(F.col("count") > 1).count() == 0


def test_extract_incremental_reuses_unchanged(spark):
    """v2 = v1 with one doc edited, one deleted, one added. Incremental
    must (a) re-extract only the 2 changed/new docs, (b) produce exactly
    the same graph as a full v2 extraction."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig,
        extract_incremental,
        extract_plan,
    )

    cfg = ExtractConfig(skip_empty=True, dedup=False)
    v1 = fixture_source(spark)  # 7 objects
    prev = extract_plan(v1, cfg)

    edited = v1.filter(F.col("path") == "info:fedora/ct:85").withColumn(
        "content", F.regexp_replace("content", "Active", "Inactive")
    )
    added = v1.filter(F.col("path") == "info:fedora/ct:86").withColumn(
        "path", F.lit("info:fedora/ct:9999")
    )
    v2 = (
        v1.filter(~F.col("path").isin("info:fedora/ct:85", "info:fedora/ct:88"))
        .union(edited)
        .union(added)
    )  # ct:88 deleted, ct:85 edited, ct:9999 added

    plan = extract_incremental(v2, prev, cfg)
    assert plan.changed.count() == 2  # only the edited + added docs re-parse
    reused_paths = {r.path for r in plan.reused.select("path").distinct().collect()}
    assert "info:fedora/ct:88" not in reused_paths       # deleted gone
    assert "info:fedora/ct:85" not in reused_paths       # edited not reused

    full = extract_plan(v2, cfg)
    key = ["subj", "pred", "obj_value", "obj_is_literal", "path", "content_sha256"]
    inc_t = plan.output.filter(F.col("error_stage").isNull()).select(key)
    full_t = full.filter(F.col("error_stage").isNull()).select(key)
    assert inc_t.count() == full_t.count()
    assert inc_t.exceptAll(full_t).count() == 0
    assert full_t.exceptAll(inc_t).count() == 0


def test_extract_incremental_with_dedup_matches_full_rebuild(spark):
    """Incremental refresh under dedup=True (the default). The prior
    round collapsed duplicates BEFORE the semi/anti joins, which (a)
    duplicated triples when a fresh doc re-asserted an already-witnessed
    triple and (b) silently dropped triples when the witness doc was
    deleted while another live doc still asserted them. The fix keeps a
    per-document ``state`` and dedups once at the output layer."""
    from dataclasses import replace

    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig,
        extract_incremental,
        extract_plan,
    )

    cfg = ExtractConfig(skip_empty=True, dedup=True)
    base = fixture_source(spark)
    # two extra docs with IDENTICAL content (same pid inside) -> they
    # assert the exact same triples as each other
    dup_a = base.filter(F.col("path") == "info:fedora/ct:86").withColumn(
        "path", F.lit("info:fedora/dup:a")
    )
    dup_b = base.filter(F.col("path") == "info:fedora/ct:86").withColumn(
        "path", F.lit("info:fedora/dup:b")
    )
    v1 = base.union(dup_a).union(dup_b)
    # previous must be the per-document table (state); dedup=False here
    prev_state = extract_plan(v1, replace(cfg, dedup=False))

    # v2: delete dup:a (a witness candidate for the shared triples) and
    # add dup:c re-asserting triples that already exist in `previous`
    dup_c = base.filter(F.col("path") == "info:fedora/ct:86").withColumn(
        "path", F.lit("info:fedora/dup:c")
    )
    v2 = v1.filter(F.col("path") != "info:fedora/dup:a").union(dup_c)

    plan = extract_incremental(v2, prev_state, cfg)
    assert plan.changed.count() == 1  # only dup:c re-parses

    full = extract_plan(v2, cfg)
    key = ["graph", "subj", "pred", "obj_value", "obj_is_literal"]
    inc_t = plan.output.filter(F.col("error_stage").isNull()).select(key)
    full_t = full.filter(F.col("error_stage").isNull()).select(key)
    # (a) no duplicated triples in the incremental output
    assert inc_t.count() == inc_t.distinct().count()
    # (b) the deleted witness's triples survive via the live asserting doc
    assert inc_t.exceptAll(full_t).count() == 0
    assert full_t.exceptAll(inc_t).count() == 0
    # state stays per-document: next refresh can chain on it
    assert plan.state.filter(F.col("path") == "info:fedora/dup:b").count() > 0
    assert plan.state.filter(F.col("path") == "info:fedora/dup:c").count() > 0


def test_canonical_nquads_byte_deterministic(spark, extracted, tmp_path):
    """canonical=True must produce byte-identical files across two
    independent writes of the same data (retry/rerun safety for diffing
    and content-addressed storage)."""
    import hashlib
    import pathlib

    from fcrepo3_rdf_extractor_spark.sources.nquads import write_nquads

    triples = extracted.filter(F.col("error_stage").isNull())

    def digest(path: str) -> list[str]:
        files = sorted(pathlib.Path(path).glob("part-*"))
        return [hashlib.sha256(f.read_bytes()).hexdigest() for f in files]

    a, b = str(tmp_path / "nq_a"), str(tmp_path / "nq_b")
    write_nquads(triples, a, canonical=True, num_files=4)
    write_nquads(triples, b, canonical=True, num_files=4)
    da, db = digest(a), digest(b)
    assert da and da == db


def test_attach_external_content_via_url_table(spark):
    """EXTERNAL (E) datastreams resolve through the same ds_store,
    keyed by the verbatim URL (the pre-crawled fetch table replacing the
    reference's inline HTTP fetch)."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests

    foxml = """<foxml:digitalObject VERSION="1.1" PID="e:2"
      xmlns:foxml="info:fedora/fedora-system:def/foxml#">
      <foxml:objectProperties>
        <foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="A"/>
        <foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" VALUE="2020-01-01T00:00:00.000Z"/>
        <foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" VALUE="2020-01-01T00:00:00.000Z"/>
      </foxml:objectProperties>
      <foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E">
        <foxml:datastreamVersion ID="RELS-EXT.0" CREATED="2020-01-01T00:00:00.000Z" MIMETYPE="application/rdf+xml">
          <foxml:contentLocation TYPE="URL" REF="http://ex.org/rels/e2.rdf"/>
        </foxml:datastreamVersion>
      </foxml:datastream>
    </foxml:digitalObject>"""
    rels = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="urn:ex#">
      <rdf:Description rdf:about="info:fedora/e:2"><ex:p rdf:resource="urn:o2"/></rdf:Description>
    </rdf:RDF>"""
    src = spark.createDataFrame(
        [("r", "info:fedora/e:2", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    # request pass emits the VERBATIM url (no blob minting for E/R)
    reqs = {r.blob_id for r in managed_content_requests(src).collect()}
    assert reqs == {"http://ex.org/rels/e2.rdf"}

    ds_store = spark.createDataFrame(
        [("http://ex.org/rels/e2.rdf", rels)], "blob_id string, content string"
    )
    out = extract_triples(attach_managed_content(src, ds_store))
    keys = rows_to_set(triples_only(out).collect())
    assert ("info:fedora/e:2", "urn:ex#p", "urn:o2", False, None, None) in keys
    errs = [r.error_stage for r in errors_only(out).collect()]
    assert errs == ["dc"]  # only the absent DC errors


def _external_object(pid: str, ds_ids: tuple[str, ...], url: str) -> str:
    """A FOXML object whose ``ds_ids`` datastreams are all EXTERNAL to
    ``url``."""
    datastreams = "".join(
        f'<foxml:datastream ID="{ds_id}" STATE="A" CONTROL_GROUP="E">'
        f'<foxml:datastreamVersion ID="{ds_id}.0" CREATED="2020-01-01T00:00:00.000Z" '
        f'MIMETYPE="text/xml"><foxml:contentLocation TYPE="URL" REF="{url}"/>'
        "</foxml:datastreamVersion></foxml:datastream>"
        for ds_id in ds_ids
    )
    return (
        f'<foxml:digitalObject VERSION="1.1" PID="{pid}" '
        'xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
        "<foxml:objectProperties>"
        '<foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="A"/>'
        '<foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" '
        'VALUE="2020-01-01T00:00:00.000Z"/>'
        '<foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" '
        'VALUE="2020-01-01T00:00:00.000Z"/>'
        "</foxml:objectProperties>" + datastreams + "</foxml:digitalObject>"
    )


#: DC and RELS-EXT statements about d:1, readable as either datastream
_SHARED_BLOB = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:ex="urn:ex#">
  <rdf:Description rdf:about="info:fedora/d:1"><ex:p rdf:resource="urn:o"/>
  <dc:title>shared</dc:title></rdf:Description>
</rdf:RDF>"""


def _assert_extracts_as(out, foxml: str, lookup) -> list:
    """``out`` (one object's extraction) equals ``extract_object`` with
    ``lookup``, triples and (stage, ds_id) of every error; returns the
    triples."""
    from fcrepo3_rdf_extractor_spark.extract import extract_object

    triples, errors = extract_object(foxml, lookup)
    assert rows_to_set(triples_only(out).collect()) == set(triples)
    got_errs = sorted((r.error_stage, r.error_ds_id) for r in errors_only(out).collect())
    assert got_errs == sorted((e.stage, e.ds_id) for e in errors)
    return triples


def test_attach_managed_content_shared_fetch_key(spark):
    """Regression: two of an object's datastreams with one fetch key
    (DC and RELS-EXT both EXTERNAL to the same URL) gave two request
    rows, and the attach's ``map_from_arrays`` aborted the whole job
    with ``[DUPLICATED_MAP_KEY]``. The object must extract as the
    pure-Python extractor does with the same blob lookup."""
    url = "http://ex.org/same"
    foxml = _external_object("d:1", ("DC", "RELS-EXT"), url)
    src = spark.createDataFrame(
        [("r", "info:fedora/d:1", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    ds_store = spark.createDataFrame([(url, _SHARED_BLOB)], "blob_id string, content string")
    out = extract_triples(attach_managed_content(src, ds_store))
    triples = _assert_extracts_as(out, foxml, {url: _SHARED_BLOB}.get)
    assert triples, "the blob must yield triples for the comparison to bite"


def test_attach_managed_content_duplicated_store_key(spark):
    """Regression: a ds-store holding one key twice (two crawls of one
    URL appended to the table) aborted the whole job with
    ``[DUPLICATED_MAP_KEY]``. Identical rows collapse; two different
    contents under the key are that datastream's error row, naming the
    conflict, while the rest of the object still extracts (E1)."""
    url = "http://ex.org/a"
    foxml = _external_object("d:1", ("DC",), url)
    src = spark.createDataFrame(
        [("r", "info:fedora/d:1", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    schema = "blob_id string, content string"

    twice = spark.createDataFrame([(url, _SHARED_BLOB)] * 2, schema)
    out = extract_triples(attach_managed_content(src, twice))
    assert "http://purl.org/dc/elements/1.1/title" in {r.pred for r in triples_only(out).collect()}
    _assert_extracts_as(out, foxml, {url: _SHARED_BLOB}.get)

    conflict = spark.createDataFrame([(url, _SHARED_BLOB), (url, "<y/>")], schema)
    out = extract_triples(attach_managed_content(src, conflict))
    _assert_extracts_as(out, foxml, {}.get)
    dc_errors = [r.error_message for r in errors_only(out).collect() if r.error_stage == "dc"]
    assert len(dc_errors) == 1 and "conflicting" in dc_errors[0] and url in dc_errors[0], dc_errors


def test_attach_managed_content_differential(spark):
    """Differential test: the prefilter-split attach against the
    whole-table left join it replaced, written here as the reference:
    every source row joins the map of blobs fetched for its
    ``(repo, path, commit)``. The reference's ``distinct()`` keeps it
    defined on repeated rows, where the whole-table join aborted with
    ``[DUPLICATED_MAP_KEY]``. Per-document outputs (``dedup=False``)
    must be equal row multisets over a seeded gen corpus plus
    hand-built rows at the edges of the prefilter and the row id."""
    from collections import Counter

    from conftest import _gen

    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests

    gen = _gen()
    corpus = gen.foxml_corpus(5, 200)

    def obj(pid, *datastreams, dc=None):
        props = {"state": "A", "label": pid, "owner": "o",
                 "created": "2020-01-01T00:00:00.000Z",
                 "modified": "2021-01-01T00:00:00.000Z"}
        dc = dc or gen.Datastream("DC", versions=[gen.Version(
            "DC.0", "2020-01-01T00:00:00.000Z", xml=gen._dc_xml([("title", pid)], False))])
        return gen._foxml(pid, props, [dc, *datastreams])

    def managed(ds_id, loc, group="M", versions=True):
        return gen.Datastream(ds_id, group, versions=[gen.Version(
            f"{ds_id}.0", "2020-01-01T00:00:00.000Z", location=loc)] if versions else [])

    def dc_blob(title):
        return gen._dc_xml([("title", title)], False)

    rels = gen._rdf_xml([("info:fedora/h:4", [("rel:isMemberOfCollection", "info:fedora/c:1", False)])])
    # inline DC and a MANAGED OBJ: the per-attribute prefilter passed it
    inline_dc = obj("h:1", managed("OBJ", "h:1+OBJ+OBJ.0"))
    # MANAGED DC, CONTROL_GROUP before ID, single quotes
    reordered = obj("h:2", dc=managed("DC", "h:2+DC+DC.0")).replace(
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M"',
        "<foxml:datastream CONTROL_GROUP='M' STATE='A' ID='DC'",
    )
    # EXTERNAL RELS-EXT, mixed quotes, group first
    mixed = obj("h:4", managed("RELS-EXT", "http://ex.org/h4", "E")).replace(
        '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E"',
        "<foxml:datastream CONTROL_GROUP='E' STATE=\"A\" ID='RELS-EXT'",
    )
    assert "ID='DC'" in reordered and "ID='RELS-EXT'" in mixed
    versionless = obj("h:5", managed("RELS-INT", None, versions=False))
    unmintable = obj("h:6", managed("RELS-EXT", "h:6+RELS-EXT"))
    same_key_a = obj("h:7", managed("RELS-INT", "h:7+RELS-INT+RELS-INT.0"))
    same_key_b = obj("h:7", managed("RELS-INT", "h:7+RELS-INT+RELS-INT.1"))
    rels_int = gen._rdf_xml([("info:fedora/h:7/RELS-INT", [("si:note", "x", True)])])
    hand = [("h:0", None), ("h:1", inline_dc), ("h:2", reordered), ("h:2", reordered),
            ("h:4", mixed), ("h:5", versionless), ("h:6", unmintable),
            ("h:7", same_key_a), ("h:7", same_key_b)]
    rows = corpus.rows + [("r", f"info:fedora/{pid}", "c", "foxml", content)
                          for pid, content in hand]
    store = corpus.store + [
        ("info:fedora/h:1/OBJ/OBJ.0", dc_blob("obj")),
        ("info:fedora/h:2/DC/DC.0", dc_blob("h:2 managed")),
        ("http://ex.org/h4", rels),
        ("info:fedora/h:7/RELS-INT/RELS-INT.0", rels_int),
        ("info:fedora/h:7/RELS-INT/RELS-INT.1", rels_int.replace(">x<", ">y<")),
    ]
    source = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).repartition(4)
    ds_store = spark.createDataFrame(store, "blob_id string, content string")

    def whole_table_attach(source, ds_store):
        fetched = (
            managed_content_requests(source).distinct()
            .join(ds_store.withColumnRenamed("content", "_blob"), "blob_id")
            .groupBy("repo", "path", "commit")
            .agg(F.map_from_arrays(F.collect_list("blob_id"), F.collect_list("_blob"))
                 .alias("managed_content"))
        )
        return source.join(fetched, ["repo", "path", "commit"], "left")

    def per_document(attached):
        out = skip_empty_literals(with_graph(extract_triples(attached), ExtractConfig().graph))
        return Counter(tuple(r) for r in out.collect())

    got = per_document(attach_managed_content(source, ds_store))
    want = per_document(whole_table_attach(source, ds_store))
    assert got == want, (list((got - want).items())[:3], list((want - got).items())[:3])
    # the hand-built fetches resolve: h:2's managed DC, h:4's external
    # RELS-EXT, both h:7 versions' RELS-INT, and h:1 keeps its inline DC
    objs = {(k[0], k[2]) for k in got if k[1] in ("http://purl.org/dc/elements/1.1/title",
                                                  gen.SI + "note")}
    assert {("info:fedora/h:2", "h:2 managed"), ("info:fedora/h:1", "h:1"),
            ("info:fedora/h:7/RELS-INT", "x"), ("info:fedora/h:7/RELS-INT", "y")} <= objs, objs
    assert ("info:fedora/h:4", gen.REL + "isMemberOfCollection",
            "info:fedora/c:1") in {k[:3] for k in got}


def test_sameas_closure_chains_and_cycles(spark):
    """The sameAs fixpoint must resolve chains (x=y=z) and cycles to one
    canonical (lexicographic-min) URI per component, and the rewrite
    must leave literals and unrelated URIs untouched."""
    from fcrepo3_rdf_extractor_spark.operators.canonicalize import (
        canonicalize_sameas,
        sameas_closure,
    )

    sameas = spark.createDataFrame(
        [("urn:x", "urn:y"), ("urn:y", "urn:z"),   # chain
         ("urn:p", "urn:q"), ("urn:q", "urn:p")],  # cycle
        "a string, b string",
    )
    aliases = {r.alias: r.canonical for r in sameas_closure(sameas).collect()}
    assert aliases == {"urn:y": "urn:x", "urn:z": "urn:x", "urn:q": "urn:p"}

    triples = spark.createDataFrame(
        [("urn:z", "p:1", "urn:q", False, None, None),
         ("urn:z", "p:2", "urn:y", True, None, None),    # literal: no rewrite
         ("urn:other", "p:3", "urn:none", False, None, None)],
        "subj string, pred string, obj_value string, "
        "obj_is_literal boolean, obj_datatype string, obj_lang string",
    )
    got = {(r.subj, r.pred, r.obj_value)
           for r in canonicalize_sameas(triples, sameas).collect()}
    assert got == {
        ("urn:x", "p:1", "urn:p"),        # both positions rewritten via closure
        ("urn:x", "p:2", "urn:y"),        # literal obj untouched
        ("urn:other", "p:3", "urn:none"), # unrelated URIs untouched
    }


def test_managed_content_requests_versionless_block_is_dropped(spark):
    """Regression: a MANAGED datastream block with zero datastreamVersion
    children produced an empty version array, and under ANSI mode
    element_at on it aborted the whole job; it must simply yield no
    request row (the UDF reports the per-datastream error)."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests

    foxml = (
        '<foxml:digitalObject PID="v:0" '
        'xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
        '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="M">'
        "</foxml:datastream></foxml:digitalObject>"
    )
    src = spark.createDataFrame(
        [("r", "p", "c", "foxml", foxml)],
        "repo string, path string, commit string, lang string, content string",
    )
    assert managed_content_requests(src).collect() == []


def test_managed_content_requests_differential_random(spark):
    """Differential test: the JVM regex request pass must agree with a
    pure-Python reference built on parse_foxml (newest version's
    location, entity decoding, blob minting) over a randomized corpus of
    datastream shapes — groups X/M/E/R, entity-escaped URLs, spaces,
    tildes, multi-version orderings with variable-length fractions,
    missing CREATED, version-less blocks."""
    import random
    from xml.sax.saxutils import escape as xml_escape

    from fcrepo3_rdf_extractor_spark.foxml import parse_foxml
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests
    from fcrepo3_rdf_extractor_spark.terms import get_blob_id

    rng = random.Random(20260817)
    ids = ["DC", "RELS-EXT", "RELS-INT", "OTHER"]
    groups = ["X", "M", "E", "R"]
    locs = [
        "ns:1+DC+DC.0", "ns:2+a b+c d", "ns:3+x~y+z.0",
        "http://ex.org/a?p=1&q=2", "http://ex.org/plain", "info:fedora/pre:1",
        "", None,
    ]
    created = [
        "2020-01-01T00:00:00.000Z", "2021-05-05T10:00:00.1Z",
        "2021-05-05T10:00:00.15Z", "2022-03-03T03:03:03Z", None,
    ]

    def ds_xml(ds_id, group, versions):
        vs = []
        for c, loc in versions:
            attrs = f'ID="{ds_id}.{len(vs)}"'
            if c:
                attrs += f' CREATED="{c}"'
            if loc is not None:
                esc = xml_escape(loc, {chr(34): "&quot;"})
                # sometimes escape '&' as a numeric ref instead of the
                # named entity — both are valid XML the Python parser
                # decodes, so the JVM pass must agree on both
                if rng.random() < 0.5:
                    esc = esc.replace("&amp;", rng.choice(["&#38;", "&#x26;"]))
                body = f'<foxml:contentLocation TYPE="X" REF="{esc}"/>'
            else:
                body = ""
            vs.append(f"<foxml:datastreamVersion {attrs}>{body}</foxml:datastreamVersion>")
        return (f'<foxml:datastream ID="{ds_id}" STATE="A" CONTROL_GROUP="{group}">'
                + "".join(vs) + "</foxml:datastream>")

    rows, want = [], set()
    for i in range(40):
        n_ds = rng.randint(0, 3)
        parts = []
        for _ in range(n_ds):
            ds_id = rng.choice(ids)
            group = rng.choice(groups)
            versions = [(rng.choice(created), rng.choice(locs))
                        for _ in range(rng.randint(0, 3))]
            parts.append(ds_xml(ds_id, group, versions))
        content = (f'<foxml:digitalObject PID="r:{i}" '
                   'xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
                   + "".join(parts) + "</foxml:digitalObject>")
        rows.append(("r", f"p{i}", "c", "foxml", content))

        # pure-Python reference: same dispatch the extraction UDF uses
        obj = parse_foxml(content)
        for ds in obj["datastreams"]:
            if ds["id"] not in ("DC", "RELS-EXT", "RELS-INT"):
                continue
            if ds["control_group"] not in ("M", "E", "R"):
                continue
            for v in ds["versions"][:1]:
                loc = v.get("content_location")
                if not loc:
                    continue
                if ds["control_group"] == "M":
                    try:
                        key = get_blob_id(loc)
                    except ValueError:
                        continue  # malformed token -> no request row
                else:
                    key = loc
                want.add((f"p{i}", key))

    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    got = {(r.path, r.blob_id) for r in managed_content_requests(src).collect()}
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])


def test_read_source_json_and_csv(spark, tmp_path):
    """json/csv blob sources read with the ENFORCED contract schema and
    survive content with quotes and newlines (multiLine csv)."""
    from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

    src = fixture_source(spark)  # FOXML content: quotes + newlines
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    src.write.json(jdir)
    (src.write.option("header", "true").option("escape", '"')
     # the CSV WRITER also trims trailing whitespace by default —
     # disable, or a content-final newline is lost before it ever lands
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false").csv(cdir))
    want = {(r.path, r.content) for r in src.collect()}
    for fmt, loc in (("json", jdir), ("csv", cdir)):
        got = read_source(spark, loc, fmt=fmt)
        assert got.columns == ["repo", "path", "commit", "lang", "content"]
        assert {(r.path, r.content) for r in got.collect()} == want, fmt


def test_fuzzy_entity_match_links_typos(spark):
    """Blocked fuzzy matching: exact names at distance 0, a dropped
    character at distance 1, a prefix-corrupted mention still caught by
    the suffix block; the (distance, entity_id) argmin is deterministic."""
    from fcrepo3_rdf_extractor_spark.operators.canonicalize import (
        fuzzy_entity_match,
    )

    ents = spark.createDataFrame(
        [(1, "Smithsonian Archives"), (2, "Smithsonian Gardens"),
         (3, "National Zoo")],
        "entity_id long, name string",
    )
    mens = spark.createDataFrame(
        [(10, "Smithsonian Archives"),   # exact -> 1 at distance 0
         (11, "Smithsonian Archive"),    # dropped tail char -> 1 at 1
         (12, "Xmithsonian Gardens"),    # corrupted PREFIX: only the
                                          # suffix block can catch it
         (13, "completely unrelated")],  # no candidate within 2
        "mention_id long, mention string",
    )
    out = fuzzy_entity_match(mens, ents, max_distance=2, block_len=4)
    # candidates come from a hash EQUI-join on the block key — never a
    # nested-loop pair scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    got = {r.mention_id: r for r in out.collect()}
    assert got[10].entity_id == 1 and got[10].distance == 0
    assert got[11].entity_id == 1 and got[11].distance == 1
    assert got[12].entity_id == 2 and got[12].distance == 1
    assert 13 not in got


def test_fuzzy_entity_match_tiebreak_and_block_bound(spark):
    from fcrepo3_rdf_extractor_spark.operators.canonicalize import (
        fuzzy_entity_match,
    )

    # two entities at the SAME distance 1: min entity_id wins
    ents = spark.createDataFrame(
        [(7, "abcdeX"), (5, "abcdeY")], "entity_id long, name string"
    )
    mens = spark.createDataFrame(
        [(1, "abcde")], "mention_id long, mention string"
    )
    got = fuzzy_entity_match(mens, ents, max_distance=2).collect()
    assert [(r.mention_id, r.entity_id, r.distance) for r in got] == [(1, 5, 1)]

    # a degenerate block (shared by > max_block entities) is dropped
    # from the registry side, so nothing links through it
    many = spark.createDataFrame(
        [(i, f"prefix-shared-{i:04d}") for i in range(30)],
        "entity_id long, name string",
    )
    mens2 = spark.createDataFrame(
        [(1, "prefix-shared-0001")], "mention_id long, mention string"
    )
    # prefix block 'pref' holds 30 entities > max_block=10; suffix
    # blocks are distinct per entity, so the exact suffix still links
    got2 = fuzzy_entity_match(mens2, many, max_distance=1, max_block=10).collect()
    assert [(r.mention_id, r.entity_id) for r in got2] == [(1, 1)]


def test_extract_cli_paths_refuse_checkpoint(cli_results):
    """A selected-paths resumable run would mark every chunk done and
    poison the checkpoint for the next full run; an incremental run
    with --checkpoint would write no checkpoint. Both are refused up
    front, the checkpoint left unwritten. A resume under a different
    --num-chunks is refused too (exit 2, both values named)."""
    from conftest import cli_art

    art = cli_art(cli_results, "extract_paths_with_checkpoint")
    refused = art["refused"]
    assert refused["rc"] == 2, refused["stderr"][-2000:]
    assert "--paths/--paths-file cannot combine with --checkpoint" in (
        refused["stderr"]
    )
    assert not pathlib.Path(art["checkpoint"]).exists()
    refused_prev = art["refused_prev"]
    assert refused_prev["rc"] == 2, refused_prev["stderr"][-2000:]
    assert "separate modes; pick one" in refused_prev["stderr"]
    assert not pathlib.Path(art["checkpoint_prev"]).exists()
    chunked, rechunked = art["chunked"], art["rechunked"]
    assert chunked["rc"] == 0, chunked["stderr"][-2000:]
    assert rechunked["rc"] == 2, rechunked["stderr"][-2000:]
    assert ("written with num_chunks=4 but this run has num_chunks=8"
            in rechunked["stderr"])


def test_extract_cli_select_paths(spark, cli_results):
    """Reference parity with Extract.java's positional-URI mode: --paths
    extracts exactly the named objects (2 of the 7 fixtures), a
    --paths-file selects by file, and combining selection with
    --previous is refused (the incremental anti-join would read every
    unselected object as deleted)."""
    from conftest import cli_art

    art = cli_art(cli_results, "extract_select_paths")
    sel = art["sel"]
    assert sel["rc"] == 0, sel["stderr"][-2000:]
    assert sel["summary"]["n_selected_paths"] == 2
    assert sel["summary"]["n_objects"] == 2
    stored = spark.read.parquet(art["out"])
    subs = {
        r.path for r in stored.select("path").distinct().collect()
    }
    assert subs == {"info:fedora/ct:85", "info:fedora/si:1020"}

    sf = art["sel_file"]
    assert sf["rc"] == 0, sf["stderr"][-2000:]
    assert sf["summary"]["n_selected_paths"] == 1
    assert sf["summary"]["n_objects"] == 1

    refused = art["refused"]
    assert refused["rc"] == 2
    assert "--previous" in refused["stderr"]
