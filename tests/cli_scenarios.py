"""CLI integration scenarios (jobs/extract.py, jobs/code_kg.py,
jobs/query.py, jobs/crawl.py), launched CONCURRENTLY by the
session-scoped ``cli_results`` fixture in conftest.

Why: every CLI invocation pays a fresh interpreter + JVM + SparkSession
(~15-25 s even for a 3-document corpus), so run back to back they would
be minutes of suite wall. The scenarios are mutually independent — each
gets its own directory under the session tmp root — so they overlap on
the farm; only the ordering WITHIN a scenario (a resume after its fresh
run, an incremental refresh after its bootstrap) is sequential, because
that ordering is the thing under test.

Contract: a scenario function takes (spark, base_dir: Path) and returns
a JSON-able dict of artifacts (returncodes, parsed summary lines, output
paths). NO assertions here — the consuming tests assert, so a behavior
change fails the specific test that pins it, not the farm.
"""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

# Global bound on concurrent fresh-JVM subprocesses across the whole
# farm. Without it, the overlapped scenarios once meant ~16
# simultaneous local[4] JVMs (each with a multi-GB driver heap) stacked
# on top of the in-process oracle sweep — the suite's CLI tests
# then died on the 600 s subprocess timeout and the sweep itself ran 9x
# slower than standalone. Five JVMs + the pytest session saturates the
# host without thrashing it.
_JVM_SLOTS = threading.BoundedSemaphore(5)

SCENARIOS: dict = {}


def scenario(fn):
    SCENARIOS[fn.__name__] = fn
    return fn


def _run_job(job: str, args: list[str]) -> dict:
    with _JVM_SLOTS:
        r = subprocess.run(
            [sys.executable, f"jobs/{job}"] + args,
            capture_output=True, text=True, cwd=REPO, timeout=600,
        )
    out = {"rc": r.returncode, "stdout": r.stdout, "stderr": r.stderr}
    if r.returncode == 0 and r.stdout.strip():
        try:
            out["summary"] = json.loads(r.stdout.strip().splitlines()[-1])
        except ValueError:
            pass
    return out


# --------------------------------------------------------------------------
# crawl CLI


@scenario
def crawl_er_table(spark, base: Path) -> dict:
    base.mkdir(parents=True, exist_ok=True)
    rels = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="urn:ex#">
      <rdf:Description rdf:about="info:fedora/e:1"><ex:p rdf:resource="urn:o"/></rdf:Description>
    </rdf:RDF>"""
    rels_path = base / "rels.xml"
    rels_path.write_text(rels)
    missing = base / "nope.xml"

    def foxml(pid, url):
        return (
            f'<foxml:digitalObject VERSION="1.1" PID="{pid}" '
            'xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
            "<foxml:objectProperties>"
            '<foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="A"/>'
            '<foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" VALUE="2020-01-01T00:00:00.000Z"/>'
            '<foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" VALUE="2020-01-01T00:00:00.000Z"/>'
            "</foxml:objectProperties>"
            '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="E">'
            '<foxml:datastreamVersion ID="R.0" CREATED="2020-01-01T00:00:00.000Z"'
            ' MIMETYPE="application/rdf+xml">'
            f'<foxml:contentLocation TYPE="URL" REF="file://{url}"/>'
            "</foxml:datastreamVersion></foxml:datastream></foxml:digitalObject>"
        )

    src_path = str(base / "src")
    spark.createDataFrame(
        [("r", "info:fedora/e:1", "c", "foxml", foxml("e:1", rels_path)),
         ("r", "info:fedora/e:2", "c", "foxml", foxml("e:2", missing))],
        "repo string, path string, commit string, lang string, content string",
    ).write.parquet(src_path)
    out = str(base / "ds_store")
    res = _run_job("crawl.py", ["--source", src_path, "--out", out,
                                "--fetcher", "file", "--local", "2",
                                "--concurrency", "2"])
    return {"run": res, "out": out, "src": src_path}


@scenario
def query_cli(spark, base: Path) -> dict:
    """BGP query runner: star + filter + optional over a small triples
    parquet, stdout rows + summary contract, compile-error exit code."""
    rows = [
        ("p:1", "rel:member", "c:a", "g1"), ("p:2", "rel:member", "c:a", "g1"),
        ("p:3", "rel:member", "c:b", "g2"),
        ("p:1", "m:owner", "alice", "g1"), ("p:2", "m:owner", "bob", "g1"),
    ]
    tdir = str(base / "triples")
    spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, graph string"
    ).write.parquet(tdir)
    def run(text):
        return _run_job("query.py", [
            "--triples", tdir, "--sparql", text, "--local", "2",
        ])

    ok = run(
        "SELECT ?x ?c ?o WHERE { ?x <rel:member> ?c . "
        "OPTIONAL { ?x <m:owner> ?o } FILTER(CONTAINS(?c, \":a\")) } "
        "ORDER BY ASC(?x) LIMIT 5 OFFSET 1"
    )
    bad = run("SELECT * WHERE { ?x <rel:member> ?c . ?y <m:owner> ?o }")
    agg = run(
        "SELECT ?c (COUNT(*) AS ?n) (SAMPLE(?x) AS ?first_x) "
        "WHERE { ?x <rel:member> ?c } GROUP BY ?c HAVING(?n >= 2)"
    )
    con = run(
        "CONSTRUCT { ?c <ex:contains> ?x } WHERE { ?x <rel:member> ?c . "
        "FILTER NOT EXISTS { ?x <m:owner> ?o } }"
    )
    # DESCRIBE + GRAPH + VALUES in one run: the WHERE clause is scoped
    # to named graph g2 and the inline VALUES row pins ?x, so the
    # description covers exactly p:3's outbound triples
    dsc = run(
        "DESCRIBE ?x WHERE { GRAPH <g2> { ?x <rel:member> ?c "
        "VALUES ?x { <p:3> } } }"
    )
    return {"ok": ok, "bad": bad, "agg": agg, "construct": con, "dsc": dsc}


@scenario
def query_cli_sparql(spark, base: Path) -> dict:
    """SPARQL text through jobs/query.py --sparql, exercising the
    round-5 surface in ONE query: a grouped subquery joined back on
    ?c, a boolean FILTER (|| over the subquery alias), and an OPTIONAL
    with a group-scoped IN filter."""
    rows = [
        ("p:1", "rel:member", "c:a", "g1"), ("p:2", "rel:member", "c:a", "g1"),
        ("p:3", "rel:member", "c:b", "g2"),
        ("p:1", "m:owner", "alice", "g1"), ("p:2", "m:owner", "bob", "g1"),
    ]
    tdir = str(base / "triples")
    spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, graph string"
    ).write.parquet(tdir)
    text = (
        "SELECT ?x ?c ?n ?o WHERE { "
        "?x <rel:member> ?c . "
        "{ SELECT ?c (COUNT(*) AS ?n) WHERE { ?y <rel:member> ?c } "
        "GROUP BY ?c } "
        'OPTIONAL { ?x <m:owner> ?o . FILTER(?o IN ("alice", "carol")) } '
        'FILTER(?n >= 2 || ?c = "c:b") '
        "} ORDER BY ASC(?x)"
    )
    run = _run_job("query.py", [
        "--triples", tdir, "--sparql", text, "--local", "2",
    ])
    return {"run": run}


@scenario
def extract_then_query(spark, base: Path) -> dict:
    """The full product journey: bulk-extract the 7 fixture objects
    (``conftest.fixture_source``: the reference's objects where
    ``/root/reference`` exists, else in-repo stand-ins under the same
    blob keys) with jobs/extract.py, then BGP-query the materialized
    triples table with jobs/query.py."""
    from conftest import fixture_source

    src = str(base / "src")
    fixture_source(spark).write.parquet(src)
    out = str(base / "triples")
    ext = _run_job("extract.py", [
        "--source", src, "--out", out,
        "--skip-empty-literals", "--buckets", "8", "--local", "2",
    ])
    qry = _run_job("query.py", [
        "--triples", out,
        "--sparql",
        "SELECT ?obj WHERE { ?obj "
        "<info:fedora/fedora-system:def/model#hasModel> "
        "<info:fedora/fedora-system:FedoraObject-3.0> }",
        "--limit", "50", "--local", "2",
    ])
    return {"extract": ext, "query": qry, "out": out}


@scenario
def extract_select_paths(spark, base: Path) -> dict:
    """The reference's explicit-URI mode (Extract.java:138-139): extract
    only 2 of the 7 fixture objects via --paths, then a third via
    --paths-file, plus the guard: --paths with --previous must refuse
    (the incremental anti-join would read unselected objects as
    deleted). The fixture objects come from ``conftest.fixture_source``
    (the reference's where ``/root/reference`` exists, else in-repo
    stand-ins under the same blob keys)."""
    from conftest import fixture_source

    src = str(base / "src")
    fixture_source(spark).write.parquet(src)
    out = str(base / "triples")
    sel = _run_job("extract.py", [
        "--source", src, "--out", out,
        "--paths", "info:fedora/ct:85", "info:fedora/si:1020",
        "--skip-empty-literals", "--buckets", "4", "--local", "2",
    ])
    pf = base / "paths.txt"
    pf.write_text("info:fedora/ct:86\n\n")
    out2 = str(base / "triples2")
    sel_file = _run_job("extract.py", [
        "--source", src, "--out", out2, "--paths-file", str(pf),
        "--skip-empty-literals", "--buckets", "4", "--local", "2",
    ])
    refused = _run_job("extract.py", [
        "--source", src, "--out", str(base / "t3"),
        "--paths", "info:fedora/ct:85", "--previous", out,
        "--local", "2",
    ])
    return {"sel": sel, "sel_file": sel_file, "refused": refused,
            "out": out, "out2": out2}


@scenario
def extract_paths_with_checkpoint(spark, base: Path) -> dict:
    """--paths with --checkpoint must refuse: the resumable run marks
    every chunk done, so a later full run on that checkpoint would skip
    everything. --previous with --checkpoint must refuse too: the
    incremental refresh would run and write no checkpoint. A resume
    under another --num-chunks must refuse: its chunk ids differ from
    the manifest's. The guards fire before extraction, so a one-row blob
    table is enough."""
    src = str(base / "src")
    spark.createDataFrame(
        [("r", "info:fedora/x:1", "c", "foxml", "<not-parsed/>")],
        "repo string, path string, commit string, lang string, "
        "content string",
    ).write.parquet(src)
    cp = str(base / "cp")
    refused = _run_job("extract.py", [
        "--source", src, "--out", str(base / "triples"),
        "--paths", "info:fedora/x:1", "--checkpoint", cp, "--local", "2",
    ])
    cp_prev = str(base / "cp_prev")
    refused_prev = _run_job("extract.py", [
        "--source", src, "--out", str(base / "triples_prev"),
        "--previous", str(base / "prev"), "--checkpoint", cp_prev,
        "--local", "2",
    ])
    cp_chunks = str(base / "cp_chunks")
    chunked, rechunked = (
        _run_job("extract.py", [
            "--source", src, "--out", str(base / "triples_chunks"),
            "--checkpoint", cp_chunks, "--num-chunks", n, "--local", "2",
        ])
        for n in ("4", "8")
    )
    return {"refused": refused, "checkpoint": cp,
            "refused_prev": refused_prev, "checkpoint_prev": cp_prev,
            "chunked": chunked, "rechunked": rechunked}


@scenario
def code_kg_end_to_end(spark, base: Path) -> dict:
    """jobs/code_kg.py product journey: fresh resumable run over the
    3-file contract table, resume (must re-run nothing), N-Quads
    export, then a BGP query over the materialized code graph."""
    files = [
        ("r1", "src/util.py", "c1", "py",
         "import os\ndef helper(x):\n    return x\n"),
        ("r1", "src/app.py", "c1", "py",
         "import util\nclass App:\n    pass\n"),
        ("r2", "lib/app.py", "c2", "py", "import util\n"),
    ]
    src = str(base / "files")
    spark.createDataFrame(
        files, "repo string, path string, commit string, lang string, "
               "content string"
    ).write.parquet(src)
    out, cp, nq = str(base / "triples"), str(base / "cp"), str(base / "nq")
    run_args = [
        "--source", src, "--out", out, "--checkpoint", cp,
        "--nquads-out", nq, "--num-chunks", "4", "--local", "2",
        "--calls", "--vendored",
    ]
    fresh = _run_job("code_kg.py", run_args)
    resume = _run_job("code_kg.py", run_args)
    # a resume under another --num-chunks is refused, nothing run
    rechunked = _run_job("code_kg.py", [
        "--source", src, "--out", out, "--checkpoint", cp,
        "--num-chunks", "8", "--local", "2",
    ])
    # --local-dedup on this contract-valid (unique repo/path) table
    # must land the identical triple count with no full-output exchange
    local_dedup = _run_job("code_kg.py", [
        "--source", src, "--out", str(base / "triples_local"),
        "--local", "2", "--calls", "--vendored", "--local-dedup",
    ])
    # ... and must refuse a table holding one (repo, path) twice (two
    # commits of src/app.py), one-shot and resumable alike
    src_dup = str(base / "files_dup")
    spark.createDataFrame(
        files + [("r1", "src/app.py", "c0", "py", "import os\n")],
        "repo string, path string, commit string, lang string, "
        "content string",
    ).write.parquet(src_dup)
    local_dedup_dup = [
        _run_job("code_kg.py", [
            "--source", src_dup, "--out", str(base / f"triples_dup{i}"),
            "--local", "2", "--local-dedup", *extra,
        ])
        for i, extra in enumerate(
            ([], ["--checkpoint", str(base / "cp_dup")])
        )
    ]
    query = _run_job("query.py", [
        "--triples", out,
        "--sparql", "SELECT ?f WHERE { ?f <code:defines> ?s }",
        "--local", "2",
    ])
    # incremental chain: bootstrap a state, then refresh with one NEW
    # file that makes an unchanged importer's edge flip ext: -> src:
    files2 = files + [
        ("r2", "lib/util.py", "c2", "py",
         "import os\ndef helper(x):\n    return x\n"),
    ]
    src2 = str(base / "files2")
    spark.createDataFrame(
        files2, "repo string, path string, commit string, lang string, "
                "content string"
    ).write.parquet(src2)
    st1, st2 = str(base / "state1"), str(base / "state2")
    inc1 = _run_job("code_kg.py", [
        "--source", src, "--out", st1, "--previous", st1, "--local", "2",
    ])
    inc2 = _run_job("code_kg.py", [
        "--source", src2, "--out", st2, "--previous", st1, "--local", "2",
    ])
    return {"fresh": fresh, "resume": resume, "rechunked": rechunked,
            "query": query,
            "local_dedup": local_dedup, "local_dedup_dup": local_dedup_dup,
            "inc1": inc1, "inc2": inc2, "nquads_out": nq, "out": out}


