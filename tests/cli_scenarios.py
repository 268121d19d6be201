"""CLI integration scenarios (jobs/curate.py, jobs/crawl.py), launched
CONCURRENTLY by the session-scoped ``cli_results`` fixture in conftest.

Why: every CLI invocation pays a fresh interpreter + JVM + SparkSession
(~15-25 s on this host even for a 3-document corpus), and the suite had
~21 of them running back to back (~7 min of its wall). The scenarios are
mutually independent — each gets its own directory under the session tmp
root — so they overlap on the farm; only the ordering WITHIN a scenario
(state waves, append-only violations) is sequential, because that
ordering is the thing under test.

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
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

# Global bound on concurrent fresh-JVM subprocesses across the whole
# farm. Without it, 8 overlapped scenarios x up-to-3 chains each meant
# ~16 simultaneous local[4] JVMs (each with a multi-GB driver heap)
# stacked on top of the in-process oracle sweep — the suite's CLI tests
# then died on the 600 s subprocess timeout and the sweep itself ran 9x
# slower than standalone. Five JVMs + the pytest session saturates the
# host without thrashing it.
_JVM_SLOTS = threading.BoundedSemaphore(5)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

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


def run_curate(args: list[str]) -> dict:
    return _run_job("curate.py", args)


def _write_docs(spark, rows, path: Path) -> str:
    """rows: (doc_id, text[, lang, source]) — n_chars derived."""
    full = [
        (r[0], r[1],
         r[2] if len(r) > 2 else "en",
         r[3] if len(r) > 3 else "srcA",
         len(r[1]))
        for r in rows
    ]
    spark.createDataFrame(full, DOC_SCHEMA).write.parquet(str(path))
    return str(path)


def _chains(*chains):
    """Run each chain (a no-arg callable) concurrently; a chain runs its
    own invocations sequentially. Returns the chains' results in order."""
    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futs = [pool.submit(c) for c in chains]
        return [f.result() for f in futs]


# --------------------------------------------------------------------------
# one-shot curate stages


@scenario
def curate_end_to_end(spark, base: Path) -> dict:
    b = ("the quick brown fox jumps over the lazy dog and runs into the "
         "deep green forest to find some quiet rest for the long night "
         "while the moon rises over the hills and the river")
    es = ("el perro corre por la casa de la abuela en el campo "
          "mientras el gato duerme en la silla junto a la puerta grande")
    docs = _write_docs(spark, [
        (0, b), (1, b), (2, b.replace("quiet", "calm")),
        (3, "x", "und", "srcB"), (4, es, "es", "srcB"),
    ], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0.5",
                      "--neardup-threshold", "0.5", "--local", "4"])
    return {"run": res, "out": out}


@scenario
def curate_zero_survivors(spark, base: Path) -> dict:
    docs = _write_docs(spark, [(0, "hello world")], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "99",
                      "--neardup-threshold", "0", "--local", "2"])
    return {"run": res, "out": out}


@scenario
def curate_containment_fragment(spark, base: Path) -> dict:
    words = [f"w{i}" for i in range(60)]
    docs = _write_docs(spark, [
        (0, " ".join(words)),
        (1, " ".join(words[:30])),
        (2, " ".join(f"z{i}" for i in range(40)), "en", "srcB"),
    ], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0",
                      "--neardup-threshold", "0.7",
                      "--containment-threshold", "0.8", "--local", "4"])
    return {"run": res, "out": out}


@scenario
def curate_line_dedup_pii(spark, base: Path) -> dict:
    header = "COOKIE CONSENT BANNER TEXT"
    en = ("the quick brown fox jumps over the lazy dog and runs into the "
          "deep green forest to find some quiet rest for the long night "
          "while the moon rises over the hills write to alice@example.com")
    es = ("el perro corre por la casa de la abuela en el campo mientras "
          "el gato duerme en la silla junto a la puerta grande llama al "
          "555-123-4567 ahora")
    docs = _write_docs(spark, [
        (0, f"{header}\n{en}"),
        (1, f"{header}\n{es}", "es", "srcB"),
        (2, f"{header}\nshort", "und", "srcB"),
    ], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0.5",
                      "--neardup-threshold", "0.5", "--local", "4",
                      "--dedup-lines-min-docs", "2", "--pii-redact"])
    return {"run": res, "out": out}


@scenario
def curate_substring_stage(spark, base: Path) -> dict:
    span = " ".join(f"s{i}" for i in range(10))
    docs = _write_docs(spark, [
        (0, f"aaa bbb {span} ccc"),
        (1, f"ddd eee {span} fff"),
        (2, span, "en", "srcB"),
    ], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0",
                      "--neardup-threshold", "0",
                      "--dedup-substrings-k", "10", "--local", "4"])
    return {"run": res, "out": out}


@scenario
def curate_vocab_file(spark, base: Path) -> dict:
    base.mkdir(parents=True, exist_ok=True)
    vocab_path = base / "vocab.txt"
    vocab_path.write_text("foo\nfoob\nba\nr\n")
    docs = _write_docs(spark, [(0, "foobar foobar")], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0",
                      "--neardup-threshold", "0",
                      "--vocab-file", str(vocab_path), "--local", "2"])
    return {"run": res, "out": out}


@scenario
def curate_cc_algorithm_choice(spark, base: Path) -> dict:
    words = [f"w{i}" for i in range(40)]
    docs = _write_docs(spark, [
        (0, " ".join(words), "en", "s"),
        (1, " ".join(words[:39] + ["CHANGED"]), "en", "s"),
        (2, " ".join(f"z{i}" for i in range(40)), "en", "s"),
    ], base / "docs")

    def arm(extra):
        out = str(base / ("curated-" + ("-".join(extra) or "auto")))
        res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0",
                          "--neardup-threshold", "0.7", "--local", "2"]
                         + extra)
        return {"run": res, "out": out}

    auto, star = _chains(lambda: arm([]),
                         lambda: arm(["--cc-algorithm", "star"]))
    return {"auto": auto, "star": star}


@scenario
def curate_substring_rejected_with_state(spark, base: Path) -> dict:
    return {"run": run_curate(
        ["--docs", "/nonexistent", "--out", str(base / "o"),
         "--state", str(base / "s"), "--dedup-substrings-k", "10",
         "--local", "2"])}


# --------------------------------------------------------------------------
# incremental-wave scenarios (ordering within each chain is the contract)


@scenario
def curate_incremental_waves(spark, base: Path) -> dict:
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full, w1, w2 = (str(base / n) for n in ("full", "w1", "w2"))
    docs.write.parquet(full)
    docs.filter("doc_id < 400").write.parquet(w1)
    docs.filter("doc_id >= 400").write.parquet(w2)
    state = str(base / "state")
    common = ["--quality-min", "0.3", "--neardup-threshold", "0.5",
              "--local", "4"]
    outs = {n: str(base / f"out_{n}") for n in
            ("full", "w1", "w2", "bad", "bad2")}

    def oneshot():
        return run_curate(["--docs", full, "--out", outs["full"]] + common)

    def waves():
        r1 = run_curate(["--docs", w1, "--state", state,
                         "--out", outs["w1"]] + common)
        r2 = run_curate(["--docs", w2, "--state", state,
                         "--out", outs["w2"]] + common)
        # append-only violation: re-sending wave-1 ids must be refused
        bad = run_curate(["--docs", w1, "--state", state,
                          "--out", outs["bad"]] + common)
        # line dedup is incompatible with incremental state
        bad2 = run_curate(["--docs", w2, "--state", state,
                           "--out", outs["bad2"],
                           "--dedup-lines-min-docs", "2"] + common)
        return r1, r2, bad, bad2

    full_res, (r1, r2, bad, bad2) = _chains(oneshot, waves)
    return {"full": full_res, "w1": r1, "w2": r2, "bad": bad, "bad2": bad2,
            "outs": outs}


@scenario
def curate_substring_compaction(spark, base: Path) -> dict:
    """Wave users get the substring pass at EXPORT time: waves refuse
    --dedup-substrings-k (with a pointer to the compaction path), and
    `--compact-substrings` over the accumulated wave output must equal
    a one-shot run with --dedup-substrings-k (filters neutralized so
    both paths see the same docs)."""
    span = "alpha beta gamma delta epsilon zeta eta theta"
    tail1 = " ".join(f"a{i}" for i in range(10))
    tail2 = " ".join(f"b{i}" for i in range(10))
    tail3 = " ".join(f"c{i}" for i in range(18))
    rows = [(0, f"{span} {tail1}"), (1, f"{tail2} {span}"), (2, tail3)]
    full = _write_docs(spark, rows, base / "full")
    w1 = _write_docs(spark, rows[:2], base / "w1")
    w2 = _write_docs(spark, rows[2:], base / "w2")
    state = str(base / "state")
    common = ["--quality-min", "0", "--neardup-threshold", "0",
              "--local", "2"]
    out_full = str(base / "out_full")
    out_w1, out_w2 = str(base / "out_w1"), str(base / "out_w2")
    out_comp = str(base / "out_comp")

    def oneshot():
        return run_curate(["--docs", full, "--out", out_full,
                           "--dedup-substrings-k", "8"] + common)

    def waves():
        r1 = run_curate(["--docs", w1, "--state", state,
                         "--out", out_w1] + common)
        refused = run_curate(["--docs", w2, "--state", state,
                              "--out", str(base / "bad"),
                              "--dedup-substrings-k", "8"] + common)
        r2 = run_curate(["--docs", w2, "--state", state,
                         "--out", out_w2] + common)
        # a wave's --out IS the accumulated curated corpus so far
        # (pinned by test_curate_incremental_waves_match_one_shot), so
        # compaction reads the last wave's output directly
        comp = run_curate(["--compact-substrings", "--docs", out_w2,
                           "--dedup-substrings-k", "8",
                           "--out", out_comp, "--local", "2"])
        return r1, refused, r2, comp

    full_res, (r1, refused, r2, comp) = _chains(oneshot, waves)
    return {"full": full_res, "w1": r1, "refused": refused, "w2": r2,
            "comp": comp, "out_full": out_full, "out_comp": out_comp}


@scenario
def curate_containment_waves(spark, base: Path) -> dict:
    words = [f"w{i}" for i in range(60)]
    new_long = " ".join(f"u{i}" for i in range(40))
    w1_rows = [
        (0, " ".join(words)),                   # host
        (1, " ".join(words[:30])),              # old-old fragment of 0
        (2, " ".join(f"z{i}" for i in range(40))),
    ]
    w2_rows = [
        (10, " ".join(words[30:])),             # new-old fragment of 0
        (11, new_long),                         # new host
        (12, " ".join(new_long.split()[:20])),  # new-new fragment of 11
        (13, "totally unrelated words appearing here just once"),
    ]
    _write_docs(spark, w1_rows, base / "w1")
    _write_docs(spark, w2_rows, base / "w2")
    _write_docs(spark, w1_rows + w2_rows, base / "full")
    cflags = ["--quality-min", "0", "--neardup-threshold", "0.7",
              "--containment-threshold", "0.8", "--local", "4"]
    plain = ["--quality-min", "0", "--neardup-threshold", "0.7",
             "--local", "4"]
    state, state2 = str(base / "state"), str(base / "state2")
    outs = {n: str(base / f"out_{n}") for n in ("full", "w1", "w2")}

    def oneshot():
        return run_curate(["--docs", str(base / "full"),
                           "--out", outs["full"]] + cflags)

    def waves():
        r1 = run_curate(["--docs", str(base / "w1"), "--state", state,
                         "--out", outs["w1"]] + cflags)
        r2 = run_curate(["--docs", str(base / "w2"), "--state", state,
                         "--out", outs["w2"]] + cflags)
        return r1, r2

    def midstream():
        # state built WITHOUT the flag has no cindex; enabling it on the
        # next wave must be refused
        r1 = run_curate(["--docs", str(base / "w1"), "--state", state2,
                         "--out", str(base / "o1")] + plain)
        r2 = run_curate(["--docs", str(base / "w2"), "--state", state2,
                         "--out", str(base / "o2")] + cflags)
        return r1, r2

    full_res, (r1, r2), (m1, m2) = _chains(oneshot, waves, midstream)
    return {"full": full_res, "w1": r1, "w2": r2,
            "mid_w1": m1, "mid_w2": m2, "outs": outs}


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
def curate_code_filter(spark, base: Path) -> dict:
    """--code-filter: a doc that passes the quality filter but carries a
    >1000-char single line is dropped; an autogen-marked doc is dropped;
    a well-shaped multi-line doc survives. Run with and without the flag
    so the test can pin exactly what the stage removed."""
    lines = ("the quick brown fox jumps over the lazy dog and runs into "
             "the deep green forest to find some rest")
    good = "\n".join([lines] * 4)                      # 4 short lines
    longline = " ".join([lines] * 12)                  # 1 line, ~1300 chars
    autogen = "# auto-generated file do not edit\n" + good
    docs = _write_docs(spark, [(0, good), (1, longline), (2, autogen)],
                       base / "docs")
    with_flag = run_curate(["--docs", docs, "--out", str(base / "out_f"),
                            "--quality-min", "0.3", "--neardup-threshold",
                            "0", "--code-filter", "--local", "4"])
    without = run_curate(["--docs", docs, "--out", str(base / "out_n"),
                          "--quality-min", "0.3", "--neardup-threshold",
                          "0", "--local", "4"])
    return {"with": with_flag, "without": without}


@scenario
def curate_delta_against(spark, base: Path) -> dict:
    """CDC input mode: curate only what changed vs a previous snapshot."""
    t = ("the quick brown fox jumps over the lazy dog and runs into the "
         "deep green forest to find some quiet rest for the long night")
    old = _write_docs(spark, [
        (0, t), (1, t + " one"), (2, t + " two"), (3, t + " three"),
    ], base / "old")
    new = _write_docs(spark, [
        (0, t),                       # unchanged
        (1, t + " one"),              # unchanged
        (2, t + " two edited now"),   # changed
        (4, t + " four brand new"),   # added (3 removed)
    ], base / "new")
    out = str(base / "curated")
    res = run_curate(["--docs", new, "--delta-against", old, "--out", out,
                      "--quality-min", "0", "--neardup-threshold", "0",
                      "--local", "2"])
    return {"run": res, "out": out}


@scenario
def curate_license_filter(spark, base: Path) -> dict:
    """--license-filter keeps permissive docs, drops GPL and unlicensed."""
    pad = ("the quick brown fox jumps over the lazy dog and runs far "
           "into the deep green forest to find some quiet rest tonight")
    docs = _write_docs(spark, [
        (0, "// SPDX-License-Identifier: MIT\n" + pad),
        (1, "licensed under the apache license, version 2.0\n" + pad),
        (2, "gnu general public license applies here\n" + pad),
        (3, pad),
    ], base / "docs")
    out = str(base / "curated")
    res = run_curate(["--docs", docs, "--out", out, "--quality-min", "0",
                      "--neardup-threshold", "0", "--license-filter",
                      "--local", "2"])
    return {"run": res, "out": out}


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
    """The full product journey: bulk-extract the reference's 7 fixture
    objects with jobs/extract.py, then BGP-query the materialized
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
    deleted)."""
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


@scenario
def curate_chunk_out(spark, base: Path) -> dict:
    """--chunk-out writes overlapping token-window chunks of the CURATED
    corpus as a side output; refused in wave mode."""
    pad = " ".join(f"w{i}" for i in range(10))
    docs = _write_docs(spark, [(0, pad), (1, "short doc")], base / "docs")
    out = str(base / "curated")
    chunks = str(base / "chunks")
    run = run_curate([
        "--docs", docs, "--out", out, "--quality-min", "0",
        "--neardup-threshold", "0",
        "--chunk-out", chunks, "--chunk-window", "6", "--chunk-stride", "4",
        "--local", "2",
    ])
    refused = run_curate([
        "--docs", docs, "--out", str(base / "c2"),
        "--state", str(base / "state"), "--chunk-out", str(base / "ch2"),
        "--local", "2",
    ])
    return {"run": run, "chunks": chunks, "refused": refused}
