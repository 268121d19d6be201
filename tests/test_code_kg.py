"""End-to-end code-KG pipeline tests (plans/code_pipeline.py +
jobs/code_kg.py): exact triple semantics on a hand-built corpus, the
plan properties that make it scale (no Python stages, hash equi-join
for entity linking, content read exactly twice), and the resumable-wave
≡ one-shot equivalence the chunked checkpoint machinery promises.
"""

from __future__ import annotations

import hashlib
import json
import pathlib

import pytest
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.operators.dedup import TRIPLE_KEY, dedup_exact
from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
    CodeKgConfig,
    code_kg_plan,
)

FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"

UTIL_PY = "import os\ndef helper(x):\n    return x\n"
APP_PY = "import util\nclass App:\n    pass\n"


def _files(spark):
    return spark.createDataFrame(
        [
            ("r1", "src/util.py", "c1", "py", UTIL_PY),
            ("r1", "src/app.py", "c1", "py", APP_PY),
            # same import in r2 has no local util module -> ext: edge
            ("r2", "lib/app.py", "c2", "py", "import util\n"),
        ],
        FILES_SCHEMA,
    )


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _quads(df) -> set[tuple]:
    return {
        (r.subj, r.pred, r.obj_value, r.obj_is_literal)
        for r in df.select("subj", "pred", "obj_value", "obj_is_literal").collect()
    }


def test_code_kg_plan_exact_triples(spark):
    """Every triple family on a 3-file corpus, checked as an exact set:
    constants (incl. the sha256 lineage triple), definition symbol
    nodes, raw import literals, and dependsOn edges resolved to the
    defining file (or ext: when the repo defines no such module)."""
    got = _quads(code_kg_plan(_files(spark)))
    f_util, f_app, f_r2 = (
        "src:r1/src/util.py",
        "src:r1/src/app.py",
        "src:r2/lib/app.py",
    )
    s_helper = "sym:r1/src/util.py#helper"
    s_app = "sym:r1/src/app.py#App"
    expected = {
        # constants: r1/src/util.py
        (f_util, "code:repo", "r1", True),
        (f_util, "code:path", "src/util.py", True),
        (f_util, "code:commit", "c1", True),
        (f_util, "code:lang", "py", True),
        (f_util, "code:sha256", _sha(UTIL_PY), True),
        # constants: r1/src/app.py
        (f_app, "code:repo", "r1", True),
        (f_app, "code:path", "src/app.py", True),
        (f_app, "code:commit", "c1", True),
        (f_app, "code:lang", "py", True),
        (f_app, "code:sha256", _sha(APP_PY), True),
        # constants: r2/lib/app.py
        (f_r2, "code:repo", "r2", True),
        (f_r2, "code:path", "lib/app.py", True),
        (f_r2, "code:commit", "c2", True),
        (f_r2, "code:lang", "py", True),
        (f_r2, "code:sha256", _sha("import util\n"), True),
        # definitions: symbol nodes with name/kind literals
        (f_util, "code:defines", s_helper, False),
        (s_helper, "code:name", "helper", True),
        (s_helper, "code:kind", "py_def", True),
        (f_app, "code:defines", s_app, False),
        (s_app, "code:name", "App", True),
        (s_app, "code:kind", "py_class", True),
        # imports: raw literal + entity-linked dependsOn
        (f_util, "code:imports", "os", True),
        (f_util, "code:dependsOn", "ext:os", False),
        (f_app, "code:imports", "util", True),
        (f_app, "code:dependsOn", "src:r1/src/util.py", False),
        (f_r2, "code:imports", "util", True),
        (f_r2, "code:dependsOn", "ext:util", False),
    }
    assert got == expected


def test_code_kg_lineage_and_graph_columns(spark):
    """Every output row carries the quad graph tag and the lineage
    columns (repo, path, commit, content_sha256) of the file that
    asserted it — the checkpoint manifest's fingerprint basis."""
    out = code_kg_plan(_files(spark), CodeKgConfig(graph="#g"))
    rows = out.filter(F.col("subj") == "src:r1/src/app.py").collect()
    assert rows and all(
        r.graph == "#g"
        and r.repo == "r1"
        and r.path == "src/app.py"
        and r.commit == "c1"
        and r.content_sha256 == _sha(APP_PY)
        for r in rows
    )


def test_code_kg_annotations_vendored_license_clonekey(spark):
    """Flag-gated annotation triples: code:vendored over the cross-repo
    content-hash spread, code:cloneKey equal for type-2 clones (same
    code modulo identifiers/comments), code:license detected from a
    header. Vendored spread uses the corpus, so two repos sharing bytes
    both flag true while unique files flag false."""
    shared = "# Permission is hereby granted\ndef f(a):\n    return a + 1\n"
    clone = "# Apache License, Version 2.0\ndef g(b):\n    return b + 2\n"
    files = spark.createDataFrame(
        [
            ("r1", "vendor/x.py", "c1", "py", shared),
            ("r2", "third_party/x.py", "c1", "py", shared),
            ("r3", "src/y.py", "c1", "py", clone),
        ],
        FILES_SCHEMA,
    )
    cfg = CodeKgConfig(vendored=True, license=True, clone_keys=True)
    out = code_kg_plan(files, cfg)
    by_pred = {
        (r.subj, r.pred): r.obj_value
        for r in out.filter(
            F.col("pred").isin(
                "code:vendored", "code:license", "code:cloneKey"
            )
        ).collect()
    }
    assert by_pred[("src:r1/vendor/x.py", "code:vendored")] == "true"
    assert by_pred[("src:r2/third_party/x.py", "code:vendored")] == "true"
    assert by_pred[("src:r3/src/y.py", "code:vendored")] == "false"
    assert by_pred[("src:r1/vendor/x.py", "code:license")] == "MIT"
    assert by_pred[("src:r3/src/y.py", "code:license")] == "Apache-2.0"
    # type-2 clones: identical after identifier/literal/comment abstraction
    assert (
        by_pred[("src:r1/vendor/x.py", "code:cloneKey")]
        == by_pred[("src:r3/src/y.py", "code:cloneKey")]
    )
    # vendored triples are typed xsd:boolean
    dt = (
        out.filter(F.col("pred") == "code:vendored")
        .select("obj_datatype")
        .distinct()
        .collect()
    )
    assert [r.obj_datatype for r in dt] == [
        "http://www.w3.org/2001/XMLSchema#boolean"
    ]


def test_code_kg_plan_shape(spark, tmp_path):
    """Scale pins: zero Python stages anywhere; entity linking is a hash
    equi-join (never BroadcastNestedLoopJoin); content is read off disk
    by exactly ONE scan — the fused code_kg_state projection feeding
    the persisted state — and every assembly branch (quads, module
    registry, dependsOn link) reads the content-free cache instead of
    re-scanning parquet."""
    src = str(tmp_path / "files")
    _files(spark).write.parquet(src)
    plan_df = code_kg_plan(spark.read.parquet(src))
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    with_content = [l for l in read_schemas if "content" in l]
    without = [l for l in read_schemas if "content" not in l]
    assert len(with_content) == 1, read_schemas  # the fused state scan
    assert len(without) == 0, read_schemas  # everything else reads cache
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan


def test_call_graph_edges_semantics(spark):
    """Call-site linking rules: definition headers net out (defining is
    not calling), recursive calls survive the netting, attribute-
    qualified and keyword-guarded mentions are excluded, unresolved
    callees emit nothing, and the registry winner is the deterministic
    min path with the ambiguity count exposed."""
    from fcrepo3_rdf_extractor_spark.operators.code import call_graph_edges

    files = spark.createDataFrame(
        [
            ("r1", "a.py", "def helper(x):\n    return x\n"),
            ("r1", "b.py", "y = helper(1)\nhelper(2)\nz.helper(9)\nif (y):\n    pass\n"),
            ("r1", "c.py", "def helper(q):\n    return helper(q - 1)\n"),
            ("r2", "d.py", "helper(3)\n"),
        ],
        "repo string, path string, content string",
    )
    got = {
        (r.subj, r.obj_value): (r.n_calls, r.n_candidates)
        for r in call_graph_edges(files).collect()
    }
    assert got == {
        # b.py: two plain calls; z.helper( and if ( excluded
        ("src:r1/b.py", "sym:r1/a.py#helper"): (2, 2),
        # c.py: def header (1 mention - 1 def) + recursive call = 1
        ("src:r1/c.py", "sym:r1/a.py#helper"): (1, 2),
        # a.py nets to 0; r2 has no definition of helper
    }
    # ambiguity bound: helper is defined in 2 files, max_def=1 drops it
    assert call_graph_edges(files, max_def=1).count() == 0
    # plan stays JVM-side and the link is a hash equi-join
    plan_df = call_graph_edges(files)
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resolve_import_edges_deep_semantics(spark):
    """Two-level resolution order: `import pkg.mod` binds to
    **/pkg/mod.py via the (parent).(basename) key (depth 2); a bare
    `import mod` still binds via the basename rule (depth 1); a dotted
    module with neither key goes ext: (depth 0); path-shaped includes
    use only the basename rule."""
    from fcrepo3_rdf_extractor_spark.operators.code import (
        resolve_import_edges_deep,
    )

    files = spark.createDataFrame(
        [
            ("r1", "src/pkg/mod.py", "def f(x):\n    return x\n"),
            ("r1", "lib/other.py", "# empty\n"),
            (
                "r1",
                "app.py",
                "import pkg.mod\nimport mod\nimport pkg.other\n"
                "import missing\n",
            ),
            ("r1", "main.c", '#include "deep/other.h"\n'),
        ],
        "repo string, path string, content string",
    )
    got = sorted(
        (r.subj, r.obj_value, r.resolved, r.depth)
        for r in resolve_import_edges_deep(files).collect()
    )
    assert got == sorted(
        [
            ("src:r1/app.py", "src:r1/src/pkg/mod.py", True, 2),
            # `import mod` has no two-level key; basename 'mod' wins
            ("src:r1/app.py", "src:r1/src/pkg/mod.py", True, 1),
            ("src:r1/app.py", "ext:pkg.other", False, 0),
            ("src:r1/app.py", "ext:missing", False, 0),
            # include resolves by basename only (pathish kind)
            ("src:r1/main.c", "src:r1/lib/other.py", True, 1),
        ]
    )
    # the pipeline flag routes dependsOn through the same machinery:
    # shallow leaves `import pkg.mod` external, deep binds it
    deep_files = spark.createDataFrame(
        [
            ("r1", "src/pkg/mod.py", "c1", "py", "def f(x):\n    return x\n"),
            ("r1", "app.py", "c1", "py", "import pkg.mod\n"),
        ],
        FILES_SCHEMA,
    )

    def _deps(cfg):
        return {
            r.obj_value
            for r in code_kg_plan(deep_files, cfg)
            .filter(F.col("pred") == "code:dependsOn")
            .collect()
        }

    assert "ext:pkg.mod" in _deps(CodeKgConfig())
    assert "src:r1/src/pkg/mod.py" in _deps(
        CodeKgConfig(deep_resolve=True)
    )
    """Exact-content entity linking end-to-end: vendored copies alias
    to the lexicographic-min holder, and canonicalize() rewrites the
    code KG through the broadcast dictionary — the copy's node and
    every dependsOn edge pointing at it collapse onto the canonical
    file; literals are untouched."""
    from fcrepo3_rdf_extractor_spark.operators.canonicalize import (
        canonicalize,
    )
    from fcrepo3_rdf_extractor_spark.operators.code import (
        content_alias_table,
    )

    vend = "def dep_fn(x):\n    return x\n"
    files = spark.createDataFrame(
        [
            ("r1", "vendor/dep.py", "c1", "py", vend),
            ("r2", "lib/dep.py", "c1", "py", vend),
            ("r2", "app.py", "c1", "py", "import dep\n"),
        ],
        FILES_SCHEMA,
    )
    aliases = content_alias_table(files)
    assert [tuple(r) for r in aliases.collect()] == [
        ("src:r2/lib/dep.py", "src:r1/vendor/dep.py")
    ]
    canon = canonicalize(code_kg_plan(files), aliases)
    # the copy's node is gone from every URI position
    assert (
        canon.filter(
            (F.col("subj") == "src:r2/lib/dep.py")
            | (
                (F.col("obj_value") == "src:r2/lib/dep.py")
                & ~F.col("obj_is_literal")
            )
        ).count()
        == 0
    )
    # app.py's resolved dependsOn edge lands on the canonical node
    dep = canon.filter(
        (F.col("subj") == "src:r2/app.py")
        & (F.col("pred") == "code:dependsOn")
    ).collect()
    assert [r.obj_value for r in dep] == ["src:r1/vendor/dep.py"]
    # literals (e.g. the copy's code:path value) are never rewritten
    assert (
        canon.filter(
            (F.col("subj") == "src:r1/vendor/dep.py")
            & (F.col("pred") == "code:path")
        ).count()
        == 2  # both the canonical file's and the collapsed copy's path
    )


def test_latest_snapshot_and_profile_plan_shape(spark, tmp_path):
    """latest_snapshot is ONE partially-aggregated exchange (map-side
    combine on the struct max — no window, no sort of the whole
    history); repo_profile stays JVM-side with hash joins only."""
    from fcrepo3_rdf_extractor_spark.operators.code import (
        latest_snapshot,
        repo_profile,
    )

    src = str(tmp_path / "files")
    _files(spark).write.parquet(src)
    files = spark.read.parquet(src)

    def _plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    snap = _plan(latest_snapshot(files))
    assert snap.count("+- Exchange") == 1, snap  # one shuffle in the tree
    assert "partial_max" in snap, snap  # map-side combine before it
    assert "Window" not in snap and "EvalPython" not in snap
    prof = _plan(repo_profile(files))
    assert "EvalPython" not in prof
    assert "BroadcastNestedLoopJoin" not in prof


def test_code_kg_wave_equals_oneshot(spark, tmp_path):
    """run_resumable with the code-KG plan_fn over 4 chunks / 2 waves,
    resolving against the FULL corpus, must equal the one-shot plan's
    output after export-layer global dedup — including dependsOn edges
    whose defining file lands in a different wave than the importer."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import (
        ExtractConfig,
        run_resumable,
    )

    rows = [
        (
            "r%d" % (i % 3),
            "src/m%d.py" % i,
            "c%d" % (i % 2),
            "py",
            # calls f<(i+3)%12>, defined by file i+3 — same repo
            # ((i+3)%3 == i%3) but often a different WAVE, so the
            # corpus-wide callee registry is what makes it resolve
            "import m%d\ndef f%d(x):\n    return f%d(x)\n"
            % ((i + 1) % 12, i, (i + 3) % 12),
        )
        for i in range(12)
    ]
    files = spark.createDataFrame(rows, FILES_SCHEMA)
    cfg = CodeKgConfig(vendored=True, calls=True)
    one_shot = code_kg_plan(files, cfg, corpus=files)

    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    chunk_cfg = ExtractConfig(num_chunks=4, chunks_per_wave=2)
    stats = run_resumable(
        files,
        out_dir,
        cp_dir,
        chunk_cfg,
        plan_fn=lambda wave: code_kg_plan(wave, cfg, corpus=files),
    )
    assert stats["chunks_run"] == 4 and stats["waves"] == 2
    # every file's call edge resolved (the corpus registry covers
    # symbols defined in the other wave)
    assert (
        one_shot.filter(F.col("pred") == "code:calls").count() == 12
    )
    stored = dedup_exact(
        spark.read.parquet(out_dir).drop("chunk_id"), key=TRIPLE_KEY
    )
    cols = [c for c in one_shot.columns]
    assert {tuple(r) for r in stored.select(*cols).collect()} == {
        tuple(r) for r in one_shot.collect()
    }
    # resume is a no-op
    stats2 = run_resumable(
        files,
        out_dir,
        cp_dir,
        chunk_cfg,
        plan_fn=lambda wave: code_kg_plan(wave, cfg, corpus=files),
    )
    assert stats2["chunks_run"] == 0 and stats2["chunks_done_before"] == 4


def test_code_kg_null_content_row_survives(spark):
    """A NULL-content row (csv/json sources produce these) must NOT
    vanish: it keeps its constant triples (sha of ''), matches no
    patterns, and its identity is stable so incremental refresh never
    re-classifies it as changed."""
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        code_kg_incremental,
        code_kg_state,
    )

    files = spark.createDataFrame(
        [("r1", "empty.py", "c1", "py", None)], FILES_SCHEMA
    )
    got = _quads(code_kg_plan(files))
    f = "src:r1/empty.py"
    assert got == {
        (f, "code:repo", "r1", True),
        (f, "code:path", "empty.py", True),
        (f, "code:commit", "c1", True),
        (f, "code:lang", "py", True),
        (f, "code:sha256", _sha(""), True),
    }
    plan = code_kg_incremental(files, code_kg_state(files, CodeKgConfig()))
    assert plan.changed.count() == 0


def test_code_kg_from_state_equals_plan(spark):
    """The state/assembly decomposition can never drift from the
    one-shot plan: code_kg_from_state(code_kg_state(files), ids(files))
    is row-identical to code_kg_plan(files) at the full configuration,
    with and without output dedup."""
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        code_kg_from_state,
        code_kg_state,
    )

    files = spark.createDataFrame(
        [
            ("r1", "src/util.py", "c1", "py", UTIL_PY),
            ("r1", "src/app.py", "c1", "py", APP_PY),
            ("r2", "lib/app.py", "c2", "py", "import util\nhelper(1)\n"),
            ("r2", "lib/util.py", "c2", "py", UTIL_PY),  # vendored copy
        ],
        FILES_SCHEMA,
    )
    ids = files.select(
        "repo",
        "path",
        "commit",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    for dedup, deep in (
        (True, False), (False, False), (True, True),
        ("local", False), ("local", True),
    ):
        cfg = CodeKgConfig(
            calls=True, vendored=True, license=True, clone_keys=True,
            dedup=dedup, deep_resolve=deep,
        )
        assembled = code_kg_from_state(
            code_kg_state(files, cfg), ids, cfg
        )
        plan = code_kg_plan(files, cfg)
        assert sorted(map(tuple, assembled.collect())) == sorted(
            map(tuple, plan.collect())
        ), f"dedup={dedup} deep={deep}"


def test_code_kg_local_dedup_equals_global(spark):
    """dedup='local' (distinct-by-construction, no full-output
    exchange) must emit the exact set dedup=True produces, on a corpus
    PLANTING every duplicate class: repeated identical imports,
    `import foo` + `from foo import x` (distinct state rows, identical
    quads), `class Foo` + `def Foo(` (same sym URI from two def kinds),
    a repeated def header, and a multi-kind dependsOn collision
    resolving to one target. Also pins the plan property that pays for
    the mode: the local plan carries exactly the two subset aggregates
    (imports quads + dependsOn) where global carries one
    aggregate over the FULL output — and the planted corpus proves the
    subsets are the only families that needed one."""
    dup_py = (
        "import util\n"
        "import util\n"           # identical line: row-local repeat
        "from util import helper\n"  # same module, different kind
        "class Foo:\n    pass\n"
        "def Foo(x):\n    return x\n"  # same sym as the class
        "def bar(y):\n    return y\n"
        "def bar(y):\n    return y\n"  # repeated def header
        "Foo(1)\nbar(2)\n"
    )
    files = spark.createDataFrame(
        [
            ("r1", "dup.py", "c1", "py", dup_py),
            ("r1", "util.py", "c1", "py", "def helper(v):\n    return v\n"),
        ],
        FILES_SCHEMA,
    )
    cfg_local = CodeKgConfig(calls=True, vendored=True, dedup="local")
    cfg_global = CodeKgConfig(calls=True, vendored=True, dedup=True)
    local = code_kg_plan(files, cfg_local)
    glob = code_kg_plan(files, cfg_global)
    lrows = sorted(map(tuple, local.collect()))
    grows = sorted(map(tuple, glob.collect()))
    assert lrows == grows
    # the planted corpus really exercised the dup classes: bag mode
    # (dedup=False, no array_distinct) has strictly more rows
    bag = code_kg_plan(
        files, CodeKgConfig(calls=True, vendored=True, dedup=False)
    )
    assert bag.count() > len(lrows)
    # plan shape: local never aggregates the full output — its final
    # operator is the union, not a dedup aggregate; global's is the
    # TRIPLE_KEY aggregate
    def top_op(df):
        # first structural operator above the union/aggregate layer
        # (skipping the output-projection wrappers)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return next(
            l for l in plan.splitlines()
            if any(k in l for k in ("Aggregate", "Union", "Join"))
        )

    assert "Union" in top_op(local), top_op(local)   # no full-output agg
    assert "Aggregate" in top_op(glob), top_op(glob)  # the global dedup
    # and local still collapses the import-family duplicates: exactly
    # one imports quad and one dependsOn edge for module 'util'
    imp = [r for r in lrows if r[2] == "code:imports"
           and r[1] == "src:r1/dup.py"]
    dep = [r for r in lrows if r[2] == "code:dependsOn"
           and r[1] == "src:r1/dup.py"]
    assert len(imp) == 1 and len(dep) == 1, (imp, dep)


def test_code_kg_incremental_refresh(spark):
    """Incremental refresh: unchanged files never re-scan content, yet
    corpus-dependent edges stay correct — adding a file that defines a
    previously-external module flips the UNCHANGED importer's
    dependsOn edge from ext: to src:, and the whole refreshed output
    equals a one-shot run over the new corpus."""
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        code_kg_incremental,
        code_kg_plan,
        code_kg_state,
    )

    cfg = CodeKgConfig(calls=True, vendored=True)
    v1 = spark.createDataFrame(
        [
            ("r1", "app.py", "c1", "py", "import dep\ndef run(x):\n    return x\n"),
            ("r1", "old.py", "c1", "py", "def gone(x):\n    return x\n"),
        ],
        FILES_SCHEMA,
    )
    state1 = code_kg_state(v1, cfg)
    # v1's importer is unresolved
    out1 = code_kg_plan(v1, cfg)
    assert out1.filter(
        (F.col("pred") == "code:dependsOn")
        & (F.col("obj_value") == "ext:dep")
    ).count() == 1
    # v2: app.py unchanged; old.py deleted; dep.py NEW (defines module dep)
    v2 = spark.createDataFrame(
        [
            ("r1", "app.py", "c1", "py", "import dep\ndef run(x):\n    return x\n"),
            ("r1", "dep.py", "c1", "py", "def helper(x):\n    return x\n"),
        ],
        FILES_SCHEMA,
    )
    plan = code_kg_incremental(v2, state1, cfg)
    assert plan.changed.count() == 1  # only dep.py scans content
    assert plan.reused.filter(F.col("path") == "old.py").count() == 0
    got = sorted(map(tuple, plan.output.collect()))
    want = sorted(map(tuple, code_kg_plan(v2, cfg).collect()))
    assert got == want
    # the unchanged importer's edge flipped without re-scanning app.py
    flipped = plan.output.filter(
        (F.col("subj") == "src:r1/app.py")
        & (F.col("pred") == "code:dependsOn")
    ).collect()
    assert [r.obj_value for r in flipped] == ["src:r1/dep.py"]
    # chain: the refreshed state is a valid --previous for the next wave
    plan2 = code_kg_incremental(v2, plan.state, cfg)
    assert plan2.changed.count() == 0
    assert sorted(map(tuple, plan2.output.collect())) == want


def test_code_kg_cli_end_to_end(spark, cli_results):
    """jobs/code_kg.py product journey (scenario: code_kg_end_to_end):
    fresh resumable run -> summary counts; resume -> zero chunks run,
    same global counts; N-Quads export lands; the materialized table is
    immediately queryable by jobs/query.py's BGP runner."""
    from tests.conftest import cli_art

    art = cli_art(cli_results, "code_kg_end_to_end")
    fresh, resume, query = art["fresh"], art["resume"], art["query"]
    assert fresh["rc"] == 0, fresh["stderr"][-2000:]
    s1 = fresh["summary"]
    assert s1["n_files"] == 3 and s1["n_defines"] == 2
    assert s1["n_imports"] == 3 and s1["n_depends"] == 3
    assert s1["resolved_frac"] == pytest.approx(1 / 3)
    # --calls on a corpus whose only mentions are definition headers
    # nets to zero; --vendored adds one false flag per (unique) file
    assert s1["n_calls"] == 0
    assert resume["rc"] == 0
    s2 = resume["summary"]
    assert s2["chunks_run"] == 0 and s2["n_triples"] == s1["n_triples"]
    rechunked = art["rechunked"]
    assert rechunked["rc"] == 2, rechunked["stderr"][-2000:]
    assert ("written with num_chunks=4 but this run has num_chunks=8"
            in rechunked["stderr"])
    ld = art["local_dedup"]
    assert ld["rc"] == 0, ld["stderr"][-2000:]
    # distinct-by-construction mode ≡ global dedup on the contract-
    # valid (unique repo/path) table — same triple count end-to-end
    assert ld["summary"]["n_triples"] == s1["n_triples"]
    # a repeated (repo, path) breaks that contract: refused loudly on
    # the one-shot and the resumable path, nothing written
    for run in art["local_dedup_dup"]:
        assert run["rc"] == 2, run["stderr"][-2000:]
        assert "--local-dedup requires unique (repo, path)" in run["stderr"]
        assert "(r1, src/app.py) occurs 2 times" in run["stderr"]
    nq = pathlib.Path(art["nquads_out"])
    lines = [
        l
        for p in nq.glob("part-*")
        for l in p.read_text().splitlines()
        if l.strip()
    ]
    assert len(lines) == s1["n_triples"]
    # incremental chain: bootstrap scans all 3 files; the refresh scans
    # only the one new file, and the unchanged importer's dependsOn
    # edge flips ext:util -> src:r2/lib/util.py (resolved 2 of 4)
    inc1, inc2 = art["inc1"], art["inc2"]
    assert inc1["rc"] == 0, inc1["stderr"][-2000:]
    assert inc1["summary"]["n_changed_files"] == 3
    assert inc1["summary"]["layout"] == "code_state"
    assert inc2["rc"] == 0, inc2["stderr"][-2000:]
    assert inc2["summary"]["n_changed_files"] == 1
    assert inc2["summary"]["n_depends"] == 4
    assert inc2["summary"]["resolved_frac"] == pytest.approx(0.5)
    assert query["rc"] == 0, query["stderr"][-2000:]
    out_rows = [
        json.loads(l)
        for l in query["stdout"].splitlines()
        if l.startswith("{")
    ]
    assert {r["f"] for r in out_rows if "f" in r} == {
        "src:r1/src/util.py",
        "src:r1/src/app.py",
    }


def test_code_kg_state_zero_exchange(spark):
    """The fused per-document state is ONE content scan + ONE Generate
    and NO shuffle at all — call-mention netting is row-local
    (netted_mention_structs), so even calls=True adds no exchange.
    This is also the property that keeps the state streamable."""
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        CodeKgConfig,
        code_kg_state,
    )

    files = _files(spark).unionByName(
        spark.createDataFrame(
            [("r1", "src/cli.py", "c1", "py",
              "import util\ny = helper(1)\nhelper(2)\n")],
            FILES_SCHEMA,
        )
    )
    state = code_kg_state(
        files,
        CodeKgConfig(calls=True, license=True, clone_keys=True),
    )
    plan = state._sc._jvm.PythonSQLUtils.explainString(
        state._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    # one Generate NODE (formatted mode prints each node twice: once in
    # the tree as 'Generate (n)', once as the '(n) Generate' detail)
    assert plan.count(") Generate") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # netting really happened row-locally: the caller stages its
    # mention, the definer alone ('def helper' in util.py) nets to 0
    mentions = {
        (r.subj, r.obj_value)
        for r in state.filter("pred = 'code:_callMention'").collect()
    }
    assert mentions == {("src:r1/src/cli.py", "helper")}
