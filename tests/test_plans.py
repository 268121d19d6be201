"""Physical-plan regression tests: the properties that make the engine
scale are asserted on `explain` output so they can't silently rot.

Each test pins one scale-critical plan property:
- column pruning reaches the parquet scan (narrow ReadSchema)
- predicate pushdown reaches the scan (PushedFilters)
- small dims broadcast (BroadcastHashJoin, never SortMergeJoin)
- dedup aggregates partially before the shuffle (partial_min)
- exactly one Python stage on the extraction hot path
- N-Quads rendering stays JVM-side (no Python eval nodes), and its
  generated methods stay under HotSpot's JIT size limit
- token/shingle staging isn't re-inlined by CollapseProject (the
  O(n*k)-splits regression; see dedup_approx.shingles_of)
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not pathlib.Path(SF_DIR).exists(), reason="testdata not generated"
)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_extraction_scan_is_column_pruned(spark, tmp_path):
    """The UDF needs (repo, path, commit, content); `lang` must not be
    read off disk."""
    from fcrepo3_rdf_extractor_spark.operators.extractor import extract_triples
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    src_path = str(tmp_path / "src")
    synthesize_foxml_from_orders(spark, SF_DIR).write.parquet(src_path)
    plan = _formatted(extract_triples(spark.read.parquet(src_path)))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "content" in read_schema and "lang" not in read_schema, read_schema


def test_source_filter_pushdown(spark, tmp_path):
    from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "p1", "c1", "foxml", "<x/>")],
        "repo string, path string, commit string, lang string, content string",
    ).write.parquet(src_path)
    df = read_source(spark, src_path).filter(F.col("repo") == "r1")
    plan = _formatted(df)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "repo" in pushed, pushed


def test_dedup_partial_aggregation(spark):
    """dedup_exact must combine map-side before its one shuffle."""
    from fcrepo3_rdf_extractor_spark.queries import kg_dedup_exact

    plan = _formatted(kg_dedup_exact(spark, SF_DIR))
    assert "partial_min" in plan, plan
    assert plan.count("Exchange") <= 2  # key shuffle (+AQE reads), no extras


def test_extraction_single_python_stage(spark):
    """One mapInPandas on the hot path; graph/filter/dedup all JVM-side."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_plan
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    src = synthesize_foxml_from_orders(spark, SF_DIR)
    out = extract_plan(src, ExtractConfig(skip_empty=True, dedup=True))
    plan = _formatted(out)
    assert "BatchEvalPython" not in plan
    # exactly ONE extraction pass: a triples/errors filter-union split
    # would scan + parse the source once per branch
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1, tree
    assert tree.count("Scan parquet") == 1, tree


def test_nquads_render_stays_jvm_side(spark):
    from fcrepo3_rdf_extractor_spark.queries import kg_nquads_render

    plan = _formatted(kg_nquads_render(spark, SF_DIR))
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node


def test_nquads_render_methods_fit_the_jit_limit(spark, tmp_path):
    """HotSpot never JIT-compiles a method over 8,000 bytes of bytecode,
    so a whole-stage-codegen method past it runs every row in the
    interpreter: the N-Quads render's 42-deep replace chains, fused with
    the table scan, generated a 16 KB ``processNext``. Pinned on the
    sink's executed plan over the extracted table read back, as
    jobs/extract.py renders it."""
    from conftest import fixture_source

    from fcrepo3_rdf_extractor_spark.functions import nquad_line_col
    from fcrepo3_rdf_extractor_spark.operators.extractor import triples_only
    from fcrepo3_rdf_extractor_spark.plans.pipeline import extract_plan, materialize_graph

    out = str(tmp_path / "table")
    materialize_graph(extract_plan(fixture_source(spark)), out, buckets=4)
    # the projection write_nquads writes
    lines = triples_only(spark.read.parquet(out)).select(nquad_line_col().alias("value"))
    lines.collect()  # AQE settles the final plan, codegen stages included
    plan = lines._jdf.queryExecution().executedPlan()
    subtrees = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    sizes = [subtrees.apply(i)._3().maxMethodCodeSize() for i in range(subtrees.size())]
    assert sizes and max(sizes) < 8000, sizes


def test_fixed_expressions_cost_few_py4j_round_trips(spark):
    """The N-Quads render and the managed-content request pass are SQL
    text built at import: building both in a warm session costs a few
    dozen py4j round trips, where composing them through the Column API
    cost about 4,000 per run. The count varies by about 30% between
    processes, hence the margin."""
    from unittest import mock

    from py4j.clientserver import ClientServerConnection

    from fcrepo3_rdf_extractor_spark.functions import nquad_line_col
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests

    source = spark.createDataFrame(
        [("r", "p", "c", "foxml", "<x/>")],
        "repo string, path string, commit string, lang string, content string",
    )
    nquad_line_col(), managed_content_requests(source)  # warm
    send = ClientServerConnection.send_command
    calls = []

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    with mock.patch.object(ClientServerConnection, "send_command", counted):
        nquad_line_col()
        managed_content_requests(source)
    assert 0 < len(calls) <= 200, len(calls)


def test_minhash_staging_not_reinlined(spark):
    """Regression: tokens/shingles staged once; CollapseProject must not
    re-inline the tokenizer split into every signature column."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import minhash_signature

    plan = _optimized(minhash_signature(_docs(spark)))
    assert plan.count("split(") == 1, plan.count("split(")


def test_simhash_staging_not_reinlined(spark):
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import simhash

    plan = _optimized(simhash(_docs(spark)))
    assert plan.count("split(") == 1, plan.count("split(")


def test_managed_content_plan_single_python_stage(spark):
    """The managed-content request pass must be pure column expressions:
    with a ds_store attached, the whole extraction plan still contains
    exactly ONE MapInPandas (round 1 parsed FOXML twice — a second
    Python request pass before the extraction UDF)."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_plan
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    src = synthesize_foxml_from_orders(spark, SF_DIR)
    ds_store = spark.createDataFrame(
        [("info:fedora/x:1/DC/DC.0", "<x/>")], "blob_id string, content string"
    )
    plan = _formatted(extract_plan(src, ExtractConfig(), ds_store=ds_store))
    tree = plan.split("\n\n")[0]
    assert "BatchEvalPython" not in tree
    assert tree.count("MapInPandas") == 1, tree


def test_managed_content_requests_not_reinlined(spark):
    """Regression: Filters over the staged ``_token`` and ``blob_id``
    columns were pushed below their projections with the versions
    transform, ``xml_unescape`` and minting copied in per reference —
    123 ``regexp_extract_all(`` in the optimized request pass (130 KB
    of plan text over the sf0.001 orders). Bad keys are now dropped inside arrays before one
    inline, so each regex appears once per use: 3 (datastream blocks,
    versions, the entity tokenizer)."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import managed_content_requests
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    plan = _optimized(managed_content_requests(synthesize_foxml_from_orders(spark, SF_DIR)))
    assert plan.count("regexp_extract_all(") <= 3, plan.count("regexp_extract_all(")


def _gen_source(spark, tmp_path, files: int = 4):
    """A seeded gen FOXML corpus written as ``files`` parquet files, and
    its ds-store."""
    from conftest import _gen

    corpus = _gen().foxml_corpus(7, 300)
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    spark.createDataFrame(
        corpus.rows, "repo string, path string, commit string, lang string, content string"
    ).repartition(files).write.parquet(src)
    spark.createDataFrame(corpus.store, "blob_id string, content string").write.parquet(store)
    return spark.read.parquet(src), spark.read.parquet(store)


def _tree(node) -> tuple:
    """A JVM physical plan node as (name, filter condition, output
    names, children); an unexecuted adaptive plan is replaced by its
    current plan, Exchanges included."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    out, kids = node.output(), node.children()
    cond = node.condition().toString() if node.nodeName() == "Filter" else ""
    return (node.nodeName(), cond, {out.apply(i).name() for i in range(out.size())},
            [_tree(kids.apply(i)) for i in range(kids.size())])


def _walk(tree, path=()):
    """Every (node, path of its ancestors) of ``tree``."""
    yield tree, path
    for kid in tree[3]:
        yield from _walk(kid, path + (tree,))


def test_managed_content_attach_shuffles_only_prefiltered_rows(spark, tmp_path):
    """The attach splits on the request pass's prefilter: rows that
    fail it reach the extraction UDF straight off the scan, and only
    rows that pass it cross an Exchange. The whole-table left join
    shuffled every source row, ``content`` included, and AQE coalesced
    those few MB into one partition, so the UDF ran as one task. Pinned
    on the plan a store too large to broadcast gets."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_plan

    src, store = _gen_source(spark, tmp_path)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _tree(extract_plan(src, ExtractConfig(), ds_store=store)._jdf
                     .queryExecution().executedPlan())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    def is_prefilter(node, negated):
        return (node[0] == "Filter" and "RLIKE" in node[1]
                and node[1].startswith("NOT") == negated)

    def source_scan(node):  # the store's scan has no path column
        return node[0].startswith("Scan") and "path" in node[2]

    udf = [n for n, _ in _walk(plan) if n[0] == "MapInPandas"]
    assert len(udf) == 1, [n[0] for n, _ in _walk(plan)]
    below = list(_walk(udf[0]))
    passing = [path for n, path in below
               if source_scan(n) and any(is_prefilter(p, True) for p in path)]
    assert passing, "no pass-through branch"
    for path in passing:
        assert not [p[0] for p in path if "Exchange" in p[0]], [p[0] for p in path]
    fed = [n for n, _ in below
           if "Exchange" in n[0] and any(source_scan(m) for m, _ in _walk(n))]
    assert any("content" in n[2] for n in fed), [n[:3] for n in fed]
    for exchange in fed:
        assert any(is_prefilter(n, False) for n, _ in _walk(exchange)), exchange[:3]


def test_managed_content_udf_runs_on_scan_splits(spark, tmp_path):
    """Runtime shape of the pin above: over a 4-file source on
    ``local[4]`` the stage running ``MapInPandas`` has at least one task
    per file. It is the result stage: with ``dedup=False`` no Exchange
    sits above the UDF. The whole-table join ran it as 1 task."""
    from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_plan

    src, store = _gen_source(spark, tmp_path)
    assert src.rdd.getNumPartitions() == 4
    out = extract_plan(src, ExtractConfig(dedup=False), ds_store=store)
    sc, group = spark.sparkContext, "udf-on-scan-splits"
    sc.setJobGroup(group, "attach task count")
    try:
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    result_stage = tracker.getStageInfo(max(last_job.stageIds))
    assert result_stage.numTasks >= 4, result_stage


def test_simhash_neardup_no_nested_loop_join(spark):
    """Regression: the OR-of-band-equalities join condition planned a
    BroadcastNestedLoopJoin (O(n^2) compares, no bucket bound). The
    banded-explode equi-join must hash-partition."""
    from fcrepo3_rdf_extractor_spark.queries import docs_simhash_neardup

    plan = _formatted(docs_simhash_neardup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, "OR-join degeneration"
    assert "CartesianProduct" not in plan


def test_graph_two_hop_single_extraction(spark):
    """Regression: the members/owners self-join re-ran scan+parse once
    per branch (MapInPandas appeared twice in the executed plan)."""
    from fcrepo3_rdf_extractor_spark.queries import kg_graph_two_hop

    plan = _formatted(kg_graph_two_hop(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1, tree


def test_shared_pair_counts_have_no_join(spark):
    """Regression: the pair-COUNT query ran an unbounded n^2 self-join
    where groupBy(collection).count() -> n(n-1)/2 is a closed form. The
    plan must contain one extraction and zero joins."""
    from fcrepo3_rdf_extractor_spark.queries import kg_graph_shared_collection_pairs

    plan = _formatted(kg_graph_shared_collection_pairs(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    assert tree.count("MapInPandas") == 1, tree


def test_shared_pair_enum_is_bucket_bounded(spark):
    """Pair ENUMERATION must carry the max_bucket window bound riding the
    self-join's own hub exchange (the minhash_lsh_candidates shape), and
    must hash-partition — never BroadcastNestedLoopJoin/Cartesian."""
    from fcrepo3_rdf_extractor_spark.operators.graph import shared_neighbor_pairs

    edges = _docs(spark).select(
        F.col("source").alias("hub"), F.col("doc_id").alias("member")
    )
    plan = _formatted(shared_neighbor_pairs(edges, max_bucket=7))
    assert "Window" in plan, plan
    assert "count(1)" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_neardup_bounded_equi_join(spark):
    """Containment dedup must candidate via the shingle inverted index —
    hash-partitioned, never BNLJ/Cartesian — with the intersection size
    as a partial-agg count, and every multi-referenced frame (the
    df-bounded inverted index, the size table) must read localCheckpoint
    blocks rather than re-running tokenize/shingle/md5 once per join
    side (self-join sides share no exchanges; the un-staged plan ran the
    text pipeline 8x)."""
    from fcrepo3_rdf_extractor_spark.queries import docs_containment_neardup

    plan = _formatted(docs_containment_neardup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, "intersection count must partial-agg"
    # all four multi-referenced inputs read materialized blocks; nothing
    # re-tokenizes (no split() left anywhere in the final plan)
    assert plan.count("Scan ExistingRDD") >= 4, plan
    assert "split(" not in plan, plan


def test_dedup_substrings_two_level_span_table(spark):
    """Substring dedup's duplicated-span table must be ONE two-level
    (partial + final) aggregation over the k-gram occurrence table —
    never a row-local O(len^2) compare or an all-pairs join — with the
    keep-first witness riding the same aggregate as min(struct(...)),
    the removal probe as a hash equi-join, and the staged token/gram
    tables read from localCheckpoint blocks (no re-tokenize: grams feed
    two join sides and toks feed three consumers)."""
    from fcrepo3_rdf_extractor_spark.queries import docs_dedup_substrings

    plan = _formatted(docs_dedup_substrings(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # span-frequency count and canonical-occurrence witness combine
    # map-side in the SAME aggregate (one shuffle for the span table)
    assert "partial_count" in plan, plan
    assert "partial_min" in plan, plan
    # staged inputs: token array + gram occurrences are checkpointed
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert "split(" not in plan, plan


def test_repo_forks_candidate_join_is_equi(spark):
    """Fork detection's candidate generator is an equi-join on the item
    hash (broadcast or sort-merge depending on stats) — NEVER a
    nested-loop/cartesian pairing of containers, which is what an
    OR-of-equalities or similarity-predicate formulation would plan
    as. The df bound rides a window, so there is no extra exchange
    beyond the joins' own."""
    from fcrepo3_rdf_extractor_spark.queries import queries

    df = queries()["src_repo_forks"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_code_def_triples_scan_side_no_shuffle(spark):
    """Definition extraction is a narrow scan-side projection: every
    language pattern evaluates inside ONE projection over ONE content
    scan — no exchange, no Python stage, and no filter+union re-scan
    per pattern (the plan contains a single generate/explode)."""
    from fcrepo3_rdf_extractor_spark.operators.code import code_def_triples
    from fcrepo3_rdf_extractor_spark.queries import _src_files

    out = code_def_triples(_src_files(spark, SF_DIR))
    phys = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "MapInPandas", "BatchEvalPython", "Union"):
        assert node not in phys, node
    assert phys.count("Generate") == 1, phys.count("Generate")


def test_resolve_import_edges_join_shape(spark):
    """Entity linking plans as a hash equi-join on (repo, module key):
    no nested-loop/cartesian pairing, exactly one Generate (imports
    explode once), and the registry side is a partial ('merge'-phased)
    aggregate — map-side combined before its shuffle."""
    from fcrepo3_rdf_extractor_spark.operators.code import resolve_import_edges
    from fcrepo3_rdf_extractor_spark.queries import _src_files

    out = resolve_import_edges(_src_files(spark, SF_DIR))
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys
    assert "CartesianProduct" not in phys
    assert phys.count("Generate") == 1, phys.count("Generate")
    assert "partial_min" in phys or "partial_first" in phys, phys


def test_vendored_stats_linear_no_self_join(spark):
    """Vendored detection is linear: per-hash spread via a two-phase
    count(distinct) (partial_count visible), joined back on the hash
    key — never a self-join pair blow-up (no nested loop / cartesian),
    and the final per-repo aggregate is map-side combined."""
    from fcrepo3_rdf_extractor_spark.operators.code import vendored_file_stats
    from fcrepo3_rdf_extractor_spark.queries import _src_files

    out = vendored_file_stats(_src_files(spark, SF_DIR))
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys
    assert "CartesianProduct" not in phys
    assert "partial_count" in phys, phys


def test_sparql_subquery_plan_shape(spark):
    """The subquery join compiles to hash joins end-to-end: the inner
    aggregate partially aggregates before its exchange, and nothing in
    the plan is a CartesianProduct or (non-scalar)
    BroadcastNestedLoopJoin — the correlated-re-scan shape can never
    appear because the subquery compiles ONCE, bottom-up."""
    from fcrepo3_rdf_extractor_spark.operators.sparql import sparql_query

    rows = [(f"p{i}", "rel:member", f"c{i % 3}") for i in range(30)]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string"
    )
    df = sparql_query(
        t,
        "SELECT ?x ?c ?n WHERE { ?x <rel:member> ?c . "
        "{ SELECT ?c (COUNT(*) AS ?n) WHERE { ?y <rel:member> ?c } "
        "GROUP BY ?c } }",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    fmt = _formatted(df)
    assert "partial_count" in fmt  # map-side partial agg in the subquery

    # the SCALAR subquery is the one sanctioned BNLJ shape: 1-row
    # broadcast (the CLAUDE.md documented-fine class)
    scal = sparql_query(
        t,
        "SELECT ?x ?total WHERE { ?x <rel:member> ?c . "
        "{ SELECT (COUNT(*) AS ?total) WHERE { ?y <rel:member> ?c } } }",
    )
    splan = scal._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in splan  # exactly the scalar attach


def test_sparql_filter_expr_pushdown(spark, tmp_path):
    """A single-variable OR inside FILTER still reaches the pattern
    scan as a PushedFilter Or(...) — boolean FILTER trees are
    row-local predicates, never join conditions."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query

    rows = [(f"s{i}", "m:state", ["Active", "Inactive", "Deleted"][i % 3])
            for i in range(90)]
    path = str(tmp_path / "t")
    spark.createDataFrame(
        rows, "subj string, pred string, obj_value string"
    ).write.parquet(path)
    t = spark.read.parquet(path)
    df = bgp_query(
        t,
        [("?x", "m:state", "?st"), ("?x", "m:state", "?st2")],
        select=["x", "st"],
        filters=[("or", [("?st", "=", "Active"), ("?st", "=", "Inactive")])],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the PushedFilters list may be truncated with '...' in the plan
    # string — assert the Or(...) prefix
    assert "Or(EqualTo(obj_value,Active),EqualTo(obj_value,Inactive)" \
        in plan.replace(" ", ""), plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_propagation_no_window(spark):
    """The per-round argmax is a struct-min hash aggregate with
    map-side partials, never a per-node window sort."""
    from fcrepo3_rdf_extractor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i % 4}") for i in range(20)],
        "src string, dst string",
    )
    df = label_propagation(edges, n_rounds=1)
    fmt = _formatted(df)
    assert "Window" not in fmt
    assert "partial_min" in fmt  # the struct-min argmax aggregates map-side
