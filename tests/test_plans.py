"""Physical-plan regression tests: the properties that make the engine
scale are asserted on `explain` output so they can't silently rot.

Each test pins one scale-critical plan property:
- column pruning reaches the parquet scan (narrow ReadSchema)
- predicate pushdown reaches the scan (PushedFilters)
- small dims broadcast (BroadcastHashJoin, never SortMergeJoin)
- dedup aggregates partially before the shuffle (partial_min)
- exactly one Python stage on the extraction hot path
- N-Quads rendering stays JVM-side (no Python eval nodes)
- token/shingle staging isn't re-inlined by CollapseProject (the
  O(n*k)-splits regression fixed in text.py)
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


def test_language_id_scores_evaluated_once(spark):
    """5 langs x 3 markers = 15 replace-chains; re-inlining would
    triple that."""
    from fcrepo3_rdf_extractor_spark.operators.text import language_id

    plan = _optimized(language_id(_docs(spark)))
    assert plan.count("replace(") <= 16, plan.count("replace(")


def test_stratified_sample_broadcasts_rates(spark):
    """The per-stratum rates dimension must broadcast — the corpus never
    shuffles for sampling."""
    from fcrepo3_rdf_extractor_spark.queries import docs_stratified_sample

    plan = _formatted(docs_stratified_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


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


def test_top_terms_global_take_ordered(spark):
    """Global top-k must plan TakeOrderedAndProject (per-partition heap +
    driver merge), never a global Sort, and the term count must combine
    map-side."""
    from fcrepo3_rdf_extractor_spark.queries import docs_top_terms_global

    plan = _formatted(docs_top_terms_global(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan


def test_dsir_bucket_tables_broadcast(spark):
    """DSIR's two bucket-count tables are metadata (<=256 rows): they
    must join as BroadcastHashJoin, and the only nested-loop joins in
    the plan are the two 1-row scalar-total crossJoins (the
    documented-fine shape) — never a real non-broadcast join on the
    exploded corpus."""
    from fcrepo3_rdf_extractor_spark.queries import queries

    df = queries()["docs_dsir_weights"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row totals only
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


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


def test_chunk_windows_scan_side_no_shuffle(spark):
    """RAG chunking is pure scan-side column arithmetic: token array
    staged ONCE (no re-inlined split), and the whole plan has no
    exchange and no Python stage."""
    from fcrepo3_rdf_extractor_spark.operators.text import chunk_windows

    out = chunk_windows(_docs(spark), window=8, stride=4)
    plan = _optimized(out)
    assert plan.count("split(") == 1, plan.count("split(")
    phys = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "MapInPandas", "BatchEvalPython"):
        assert node not in phys, node


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
