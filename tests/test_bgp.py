"""BGP compiler semantics: pattern scans, shared-variable joins, the
selectivity ordering's plan shape, and the compile-time rejections."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # two people, one collection membership each, one shared
        ("p:1", "rel:member", "c:a"),
        ("p:2", "rel:member", "c:a"),
        ("p:3", "rel:member", "c:b"),
        ("p:1", "m:owner", "alice"),
        ("p:2", "m:owner", "bob"),
        ("p:3", "m:owner", "alice"),
        ("p:1", "m:state", "Active"),
        ("p:2", "m:state", "Deleted"),
        ("p:3", "m:state", "Active"),
        # a traversal edge and a self-loop
        ("p:1", "v:sees", "p:2"),
        ("p:2", "v:sees", "p:2"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj_value string")


def test_star_pattern_bindings(triples):
    got = bgp_query(
        triples,
        [
            ("?x", "rel:member", "?c"),
            ("?x", "m:owner", "?o"),
            ("?x", "m:state", "Active"),
        ],
        select=["x", "c", "o"],
    ).collect()
    assert sorted((r.x, r.c, r.o) for r in got) == [
        ("p:1", "c:a", "alice"),
        ("p:3", "c:b", "alice"),
    ]


def test_path_pattern_object_subject_join(triples):
    got = bgp_query(
        triples,
        [("?a", "v:sees", "?b"), ("?b", "m:owner", "?w")],
        select=["a", "b", "w"],
    ).collect()
    assert sorted((r.a, r.b, r.w) for r in got) == [
        ("p:1", "p:2", "bob"),
        ("p:2", "p:2", "bob"),
    ]


def test_repeated_variable_within_pattern(triples):
    got = bgp_query(triples, [("?x", "v:sees", "?x")]).collect()
    assert [(r.x,) for r in got] == [("p:2",)]


def test_default_select_and_distinct(triples):
    # default projection = all vars in first-mention order; distinct
    # collapses the two members of c:a to one owner row
    out = bgp_query(
        triples,
        [("?x", "rel:member", "c:a"), ("?x", "m:owner", "?o")],
    )
    assert out.columns == ["x", "o"]
    dis = bgp_query(
        triples,
        [("?x", "rel:member", "?c"), ("?x", "m:state", "Active")],
        select=["c"],
        distinct=True,
    ).collect()
    assert sorted(r.c for r in dis) == ["c:a", "c:b"]


def test_compile_time_rejections(triples):
    with pytest.raises(ValueError, match="empty"):
        bgp_query(triples, [])
    with pytest.raises(ValueError, match="constant-only"):
        bgp_query(triples, [("p:1", "m:owner", "alice")])
    with pytest.raises(ValueError, match="select variables"):
        bgp_query(triples, [("?x", "m:owner", "?o")], select=["nope"])
    with pytest.raises(ValueError, match="disconnected"):
        bgp_query(triples, [("?x", "m:owner", "?o"), ("?y", "m:state", "?s")])
    # ... unless the cartesian is explicit
    n = bgp_query(
        triples,
        [("?x", "m:owner", "alice"), ("?y", "m:state", "Deleted")],
        allow_cartesian=True,
    ).count()
    assert n == 2  # 2 alice-owned x 1 deleted


def test_star_plan_no_nested_loop_join(triples):
    """Connected patterns must compile to equi-joins: no cartesian, no
    BroadcastNestedLoopJoin anywhere in the physical plan (the
    OR-of-equalities failure mode cannot arise — each join is a plain
    column-equality on the shared variables)."""
    out = bgp_query(
        triples,
        [
            ("?x", "rel:member", "?c"),
            ("?x", "m:owner", "?o"),
            ("?x", "m:state", "Active"),
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_optional_group_left_join(triples):
    """OPTIONAL semantics: required bindings survive with NULLs where
    the optional group misses; a multi-pattern optional group joins as
    one unit; a disconnected optional is rejected."""
    got = bgp_query(
        triples,
        [("?x", "rel:member", "?c")],
        select=["x", "c", "seen"],
        optional_patterns=[[("?x", "v:sees", "?seen")]],
    ).collect()
    by_x = {r.x: (r.c, r.seen) for r in got}
    assert by_x == {
        "p:1": ("c:a", "p:2"),
        "p:2": ("c:a", "p:2"),
        "p:3": ("c:b", None),
    }
    # multi-pattern group: sees ?y AND ?y owned by ?w — one left join
    got2 = {
        r.x: r.w
        for r in bgp_query(
            triples,
            [("?x", "rel:member", "?c")],
            select=["x", "w"],
            optional_patterns=[[("?x", "v:sees", "?y"), ("?y", "m:owner", "?w")]],
        ).collect()
    }
    assert got2 == {"p:1": "bob", "p:2": "bob", "p:3": None}
    with pytest.raises(ValueError, match="OPTIONAL group shares no"):
        bgp_query(
            triples,
            [("?x", "rel:member", "?c")],
            optional_patterns=[[("?z", "m:owner", "?w")]],
        )


def test_property_path_plus(spark):
    """`pred+` patterns bind the transitive closure: chain 1->2->3 via
    kg:p gives (1,2),(1,3),(2,3); constants filter the closure; the
    cycle form (?x, p+, ?x) finds cycle members."""
    rows = [
        ("n:1", "kg:p", "n:2"),
        ("n:2", "kg:p", "n:3"),
        ("n:3", "kg:tag", "leaf"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj_value string")
    got = sorted(
        (r.x, r.y)
        for r in bgp_query(t, [("?x", "kg:p+", "?y")]).collect()
    )
    assert got == [("n:1", "n:2"), ("n:1", "n:3"), ("n:2", "n:3")]
    # join the path head with an ordinary pattern on the tail
    got2 = sorted(
        r.x
        for r in bgp_query(
            t, [("?x", "kg:p+", "?y"), ("?y", "kg:tag", "leaf")], select=["x"]
        ).collect()
    )
    assert got2 == ["n:1", "n:2"]
    # constant object filters the closure
    got3 = sorted(
        r.x for r in bgp_query(t, [("?x", "kg:p+", "n:3")]).collect()
    )
    assert got3 == ["n:1", "n:2"]
    # cycle membership
    cyc = spark.createDataFrame(
        [("a", "kg:p", "b"), ("b", "kg:p", "a"), ("c", "kg:p", "a")],
        "subj string, pred string, obj_value string",
    )
    got4 = sorted(r.x for r in bgp_query(cyc, [("?x", "kg:p+", "?x")]).collect())
    assert got4 == ["a", "b"]


def test_star_pattern_constants_push_to_scan(spark, tmp_path):
    """Over a parquet triples table (the materialized-graph model),
    every pattern constant must reach the scan as a PushedFilter, and
    the fully-bound anchor must broadcast — the plan PLANS.md walks
    through."""
    rows = [
        (f"s{i % 100}", p, f"o{i % 7}")
        for i in range(1000)
        for p in ("rel:m", "m:o", "m:s")
    ]
    path = str(tmp_path / "triples")
    spark.createDataFrame(
        rows, "subj string, pred string, obj_value string"
    ).write.parquet(path)
    t = spark.read.parquet(path)
    out = bgp_query(
        t, [("?x", "rel:m", "?c"), ("?x", "m:o", "?o"), ("?x", "m:s", "o1")]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for pushed in ("EqualTo(pred,m:s)", "EqualTo(obj_value,o1)",
                   "EqualTo(pred,rel:m)", "EqualTo(pred,m:o)"):
        assert pushed in plan, f"missing pushdown {pushed}\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filters_semantics_and_pushdown(spark, tmp_path, triples):
    """FILTER constraints: applied to the joined bindings, rejected on
    unbound vars/unknown ops; over a parquet triples table the contains
    predicate must push below the join into the one scan that binds the
    variable."""
    got = bgp_query(
        triples,
        [("?x", "rel:member", "?c"), ("?x", "m:owner", "?o")],
        filters=[("?o", "!=", "bob"), ("?c", "contains", ":a")],
    ).collect()
    assert [(r.x, r.c, r.o) for r in got] == [("p:1", "c:a", "alice")]
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(triples, [("?x", "m:owner", "?o")],
                  filters=[("?z", "=", "v")])
    with pytest.raises(ValueError, match="unknown FILTER op"):
        bgp_query(triples, [("?x", "m:owner", "?o")],
                  filters=[("?o", "~", "v")])

    rows = [(f"s{i % 50}", p, f"val{i % 9}") for i in range(600)
            for p in ("rel:m", "m:o")]
    path = str(tmp_path / "t")
    spark.createDataFrame(
        rows, "subj string, pred string, obj_value string"
    ).write.parquet(path)
    t = spark.read.parquet(path)
    out = bgp_query(
        t,
        [("?x", "rel:m", "?c"), ("?x", "m:o", "?o")],
        filters=[("?c", "contains", "al5")],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "StringContains(obj_value,al5)" in plan, plan


def test_property_path_alternation(spark):
    """(p|q)+ paths: each hop may take either predicate — a chain
    alternating kg:p and kg:q is fully reachable, while p+ alone only
    sees the p edges."""
    rows = [
        ("n:1", "kg:p", "n:2"),
        ("n:2", "kg:q", "n:3"),
        ("n:3", "kg:p", "n:4"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj_value string")
    both = sorted(
        (r.x, r.y) for r in bgp_query(t, [("?x", "kg:p|kg:q+", "?y")]).collect()
    )
    assert both == [
        ("n:1", "n:2"), ("n:1", "n:3"), ("n:1", "n:4"),
        ("n:2", "n:3"), ("n:2", "n:4"), ("n:3", "n:4"),
    ]
    only_p = sorted(
        (r.x, r.y) for r in bgp_query(t, [("?x", "kg:p+", "?y")]).collect()
    )
    assert only_p == [("n:1", "n:2"), ("n:3", "n:4")]


def test_inverse_path(triples):
    """^pred swaps subject/object: ?c ^rel:member ?x binds collections
    to their members; composes with + for inverse closures."""
    got = sorted(
        (r.c, r.x)
        for r in bgp_query(
            triples, [("?c", "^rel:member", "?x")], select=["c", "x"]
        ).collect()
    )
    assert got == [("c:a", "p:1"), ("c:a", "p:2"), ("c:b", "p:3")]


def test_inverse_closure(spark):
    rows = [("n:1", "kg:p", "n:2"), ("n:2", "kg:p", "n:3")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj_value string")
    got = sorted(
        (r.y, r.x)
        for r in bgp_query(t, [("?y", "^kg:p+", "?x")]).collect()
    )
    # inverse closure: descendants seen from above, reversed
    assert got == [("n:2", "n:1"), ("n:3", "n:1"), ("n:3", "n:2")]


def test_query_cli(spark, cli_results):
    """jobs/query.py: JSON-lines rows + one summary line; a
    disconnected BGP exits 2 with the compiler's message."""
    from conftest import cli_art

    art = cli_art(cli_results, "query_cli")
    ok = art["ok"]
    assert ok["rc"] == 0, ok["stderr"][-2000:]
    lines = [json.loads(x) for x in ok["stdout"].strip().splitlines()]
    summary = lines[-1]
    # order-by ?x asc + offset 1 skips the p:1 solution deterministically
    assert summary["n_rows"] == 1 and summary["columns"] == ["x", "c", "o"]
    got = [(r["x"], r["c"], r["o"]) for r in lines[:-1]]
    assert got == [("p:2", "c:a", "bob")]
    bad = art["bad"]
    assert bad["rc"] == 2 and "disconnected" in bad["stderr"]
    agg = art["agg"]
    assert agg["rc"] == 0, agg["stderr"][-2000:]
    alines = [json.loads(x) for x in agg["stdout"].strip().splitlines()]
    assert alines[-1]["n_rows"] == 1
    assert alines[0] == {"c": "c:a", "n": 2, "first_x": "p:1"}
    con = art["construct"]
    assert con["rc"] == 0, con["stderr"][-2000:]
    clines = [json.loads(x) for x in con["stdout"].strip().splitlines()]
    # only p:3 lacks an owner -> one derived containment triple
    assert clines[-1]["n_rows"] == 1
    assert clines[0] == {
        "subj": "c:b", "pred": "ex:contains", "obj_value": "p:3"}
    dsc = art["dsc"]
    assert dsc["rc"] == 0, dsc["stderr"][-2000:]
    dlines = [json.loads(x) for x in dsc["stdout"].strip().splitlines()]
    # GRAPH g2 + VALUES ?x=p:3 -> description = p:3's one outbound quad
    assert dlines[-1]["n_rows"] == 1
    assert dlines[0] == {
        "subj": "p:3", "pred": "rel:member", "obj_value": "c:b",
        "graph": "g2"}


def test_query_cli_sparql(spark, cli_results):
    """jobs/query.py --sparql end-to-end with the round-5 surface:
    subquery + boolean FILTER + optional-scoped IN in one text query.
    p:2's owner bob is filtered INSIDE the optional (solution survives
    with NULL); the ?n >= 2 || ?c = "c:b" disjunction keeps all
    memberships."""
    from conftest import cli_art

    art = cli_art(cli_results, "query_cli_sparql")
    run = art["run"]
    assert run["rc"] == 0, run["stderr"][-2000:]
    lines = [json.loads(x) for x in run["stdout"].strip().splitlines()]
    assert lines[-1]["n_rows"] == 3
    assert lines[:-1] == [
        {"x": "p:1", "c": "c:a", "n": 2, "o": "alice"},
        {"x": "p:2", "c": "c:a", "n": 2, "o": None},
        {"x": "p:3", "c": "c:b", "n": 1, "o": None},
    ]


def test_bgp_union_branches(triples):
    """UNION concatenates branch bindings; a variable unbound in one
    branch comes back NULL there; distinct dedups across branches."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_union

    got = bgp_union(
        triples,
        [
            [("?x", "m:state", "Active")],
            [("?x", "m:owner", "?o")],
        ],
        select=["x", "o"],
    ).collect()
    rows = sorted(((r.x, r.o) for r in got), key=lambda t: (t[0], t[1] or ""))
    assert rows == [
        ("p:1", None), ("p:1", "alice"),
        ("p:2", "bob"),
        ("p:3", None), ("p:3", "alice"),
    ]
    dis = bgp_union(
        triples,
        [[("?x", "m:state", "Active")], [("?x", "m:owner", "alice")]],
        select=["x"],
        distinct=True,
    ).collect()
    assert sorted(r.x for r in dis) == ["p:1", "p:3"]


def test_extract_then_query_journey(spark, cli_results):
    """extract CLI -> query CLI over its output: the 7 fixture objects
    all answer the hasModel BGP."""
    from conftest import cli_art

    art = cli_art(cli_results, "extract_then_query")
    assert art["extract"]["rc"] == 0, art["extract"]["stderr"][-2000:]
    q = art["query"]
    assert q["rc"] == 0, q["stderr"][-2000:]
    lines = [json.loads(x) for x in q["stdout"].strip().splitlines()]
    assert lines[-1]["n_rows"] == 7
    objs = {r["obj"] for r in lines[:-1]}
    assert all(o.startswith("info:fedora/") for o in objs) and len(objs) == 7


def test_bgp_differential_random(spark):
    """Differential fuzz: 25 seeded-random (triples, patterns) cases,
    bgp_query vs a naive nested-loop BGP evaluator, compared as BAGS
    over all variables (join order must not matter). Disconnected and
    constant-only pattern sets are skipped the same way the compiler
    rejects them."""
    import random
    from collections import Counter

    rng = random.Random(4242)
    subs = [f"s{i}" for i in range(4)]
    preds = [f"p{i}" for i in range(3)]
    objs = [f"o{i}" for i in range(3)] + subs
    vars_pool = ["?a", "?b", "?c"]

    def naive(triples, patterns):
        sols = [dict()]
        for pat in patterns:
            nxt = []
            for s in sols:
                for t in triples:
                    b = dict(s)
                    ok = True
                    for term, val in zip(pat, t):
                        if term.startswith("?"):
                            if b.get(term, val) != val:
                                ok = False
                                break
                            b[term] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(b)
            sols = nxt
        return sols

    checked = 0
    for case in range(60):
        triples = list({
            (rng.choice(subs), rng.choice(preds), rng.choice(objs))
            for _ in range(rng.randint(3, 10))
        })
        n_pat = rng.randint(1, 3)
        patterns = []
        for _ in range(n_pat):
            mk = lambda pool: (
                rng.choice(vars_pool) if rng.random() < 0.5 else rng.choice(pool)
            )
            patterns.append((mk(subs), mk(preds), mk(objs)))
        # the compiler rejects what the naive evaluator can't mirror
        all_vars = [v for p in patterns for v in p if v.startswith("?")]
        if not all(any(t.startswith("?") for t in p) for p in patterns):
            continue
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj_value string"
        )
        sel = sorted(set(all_vars))
        try:
            got = bgp_query(df, patterns, select=sel).collect()
        except ValueError:
            continue  # disconnected — naive would cross-join instead
        want = naive(triples, patterns)
        got_bag = Counter(tuple(r[v.lstrip("?")] for v in sel) for r in got)
        want_bag = Counter(tuple(b[v] for v in sel) for b in want)
        assert got_bag == want_bag, (triples, patterns)
        checked += 1
    assert checked >= 25  # enough accepted cases to mean something


def test_filter_numeric_semantics(spark):
    """Ordering FILTERs with a numeric value compare numerically via
    try_cast (non-numeric bindings drop, no ANSI abort); with a string
    value they stay lexicographic."""
    t = spark.createDataFrame(
        [("a", "m:n", "10"), ("b", "m:n", "5"), ("c", "m:n", "oops")],
        "subj string, pred string, obj_value string",
    )
    num = sorted(
        r.x for r in bgp_query(
            t, [("?x", "m:n", "?q")], select=["x"], filters=[("?q", ">", 5)]
        ).collect()
    )
    assert num == ["a"]  # 10 > 5 numerically; 'oops' dropped, no abort
    lex = sorted(
        r.x for r in bgp_query(
            t, [("?x", "m:n", "?q")], select=["x"], filters=[("?q", ">", "5")]
        ).collect()
    )
    assert lex == ["c"]  # lexicographic: 'oops' > '5', '10' < '5'


def test_aggregate_group_count_min_concat(triples):
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    got = bgp_aggregate(
        triples,
        [("?x", "rel:member", "?c"), ("?x", "m:owner", "?o")],
        group_by=["?c"],
        aggs=[
            ("count", "*", "n"),
            ("count_distinct", "?o", "n_owners"),
            ("sample", "?x", "first_x"),
            ("group_concat_distinct:|", "?o", "owners"),
        ],
    ).collect()
    by_c = {r.c: r for r in got}
    assert by_c["c:a"].n == 2 and by_c["c:a"].n_owners == 2
    assert by_c["c:a"].first_x == "p:1"
    assert by_c["c:a"].owners == "alice|bob"
    assert by_c["c:b"].n == 1 and by_c["c:b"].owners == "alice"


def test_aggregate_global_group_and_having(triples):
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    # empty group_by = one global group (SPARQL implicit grouping)
    got = bgp_aggregate(
        triples,
        [("?x", "m:owner", "?o")],
        group_by=[],
        aggs=[("count", "*", "n"), ("max", "?o", "last_owner")],
    ).collect()
    assert len(got) == 1 and got[0].n == 3 and got[0].last_owner == "bob"

    # HAVING prunes the singleton group
    kept = bgp_aggregate(
        triples,
        [("?x", "rel:member", "?c")],
        group_by=["?c"],
        aggs=[("count", "*", "n")],
        having=[("n", ">=", 2)],
    ).collect()
    assert [(r.c, r.n) for r in kept] == [("c:a", 2)]


def test_aggregate_numeric_sum_type_errors(spark):
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    # SPARQL numeric aggregates over string lexical forms: non-numeric
    # bindings drop as type errors (never an ANSI cast abort)
    t = spark.createDataFrame(
        [("d:1", "m:size", "10"), ("d:2", "m:size", "2.5"),
         ("d:3", "m:size", "huge")],
        "subj string, pred string, obj_value string",
    )
    got = bgp_aggregate(
        t,
        [("?x", "m:size", "?s")],
        group_by=[],
        aggs=[("sum", "?s", "total"), ("avg", "?s", "mean")],
    ).collect()[0]
    assert got.total == 12.5 and got.mean == 6.25


def test_aggregate_rejections(triples):
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    with pytest.raises(ValueError, match="at least one aggregate"):
        bgp_aggregate(triples, [("?x", "m:owner", "?o")], ["?o"], [])
    with pytest.raises(ValueError, match="only valid with count"):
        bgp_aggregate(
            triples, [("?x", "m:owner", "?o")], [], [("sum", "*", "t")]
        )
    with pytest.raises(ValueError, match="unknown aggregate"):
        bgp_aggregate(
            triples, [("?x", "m:owner", "?o")], [], [("median", "?o", "m")]
        )
    with pytest.raises(ValueError, match="unknown aggregate alias"):
        bgp_aggregate(
            triples,
            [("?x", "m:owner", "?o")],
            [],
            [("count", "*", "n")],
            having=[("missing", ">=", 1)],
        )


def test_aggregate_reuses_join_partitioning(triples):
    """Grouping on the star's join variable: the hash aggregate after
    the join must NOT add an exchange for the final aggregation — the
    join already partitions on x, so the plan shows partial+final
    HashAggregate with no Exchange between them."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    out = bgp_aggregate(
        triples,
        [("?x", "rel:member", "?c"), ("?x", "m:owner", "?o")],
        group_by=["?x"],
        aggs=[("count", "*", "n")],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # walk top-down: the first HashAggregate pair (final+partial for the
    # groupBy on x) must appear with no Exchange between them
    agg_idx = [i for i, ln in enumerate(plan.splitlines())
               if "HashAggregate" in ln]
    lines = plan.splitlines()
    assert len(agg_idx) >= 2, plan
    between = lines[agg_idx[0] + 1: agg_idx[1]]
    assert not any("Exchange" in ln for ln in between), plan


def test_not_exists_anti_join(triples):
    """FILTER NOT EXISTS drops solutions the negation group matches;
    a group with no shared variable is rejected."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query

    # members whose x has NO sees-edge: p:3 only (p:1 and p:2 see)
    got = bgp_query(
        triples,
        [("?x", "rel:member", "?c")],
        select=["x", "c"],
        not_exists=[[("?x", "v:sees", "?other")]],
    ).collect()
    assert [(r.x, r.c) for r in got] == [("p:3", "c:b")]

    with pytest.raises(ValueError, match="NOT EXISTS group shares no"):
        bgp_query(
            triples,
            [("?x", "rel:member", "?c")],
            not_exists=[[("?y", "v:sees", "?z")]],
        )


def test_construct_template_rules(triples):
    """CONSTRUCT instantiates every template triple per solution, set
    semantics, and OPTIONAL-null slots skip only their own triple."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_construct

    got = bgp_construct(
        triples,
        [("?x", "rel:member", "?c")],
        template=[
            ("?c", "ex:contains", "?x"),
            ("?x", "rdf:type", "ex:Member"),
            ("?x", "ex:ownedBy", "?o"),
        ],
        optional_patterns=[[("?x", "m:owner", "?o")]],
    ).collect()
    rows = {(r.subj, r.pred, r.obj_value) for r in got}
    assert ("c:a", "ex:contains", "p:1") in rows
    assert ("p:3", "rdf:type", "ex:Member") in rows
    assert ("p:1", "ex:ownedBy", "alice") in rows
    # every member has contains + type; all three have owners here
    assert len(rows) == 3 + 3 + 3

    with pytest.raises(ValueError, match="empty CONSTRUCT"):
        bgp_construct(triples, [("?x", "m:owner", "?o")], template=[])


def test_construct_null_slot_skips_triple(spark):
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_construct

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "p", "d"), ("a", "own", "x")],
        "subj string, pred string, obj_value string",
    )
    rows = {
        (r.subj, r.pred, r.obj_value)
        for r in bgp_construct(
            t,
            [("?s", "p", "?v")],
            template=[("?s", "has", "?v"), ("?s", "ownedBy", "?o")],
            optional_patterns=[[("?s", "own", "?o")]],
        ).collect()
    }
    # c has no owner: its ownedBy triple is skipped, has-triple kept
    assert rows == {
        ("a", "has", "b"), ("c", "has", "d"), ("a", "ownedBy", "x")}


def test_path_star_and_optional_step(spark):
    """p* = closure + identity over every graph term; p? = single step
    + identity."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query

    t = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "c")],
        "subj string, pred string, obj_value string",
    )
    star = {
        (r.x, r.y)
        for r in bgp_query(t, [("?x", "next*", "?y")], select=["x", "y"]).collect()
    }
    assert star == {
        ("a", "a"), ("b", "b"), ("c", "c"),      # identity: every term
        ("a", "b"), ("b", "c"), ("a", "c"),      # closure
    }
    opt = {
        (r.x, r.y)
        for r in bgp_query(t, [("?x", "next?", "?y")], select=["x", "y"]).collect()
    }
    assert opt == {
        ("a", "a"), ("b", "b"), ("c", "c"),
        ("a", "b"), ("b", "c"),                  # single steps only
    }
    # a bound subject prunes the identity side
    frm_b = {
        r.y
        for r in bgp_query(t, [("b", "next*", "?y")], select=["y"]).collect()
    }
    assert frm_b == {"b", "c"}


def test_ask_verb(triples):
    """ASK: one-row boolean; true when the pattern matches, false when
    not; composes with negation groups."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_ask

    yes = bgp_ask(triples, [("?x", "m:state", "Active")]).collect()
    assert yes == [__import__("pyspark").sql.Row(matched=True)]
    no = bgp_ask(triples, [("?x", "m:state", "Zombie")]).collect()
    assert [r.matched for r in no] == [False]
    # any member WITHOUT an owner? (all three have owners)
    none = bgp_ask(
        triples,
        [("?x", "rel:member", "?c")],
        not_exists=[[("?x", "m:owner", "?o")]],
    ).collect()
    assert [r.matched for r in none] == [False]


def test_having_numeric_on_string_aggregate(spark):
    """HAVING with a numeric value over a STRING aggregate follows the
    numeric-FILTER rule: non-numeric values drop as type errors, never
    an ANSI cast abort."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    t = spark.createDataFrame(
        [("d:1", "m:size", "10"), ("d:2", "m:size", "huge"),
         ("d:3", "m:size", "3")],
        "subj string, pred string, obj_value string",
    )
    got = bgp_aggregate(
        t,
        [("?x", "m:size", "?s")],
        group_by=["?x"],
        aggs=[("min", "?s", "lo")],
        having=[("lo", ">", 5)],
    ).collect()
    # 'huge' drops as a type error; only the 10 survives the > 5
    assert [(r.x, r.lo) for r in got] == [("d:1", "10")]


def test_literal_bracket_escape(spark):
    """<...>-wrapped constants match literally: a predicate whose URI
    ends in '?' (rdfxml keeps bare markers) is queryable as-is, where
    the unbracketed form evaluates a zero-or-one path."""
    t = spark.createDataFrame(
        [("a", "http://ex/p?", "b"), ("a", "http://ex/p", "c")],
        "subj string, pred string, obj_value string",
    )
    lit = bgp_query(
        t, [("?x", "<http://ex/p?>", "?y")], select=["x", "y"]
    ).collect()
    assert [(r.x, r.y) for r in lit] == [("a", "b")]
    # unbracketed: zero-or-one path over http://ex/p (identity + step)
    path = {
        (r.x, r.y)
        for r in bgp_query(
            t, [("?x", "http://ex/p?", "?y")], select=["x", "y"]
        ).collect()
    }
    assert ("a", "c") in path and ("b", "b") in path


def test_solution_modifiers_order_limit_offset(triples):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject; OFFSET pages
    deterministically; OFFSET without ORDER BY is rejected."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query

    page1 = bgp_query(
        triples,
        [("?x", "rel:member", "?c")],
        select=["x", "c"],
        order_by=[("?x", "asc")],
        limit=2,
    )
    phys = page1._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    assert [r.x for r in page1.collect()] == ["p:1", "p:2"]

    page2 = bgp_query(
        triples,
        [("?x", "rel:member", "?c")],
        select=["x", "c"],
        order_by=[("?x", "asc")],
        limit=2,
        offset=2,
    ).collect()
    assert [r.x for r in page2] == ["p:3"]

    desc = bgp_query(
        triples,
        [("?x", "rel:member", "?c")],
        select=["x"],
        order_by=[("?x", "desc")],
        limit=1,
    ).collect()
    assert [r.x for r in desc] == ["p:3"]

    with pytest.raises(ValueError, match="OFFSET without ORDER BY"):
        bgp_query(triples, [("?x", "rel:member", "?c")], offset=1)
    with pytest.raises(ValueError, match="not a selected variable"):
        bgp_query(
            triples, [("?x", "rel:member", "?c")], select=["x"],
            order_by=[("?c", "asc")],
        )


def test_bgp_aggregate_differential_random(spark):
    """Differential fuzz for aggregates: seeded-random (triples,
    patterns, group var) cases, bgp_aggregate vs a naive evaluator
    computing count/count_distinct/min/sorted-group_concat per group
    over the naive solution bag."""
    import random
    from collections import defaultdict

    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_aggregate

    rng = random.Random(999)
    subs = [f"s{i}" for i in range(4)]
    preds = [f"p{i}" for i in range(3)]
    objs = [f"o{i}" for i in range(3)] + subs
    vars_pool = ["?a", "?b", "?c"]

    def naive_solutions(triples, patterns):
        sols = [dict()]
        for pat in patterns:
            nxt = []
            for s in sols:
                for t in triples:
                    b = dict(s)
                    ok = True
                    for term, val in zip(pat, t):
                        if term.startswith("?"):
                            if b.get(term, val) != val:
                                ok = False
                                break
                            b[term] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(b)
            sols = nxt
        return sols

    checked = 0
    for _case in range(80):
        triples = list({
            (rng.choice(subs), rng.choice(preds), rng.choice(objs))
            for _ in range(rng.randint(3, 10))
        })
        patterns = []
        for _ in range(rng.randint(1, 3)):
            mk = lambda pool: (
                rng.choice(vars_pool) if rng.random() < 0.5 else rng.choice(pool)
            )
            patterns.append((mk(subs), mk(preds), mk(objs)))
        if not all(any(t.startswith("?") for t in p) for p in patterns):
            continue
        all_vars = sorted({v for p in patterns for v in p if v.startswith("?")})
        if len(all_vars) < 2:
            continue
        gvar, avar = rng.sample(all_vars, 2)
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj_value string"
        )
        try:
            got = bgp_aggregate(
                df,
                patterns,
                group_by=[gvar],
                aggs=[
                    ("count", "*", "n"),
                    ("count_distinct", avar, "nd"),
                    ("min", avar, "lo"),
                    ("group_concat:|", avar, "cc"),
                ],
            ).collect()
        except ValueError:
            continue
        sols = naive_solutions(triples, patterns)
        groups = defaultdict(list)
        for b in sols:
            groups[b[gvar]].append(b[avar])
        want = {
            g: (len(vs), len(set(vs)), min(vs), "|".join(sorted(vs)))
            for g, vs in groups.items()
        }
        got_map = {
            r[gvar.lstrip("?")]: (r.n, r.nd, r.lo, r.cc) for r in got
        }
        assert got_map == want, (triples, patterns, gvar, avar)
        checked += 1
    assert checked >= 20


# --- named graphs (GRAPH), VALUES, DESCRIBE --------------------------------


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("a", "knows", "b", "g1"),
        ("b", "type", "Person", "g1"),
        ("b", "type", "Robot", "g2"),
        ("c", "knows", "b", "g2"),
        ("a", "type", "Person", "g2"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, graph string"
    )


def test_graph_constant_scopes_and_pushes_down(spark, tmp_path, quads):
    """A constant GRAPH pins every scan to one named graph, and the
    equality reaches the parquet scan as a pushed filter."""
    got = bgp_query(quads, [("?x", "knows", "?y")], graph="g1").collect()
    assert [(r.x, r.y) for r in got] == [("a", "b")]

    path = str(tmp_path / "quads")
    quads.write.parquet(path)
    stored = spark.read.parquet(path)
    plan = (
        bgp_query(stored, [("?x", "knows", "?y")], graph="g1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("graph" in ln for ln in pushed), plan


def test_graph_variable_joins_within_one_graph(quads):
    """GRAPH ?g: all patterns in the group match within the SAME named
    graph — the cross-graph row combination that the union-default
    evaluation produces must be excluded, and ?g reports the graph."""
    same = sorted(
        (r.x, r.t, r.g)
        for r in bgp_query(
            quads, [("?x", "knows", "?y"), ("?y", "type", "?t")], graph="?g"
        ).select("x", "t", "g").collect()
    )
    assert same == [("a", "Person", "g1"), ("c", "Robot", "g2")]
    # union default graph (graph=None) includes the cross-graph matches
    union = bgp_query(
        quads, [("?x", "knows", "?y"), ("?y", "type", "?t")]
    ).collect()
    assert len(union) == 4
    # the graph variable doubling as a pattern term is an equality:
    # no subject is named g1/g2, so GRAPH ?g { ?g ?p ?o } is empty
    assert bgp_query(quads, [("?g", "?p", "?o")], graph="?g").collect() == []


def test_graph_requires_quad_table(triples):
    with pytest.raises(ValueError, match="'graph' column"):
        bgp_query(triples, [("?x", "rel:member", "?c")], graph="g1")


def test_graph_paths_constant_and_per_graph_closure(spark, quads):
    """Property paths under a CONSTANT graph iterate only that graph's
    edges; under a graph VARIABLE the closure runs PER NAMED GRAPH —
    a path never crosses graphs, and ?g binds the path's graph."""
    got = bgp_query(quads, [("?x", "knows+", "?y")], graph="g2").collect()
    assert [(r.x, r.y) for r in got] == [("c", "b")]
    # chain a->b in g1, b->c in g2: the union-default closure would
    # derive a->c, the per-graph closure must NOT
    chain = spark.createDataFrame(
        [("a", "p", "b", "g1"), ("b", "p", "c", "g2"), ("x", "p", "y", "g1"),
         ("y", "p", "z", "g1")],
        "subj string, pred string, obj_value string, graph string",
    )
    got = sorted(
        (r.x, r.y, r.g)
        for r in bgp_query(chain, [("?x", "p+", "?y")], graph="?g")
        .select("x", "y", "g").collect()
    )
    assert got == [
        ("a", "b", "g1"), ("b", "c", "g2"),
        ("x", "y", "g1"), ("x", "z", "g1"), ("y", "z", "g1"),
    ]
    # zero-or-more under ?g: identity matches per graph a term is in
    ident = sorted(
        (r.x, r.g)
        for r in bgp_query(chain, [("?x", "p*", "b")], graph="?g")
        .select("x", "g").collect()
    )
    # b is a term of BOTH g1 (object) and g2 (subject): zero-length in
    # both, one-step a->b only in g1
    assert ident == [("a", "g1"), ("b", "g1"), ("b", "g2")]


def test_values_multiset_and_mixed_signatures(spark, quads):
    """VALUES joins the inline rows with the solutions: duplicate rows
    multiply (multiset), rows with different defined-variable
    signatures union their per-signature joins, and the inline side is
    a broadcast."""
    dup = bgp_query(
        quads, [("?x", "knows", "?y")], values=[{"?x": "a"}, {"?x": "a"}]
    ).collect()
    assert [(r.x, r.y) for r in dup] == [("a", "b"), ("a", "b")]

    mixed = sorted(
        (r.x, r.t)
        for r in bgp_query(
            quads,
            [("?x", "knows", "?y"), ("?y", "type", "?t")],
            values=[{"?x": "a", "?t": "Person"}, {"?t": "Robot"}],
        ).select("x", "t").collect()
    )
    assert mixed == [("a", "Person"), ("a", "Robot"), ("c", "Robot")]

    plan = (
        bgp_query(quads, [("?x", "knows", "?y")], values=[{"?x": "a"}])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_values_rejections(quads):
    with pytest.raises(ValueError, match="no variable"):
        bgp_query(quads, [("?x", "knows", "?y")], values=[{}])
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(quads, [("?x", "knows", "?y")], values=[{"?zz": "1"}])
    # OPTIONAL-only bindings need SPARQL's unbound-compatible join
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(
            quads,
            [("?x", "knows", "?y")],
            optional_patterns=[[("?y", "type", "?t")]],
            values=[{"?t": "Person"}],
        )


def test_describe_constant_variable_and_plan(quads):
    """DESCRIBE returns the outbound quads of the described nodes; the
    variable form evaluates the WHERE clause once and LEFT SEMI joins
    the store (existence only, no row multiplication)."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_describe

    const = sorted(
        (r.pred, r.obj_value) for r in bgp_describe(quads, "b").collect()
    )
    assert const == [("type", "Person"), ("type", "Robot")]

    # WHERE scoped to g1, but the description reads the FULL store
    var = sorted(
        (r.subj, r.pred, r.obj_value, r.graph)
        for r in bgp_describe(
            quads, "?y", [("?x", "knows", "?y")], graph="g1"
        ).collect()
    )
    assert var == [("b", "type", "Person", "g1"), ("b", "type", "Robot", "g2")]

    plan = (
        bgp_describe(quads, "?y", [("?x", "knows", "?y")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan, plan
    with pytest.raises(ValueError, match="WHERE patterns"):
        bgp_describe(quads, "?y")


def test_bgp_filter_differential_random(spark):
    """Differential fuzz for the FILTER expression compiler: random
    boolean trees (=, !=, contains, IN, NOT IN under and/or, depth 2)
    over seeded-random BGPs, bgp_query vs a naive Python evaluator,
    compared as bags. All bindings are non-NULL strings here, so
    Python's boolean semantics and Spark's three-valued logic agree
    exactly — the fuzz isolates the expression-tree compilation."""
    import random
    from collections import Counter

    rng = random.Random(31337)
    subs = [f"s{i}" for i in range(4)]
    preds = [f"p{i}" for i in range(3)]
    objs = [f"o{i}" for i in range(3)] + subs
    consts = subs + objs

    def naive_patterns(triples, patterns):
        sols = [dict()]
        for pat in patterns:
            nxt = []
            for s in sols:
                for t in triples:
                    b = dict(s)
                    ok = True
                    for term, val in zip(pat, t):
                        if term.startswith("?"):
                            if b.get(term, val) != val:
                                ok = False
                                break
                            b[term] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(b)
            sols = nxt
        return sols

    def naive_filter(node, b):
        if (isinstance(node, tuple) and len(node) == 2
                and node[0] in ("and", "or")):
            vals = [naive_filter(c, b) for c in node[1]]
            return all(vals) if node[0] == "and" else any(vals)
        var, op, val = node
        x = b[var]
        if op == "=":
            return x == val
        if op == "!=":
            return x != val
        if op == "contains":
            return val in x
        if op == "in":
            return x in val
        return x not in val  # not_in

    def gen_filter(bvars, depth):
        if depth == 0 or rng.random() < 0.5:
            var = rng.choice(bvars)
            op = rng.choice(["=", "!=", "contains", "in", "not_in"])
            if op in ("in", "not_in"):
                return (var, op,
                        tuple(rng.sample(consts, k=rng.randint(1, 3))))
            if op == "contains":
                return (var, op, rng.choice(["s", "o", "1", "2"]))
            return (var, op, rng.choice(consts))
        return (rng.choice(["and", "or"]),
                [gen_filter(bvars, depth - 1) for _ in range(2)])

    checked = 0
    for _case in range(60):
        triples = list({
            (rng.choice(subs), rng.choice(preds), rng.choice(objs))
            for _ in range(rng.randint(4, 10))
        })
        n_pat = rng.randint(1, 2)
        patterns = []
        for _ in range(n_pat):
            mk = lambda pool: (
                rng.choice(["?a", "?b", "?c"]) if rng.random() < 0.5
                else rng.choice(pool)
            )
            patterns.append((mk(subs), mk(preds), mk(objs)))
        bvars = sorted({v for p in patterns for v in p if v.startswith("?")})
        if not bvars or not all(
            any(t.startswith("?") for t in p) for p in patterns
        ):
            continue
        filt = gen_filter(bvars, 2)
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj_value string"
        )
        try:
            got = bgp_query(df, patterns, select=bvars,
                            filters=[filt]).collect()
        except ValueError:
            continue  # disconnected
        want = [b for b in naive_patterns(triples, patterns)
                if naive_filter(filt, b)]
        got_bag = Counter(
            tuple(r[v.lstrip("?")] for v in bvars) for r in got
        )
        want_bag = Counter(tuple(b[v] for v in bvars) for b in want)
        assert got_bag == want_bag, (triples, patterns, filt)
        checked += 1
    assert checked >= 25
