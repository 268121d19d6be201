"""Unit tests for the training-data pipeline operators: near-dup
detection finds planted duplicates, and the graph and code operators
behave, including the code-KG job's license, clone-key and import
rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
    dedup_exact_docs,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signature,
    ngram_jaccard,
    simhash,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find some quiet rest").split()


def _docs(spark):
    texts = {
        0: " ".join(BASE),
        1: " ".join(BASE),                                   # exact dup of 0
        2: " ".join(BASE[:-1] + ["nap"]),                    # near dup of 0
        3: "completely different content about spark shuffles and parquet readers",
        4: "el perro corre por la casa de la abuela en el campo",
    }
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(texts.items())], "doc_id long, text string"
    )


def test_dedup_exact_docs(spark):
    out = {r.keep_doc_id: r.n_copies for r in dedup_exact_docs(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, min id kept
    assert sum(out.values()) == 5


def test_minhash_finds_planted_near_dups(spark):
    docs = _docs(spark)
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_signature_deterministic(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, minhash_signature(docs).collect()))
    b = sorted(map(tuple, minhash_signature(docs).collect()))
    assert a == b
    # identical docs -> identical signatures
    sig = {r.doc_id: tuple(r)[1:] for r in minhash_signature(docs).collect()}
    assert sig[0] == sig[1]


def test_lsh_bucket_bound_drops_degenerate_buckets(spark):
    # 50 identical docs -> one giant bucket; max_bucket=10 must drop it
    docs = spark.createDataFrame(
        [(i, "same same same words here") for i in range(50)], "doc_id long, text string"
    )
    sigs = minhash_signature(docs)
    assert minhash_lsh_candidates(sigs, max_bucket=10).count() == 0
    assert minhash_lsh_candidates(sigs, max_bucket=100).count() == 50 * 49 // 2


def test_minhash_incremental_matches_full_recompute(spark):
    """Two-wave fixture with planted old-old, new-old, and new-new
    near-dup pairs: previous-pairs ∪ incremental-pairs must equal the
    full recompute's pair set, with the new wave's signatures as the
    only new signature work."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        band_table,
        minhash_incremental_pairs,
        minhash_near_duplicates,
        minhash_signature,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    rows = [
        (0, base),                                  # old
        (1, base.replace("kappa", "kap")),          # old near-dup of 0
        (2, other),                                 # old, distinct
        (10, base.replace("sigma", "sig")),         # new near-dup of 0/1
        (11, other.replace("ten", "tenn")),         # new near-dup of 2
        (12, other.replace("ten", "tenn") + " x"),  # new near-dup of 11
        (13, "totally unrelated content here now"), # new singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old_docs = docs.filter("doc_id < 10")
    new_docs = docs.filter("doc_id >= 10")

    full = {(r.doc_a, r.doc_b)
            for r in minhash_near_duplicates(docs, threshold=0.4).collect()}
    prev = {(r.doc_a, r.doc_b)
            for r in minhash_near_duplicates(old_docs, threshold=0.4).collect()}
    old_bands = band_table(minhash_signature(old_docs, "text", 8))
    incr = {(r.doc_a, r.doc_b)
            for r in minhash_incremental_pairs(
                new_docs, old_bands, docs, threshold=0.4).collect()}
    assert prev | incr == full
    # incremental pairs all touch a new doc; old-old never recomputes
    assert all(a >= 10 or b >= 10 for a, b in incr)
    assert any(a < 10 <= b for a, b in incr)   # a planted new-old pair
    assert any(a >= 10 and b >= 10 for a, b in incr)  # and a new-new pair


def test_containment_incremental_matches_full_recompute(spark):
    """Containment twin of the MinHash wave test: planted old-old,
    new-old, and new-new contained fragments. previous-pairs ∪
    incremental-pairs must equal the full recompute — scores included —
    while the new wave probes the persisted (g, doc_id) index and only
    the wave re-shingles."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        containment_incremental_pairs,
        containment_index,
        containment_near_duplicates,
    )

    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    long_b = " ".join(f"one{i} two{i} three{i}" for i in range(12))
    rows = [
        (0, long_a),                                   # old host
        (1, " ".join(long_a.split()[:12])),            # old fragment of 0
        (2, long_b),                                   # old, distinct host
        (10, " ".join(long_a.split()[12:26])),         # new fragment of 0
        (11, " ".join(f"p{i} q{i} r{i}" for i in range(10))),  # new host
        (12, " ".join(f"p{i} q{i} r{i}" for i in range(10))[:40]),  # new frag of 11
        (13, "totally unrelated content here now"),    # new singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old_docs = docs.filter("doc_id < 10")
    new_docs = docs.filter("doc_id >= 10")

    def as_dict(df):
        return {(r.doc_a, r.doc_b): r.containment for r in df.collect()}

    full = as_dict(containment_near_duplicates(docs, threshold=0.8))
    prev = as_dict(containment_near_duplicates(old_docs, threshold=0.8))
    old_index = containment_index(old_docs)
    incr = as_dict(
        containment_incremental_pairs(new_docs, old_index, threshold=0.8)
    )
    assert {**prev, **incr} == full
    # incremental pairs all touch a new doc; old-old never recomputes
    assert all(a >= 10 or b >= 10 for a, b in incr)
    assert any(a < 10 <= b for a, b in incr)          # a planted new-old pair
    assert any(a >= 10 and b >= 10 for a, b in incr)  # and a new-new pair
    # a prebuilt wave index gives the same answer
    incr2 = as_dict(
        containment_incremental_pairs(
            new_docs, old_index, threshold=0.8,
            new_index=containment_index(new_docs),
        )
    )
    assert incr2 == incr


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "doc_a long, doc_b long")
    j = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(pairs, docs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] == 0.0


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert out[0] == out[1]
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[3]).count("1")
    assert ham_near <= ham_far


def test_hll_sketch_distinct_error_bound(spark):
    """approx_count_distinct (HyperLogLog++): mergeable distributed
    sketch; rsd=0.02 must land within 5% of exact on every grouping."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    got = {
        r.l_returnflag: (r.approx, r.exact)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx"),
            F.countDistinct("l_orderkey").alias("exact"),
        )
        .collect()
    }
    assert got
    for flag, (approx, exact) in got.items():
        assert abs(approx - exact) / exact < 0.05, (flag, approx, exact)


def test_connected_components_chain_and_singletons(spark):
    """A 5-node chain (diameter > 1 propagation round), a separate
    2-clique, and isolated vertices supplied via `vertices`."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                  "doc_id long")
    got = {r.id: r.cluster_id
           for r in connected_components(pairs, vertices=verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_star_cc_matches_propagation_on_random_graph(spark):
    """Both algorithms must produce identical labelings — exercised on a
    graph with chains, a clique, singletons, and a cross-link."""
    import random

    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 12)]            # chain 0..12
    edges += [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
    edges += [(12, 20)]                                    # bridge chain <-> clique
    edges += [(rng.randrange(30, 40), rng.randrange(30, 40)) for _ in range(8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    verts = spark.createDataFrame([(i,) for i in range(0, 45)], "doc_id long")
    prop = {r.id: r.cluster_id
            for r in connected_components(pairs, vertices=verts).collect()}
    star = {r.id: r.cluster_id
            for r in connected_components(
                pairs, vertices=verts, algorithm="star").collect()}
    assert prop == star


def test_star_cc_long_chain_converges_where_propagation_cannot(spark):
    """A 30-node chain has diameter 29: plain propagation advances one
    hop per round (raises within 5), while large-star/small-star folds
    the chain in O(log^2 n) rounds (~7 for this size, measured) and
    labels it correctly within the same budget of 10."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=5)
    got = {r.id: r.cluster_id
           for r in connected_components(chain, max_iter=10, algorithm="star").collect()}
    assert got == {i: 0 for i in range(31)}


def test_star_cc_empty_and_singletons(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    verts = spark.createDataFrame([(5,), (9,)], "doc_id long")
    got = {r.id: r.cluster_id
           for r in connected_components(pairs, vertices=verts, algorithm="star").collect()}
    assert got == {5: 5, 9: 9}


def test_shared_neighbor_pairs_bound_and_dedup(spark):
    """Hub h1 (3 members) enumerates its 3 pairs; hub h2 exceeds
    max_bucket and enumerates nothing; duplicate edges collapse before
    pairing."""
    from fcrepo3_rdf_extractor_spark.operators.graph import shared_neighbor_pairs

    edges = spark.createDataFrame(
        [("h1", "a"), ("h1", "b"), ("h1", "c"), ("h1", "a"),
         ("h2", "x"), ("h2", "y"), ("h2", "z"), ("h2", "w")],
        "hub string, member string",
    )
    got = {(r.hub, r.member_a, r.member_b)
           for r in shared_neighbor_pairs(edges, max_bucket=3).collect()}
    assert got == {("h1", "a", "b"), ("h1", "a", "c"), ("h1", "b", "c")}


def test_dedup_clusters_keep_is_min_id(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(7, 3), (3, 9)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in [3, 7, 9, 42]], "doc_id long")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in dedup_clusters(pairs, docs).collect()}
    assert rows == {3: (3, True), 7: (3, False), 9: (3, False), 42: (42, True)}


def test_connected_components_raises_on_non_convergence(spark):
    """Exceeding max_iter must raise, not silently return split
    clusters (partial labels would make the canonical pick wrong with
    no downstream signal)."""
    import pytest as _pytest

    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )  # diameter 7 > max_iter=2
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=2)


# --- pagerank ---------------------------------------------------------------


def _pagerank_reference(edges, n_iter=3, d=0.85):
    """Pure-Python PageRank with uniform dangling-mass redistribution."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, v in edges:
        out.setdefault(u, set()).add(v)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        mass = sum(rank[v] for v in nodes if v not in out)
        nxt = {}
        for v in nodes:
            contrib = sum(
                rank[u] / len(out[u]) for u in nodes if u in out and v in out[u]
            )
            nxt[v] = (1 - d) / n + d * (contrib + mass / n)
        rank = nxt
    return rank


def test_pagerank_matches_reference_with_dangling_nodes(spark):
    """Chain + fan + two dangling sinks: every structural case (multi
    out-degree, pure sink, node that is only ever a source)."""
    from fcrepo3_rdf_extractor_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("e", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, n_iter=3).collect()}
    want = _pagerank_reference(edges, n_iter=3)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_conserves_total_rank(spark):
    """Dangling redistribution must keep sum(rank) == 1 each round."""
    from fcrepo3_rdf_extractor_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 4):
        total = (
            pagerank(df, n_iter=it).agg(F.sum("rank").alias("s")).collect()[0].s
        )
        assert total == pytest.approx(1.0, abs=1e-12)


def test_dedup_lines_removes_corpus_boilerplate(spark):
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique alpha\nfooter text"),
            (2, "COOKIE BANNER\nunique beta\nfooter text"),
            (3, "unique gamma\nCOOKIE BANNER"),
            (4, "COOKIE BANNER\nfooter text"),  # all lines boilerplate
            (5, "solo line stays"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "unique alpha"
    assert out[2]["text"] == "unique beta"
    assert out[3]["text"] == "unique gamma"
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0
    assert out[4]["n_removed"] == 2
    assert out[5]["text"] == "solo line stays" and out[5]["n_removed"] == 0
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 2


def test_dedup_lines_preserves_order_and_duplicate_positions(spark):
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import dedup_lines

    # a line repeated WITHIN one doc but nowhere else is NOT banned
    # (min_docs counts distinct documents), and order is original
    docs = spark.createDataFrame(
        [(1, "z last\nz last\na first"), (2, "other doc")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "z last\nz last\na first"


def test_void_property_stats(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import void_property_stats

    triples = spark.createDataFrame(
        [
            ("s1", "p1", "o1", False),
            ("s1", "p1", "o2", False),
            ("s2", "p1", "o1", False),
            ("s1", "p2", "lit", True),
        ],
        ["subj", "pred", "obj_value", "obj_is_literal"],
    )
    out = {r["pred"]: r for r in void_property_stats(triples).collect()}
    assert out["p1"]["n_triples"] == 3
    assert out["p1"]["n_subjects"] == 2
    assert out["p1"]["n_objects"] == 2
    assert out["p1"]["n_literal_objects"] == 0
    assert out["p2"]["n_triples"] == 1 and out["p2"]["n_literal_objects"] == 1


def test_connected_components_evaluates_pair_pipeline_once(spark):
    """The propagation path mirrors pairs into a bidirected edge list; a
    union of two references to an un-checkpointed plan evaluates it
    twice (the filter/union gotcha). Pin the fix: an accumulator inside
    a mapInPandas pair source must count each pair exactly once."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"])

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    pairs = base.mapInPandas(counted, schema="doc_a long, doc_b long")
    out = connected_components(pairs)
    assert {(r["id"], r["cluster_id"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
    }
    assert acc.value == 3

def test_dedup_substrings_keep_first(spark):
    """A 6-token span planted in two documents (and twice in one of
    them) survives ONLY at its first occurrence — (min doc_id, min pos)
    — and every other occurrence loses exactly its covered tokens;
    untouched documents and documents shorter than k pass through
    whole. Jaccard between the planted docs is far below any usable
    near-dup threshold, so this is the modality only substring dedup
    catches."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_substrings,
    )

    span = "the quick brown fox jumps high"          # 6 tokens
    d0 = f"alpha beta {span} gamma delta"            # first occurrence (pos 2)
    d1 = f"one two three four {span} five {span}"    # two later occurrences
    d2 = "totally unrelated words here only once appearing"
    d3 = "short doc"                                  # < k tokens
    df = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in dedup_substrings(df, k=6).collect()}
    assert got[0].text == d0 and got[0].n_removed == 0
    # d1: both span occurrences removed (neither is the canonical one);
    # the removal also covers bridging 6-grams that straddle span
    # boundaries only if THEY repeat — here they don't, so exactly the
    # two spans' tokens go
    assert got[1].text == "one two three four five"
    assert got[1].n_removed == 12 and got[1].n_kept == 5
    assert got[2].text == d2 and got[2].n_removed == 0
    assert got[3].text == d3 and got[3].n_kept == 2


def test_dedup_substrings_remove_all(spark):
    """keep_first=False removes EVERY occurrence of a duplicated span,
    including the canonical first one."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_substrings,
    )

    span = "a b c d"
    df = spark.createDataFrame(
        [(0, f"x {span} y"), (1, f"p q {span}")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           dedup_substrings(df, k=4, keep_first=False).collect()}
    assert got[0].text == "x y" and got[0].n_removed == 4
    assert got[1].text == "p q" and got[1].n_removed == 4


def test_curate_containment_stage_drops_fragment(spark):
    """Containment dedup catches a fragment embedded verbatim in a
    longer document — a pair whose symmetric Jaccard (~0.48) sits below
    a 0.7 near-dup threshold, so ONLY containment (1.0) flags it; dropping
    the smaller side of each contained pair keeps the longer original.
    (Doc 1 is the first 30 words of doc 0; doc 2 shares no shingle.)"""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        containment_near_duplicates,
    )

    words = [f"w{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(words[:30])),
         (2, " ".join(f"z{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    pair = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    assert ngram_jaccard(pair, docs).collect()[0].jaccard < 0.7
    assert minhash_near_duplicates(docs, threshold=0.7).count() == 0

    pairs = containment_near_duplicates(docs, threshold=0.8).collect()
    assert [(p.doc_a, p.doc_b, p.containment) for p in pairs] == [(0, 1, 1.0)]
    n_chars = {r.doc_id: len(r.text) for r in docs.collect()}
    dropped = {min((p.doc_a, p.doc_b), key=lambda d: (n_chars[d], d))
               for p in pairs}
    assert set(n_chars) - dropped == {0, 2}


def test_curate_substring_dedup_stage(spark):
    """Substring dedup at k=10 removes a span repeated across documents
    from every occurrence but the first, rewrites the later document's
    text, and empties a document that IS the span — leaving two documents with any text.
    (A 10-token span planted in docs 0/1; doc 2 is the span alone.)"""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_substrings,
    )

    span = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, f"aaa bbb {span} ccc"), (1, f"ddd eee {span} fff"), (2, span)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_substrings(docs, k=10).collect()}
    assert got[0].text == f"aaa bbb {span} ccc" and got[0].n_removed == 0
    assert got[1].text == "ddd eee fff" and got[1].n_removed == 10
    assert got[2].n_kept == 0 and got[2].n_removed == 10
    assert {d for d, r in got.items() if r.n_kept > 0} == {0, 1}


def test_triangle_participation_known_graph(spark):
    """K4 plus a pendant edge: every K4 vertex sits in C(3,2)=3
    triangles, the pendant vertex in none (and is absent from the
    output). Duplicate/reversed input pairs must not double-count."""
    from fcrepo3_rdf_extractor_spark.operators.graph import triangle_participation

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs = k4 + [(3, 9), (1, 0), (2, 1)]  # pendant + reversed dups
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.id: r.n_triangles for r in triangle_participation(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_fileset_near_duplicates_fork_and_boilerplate(spark):
    """Repo fork detection: an exact mirror scores 1.0, a 3/4 fork
    scores 0.6 (3 shared / 5 union), unrelated repos don't pair, and a
    hash present in EVERY repo (vendored boilerplate) is excluded by
    max_df from both numerator and sizes."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        fileset_near_duplicates,
    )

    rows = []
    for i in range(4):
        rows.append(("rA", f"h{i}"))          # base repo: h0..h3
        rows.append(("rM", f"h{i}"))          # exact mirror
    rows += [("rF", "h0"), ("rF", "h1"), ("rF", "h2"), ("rF", "hX")]  # fork
    rows += [("rZ", "z0"), ("rZ", "z1")]      # unrelated
    for repo in ("rA", "rM", "rF", "rZ"):
        rows.append((repo, "BOILER"))         # shared by all 4 repos
    files = spark.createDataFrame(rows, "repo string, file_md5 string")

    got = {(r.repo_a, r.repo_b): r.jaccard
           for r in fileset_near_duplicates(
               files, threshold=0.5, max_df=3).collect()}
    # BOILER (df=4 > 3) is dropped everywhere: sizes are 4/4/4/2
    assert got[("rA", "rM")] == 1.0
    assert got[("rF", "rM")] == 0.6 and got[("rA", "rF")] == 0.6
    assert all("rZ" not in pair for pair in got)

    # without the df bound, BOILER inflates every pairing
    loose = {(r.repo_a, r.repo_b): r.jaccard
             for r in fileset_near_duplicates(
                 files, threshold=0.0, max_df=100).collect()}
    assert ("rA", "rZ") in loose  # boilerplate-only overlap now pairs


def test_kcore_known_graph(spark):
    """Triangle {1,2,3} with a chain 3-4-5 and a pendant 6-1: the 2-core
    is exactly the triangle (chain + pendant peel away, and peeling 4
    must cascade to 5 — two rounds). A 4-clique's 3-core keeps all four
    vertices at degree 3; its 4-core is empty."""
    from fcrepo3_rdf_extractor_spark.operators.graph import kcore

    tri_chain = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (1, 6)],
        "doc_a long, doc_b long",
    )
    got = {r.id: r.core_degree for r in kcore(tri_chain, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "doc_a long, doc_b long",
    )
    got3 = {r.id: r.core_degree for r in kcore(clique, k=3).collect()}
    assert got3 == {0: 3, 1: 3, 2: 3, 3: 3}
    assert kcore(clique, k=4).count() == 0


def test_transitive_closure_shortest_depths(spark):
    """Diamond 1->2->4, 1->3->4, plus shortcut 1->4: depth(1,4) must be
    the SHORTEST (1, via the shortcut), and a cycle drains instead of
    looping."""
    from fcrepo3_rdf_extractor_spark.operators.graph import transitive_closure

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4), (4, 5)],
        "src long, dst long",
    )
    got = {(r.src, r.dst): r.depth for r in transitive_closure(e).collect()}
    assert got[(1, 4)] == 1
    assert got[(1, 5)] == 2
    assert got[(2, 5)] == 2 and got[(2, 4)] == 1
    assert len(got) == 9  # 1->{2,3,4,5}, 2->{4,5}, 3->{4,5}, 4->5

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    gc = {(r.src, r.dst): r.depth for r in transitive_closure(cyc).collect()}
    # every ordered pair incl. self via the cycle
    assert gc[(1, 1)] == 3 and gc[(1, 3)] == 2 and len(gc) == 9


def test_license_detect_precedence_and_plan(spark):
    """SPDX beats phrases (a GPL-phrased file with an MIT SPDX tag is
    MIT); unknown -> NULL + permissive 0; and the operator is one
    join-free, shuffle-free projection."""
    from fcrepo3_rdf_extractor_spark.operators.code import with_license

    rows = [
        (1, "// SPDX-License-Identifier: MIT\nGNU General Public License"),
        (2, "Permission is hereby granted, free of charge"),
        (3, "Licensed under the Apache License, Version 2.0 (the License)"),
        (4, "This file is released under the GNU General Public License v3"),
        (5, "Redistribution and use in source and binary forms, with or"),
        (6, "def main(): pass"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = with_license(df).select("doc_id", "license", "permissive")
    got = {r.doc_id: (r.license, r.permissive) for r in out.collect()}
    assert got == {
        1: ("MIT", 1),
        2: ("MIT", 1),
        3: ("Apache-2.0", 1),
        4: ("GPL-3.0-only", 0),
        5: ("BSD-3-Clause", 1),
        6: (None, 0),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_contamination_closure_propagates_across_cluster(spark):
    """A flag on one member flags the whole component; isolated docs
    keep their own flag only."""
    from fcrepo3_rdf_extractor_spark.operators.graph import (
        contamination_closure,
    )

    flags = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 0), (4, 0), (5, 0)],
        "doc_id long, contaminated int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.contaminated, r.cluster_contaminated)
        for r in contamination_closure(flags, pairs).collect()
    }
    assert got == {
        1: (1, 1), 2: (0, 1), 3: (0, 1),  # closure of the flagged doc
        4: (0, 0), 5: (0, 0),             # clean component stays clean
    }


def test_code_clone_key_type2_semantics(spark):
    """Renamed identifiers + changed literals + different comments =
    SAME key; changed structure (operator, call shape) = different key."""
    from fcrepo3_rdf_extractor_spark.operators.code import clone_key_expr

    a = "def total(xs):\n    # sum them\n    return sum(xs) + 1\n"
    b = "def acc(items):\n    /* other note */\n    return sum(items) + 42\n"
    c = "def total(xs):\n    return sum(xs) * 1\n"   # * not + -> structure
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    keyed = df.select("doc_id", clone_key_expr().alias("clone_key"))
    sizes = keyed.groupBy("clone_key").agg(
        F.count("*").cast("long").alias("clone_group_size")
    )
    got = {r.doc_id: (r.clone_key, r.clone_group_size)
           for r in keyed.join(sizes, "clone_key").collect()}
    assert got[1][0] == got[2][0] and got[1][1] == 2
    assert got[3][0] != got[1][0] and got[3][1] == 1


def test_code_import_triples_kinds(spark):
    """Import-graph extraction (``code_kg_state``'s ``code:imports``
    rows): each pattern kind fires on its own statement shape, all from
    ONE content scan; edges compose with the BGP compiler like any
    other triples."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query
    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        CodeKgConfig,
        code_kg_state,
    )

    files = spark.createDataFrame(
        [
            ("r1", "a.py", "import os.path\nfrom collections import deque\nx=1"),
            ("r1", "b.c", '#include <stdio.h>\n#include "local.h"\nint main(){}'),
            ("r2", "c.js", "const x = require('lodash')\nimport {y} from 'react'"),
            ("r2", "d.txt", "no imports here at all"),
        ],
        "repo string, path string, content string",
    ).withColumn("commit", F.lit("c0"))
    state = code_kg_state(files, CodeKgConfig(dedup=False, resolve=False))
    got = state.filter(F.col("pred") == "code:imports")
    rows = {(r.subj, r.obj_value, r.kind) for r in got.collect()}
    assert rows == {
        ("src:r1/a.py", "os.path", "py_import"),
        ("src:r1/a.py", "collections", "py_from"),
        ("src:r1/b.c", "stdio.h", "c_include"),
        ("src:r1/b.c", "local.h", "c_include"),
        ("src:r2/c.js", "lodash", "js_require"),
        ("src:r2/c.js", "react", "js_import"),
    }
    # the edges are BGP-queryable triples: which files import lodash?
    hits = bgp_query(
        got.select("subj", "pred", "obj_value"),
        [("?f", "code:imports", "lodash")],
        select=["f"],
    ).collect()
    assert [r.f for r in hits] == ["src:r2/c.js"]


def test_code_def_triples_kinds(spark):
    """Definition extraction: each language pattern captures the defined
    name from its own statement shape; files defining nothing emit
    nothing; all patterns evaluate in ONE content scan."""
    from fcrepo3_rdf_extractor_spark.operators.code import code_def_triples

    files = spark.createDataFrame(
        [
            ("r1", "a.py", "def top(x):\n    pass\nclass Widget:\n  def m(self):..."),
            ("r1", "b.go", "func Handler(w int) {}\nfunc helper() {}"),
            ("r2", "c.rs", "fn main() {\n    let x = 1;\n}\npub fn util() {}"),
            ("r2", "d.js", "function render(props) {}\nconst f = () => 1"),
            ("r2", "e.txt", "nothing defined here"),
        ],
        "repo string, path string, content string",
    )
    rows = {
        (r.subj, r.obj_value, r.kind) for r in code_def_triples(files).collect()
    }
    assert rows == {
        ("src:r1/a.py", "top", "py_def"),
        ("src:r1/a.py", "m", "py_def"),
        ("src:r1/a.py", "Widget", "py_class"),
        ("src:r1/b.go", "Handler", "go_func"),
        ("src:r1/b.go", "helper", "go_func"),
        ("src:r2/c.rs", "main", "rust_fn"),
        ("src:r2/d.js", "render", "js_function"),
    }
    assert all(r.pred == "code:defines" for r in code_def_triples(files).collect())


def test_resolve_import_edges_linking(spark):
    """Entity linking: an import resolves to the same-repo file whose
    basename registers the module (top-level package rule for dotted
    Python modules, extension-stripped basename for path-shaped
    includes); unresolvable imports become ext: nodes; a basename
    collision resolves to the lexicographically smallest path; repos
    never cross-link."""
    from fcrepo3_rdf_extractor_spark.operators.code import resolve_import_edges

    files = spark.createDataFrame(
        [
            ("r1", "app.py", "import util\nimport os.path\nfrom pkg.sub import x"),
            ("r1", "util.py", "def helper(x): ..."),
            ("r1", "pkg.py", "VERSION = 1"),
            ("r1", "lib/util.py", "def shadowed(): ..."),   # collision: min path wins
            ("r2", "main.c", '#include "util.h"\n#include <stdio.h>'),
            ("r2", "util.h", "#define X 1"),
            ("r2", "util.py", "unused = True"),             # r2's util: no crossover to r1
        ],
        "repo string, path string, content string",
    )
    got = {
        (r.subj, r.obj_value, r.resolved)
        for r in resolve_import_edges(files).collect()
    }
    assert ("src:r1/app.py", "src:r1/lib/util.py", True) in got   # min("lib/util.py","util.py")
    assert ("src:r1/app.py", "ext:os.path", False) in got          # no os.py in repo
    assert ("src:r1/app.py", "src:r1/pkg.py", True) in got         # pkg.sub -> top-level pkg
    # C includes: util.h resolves in-repo, stdio.h is external (no stdio file),
    # and BOTH util.h and util.py register "util" in r2 — min path util.h wins
    assert ("src:r2/main.c", "src:r2/util.h", True) in got
    assert ("src:r2/main.c", "ext:stdio.h", False) in got
    assert not any(s.startswith("src:r1") and "r2" in o for (s, o, _) in got)


def test_vendored_file_stats(spark):
    """Vendored detection: a hash appearing in >1 repo marks every copy
    vendored (including within the repos that share it); repo-unique
    content — even duplicated WITHIN one repo — does not count."""
    from fcrepo3_rdf_extractor_spark.operators.code import vendored_file_stats

    files = spark.createDataFrame(
        [
            ("r1", "vendor/lib.js", "SHARED BLOB"),
            ("r2", "third_party/lib.js", "SHARED BLOB"),
            ("r1", "a.py", "unique to r1"),
            ("r2", "b.py", "intra-dup"),
            ("r2", "c.py", "intra-dup"),   # duplicated inside r2 only: NOT vendored
            ("r3", "solo.py", "all alone"),
        ],
        "repo string, path string, content string",
    )
    stats = {r.repo: r for r in vendored_file_stats(files).collect()}
    assert (stats["r1"].n_files, stats["r1"].n_vendored) == (2, 1)
    assert (stats["r2"].n_files, stats["r2"].n_vendored) == (3, 1)
    assert (stats["r3"].n_files, stats["r3"].n_vendored) == (1, 0)
    assert stats["r1"].vendored_frac == 0.5


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by one bridge edge: synchronous
    min-tie-break LPA settles each triangle onto one label, and the
    two communities stay distinct (the bridge is outvoted 2:1 on both
    sides). Self-loops are dropped; an isolated node is not returned
    (documented — it has no neighbors to vote)."""
    from fcrepo3_rdf_extractor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"),
         ("c", "d"),          # bridge
         ("a", "a"),          # self-loop: dropped
         ],
        "src string, dst string",
    )
    got = {r.node: r.label for r in label_propagation(edges, n_rounds=3).collect()}
    assert set(got) == {"a", "b", "c", "d", "e", "f"}
    left = {got["a"], got["b"], got["c"]}
    right = {got["d"], got["e"], got["f"]}
    assert len(left) == 1 and len(right) == 1 and left != right

    # deterministic: a second run returns the identical assignment
    again = {r.node: r.label for r in label_propagation(edges, n_rounds=3).collect()}
    assert got == again


