"""Graph algorithms over pair tables: connected components for duplicate
clustering.

Near-dup detection (MinHash/SimHash — operators/dedup_approx.py)
emits PAIRS; a training-data pipeline needs CLUSTERS:
"these 17 documents are one logical document, keep exactly one". That is
connected components over the pair graph, then a deterministic canonical
pick per component.

Implementation: iterative min-label propagation as a driver-controlled
loop of DataFrame joins — the canonical Spark shape for iterative graph
algorithms (a driver loop over DISTRIBUTED steps is not a driver-side
data loop; each iteration is one shuffle join + one aggregation, and the
per-iteration ``count()`` action only reads a 1-row convergence metric).
Iterations are bounded by the component diameter, which for near-dup
graphs is tiny (clusters are cliques-ish: every member collides with
most others in some LSH band). Each iteration's state is
``localCheckpoint``-ed: persist alone caches DATA but leaves the
LOGICAL plan growing — each round references the previous frame twice
(union + convergence compare), so the analyzed plan doubles per round
and ~10 rounds OOM the driver just generating plan strings.
Checkpointing truncates lineage to the materialized blocks (the
GraphFrames pattern); the cost is that a lost executor fails the job
instead of recomputing — the right trade for a loop whose recompute
would cascade through every round anyway.

Two propagation steps are provided. Plain min-label propagation
(``algorithm="propagation"``) advances labels one hop per round — rounds
scale with component DIAMETER, ideal for near-dup graphs (clusters are
cliques-ish, diameter ~2) but pathological on chains, and every round
funnels hot labels through their component's vertices. The
large-star/small-star formulation (``algorithm="star"``, Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) rewrites the
EDGE set instead: alternating rounds hang every vertex directly off a
local minimum, so the edge graph collapses to a star forest in
O(log^2 n) rounds regardless of diameter, and each round is one
window-aggregation + explode over the edge table — no label table join,
naturally skew-resistant (a hot minimum gains edges, never a wider
shuffle key). Same driver-loop skeleton, different distributed step;
pick "star" for 10^9-edge or long-chain graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    algorithm: str = "propagation",
) -> DataFrame:
    """Label each vertex with the minimum vertex id reachable from it
    (the component id). ``pairs`` is an undirected edge list; isolated
    vertices may be supplied via ``vertices`` (one ``id`` column) and
    come back as their own singleton component.

    Returns (id, cluster_id). Deterministic: min-id labels do not depend
    on join or partition order. Raises RuntimeError if a fixpoint is not
    OBSERVED within ``max_iter`` rounds — silently returning partial
    labels would split one logical cluster into several, which
    downstream canonical-pick logic cannot detect. Convergence detection
    costs one confirming round (changed == 0), so the largest component
    diameter guaranteed to pass is ``max_iter - 1``; a diameter of
    exactly ``max_iter`` raises even though the final labels happen to
    be complete (raise ``max_iter`` rather than reasoning about that
    edge).

    Cache ownership: the returned labels DataFrame is localCheckpoint-ed
    (materialized, lineage truncated — the iteration requires it; see
    module docstring). Superseded per-round blocks are released by
    Spark's ContextCleaner once unreferenced; the loop runs O(diameter)
    or O(log^2 n) rounds, so the transient footprint is a few copies of
    the (narrow) state table.

    ``algorithm``: "propagation" (default — fewest shuffles on the
    small-diameter clique-ish graphs near-dup detection emits) or
    "star" (large-star/small-star — O(log^2 n) rounds independent of
    diameter; use for long chains or 10^9-edge graphs).
    """
    if algorithm == "star":
        return _cc_star(pairs, vertices, src, dst, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Materialize the incoming pair plan ONCE before mirroring it: the
    # union's two branches are separate evaluations of the upstream plan
    # (no cross-branch reuse — the filter/union gotcha), and `pairs` is
    # typically the full candidate+verify near-dup pipeline. A measured
    # curate run spent 25 of its 31 cluster-stage seconds running that
    # pipeline twice here; checkpointing the narrow (a, b) projection
    # first makes both branches read the materialized blocks instead.
    base = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    edges = (
        base.union(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    labels = edges.select(F.col("a").alias("id")).distinct()
    if vertices is not None:
        labels = labels.union(vertices.select(F.col(vertices.columns[0]).alias("id"))).distinct()
    # localCheckpoint (eager), NOT persist: each round references the
    # previous labels frame twice, so an un-truncated logical plan
    # doubles per round — ~10 rounds OOMs the driver on plan strings
    labels = labels.select("id", F.col("id").alias("label")).localCheckpoint()
    edges = edges.localCheckpoint()

    converged = False
    for _ in range(max_iter):
        # candidate labels arriving over edges, merged with current labels.
        # The previous label rides the SAME union/groupBy as the new-label
        # min (each id contributes exactly one labels row, so min(_old)
        # recovers it; labels only ever decrease, so changed == any
        # label < _old): convergence then reads the checkpointed blocks —
        # the former formulation re-joined new vs old labels every round,
        # a full extra shuffle join of pure fixed cost per round (the
        # dominant latency on small inputs, where the curate bench showed
        # the cluster stage wall identical at 8 and 32 cores)
        prop = labels.join(edges, labels["id"] == edges["a"]).select(
            F.col("b").alias("id"),
            "label",
            # typed to the label column (ids may be strings, e.g. the
            # owl:sameAs closure over URIs)
            F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
        )
        new_labels = (
            labels.select("id", "label", F.col("label").alias("_old"))
            .union(prop)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("_old").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") < F.col("_old")).count()
        labels = new_labels.select(  # superseded blocks released by ContextCleaner
            "id", "label"
        )
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components observed no fixpoint within {max_iter} "
            f"rounds (guaranteed-supported component diameter is "
            f"{max_iter - 1}); raise max_iter, or switch the propagation "
            "step to large-star/small-star for long-chain graphs"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _cc_star(
    pairs: DataFrame,
    vertices: DataFrame | None,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14). The state is the EDGE table, kept canonical as
    (u, v) with u > v; alternating rounds rewrite it until it is a star
    forest whose centers are the component minima:

    - large-star (run per CENTER over the bidirected adjacency): every
      neighbor LARGER than the center re-hangs onto the minimum of the
      center's closed neighborhood. Long tails fold in half each round.
    - small-star: every neighbor of a center (all smaller, post-
      canonicalization) plus the center itself re-hangs onto the
      neighborhood minimum — flattening local trees into stars.

    Each half-round is one window-min riding the groupBy key's own
    exchange + an explode; there is no label-table join anywhere, and a
    hot component minimum only GAINS edge rows (the shuffle key stays
    the center, never the minimum), which is what makes the formulation
    skew-resistant at 10^9 edges. Convergence is detected EXACTLY —
    edge-set equality as a union-parity check (both sides are distinct
    sets, so any symmetric difference surfaces as a group of size 1) —
    never via a hashed signature, because a false early stop would
    silently split clusters. Two actions per round: the eager
    checkpoint materialization and the parity probe.
    """
    # localCheckpoint per round (see module docstring): every round
    # references the previous edge frame three times (bidir union +
    # parity check), so an un-truncated plan grows exponentially
    e0 = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql import Window

    w_center = Window.partitionBy("u")
    edges = e0
    converged = e0.isEmpty()  # no edges: nothing to iterate
    for _ in range(max_iter):
        # large-star over the bidirected adjacency
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lstar = (
            bidir.withColumn("_m", F.least(F.min("v").over(w_center), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .distinct()
        )
        # small-star over canonical (u > v) edges: re-hang Γ(u) ∪ {u}
        # onto min(Γ(u)); explode, NOT a filter/union split (which would
        # re-run the upstream plan once per branch)
        sstar = (
            lstar.withColumn("_m", F.min("v").over(w_center))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("_m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("_m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # exact set equality in ONE job over the two (checkpointed)
        # sets: edges changed iff some (u, v) appears in exactly one.
        same = (
            sstar.union(edges)
            .groupBy("u", "v").count()
            .filter(F.col("count") == 1)
            .isEmpty()
        )
        edges = sstar  # superseded blocks released by ContextCleaner
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star connected-components observed no fixpoint within "
            f"{max_iter} rounds (expected O(log^2 n)); raise max_iter"
        )
    # star forest: children -> root; roots and isolated vertices -> self
    nodes = e0.select(F.col("u").alias("id")).union(e0.select(F.col("v").alias("id")))
    if vertices is not None:
        nodes = nodes.union(vertices.select(F.col(vertices.columns[0]).alias("id")))
    nodes = nodes.distinct()
    child_labels = edges.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("label"))
    return (
        nodes.join(child_labels, "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("cluster_id"))
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    importance score a KG pipeline ranks entities with (hub objects,
    central collections) and a curation pipeline reuses for
    link-graph-weighted document sampling.

    Returns (node, rank) for every node appearing as source OR target.
    Dangling nodes (no out-edges) redistribute their rank uniformly,
    so total rank is conserved at 1.0 every iteration. The iteration
    count is FIXED rather than convergence-tested: the result is a
    deterministic function of (edges, n_iter, damping), which makes it
    cross-engine checkable by unrolling the same recurrence in SQL
    (see queries.graph_pagerank) — and at 100 TB you run a fixed
    budget of rounds anyway rather than paying a convergence probe
    per round.

    Scale shape, per iteration: one equi-join of the edge table with
    the rank table on src (both shuffle-partitioned on the join key;
    the rank and degree tables are O(V) — never collected), one
    groupBy(dst) with map-side partial aggregation for the
    contributions, and a 1-row dangling-mass aggregate attached via
    crossJoin(broadcast(...)) — the documented-fine 1-row
    BroadcastNestedLoopJoin (CLAUDE.md). Rank state is
    localCheckpoint-ed per round: each round references the previous
    frame twice, and an un-truncated plan doubles per round (the
    connected_components lesson). A hot dst (a node with huge
    in-degree) partial-aggregates map-side, so skew cost is one
    reducer receiving k partial sums, not k rows."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # scalar node count (drives the teleport constant)
    deg = e.groupBy("src").agg(F.count("*").cast("double").alias("outdeg")).localCheckpoint()
    dangling = nodes.join(deg, nodes["node"] == deg["src"], "left_anti").localCheckpoint()

    teleport = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for _ in range(n_iter):
        mass = (
            ranks.join(dangling, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_mass"))
        )
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("_contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(mass))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_contrib"), F.lit(0.0))
                       + F.col("_mass") / F.lit(float(n)))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an undirected edge list — the near-linear community
    assignment a KG pipeline uses to group densely-linked entities
    (collections that share members, co-cited objects) and a curation
    pipeline uses to cluster near-duplicate-heavy sources before
    sampling.

    Returns (node, label): every node of a non-self-loop edge, labeled
    by the community it converged into. Each node starts as its own
    label; each round every node SIMULTANEOUSLY adopts the most
    frequent label among its neighbors, ties broken by the smallest
    label. The classic async/random-order variant is non-deterministic
    by design; this synchronous min-tie-break variant is a pure
    function of (edges, n_rounds), which makes it cross-engine
    checkable by unrolling the rounds in SQL
    (queries._lpa_oracle) — and a fixed round budget is what you run
    at 100 TB anyway (the pagerank rationale). Isolated nodes and
    pure-self-loop nodes have no neighbors to vote, so they are not
    returned — union them back labeled by themselves if needed.

    Scale shape, per round: ONE equi-join of the symmetrized edge list
    with the label table on the neighbor endpoint (both sides
    hash-partitioned on the key), one groupBy(node, label) count with
    map-side partial aggregation, then one ``min(struct(-count,
    label))`` witness per node — the argmax is a second partial agg
    riding the first's exchange, never a per-node window sort, and the
    struct-min keeps count and label from different rows out of the
    answer (the frankenrow rule). A hub node receives k partial
    counts, not k rows. INTERMEDIATE label state localCheckpoints per
    round (an un-truncated plan doubles per round — the
    connected_components lesson); the FINAL round is returned LAZY so
    callers and plan pins see the round's real plan — persist the
    result yourself if you consume it more than once."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for r in range(n_rounds):
        neigh = und.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        cnt = neigh.groupBy("node", "label").agg(F.count("*").alias("c"))
        nxt = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("negc"),
                        F.col("label").alias("l"),
                    )
                ).alias("w")
            )
            .select("node", F.col("w.l").alias("label"))
        )
        # intermediate rounds checkpoint (lineage doubling); the FINAL
        # round stays lazy so callers see — and tests pin — the round's
        # real plan, and a consumer that only counts never materializes
        # an extra copy
        labels = nxt if r == n_rounds - 1 else nxt.localCheckpoint()
    return labels


def shared_neighbor_pairs(
    edges: DataFrame,
    hub: str = "hub",
    member: str = "member",
    max_bucket: int = 1000,
) -> DataFrame:
    """Enumerate pairs of distinct members that share a hub vertex
    (member -edge-> hub <-edge- member): the generic two-hop
    pair-ENUMERATION shape (co-collection objects, co-author pairs,
    co-citation). Output (hub, member_a, member_b) with
    member_a < member_b.

    A hub with n members materializes n(n-1)/2 join rows, so an
    unbounded self-join is the same O(n^2) failure mode LSH banding
    guards against (dedup_approx.minhash_lsh_candidates): one
    10^6-member hub is 5*10^11 intermediate rows. Hubs larger than
    ``max_bucket`` are therefore DROPPED before the join — counted as a
    window on the same (hub) key the self-join shuffles on, so the
    bound rides the join's own exchange instead of adding one. Real
    pipelines route oversized hubs to a dedicated pass (or, when only
    pair COUNTS are needed, skip enumeration entirely:
    ``groupBy(hub).count()`` then n*(n-1)/2 — zero joins; see
    queries.kg_graph_shared_collection_pairs).

    Callers whose ``edges`` lineage contains a Python UDF should
    persist it first — the self-join's two sides do not share
    exchanges (verified on Spark 4.1), so each side re-evaluates the
    child."""
    from pyspark.sql import Window

    dedup = edges.select(
        F.col(hub).alias("hub"), F.col(member).alias("member")
    ).distinct()
    w = Window.partitionBy("hub")
    bounded = (
        dedup.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    a = bounded.select("hub", F.col("member").alias("member_a"))
    b = bounded.select("hub", F.col("member").alias("member_b"))
    return (
        a.join(b, "hub")
        .filter(F.col("member_a") < F.col("member_b"))
        .select("hub", "member_a", "member_b")
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    algorithm: str = "propagation",
) -> DataFrame:
    """Resolve near-dup PAIRS into per-document cluster assignments over
    the full corpus: every document gets (doc_id, cluster_id, keep) where
    cluster_id is the min doc id of its component (singletons cluster
    with themselves) and ``keep`` marks the one canonical survivor per
    cluster — the deterministic min-id pick a dedup pipeline drops
    against."""
    comps = connected_components(
        pairs, vertices=docs.select(id_col), src="doc_a", dst="doc_b",
        algorithm=algorithm,
    )
    return (
        comps.select(F.col("id").alias(id_col), "cluster_id")
        .withColumn("keep", (F.col(id_col) == F.col("cluster_id")))
    )


def void_property_stats(triples: DataFrame) -> DataFrame:
    """VoID-style property-partition statistics over a triple table:
    per predicate, the triple count, distinct subject / object counts
    (void:triples, void:distinctSubjects, void:distinctObjects of a
    void:propertyPartition) and how many objects are literals. The
    first query any KG consumer runs against a freshly materialized
    graph — dataset shape at a glance.

    Scale shape: one groupBy(pred). The two exact count-distincts make
    Catalyst plan an Expand (2 rows per input triple) with partial
    aggregation below the single shuffle — bounded, no per-key state
    beyond the distinct sets themselves. Hot predicates (hasModel is
    ~1/21 of ALL triples) are exactly why the partial level matters:
    duplicates collapse per input partition before the exchange.
    """
    return triples.groupBy("pred").agg(
        F.count("*").cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("obj_value").cast("long").alias("n_objects"),
        F.sum(F.col("obj_is_literal").cast("long")).cast("long").alias(
            "n_literal_objects"
        ),
    )


def triangle_participation(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected pair graph —
    (id, n_triangles) for every vertex in at least one triangle. On a
    near-dup graph this is the clique-ness signal: a vertex whose
    triangle count is low relative to its degree sits in a sparse,
    possibly transitively-merged cluster (LSH false positives bridge
    clusters; triangles don't).

    Scale shape (Suri & Vassilvitskii, WWW'11 "Counting Triangles and
    the Curse of the Last Reducer"): edges are ORIENTED from the
    lower-(degree, id) endpoint to the higher one before the wedge
    self-join, so a degree-d hub generates wedges only from its
    ~sqrt(m)-bounded forward degree, never d^2 — the skew bound for
    power-law graphs, analogous to max_bucket elsewhere in this repo.
    Wedges equi-join back against the oriented edge set to close
    triangles; every join is hash-partitioned. The input pair plan is
    localCheckpoint-ed first (it is referenced by the degree table, both
    wedge sides, and the closing join — self-join sides do not share
    exchanges, so an un-materialized near-dup pipeline would re-run
    once per reference).
    """
    edges = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv"))
    # orient low (deg, id) -> high (deg, id); ties impossible on id
    fwd = (
        edges.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("_e")
        )
        .select(F.col("_e.lo").alias("lo"), F.col("_e.hi").alias("hi"))
    )
    w1 = fwd.select(F.col("lo").alias("pivot"), F.col("hi").alias("b"))
    w2 = fwd.select(F.col("lo").alias("pivot"), F.col("hi").alias("c"))
    wedges = (
        w1.join(w2, "pivot")
        .filter(F.col("b") < F.col("c"))  # one wedge per unordered pair
    )
    # edges are already canonical u < v, so (u, v) IS the (b, c) order
    closing = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closing, ["b", "c"])  # (pivot, b, c) triangles
    return (
        tri.select(F.explode(F.array("pivot", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def kcore(
    pairs: DataFrame,
    k: int = 2,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition of an undirected pair graph: the maximal
    subgraph in which every vertex has degree >= k, found by iterated
    peeling (remove all vertices of degree < k; removing them lowers
    neighbors' degrees, so repeat until a fixpoint). Returns
    ``(id, core_degree)`` — members of the k-core with their degree
    INSIDE the core.

    On a near-dup graph this is the densest-region extractor that
    complements :func:`triangle_participation`: LSH false positives
    bridge clusters with tree-like edges, and trees have an empty
    2-core — ``kcore(pairs, k=2)`` keeps exactly the vertices supported
    by at least one cycle of corroborating collisions, while chain-of-
    bridges artifacts peel away. Classic analyses (Batagelj-Zaversnik)
    peel sequentially; the parallel peel-all-below-k-per-round form
    used here converges in rounds bounded by the longest "peel cascade"
    (a chain whose removal propagates one hop per round) — logarithmic
    in practice on clique-ish duplicate graphs.

    Scale shape: each round is ONE degree aggregation (map-side partial
    count on the edge table) plus two ``left_semi`` joins filtering edge
    endpoints against the surviving-vertex table — every shuffle hashes
    an endpoint column, never a skew-prone composite. Convergence reads
    a COUNT of the vocabulary-sized survivor table, not the edges. Same
    localCheckpoint lineage discipline as :func:`connected_components`:
    the loop's state (the shrinking edge table) is re-materialized per
    round so the logical plan never grows with iteration count.
    """
    base = pairs.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    # directed both ways so degree = count per source endpoint
    edges = base.union(
        base.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()

    prev_n = -1
    for _ in range(max_iter):
        survivors = (
            edges.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .localCheckpoint()
        )
        n = survivors.count()
        if n == prev_n or n == 0:
            return survivors.select(
                F.col("u").alias("id"), F.col("deg").cast("long").alias("core_degree")
            )
        prev_n = n
        keep = survivors.select("u")
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
    raise RuntimeError(
        f"kcore did not reach a fixpoint within {max_iter} rounds; "
        "raise max_iter (peel cascades longer than the bound exist in "
        "this graph). Partial cores would over-report membership."
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    group: str | None = None,
) -> DataFrame:
    """Directed transitive closure with shortest hop counts: every
    (src, dst) pair connected by a directed path, ``depth`` = fewest
    edges on any such path. This is SPARQL's ``pred+`` property path
    over the constructed graph (the one recursive construct BGPs can't
    express as a fixed join chain), and the provenance/derivation-chain
    query every KG eventually needs.

    Semi-naive evaluation (the datalog standard): the per-round join
    input is the DELTA (pairs first reached last round), never the full
    closure — round d joins the depth-d frontier against the edge
    table, then anti-joins the accumulated closure to keep only truly
    new pairs, so total join work is proportional to the closure size,
    not closure x diameter. Rounds = longest shortest path; each round
    is one equi-join hashed on the hop column plus one left_anti hashed
    on (src, dst). Same localCheckpoint-per-round lineage discipline as
    :func:`connected_components`. Cycles are safe: a revisited pair is
    dropped by the anti-join, so the frontier drains instead of
    looping. Raises if the frontier is still non-empty after
    ``max_iter`` rounds (truncated closure = silently wrong answers).

    ``group``: an optional partitioning column — the closure is
    computed WITHIN each group independently (a path never crosses
    groups), and the group rides along in every join key and in the
    output. This is SPARQL's ``pred+`` inside ``GRAPH ?g`` (one closure
    per named graph), and the multi-tenant/per-snapshot closure shape
    generally. Same semi-naive rounds; the frontier drains when every
    group's frontier drains, so rounds = the LONGEST shortest path over
    all groups — groups are evaluated together in the same distributed
    joins, never a per-group driver loop.
    """
    gcols = [group] if group is not None else []
    e = (
        edges.select(
            *[F.col(g).alias("g") for g in gcols],
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    gk = ["g"] if group is not None else []
    hop = e.select(*gk, F.col("u").alias("v"), F.col("v").alias("w"))
    reached = e.withColumn("depth", F.lit(1)).localCheckpoint()
    frontier = reached.drop("depth")
    for d in range(2, max_iter + 2):
        nxt = (
            frontier.join(hop, gk + ["v"])
            .select(*gk, "u", F.col("w").alias("v"))
            .distinct()
            .join(reached.select(*gk, "u", "v"), gk + ["u", "v"], "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            return reached.select(
                *[F.col("g").alias(group) for _ in gcols],
                F.col("u").alias(src),
                F.col("v").alias(dst),
                F.col("depth").cast("long").alias("depth"),
            )
        reached = reached.union(nxt.withColumn("depth", F.lit(d))).localCheckpoint()
        frontier = nxt
    raise RuntimeError(
        f"transitive_closure frontier non-empty after {max_iter} rounds; "
        "raise max_iter (the graph has longer shortest paths)"
    )


def contamination_closure(
    flags: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    flag_col: str = "contaminated",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Propagate a per-document boolean flag across near-duplicate
    clusters: a document is closure-flagged if IT is flagged or any
    member of its connected component is. The decontamination subtlety
    production pipelines handle explicitly — dropping a benchmark-
    contaminated document while keeping its near-duplicate leaks the
    benchmark anyway, so the drop set must be the CLUSTER closure of
    the contamination flags (same reasoning as the leakage-safe
    cluster-level train/test split).

    ``flags``: (id_col, flag_col in {0,1}); every document, flagged or
    not. ``pairs``: the undirected near-dup edge list. Returns
    (id_col, flag_col, cluster_<flag_col>).

    Scale shape: connected components label the pair graph (isolated
    docs ride in as singleton vertices), then two hash joins — flags
    onto labels on the id, and a cluster-sized max() rollup back onto
    members on cluster_id, reusing the labeling's own partitioning. No
    step is ever pairwise in cluster size.
    """
    cc = connected_components(
        pairs, vertices=flags.select(id_col), src=src, dst=dst
    )
    labeled = flags.select(
        F.col(id_col).alias("id"), F.col(flag_col)
    ).join(cc, "id")
    clus = labeled.groupBy("cluster_id").agg(
        F.max(flag_col).alias("_any")
    )
    return (
        labeled.join(clus, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            F.col(flag_col),
            F.col("_any").cast("int").alias(f"cluster_{flag_col}"),
        )
    )
