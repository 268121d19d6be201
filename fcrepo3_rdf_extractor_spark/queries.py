"""Driver-contract query registry: the KG queries (``kg_*``, ``src_*``,
``graph_*``) and the operator reference checks, each a (spark_query,
duckdb_oracle_sql) pair over the shared testdata tables.

Conventions (the driver hash-compares results column-name-sorted):
- every computed column is aliased identically in Spark and SQL
- numeric aggregates over doubles are rounded to tame fp ordering
- counts are cast to BIGINT on both sides
- NULL columns are explicitly typed in the SQL (CAST(NULL AS VARCHAR))

The KG queries run the *real* extraction pipeline over FOXML synthesized
deterministically from the ``orders`` table (JVM-side format_string —
see ``sources/source_table.py``), so the DuckDB oracle can state the
expected triples directly from the relational columns: an end-to-end
XML-parse correctness check with no XML in the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import dedup_exact
from .operators.extractor import extract_triples, triples_only
from .operators.filters import skip_empty_literals, with_graph
from .plans.pipeline import ExtractConfig, extract_plan
from .sources.source_table import synthesize_foxml_from_orders
from .vocab import (
    ACTIVE,
    CREATEDDATE,
    DC_NAMESPACE,
    DELETED,
    DISSEMINATES,
    DISSEMINATION_TYPE,
    FEDORA_OBJECT,
    HAS_MODEL,
    INACTIVE,
    IS_VOLATILE,
    LABEL,
    LASTMODIFIEDDATE,
    MIME_TYPE,
    OWNER,
    STATE,
    XSD_DATETIME,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_T = {}   # name -> QueryFn
_SQL = {}  # name -> oracle SQL (omit => rows-only check)


def _q(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _T[name] = fn
        if sql is not None:
            _SQL[name] = sql
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# =========================================================================
# KG pipeline end-to-end (FOXML parse -> triples), oracled from relations
# =========================================================================

_ISO_SQL = "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')"
_STATE_SQL = (
    f"CASE o_orderstatus WHEN 'O' THEN '{ACTIVE}' "
    f"WHEN 'F' THEN '{INACTIVE}' ELSE '{DELETED}' END"
)
_U = "'info:fedora/order:' || o_orderkey"


def _kg_orders_oracle(table: str = "orders") -> str:
    rel = "info:fedora/fedora-system:def/relations-external#"
    lines = []

    def tpl(subj: str, pred: str, obj: str, is_lit: bool, dt: str | None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        lines.append(
            f"SELECT '#ri' AS graph, {subj} AS subj, '{pred}' AS pred, "
            f"{obj} AS obj_value, {str(is_lit).lower()} AS obj_is_literal, "
            f"{dtv} AS obj_datatype FROM {table}"
        )

    # 6 object constants (ObjectProcessor.java:235-246)
    tpl(_U, LABEL, "o_orderpriority", True, None)
    tpl(_U, OWNER, "'cust:' || o_custkey", True, None)
    tpl(_U, STATE, _STATE_SQL, False, None)
    tpl(_U, CREATEDDATE, _ISO_SQL, True, XSD_DATETIME)
    tpl(_U, LASTMODIFIEDDATE, _ISO_SQL, True, XSD_DATETIME)
    tpl(_U, HAS_MODEL, f"'{FEDORA_OBJECT}'", False, None)
    # 6 datastream constants each for DC and RELS-EXT; AUDIT emits NOTHING
    for ds, mime in (("DC", "text/xml"), ("RELS-EXT", "application/rdf+xml")):
        d = f"{_U} || '/{ds}'"
        tpl(d, MIME_TYPE, f"'{mime}'", True, None)
        tpl(d, STATE, f"'{ACTIVE}'", False, None)
        tpl(d, LASTMODIFIEDDATE, _ISO_SQL, True, XSD_DATETIME)
        tpl(d, IS_VOLATILE, "'false'", True, None)
        tpl(_U, DISSEMINATES, d, False, None)
        tpl(d, DISSEMINATION_TYPE, f"'info:fedora/*/{ds}'", False, None)
    # DC content (2 triples) + RELS-EXT content (1 triple)
    tpl(_U, DC_NAMESPACE + "title", "o_orderpriority", True, None)
    tpl(_U, DC_NAMESPACE + "identifier", "'order:' || o_orderkey", True, None)
    tpl(_U, rel + "isMemberOfCollection",
        "'info:fedora/collection:' || (o_custkey % 100)", False, None)
    return "\nUNION ALL\n".join(lines)


@_q("kg_extract_orders", _kg_orders_oracle())
def kg_extract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = synthesize_foxml_from_orders(spark, sf_dir)
    out = extract_plan(source, ExtractConfig(skip_empty=True, dedup=False))
    return triples_only(out).select(
        "graph", "subj", "pred", "obj_value", "obj_is_literal", "obj_datatype"
    )


@_q(
    "kg_select_objects",
    f"""WITH sel AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
        {_kg_orders_oracle("sel")}""",
)
def kg_select_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's explicit-URI mode (reference ``Extract.java:138-139``, the
    positional argument list consumed at ``:221``): restrict extraction
    to a named object set via operators.filters.select_objects — here
    the 5 lowest order PIDs, chosen by a metadata-sized driver action so
    the oracle can restate the same slice with ORDER BY/LIMIT. The
    IN-list predicate pushes down to the source scan, so the other
    99.999% of a 100 TB corpus is never deserialized; jobs/extract.py
    exposes the same operator as --paths/--paths-file."""
    from .operators.filters import select_objects

    keys = [
        r[0]
        for r in _read(spark, sf_dir, "orders")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    paths = [f"info:fedora/order:{k}" for k in keys]
    source = select_objects(
        synthesize_foxml_from_orders(spark, sf_dir), paths
    )
    out = extract_plan(source, ExtractConfig(skip_empty=True, dedup=False))
    return triples_only(out).select(
        "graph", "subj", "pred", "obj_value", "obj_is_literal", "obj_datatype"
    )


@_q(
    "kg_extract_error_isolation",
    # orders with o_orderkey % 97 == 0 get corrupted content -> 1 error row
    # each, zero triples; everything else extracts 21 triples
    """SELECT CAST(o_orderkey AS VARCHAR) AS path_key,
              CASE WHEN o_orderkey % 97 = 0 THEN 'object' ELSE 'ok' END AS status,
              CAST(CASE WHEN o_orderkey % 97 = 0 THEN 0 ELSE 21 END AS BIGINT) AS n_triples
       FROM orders""",
)
def kg_extract_error_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 semantics at scale: corrupt a deterministic slice of the input,
    assert per-object triple/error accounting."""
    source = synthesize_foxml_from_orders(spark, sf_dir)
    okey = F.regexp_extract(F.col("path"), r"order:(\d+)", 1).cast("long")
    source = source.withColumn(
        "content",
        F.when(okey % 97 == 0, F.lit("<broken foxml")).otherwise(F.col("content")),
    )
    out = extract_triples(source)
    return (
        out.groupBy(F.regexp_extract("path", r"order:(\d+)", 1).alias("path_key"))
        .agg(
            F.max(F.coalesce("error_stage", F.lit("ok"))).alias("status"),
            F.count("subj").cast("long").alias("n_triples"),
        )
        .select("path_key", "status", "n_triples")
    )


@_q(
    "kg_graph_two_hop",
    # object --isMemberOfCollection--> collection, counted per collection,
    # restated straight from orders (collection = custkey % 100)
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS collection,
              CAST(count(*) AS BIGINT) AS n_members,
              CAST(count(DISTINCT 'cust:' || o_custkey) AS BIGINT) AS n_owners
       FROM orders GROUP BY 1""",
)
def kg_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query over the CONSTRUCTED graph: membership edges combined with
    ownership literals of the same subject. Both hops share the subject,
    so instead of a triples self-join — which re-ran the whole
    scan+parse once per branch (2x MapInPandas, the filter/union-split
    failure mode) — the subject's edges are gathered in ONE pass with
    conditional aggregation: one extraction, one shuffle on subj, then
    the per-collection rollup. The general non-shared-subject traversal
    runs as a partition-local self-join on the ``materialize_graph``
    subject-bucketed table instead (see plans/pipeline.py)."""
    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = triples_only(extract_triples(source))
    per_subj = (
        triples.filter(F.col("pred").isin(rel, OWNER))
        .groupBy("subj")
        .agg(
            F.max(F.when(F.col("pred") == rel, F.col("obj_value"))).alias("collection"),
            F.max(F.when(F.col("pred") == OWNER, F.col("obj_value"))).alias("owner"),
        )
        .filter(F.col("collection").isNotNull() & F.col("owner").isNotNull())
    )
    return per_subj.groupBy("collection").agg(
        F.count("*").cast("long").alias("n_members"),
        F.countDistinct("owner").cast("long").alias("n_owners"),
    )


@_q(
    "kg_graph_shared_collection_pairs",
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS collection,
              CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
       FROM orders GROUP BY 1""",
)
def kg_graph_shared_collection_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pairs of distinct objects share each collection node
    (object -memberOf-> collection <-memberOf- object), COUNTED. For a
    count the pair self-join is pure waste — and worse, unbounded: a
    collection with n members materializes n(n-1)/2 intermediate rows
    (one 10^6-member collection at 100x scale is 5*10^11 rows). The
    count is a closed form of the membership histogram, so this is ONE
    aggregation, zero joins: groupBy(collection).count() -> n(n-1)/2.
    Genuine pair ENUMERATION goes through
    operators.graph.shared_neighbor_pairs, which bounds bucket size
    (see kg_graph_shared_pairs_enum)."""
    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    members = (
        triples_only(extract_triples(source))
        .filter(F.col("pred") == rel)
        .select(F.col("obj_value").alias("collection"))
    )
    n = F.count("*")
    return members.groupBy("collection").agg(
        (n * (n - F.lit(1)) / F.lit(2)).cast("long").alias("n_pairs")
    )


@_q(
    "kg_graph_shared_pairs_enum",
    # mirror of shared_neighbor_pairs(max_bucket=200): the skew bound is
    # part of the operator's CONTRACT, so the oracle restates it — a
    # collection with more than 200 members enumerates nothing
    """WITH m AS (SELECT DISTINCT
                    'info:fedora/collection:' || (o_custkey % 100) AS hub,
                    'info:fedora/order:' || o_orderkey AS member
                  FROM orders WHERE (o_custkey % 100) < 10),
         b AS (SELECT hub, member, count(*) OVER (PARTITION BY hub) AS _n
               FROM m)
       SELECT a.hub, a.member AS member_a, c.member AS member_b
       FROM (SELECT hub, member FROM b WHERE _n <= 200) a
       JOIN (SELECT hub, member FROM b WHERE _n <= 200) c
         ON a.hub = c.hub AND a.member < c.member""",
)
def kg_graph_shared_pairs_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True cross-subject pair ENUMERATION over the constructed graph,
    via the bounded shared_neighbor_pairs operator. The edge projection
    is persisted before the self-join because its lineage contains the
    extraction UDF — the self-join's two sides each re-evaluate their
    child (no cross-side exchange reuse on Spark 4.1), and re-parsing
    the corpus twice is the expensive half of the engine. In production
    this staging IS the materialized graph table; the persist models
    reading it (plan-keyed cache entry — repeated invocations reuse one
    copy, see connected_components docstring)."""
    from .operators.graph import shared_neighbor_pairs

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    members = (
        triples_only(extract_triples(source))
        .filter(F.col("pred") == rel)
        # keep the driver-side oracle comparison light: 10 of the 100
        # collections (the operator's window bound + join shape is
        # identical; only the output volume shrinks)
        .filter(F.regexp_extract("obj_value", r"collection:(\d+)$", 1).cast("int") < 10)
        .select(F.col("obj_value").alias("hub"), F.col("subj").alias("member"))
        .persist()
    )
    return shared_neighbor_pairs(members, max_bucket=200)


@_q(
    "kg_graph_predicate_stats",
    """SELECT pred, CAST(n_per_obj * (SELECT count(*) FROM orders) AS BIGINT) AS n,
              CAST(is_literal AS BOOLEAN) AS obj_is_literal
       FROM (VALUES
         ('info:fedora/fedora-system:def/model#label', 1, true),
         ('info:fedora/fedora-system:def/model#ownerId', 1, true),
         ('info:fedora/fedora-system:def/model#state', 3, false),
         ('info:fedora/fedora-system:def/view#lastModifiedDate', 3, true),
         ('info:fedora/fedora-system:def/model#createdDate', 1, true),
         ('info:fedora/fedora-system:def/model#hasModel', 1, false),
         ('info:fedora/fedora-system:def/view#mimeType', 2, true),
         ('info:fedora/fedora-system:def/view#isVolatile', 2, true),
         ('info:fedora/fedora-system:def/view#disseminates', 2, false),
         ('info:fedora/fedora-system:def/view#disseminationType', 2, false),
         ('http://purl.org/dc/elements/1.1/title', 1, true),
         ('http://purl.org/dc/elements/1.1/identifier', 1, true),
         ('info:fedora/fedora-system:def/relations-external#isMemberOfCollection', 1, false)
       ) t(pred, n_per_obj, is_literal)""",
)
def kg_graph_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate histogram of the constructed graph — the profile a
    downstream triplestore loader plans storage from (hot predicates
    like hasModel appear once per object: exactly why the materialized
    layout buckets by SUBJECT hash, never by predicate)."""
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = triples_only(extract_triples(source))
    return triples.groupBy("pred").agg(
        F.count("*").cast("long").alias("n"),
        F.first("obj_is_literal").alias("obj_is_literal"),
    )


def _pagerank_oracle(
    n_iter: int = 3, damping: float = 0.85, edges_sql: str | None = None
) -> str:
    """Unroll the exact PageRank recurrence operators.graph.pagerank
    runs, one CTE block per iteration, over ``edges_sql`` (any SELECT
    producing distinct (src, dst) rows; default: the part->supplier
    edge projection of lineitem). The damping complement is injected as
    the Python double's repr so both engines add the identical teleport
    constant (DuckDB would otherwise evaluate 1 - 0.85 in decimal)."""
    d = repr(float(damping))
    omd = repr(1.0 - float(damping))
    edges_sql = edges_sql or (
        "SELECT DISTINCT 'p' || l_partkey AS src,\n"
        "                's' || l_suppkey AS dst FROM lineitem"
    )
    parts = [
        f"""WITH edges AS ({edges_sql}),
 nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
 deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
 nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
 r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        parts.append(f"""
 d{t} AS (SELECT coalesce(sum(r.rank), 0) AS mass
          FROM r{p} r LEFT JOIN deg ON r.node = deg.src
          WHERE deg.src IS NULL),
 c{t} AS (SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS contrib
          FROM edges e JOIN r{p} r ON e.src = r.node
          JOIN deg ON e.src = deg.src GROUP BY e.dst),
 r{t} AS (SELECT nodes.node,
            {omd} / (SELECT n FROM nn)
            + {d} * (coalesce(c.contrib, 0)
                     + (SELECT mass FROM d{t}) / (SELECT n FROM nn)) AS rank
          FROM nodes LEFT JOIN c{t} c ON nodes.node = c.node)""")
    return (
        ",".join(parts)
        + f"\nSELECT node, round(rank, 9) AS rank FROM r{n_iter}"
    )


def _lpa_oracle(n_rounds: int = 3, edges_sql: str | None = None) -> str:
    """Unroll the synchronous min-tie-break label-propagation rounds
    operators.graph.label_propagation runs, one CTE pair per round
    (neighbor-label counts, then the argmax via a windowed rank — the
    same (count DESC, label ASC) order the Spark side encodes as
    ``min(struct(-count, label))``)."""
    edges_sql = edges_sql or (
        "SELECT DISTINCT 'p' || l_partkey AS src,\n"
        "                's' || l_suppkey AS dst FROM lineitem"
    )
    parts = [
        f"""WITH e0 AS ({edges_sql}),
 e AS (SELECT a, b FROM (SELECT src AS a, dst AS b FROM e0
                         UNION SELECT dst, src FROM e0)
       WHERE a <> b),
 l0 AS (SELECT DISTINCT a AS node, a AS label FROM e)"""
    ]
    for t in range(1, n_rounds + 1):
        p = t - 1
        parts.append(f"""
 c{t} AS (SELECT e.a AS node, l.label, count(*) AS c
          FROM e JOIN l{p} l ON e.b = l.node GROUP BY 1, 2),
 l{t} AS (SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{t}) WHERE rn = 1)""")
    return (
        ",".join(parts)
        + f"\nSELECT node, label AS community FROM l{n_rounds}"
    )


@_q("graph_label_propagation", _lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the
    part<->supplier link graph — the deterministic min-tie-break
    variant (operators/graph.py:label_propagation), oracled by
    unrolling the same rounds as a SQL CTE chain with a windowed
    argmax. Same fixed-budget iterative shape as graph_pagerank: per
    round one edge⋈label equi-join, one partially-aggregated
    (node, label) count, one struct-min witness — no window on the
    Spark side."""
    from .operators.graph import label_propagation

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return label_propagation(edges, n_rounds=3).select(
        "node", F.col("label").alias("community")
    )


@_q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the part->supplier link graph —
    the iterative-algorithm shape (driver loop of distributed joins,
    localCheckpoint-truncated lineage) oracled by unrolling the same
    recurrence as a SQL CTE chain. Suppliers are all dangling (no
    out-edges), so the dangling-mass redistribution path is exercised
    on every iteration, not just in a corner fixture."""
    from .operators.graph import pagerank

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, n_iter=3, damping=0.85).select(
        "node", F.round("rank", 9).alias("rank")
    )


@_q(
    "kg_void_stats",
    f"""WITH t AS ({_kg_orders_oracle()})
        SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
               CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
               CAST(count(DISTINCT obj_value) AS BIGINT) AS n_objects,
               CAST(sum(CASE WHEN obj_is_literal THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_literal_objects
        FROM t GROUP BY pred""",
)
def kg_void_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID property-partition stats over the freshly extracted graph —
    the dataset-shape summary a KG consumer runs first (triples /
    distinct subjects / distinct objects per predicate)."""
    from .operators.graph import void_property_stats

    source = synthesize_foxml_from_orders(spark, sf_dir)
    out = extract_plan(source, ExtractConfig(skip_empty=True, dedup=False))
    return void_property_stats(triples_only(out))


# =========================================================================
# individual operators, relational analogs (SURVEY.md §2.2)
# =========================================================================

@_q(
    "kg_constant_object_triples",
    f"""SELECT 'info:fedora/cust:' || c_custkey AS subj, '{LABEL}' AS pred,
               c_name AS obj_value, true AS obj_is_literal FROM customer
        UNION ALL
        SELECT 'info:fedora/cust:' || c_custkey, '{OWNER}', c_mktsegment, true FROM customer
        UNION ALL
        SELECT 'info:fedora/cust:' || c_custkey, '{HAS_MODEL}', '{FEDORA_OBJECT}', false FROM customer""",
)
def kg_constant_object_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 as a pure-DataFrame explode (no XML): entity rows -> triples."""
    cust = _read(spark, sf_dir, "customer")
    subj = F.concat(F.lit("info:fedora/cust:"), F.col("c_custkey").cast("string"))
    triples = F.array(
        F.struct(F.lit(LABEL).alias("pred"), F.col("c_name").alias("obj_value"),
                 F.lit(True).alias("obj_is_literal")),
        F.struct(F.lit(OWNER).alias("pred"), F.col("c_mktsegment").alias("obj_value"),
                 F.lit(True).alias("obj_is_literal")),
        F.struct(F.lit(HAS_MODEL).alias("pred"), F.lit(FEDORA_OBJECT).alias("obj_value"),
                 F.lit(False).alias("obj_is_literal")),
    )
    return (
        cust.select(subj.alias("subj"), F.explode(triples).alias("t"))
        .select("subj", "t.pred", "t.obj_value", "t.obj_is_literal")
    )


@_q(
    "kg_audit_anti_filter",
    """SELECT event_type AS ds_id, CAST(count(*) AS BIGINT) AS n
       FROM events WHERE event_type <> 'error' GROUP BY event_type""",
)
def kg_audit_anti_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3's AUDIT skip as a predicate + counter (events.error ≅ AUDIT)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") != "error")
        .groupBy(F.col("event_type").alias("ds_id"))
        .agg(F.count("*").cast("long").alias("n"))
    )


@_q(
    "kg_blobid_minting",
    """SELECT token,
              'info:fedora/' || string_split(token, '+')[1] || '/' ||
              string_split(token, '+')[2] || '/' || string_split(token, '+')[3] AS blob_id
       FROM (SELECT l_orderkey || ':' || l_linenumber || '+DS' || l_linenumber ||
                    '+DS' || l_linenumber || '.0' AS token
             FROM lineitem) t""",
)
def kg_blobid_minting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 token -> blob-id minting as pure column expressions
    (`ObjectProcessor.java:309-327`; encoding-free tokens here, the
    percent-encoding branch is unit-tested in test_terms.py)."""
    li = _read(spark, sf_dir, "lineitem")
    token = F.concat_ws(
        "+",
        F.concat(F.col("l_orderkey").cast("string"), F.lit(":"),
                 F.col("l_linenumber").cast("string")),
        F.concat(F.lit("DS"), F.col("l_linenumber").cast("string")),
        F.concat(F.lit("DS"), F.col("l_linenumber").cast("string"), F.lit(".0")),
    )
    df = li.select(token.alias("token"))
    parts = F.split(F.col("token"), r"\+")
    return df.select(
        "token",
        F.concat(F.lit("info:fedora/"), parts[0], F.lit("/"), parts[1],
                 F.lit("/"), parts[2]).alias("blob_id"),
    )


@_q(
    "kg_skip_empty_literals",
    """SELECT 'info:fedora/cust:' || c_custkey AS subj, c_name AS obj_value
       FROM customer WHERE CASE WHEN c_acctbal < 0 THEN '' ELSE c_name END <> ''""",
)
def kg_skip_empty_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 over a derived literal column (negative balances -> empty)."""
    cust = _read(spark, sf_dir, "customer")
    df = cust.select(
        F.concat(F.lit("info:fedora/cust:"), F.col("c_custkey").cast("string")).alias("subj"),
        F.when(F.col("c_acctbal") < 0, F.lit("")).otherwise(F.col("c_name")).alias("obj_value"),
        F.lit(True).alias("obj_is_literal"),
    )
    return skip_empty_literals(df).select("subj", "obj_value")


@_q(
    "kg_graph_assignment",
    "SELECT '#ri' AS graph, r_name AS subj FROM region",
)
def kg_graph_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: constant graph column."""
    df = _read(spark, sf_dir, "region").select(F.col("r_name").alias("subj"))
    return with_graph(df).select("graph", "subj")


@_q(
    "kg_latest_version_window",
    """SELECT o_custkey, o_orderkey AS latest_orderkey,
              strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS latest_created
       FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders) t WHERE rn = 1""",
)
def kg_latest_version_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newest-datastream-version pick (`ObjectProcessor.java:210,:261`)
    as a window: latest order per customer, deterministic tiebreak."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("latest_created"),
        )
    )


@_q(
    "kg_dedup_exact",
    """SELECT l_orderkey AS subj, l_returnflag AS obj_value,
              CAST(min(l_linenumber) AS BIGINT) AS witness
       FROM lineitem GROUP BY l_orderkey, l_returnflag""",
)
def kg_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted exact dedup with deterministic min() witness."""
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("subj"),
        F.col("l_returnflag").alias("obj_value"),
        F.col("l_linenumber").cast("long").alias("witness"),
    )
    return dedup_exact(li, key=["subj", "obj_value"])


@_q(
    "kg_canonicalize_broadcast",
    """SELECT o_orderkey, c.c_name AS canonical_owner
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def kg_canonicalize_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dictionary canonicalization: rewrite the owner alias
    (custkey) to its canonical name through a broadcast hash join."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", F.col("c_name").alias("canonical_owner"))
    )


@_q(
    "kg_canonicalize_prefixes",
    """SELECT CASE WHEN starts_with(subj, 'http://alias.example/')
                   THEN 'info:fedora/' || substr(subj, length('http://alias.example/') + 1)
                   ELSE subj END AS subj,
              obj_value
       FROM (SELECT 'http://alias.example/nation:' || n_nationkey AS subj,
                    n_name AS obj_value FROM nation)""",
)
def kg_canonicalize_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-alias canonicalization: URI *prefix* rewrite as pure
    column expressions (no join, no broadcast — stays in codegen)."""
    from .operators.canonicalize import canonicalize_prefixes

    nation = _read(spark, sf_dir, "nation")
    df = nation.select(
        F.concat(F.lit("http://alias.example/nation:"),
                 F.col("n_nationkey").cast("string")).alias("subj"),
        F.col("n_name").alias("obj_value"),
        F.lit(True).alias("obj_is_literal"),
    )
    out = canonicalize_prefixes(df, {"http://alias.example/": "info:fedora/"})
    return out.select("subj", "obj_value")


@_q(
    "kg_canonicalize_sameas",
    "SELECT 'urn:a1:' || n_nationkey AS subj, n_name AS obj_value FROM nation",
)
def kg_canonicalize_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via owl:sameAs closure: sameAs assertions CHAIN
    (n=a2, a2=a1 — the canonical URI is two hops away), so the rewrite
    dictionary is the connected-component fixpoint (min URI per
    component), then a broadcast rewrite of the triple stream. The
    oracle states the closed form directly."""
    from .operators.canonicalize import canonicalize_sameas

    nation = _read(spark, sf_dir, "nation")
    key = F.col("n_nationkey").cast("string")
    triples = nation.select(
        F.concat(F.lit("urn:n:"), key).alias("subj"),
        F.lit(LABEL).alias("pred"),
        F.col("n_name").alias("obj_value"),
        F.lit(True).alias("obj_is_literal"),
    )
    e1 = nation.select(F.concat(F.lit("urn:n:"), key).alias("a"),
                       F.concat(F.lit("urn:a2:"), key).alias("b"))
    e2 = nation.select(F.concat(F.lit("urn:a2:"), key).alias("a"),
                       F.concat(F.lit("urn:a1:"), key).alias("b"))
    out = canonicalize_sameas(triples, e1.union(e2))
    return out.select("subj", "obj_value")


# deterministic dirty-mention synthesis for fuzzy entity matching: every
# third part keeps its exact name, the rest drop ONE character at a
# key-derived position near the tail (inside the suffix block for some
# keys, outside for others — both blocking passes get exercised)
_FUZZY_POS = "CAST(length(p_name) - 3 - p_partkey % 5 AS INT)"
_FUZZY_MENTION_SQL = f"""CASE WHEN p_partkey % 3 = 0 THEN p_name
    ELSE substr(p_name, 1, {_FUZZY_POS} - 1) || substr(p_name, {_FUZZY_POS} + 1)
    END"""


@_q(
    "kg_entity_fuzzy_match",
    f"""WITH ents AS (SELECT p_partkey AS entity_id, p_name AS name FROM part),
        mens AS (SELECT p_partkey AS mention_id,
                        {_FUZZY_MENTION_SQL} AS mention FROM part),
        ek AS (SELECT entity_id, name,
                      regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm_e
               FROM ents),
        ekk AS (SELECT entity_id, name, norm_e,
                       unnest(list_distinct([substr(norm_e, 1, 4),
                                             right(norm_e, 4)])) AS key
                FROM ek),
        ekb AS (SELECT entity_id, name, norm_e, key FROM
                  (SELECT *, count(*) OVER (PARTITION BY key) AS bsz FROM ekk)
                WHERE bsz <= 10000),
        mk AS (SELECT mention_id,
                      regexp_replace(lower(mention), '[^a-z0-9]', '', 'g') AS norm_m
               FROM mens),
        mkk AS (SELECT mention_id, norm_m,
                       unnest(list_distinct([substr(norm_m, 1, 4),
                                             right(norm_m, 4)])) AS key
                FROM mk),
        cand AS (SELECT DISTINCT mention_id, entity_id, name,
                        levenshtein(norm_m, norm_e) AS d
                 FROM mkk JOIN ekb USING (key)
                 WHERE levenshtein(norm_m, norm_e) <= 2),
        best AS (SELECT mention_id, entity_id, name, CAST(d AS BIGINT) AS distance,
                        row_number() OVER (PARTITION BY mention_id
                                           ORDER BY d, entity_id) AS rn
                 FROM cand)
       SELECT mention_id, entity_id, name, distance FROM best WHERE rn = 1""",
)
def kg_entity_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity linking (operators/canonicalize.py:
    fuzzy_entity_match): dirty mentions — part names with one character
    deterministically dropped — link back to the part registry by
    bounded edit distance over prefix+suffix blocks. The exact-alias
    dictionary would miss every corrupted mention; this is the
    approximate arm of the entity-linking surface. The oracle restates
    blocking, bounded levenshtein, and the (distance, entity_id) argmin."""
    from .operators.canonicalize import fuzzy_entity_match

    part = _read(spark, sf_dir, "part")
    ents = part.select(
        F.col("p_partkey").alias("entity_id"), F.col("p_name").alias("name")
    )
    mens = part.select(
        F.col("p_partkey").alias("mention_id"),
        F.expr(_FUZZY_MENTION_SQL).alias("mention"),
    )
    return fuzzy_entity_match(mens, ents, max_distance=2, block_len=4)


@_q(
    "kg_managed_lookup_join",
    """SELECT l.l_orderkey, l.l_linenumber, p.p_name AS blob_content
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""",
)
def kg_managed_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 MANAGED-content resolution as an equi-join (obj row -> ds store)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", F.col("p_name").alias("blob_content")
    )


@_q(
    "kg_error_counters",
    """SELECT o_orderstatus AS error_stage, CAST(count(*) AS BIGINT) AS n_errors
       FROM orders GROUP BY o_orderstatus""",
)
def kg_error_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/M1 counters as groupBy-count (Extract.java:233-235)."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderstatus").alias("error_stage")).agg(
        F.count("*").cast("long").alias("n_errors")
    )


def _nquads_literal_escape_sql(col: str = "text") -> str:
    """DuckDB twin of terms.escape_literal: the 5 ECHARs plus \\uXXXX for
    every remaining C0 control — generated so the oracle stays
    byte-identical to the engine even for control-carrying text (the
    synthesized corpus is clean, but the invariant is identical twins,
    not accidentally-identical twins). chr(1)..chr(31); NUL is excluded
    (DuckDB VARCHARs cannot hold it, so it cannot occur in the input)."""
    expr = rf"replace({col}, '\', '\\')"
    expr = f"replace({expr}, '\"', '\\\"')"
    expr = rf"replace({expr}, chr(10), '\n')"
    expr = rf"replace({expr}, chr(13), '\r')"
    expr = rf"replace({expr}, chr(9), '\t')"
    for c in range(1, 0x20):
        if chr(c) in "\t\n\r":
            continue
        expr = f"replace({expr}, chr({c}), '\\u{c:04X}')"
    return expr


@_q(
    "kg_nquads_render",
    f"""SELECT '<info:fedora/doc:' || doc_id || '> '
           || '<http://purl.org/dc/elements/1.1/description> '
           || '"' || {_nquads_literal_escape_sql()} || '"'
           || ' <#ri> .' AS line
        FROM documents""",
)
def kg_nquads_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: deterministic N-Quads serialization as a JVM column."""
    from .functions import nquad_line_col

    docs = _read(spark, sf_dir, "documents")
    df = docs.select(
        F.concat(F.lit("info:fedora/doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit(DC_NAMESPACE + "description").alias("pred"),
        F.col("text").alias("obj_value"),
        F.lit(True).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("#ri").alias("graph"),
    )
    return df.select(nquad_line_col().alias("line"))


@_q(
    "kg_subject_bucket",
    """SELECT CAST(strpos('0123456789abcdef', substr(md5('info:fedora/order:' || o_orderkey), 1, 1)) - 1
              AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY 1""",
)
def kg_subject_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 hash-path sharding analog: a 16-way md5 bucket histogram (the
    production path uses xxhash64, unit-tested separately — md5 is the
    DuckDB-portable twin)."""
    orders = _read(spark, sf_dir, "orders")
    subj = F.concat(F.lit("info:fedora/order:"), F.col("o_orderkey").cast("string"))
    bucket = (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(subj), 1, 1)) - 1).cast("long")
    return orders.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n")
    )


@_q(
    "kg_set_ops_precision_recall",
    """WITH got AS (SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_discount > 0.05),
            want AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 100000)
       SELECT CAST((SELECT count(*) FROM (SELECT k FROM got INTERSECT SELECT k FROM want)) AS BIGINT) AS tp,
              CAST((SELECT count(*) FROM (SELECT k FROM got EXCEPT SELECT k FROM want)) AS BIGINT) AS fp,
              CAST((SELECT count(*) FROM (SELECT k FROM want EXCEPT SELECT k FROM got)) AS BIGINT) AS fn""",
)
def kg_set_ops_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P/R harness's set algebra (SidoraExamplesIT.java:97-105 uses
    model difference the same way): intersect / except counts."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    got = li.filter(F.col("l_discount") > 0.05).select(F.col("l_orderkey").alias("k")).distinct()
    want = orders.filter(F.col("o_totalprice") > 100000).select(F.col("o_orderkey").alias("k")).distinct()
    # one lazy plan (1-row aggregate subplans crossJoined), not eager
    # .count() actions
    tp = got.intersect(want).agg(F.count("*").cast("long").alias("tp"))
    fp = got.exceptAll(got.intersect(want)).agg(F.count("*").cast("long").alias("fp"))
    fn = want.exceptAll(want.intersect(got)).agg(F.count("*").cast("long").alias("fn"))
    return tp.crossJoin(fp).crossJoin(fn)


# =========================================================================
# training-data pipeline ops: near-duplicate detection
# =========================================================================

# shared SQL fragments mirroring operators/dedup_approx.py's tokens_col
# and shingles_of exactly
_WORDS = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES = (
    f"CASE WHEN len({_WORDS}) >= 3 THEN "
    f"[w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
    f" for i in generate_series(1, len(w)-2)] "
    f"ELSE [array_to_string(w, ' ')] END"
)


@_q(
    "docs_dedup_exact",
    """SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_approx import dedup_exact_docs

    return dedup_exact_docs(_read(spark, sf_dir, "documents"))


@_q(
    "docs_dedup_lines",
    f"""WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
        t2 AS (SELECT doc_id,
                [array_to_string(w[i:i+2], ' ')
                 for i in generate_series(1, len(w), 3)] AS ls
               FROM t),
        lines AS (SELECT doc_id, unnest(ls) AS line,
                         unnest(generate_series(1, len(ls))) AS pos
                  FROM t2),
        banned AS (SELECT line FROM (
                     SELECT line, count(DISTINCT doc_id) AS nd
                     FROM lines GROUP BY line)
                   WHERE nd >= 2),
        kept AS (SELECT * FROM lines ANTI JOIN banned USING (line)),
        tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                FROM lines GROUP BY doc_id),
        agg AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY doc_id)
        SELECT tot.doc_id, coalesce(agg.text, '') AS text,
               coalesce(n_kept, 0) AS n_kept,
               n_lines - coalesce(n_kept, 0) AS n_removed
        FROM tot LEFT JOIN agg USING (doc_id)""",
)
def docs_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style corpus-level line dedup. The flat word-soup corpus
    has no newlines, so line structure is synthesized deterministically
    (3-word chunks joined by newline, identical expression in both
    engines) — the operator under test is ``dedup_lines``."""
    from .operators.dedup_approx import dedup_lines, tokens_col

    docs = _read(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens_col(F.col("text")).alias("_w"))
    chunked = staged.select(
        "doc_id",
        F.expr(
            "array_join(transform("
            "  sequence(0, cast(ceil(size(_w) / 3) as int) - 1),"
            "  i -> array_join(slice(_w, i * 3 + 1, 3), ' ')"
            "), '\\n')"
        ).alias("text"),
    )
    return dedup_lines(chunked, min_docs=2)


_SUBSTR_K = 10
_SUBSTR_SQL = f"""WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    g0 AS (SELECT doc_id,
             CASE WHEN len(w) >= {_SUBSTR_K} THEN
               [md5(array_to_string(w[i:i+{_SUBSTR_K}-1], ' '))
                for i in generate_series(1, len(w)-{_SUBSTR_K}+1)]
             ELSE [] END AS gs
           FROM toks),
    grams AS (SELECT doc_id,
                     CAST(unnest(generate_series(1, len(gs))) AS INT) - 1 AS pos,
                     unnest(gs) AS g
              FROM g0),
    occ AS (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY g) AS _n,
                   row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS _rn
            FROM grams),
    cov0 AS (SELECT doc_id,
                    [pos + j for j in generate_series(0, {_SUBSTR_K}-1)] AS cps
             FROM occ WHERE _n >= 2 AND _rn > 1),
    covered AS (SELECT DISTINCT doc_id, tokpos FROM
                  (SELECT doc_id, unnest(cps) AS tokpos FROM cov0)),
    tok AS (SELECT doc_id,
                   CAST(unnest(generate_series(1, len(w))) AS INT) - 1 AS tokpos,
                   unnest(w) AS tok
            FROM toks),
    kept AS (SELECT doc_id, tokpos, tok FROM tok
             ANTI JOIN covered USING (doc_id, tokpos)),
    tot AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM toks),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tokpos) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT tot.doc_id, coalesce(agg.text, '') AS text,
           coalesce(n_kept, 0) AS n_kept,
           n_tok - coalesce(n_kept, 0) AS n_removed
    FROM tot LEFT JOIN agg USING (doc_id)"""


@_q("docs_dedup_substrings", _SUBSTR_SQL)
def docs_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022 ExactSubstr at token
    granularity): every 10-token span occurring more than once
    corpus-wide is removed except at its first occurrence — the
    mid-granularity modality between whole-document and line dedup.
    The oracle mirrors the k-gram occurrence table, keep-first window,
    covered-position expansion, and in-order reassembly byte-for-byte.
    See operators/dedup_approx.py:dedup_substrings for the scale shape
    (one partial-agg shuffle for the duplicated-span table; never a
    row-local O(len^2) compare)."""
    from .operators.dedup_approx import dedup_substrings

    return dedup_substrings(
        _read(spark, sf_dir, "documents"), k=_SUBSTR_K, keep_first=True
    )


_MINHASH_SQL = ", ".join(
    f"list_min([md5('{i}|' || s) for s in sh]) AS h{i}" for i in range(8)
)


@_q(
    "docs_minhash_signature",
    f"""SELECT doc_id, {_MINHASH_SQL}
        FROM (SELECT doc_id, {_SHINGLES} AS sh
              FROM (SELECT doc_id, {_WORDS} AS w, text FROM documents) a) b""",
)
def docs_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_approx import minhash_signature

    return minhash_signature(_read(spark, sf_dir, "documents"))


_MINHASH_NEARDUP_SQL = f"""WITH sig AS (
          SELECT doc_id, sh, {_MINHASH_SQL}
          FROM (SELECT doc_id, {_SHINGLES} AS sh
                FROM (SELECT doc_id, {_WORDS} AS w, text FROM documents) a) b),
        bands AS (
          SELECT doc_id, 0 AS band_id, h0 || '|' || h1 AS band_key FROM sig
          UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
          UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
          UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
        bounded AS (
          -- mirrors the engine's max_bucket=1000 skew bound: both twins
          -- drop degenerate buckets, not just the Spark side
          SELECT doc_id, band_id, band_key FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS _n
            FROM bands) WHERE _n <= 1000),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bounded a JOIN bounded b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        verified AS (
          SELECT c.doc_a, c.doc_b,
                 round(len(list_intersect(list_distinct(sa.sh), list_distinct(sb.sh)))::DOUBLE
                       / greatest(len(list_distinct(sa.sh || sb.sh)), 1), 6) AS jaccard
          FROM cands c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5"""


@_q("docs_minhash_neardup", _MINHASH_NEARDUP_SQL)
def docs_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_approx import minhash_near_duplicates

    return minhash_near_duplicates(
        _read(spark, sf_dir, "documents"), threshold=0.5, num_hashes=8, bands=4
    )


@_q(
    "docs_ngram_jaccard",
    f"""WITH sh AS (
          SELECT doc_id, source, list_distinct(sh) AS s
          FROM (SELECT doc_id, source, {_SHINGLES} AS sh
                FROM (SELECT doc_id, source, {_WORDS} AS w, text FROM documents) a) b),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.doc_id < b.doc_id
           AND b.doc_id - a.doc_id <= 20)
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa, sb))::DOUBLE /
                     greatest(len(list_distinct(sa || sb)), 1), 6) AS jaccard
        FROM pairs""",
)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over blocked candidate pairs (blocking
    key = source, window of 20 ids — a deterministic stand-in for the
    LSH candidate stage, exercising ngram_jaccard standalone)."""
    from .operators.dedup_approx import ngram_jaccard

    docs = _read(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    pairs = a.join(
        b,
        (F.col("_sa") == F.col("_sb"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (F.col("doc_b") - F.col("doc_a") <= 20),
    ).select("doc_a", "doc_b")
    return ngram_jaccard(pairs, docs).select("doc_a", "doc_b", "jaccard")


_SIMHASH_BITS = 16
_SIMHASH_SQL = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(toks, t -> substr(md5(t), {j + 1}, 1) IN "
    f"('8','9','a','b','c','d','e','f'))) > len(toks) THEN {1 << j} ELSE 0 END)"
    for j in range(_SIMHASH_BITS)
)


@_q(
    "docs_simhash",
    f"""SELECT doc_id, CAST({_SIMHASH_SQL} AS BIGINT) AS simhash
        FROM (SELECT doc_id, list_distinct({_WORDS}) AS toks FROM documents) t""",
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_approx import simhash

    return simhash(_read(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


_SIMHASH_SIG = f"CAST({_SIMHASH_SQL} AS BIGINT)"


@_q(
    "docs_simhash_neardup",
    f"""WITH sig AS (
          SELECT doc_id, {_SIMHASH_SIG} AS simhash
          FROM (SELECT doc_id, list_distinct({_WORDS}) AS toks FROM documents) t),
        bands AS (
          SELECT doc_id, simhash, 0 AS band_id, simhash % 256 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, simhash, 1, simhash // 256 FROM sig),
        bounded AS (
          -- mirrors the engine's max_bucket=10000 skew bound
          SELECT doc_id, simhash, band_id, band_key FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS _n
            FROM bands) WHERE _n <= 10000),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sig_a, b.simhash AS sig_b
          FROM bounded a JOIN bounded b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= 3""",
)
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: byte-band LSH candidates (share the high or low
    signature byte) verified by Hamming distance. The OR-of-bands is an
    EXPLODED equi-join inside the operator — the naive OR-join condition
    planned a BroadcastNestedLoopJoin (pinned in tests/test_plans.py)."""
    from .operators.dedup_approx import simhash_near_duplicates

    return simhash_near_duplicates(
        _read(spark, sf_dir, "documents"),
        bits=_SIMHASH_BITS, band_bits=8, max_hamming=3,
    )


@_q(
    "docs_dup_clusters",
    f"""WITH RECURSIVE
        prs AS (SELECT doc_a, doc_b FROM ({_MINHASH_NEARDUP_SQL}) mm),
        e AS (SELECT doc_a AS a, doc_b AS b FROM prs
              UNION SELECT doc_b, doc_a FROM prs),
        r(id, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, r.lab FROM r JOIN e ON e.a = r.id)
        SELECT id AS doc_id, min(lab) AS cluster_id, (id = min(lab)) AS keep
        FROM r GROUP BY id""",
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS resolved into per-document CLUSTERS (what a dedup
    pipeline actually drops against): connected components over the
    MinHash near-dup graph via iterative min-label propagation, with a
    deterministic min-id canonical pick. The DuckDB oracle states the
    same fixpoint as a recursive CTE (min reachable id) — two
    independent formulations of the component labeling."""
    from .operators.dedup_approx import minhash_near_duplicates
    from .operators.graph import dedup_clusters

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=8, bands=4)
    return dedup_clusters(pairs, docs)


@_q(
    "docs_neardup_incremental",
    # SAME oracle as docs_dup_clusters: the incremental path must yield
    # clusters IDENTICAL to a full recompute over the combined corpus
    f"""WITH RECURSIVE
        prs AS (SELECT doc_a, doc_b FROM ({_MINHASH_NEARDUP_SQL}) mm),
        e AS (SELECT doc_a AS a, doc_b AS b FROM prs
              UNION SELECT doc_b, doc_a FROM prs),
        r(id, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, r.lab FROM r JOIN e ON e.a = r.id)
        SELECT id AS doc_id, min(lab) AS cluster_id, (id = min(lab)) AS keep
        FROM r GROUP BY id""",
)
def docs_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup refresh: the corpus arrives as two waves
    (a deterministic 80/20 doc_id split). Wave-1 pairs come from the
    ordinary full pipeline; wave 2 computes signatures ONLY for its own
    documents and probes wave 1's persisted band table
    (minhash_incremental_pairs) — the per-document signature stage
    never re-runs over the existing corpus. previous ∪ incremental
    pairs feed clustering, and the result must be IDENTICAL to a full
    recompute (the oracle is docs_dup_clusters's, verbatim): the
    bucket bound is counted over the union bucket, so even dropped
    buckets agree."""
    from .operators.dedup_approx import (
        band_table,
        minhash_incremental_pairs,
        minhash_near_duplicates,
        minhash_signature,
    )
    from .operators.graph import dedup_clusters

    docs = _read(spark, sf_dir, "documents")
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    prev_pairs = minhash_near_duplicates(
        old_docs, threshold=0.5, num_hashes=8, bands=4
    )
    old_bands = band_table(
        minhash_signature(old_docs, "text", 8), bands=4, rows_per_band=2
    )
    incr_pairs = minhash_incremental_pairs(
        new_docs, old_bands, docs, threshold=0.5, num_hashes=8, bands=4
    ).select("doc_a", "doc_b")
    all_pairs = prev_pairs.select("doc_a", "doc_b").union(incr_pairs)
    return dedup_clusters(all_pairs, docs)


@_q(
    "kg_dedup_exact_salted",
    """SELECT l_orderkey AS subj, l_returnflag AS obj_value,
              CAST(min(l_linenumber) AS BIGINT) AS witness
       FROM lineitem GROUP BY l_orderkey, l_returnflag""",
)
def kg_dedup_exact_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting invariant, oracle-enforced: two-round salted dedup
    must produce byte-identical output to the one-round dedup (same SQL
    oracle as kg_dedup_exact)."""
    from .operators.dedup import dedup_exact_salted

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("subj"),
        F.col("l_returnflag").alias("obj_value"),
        F.col("l_linenumber").cast("long").alias("witness"),
    )
    return dedup_exact_salted(li, key=["subj", "obj_value"], salt_buckets=16)


# =========================================================================
# containment near-dup
# =========================================================================

_CONTAINMENT_SQL = f"""WITH sh AS (
      SELECT doc_id, list_distinct(sh) AS s
      FROM (SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS} AS w, text FROM documents) a) b),
    inv AS (SELECT doc_id, md5(g) AS g FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
    bounded AS (
      -- mirrors the engine's max_df=1000 boilerplate-shingle bound
      SELECT doc_id, g FROM (
        SELECT *, count(*) OVER (PARTITION BY g) AS _df FROM inv) WHERE _df <= 1000),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    -- sizes over the SAME bounded universe as the intersection
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM bounded GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / greatest(least(na.n_sh, nb.n_sh), 1), 6)
             AS containment
    FROM common
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE round(n_common::DOUBLE / greatest(least(na.n_sh, nb.n_sh), 1), 6) >= 0.5"""


@_q("docs_containment_neardup", _CONTAINMENT_SQL)
def docs_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — catches a short doc embedded in a
    long one, where symmetric Jaccard (and hence MinHash banding, whose
    collision probability tracks it) is blind. See
    operators/dedup_approx.py:containment_near_duplicates for the
    inverted-index + df-bound scale shape."""
    from .operators.dedup_approx import containment_near_duplicates

    return containment_near_duplicates(
        _read(spark, sf_dir, "documents"), threshold=0.5, max_df=1000
    )


@_q(
    "docs_containment_incremental",
    # SAME oracle as docs_containment_neardup: the incremental path must
    # reproduce the one-shot run over the combined corpus exactly
    # (max_df=1000 is inert at this corpus size, so old-wave scores are
    # unaffected by later waves — the documented monotone-admission
    # caveat never triggers here)
    _CONTAINMENT_SQL,
)
def docs_containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental containment refresh: the corpus arrives as two waves
    (the same deterministic 80/20 doc_id split as
    docs_neardup_incremental). Wave-1 pairs come from the ordinary
    one-shot operator; wave 2 shingles ONLY its own documents and probes
    wave 1's persisted (g, doc_id) inverted index
    (containment_incremental_pairs) — the per-document shingle stage
    never re-runs over the existing corpus, and the df bound is
    evaluated over the union index, exactly what a full run sees."""
    from .operators.dedup_approx import (
        containment_incremental_pairs,
        containment_index,
        containment_near_duplicates,
    )

    docs = _read(spark, sf_dir, "documents")
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    prev = containment_near_duplicates(old_docs, threshold=0.5, max_df=1000)
    incr = containment_incremental_pairs(
        new_docs, containment_index(old_docs), threshold=0.5, max_df=1000
    )
    return prev.unionByName(incr)


@_q(
    "docs_triangle_participation",
    f"""WITH p AS ({_MINHASH_NEARDUP_SQL}),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p),
        t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
       SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
       FROM (SELECT unnest([a, b, c]) AS id FROM t)
       GROUP BY id""",
)
def docs_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the MinHash near-dup graph — the
    clique-ness signal that separates genuine duplicate clusters from
    LSH-bridged chains. Degree-oriented wedge counting (see
    operators/graph.py:triangle_participation for the last-reducer skew
    bound); the oracle counts a<b<c edge triples directly, which any
    consistent orientation reproduces exactly once per triangle."""
    from .operators.dedup_approx import minhash_near_duplicates
    from .operators.graph import triangle_participation

    pairs = minhash_near_duplicates(
        _read(spark, sf_dir, "documents"), threshold=0.5, num_hashes=8, bands=4
    )
    return triangle_participation(pairs)


# =========================================================================
# code-corpus KG: fork detection, imports, definitions, resolution
# =========================================================================

# synthetic multi-repo file table from documents: 40 base repos r0..r39
# (file = document, identity = md5(text)); repos 0..7 have a planted
# fork f<i> carrying the same files except every 4th (by doc_id // 40),
# which diverges ('!' appended before hashing). Expressed identically
# in both engines, so the oracle computes exact Jaccard directly.
_REPO_FILES_SQL = """
    SELECT 'r' || CAST(doc_id % 40 AS VARCHAR) AS repo, md5(text) AS file_md5
    FROM documents
    UNION ALL
    SELECT 'f' || CAST(doc_id % 40 AS VARCHAR),
           md5(CASE WHEN (doc_id // 40) % 4 = 0 THEN text || '!' ELSE text END)
    FROM documents WHERE doc_id % 40 < 8
"""


def _repo_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        F.concat(F.lit("r"), (F.col("doc_id") % 40).cast("string")).alias("repo"),
        F.md5("text").alias("file_md5"),
    )
    forked_text = F.when(
        F.floor(F.col("doc_id") / 40) % 4 == 0, F.concat(F.col("text"), F.lit("!"))
    ).otherwise(F.col("text"))
    fork = docs.filter(F.col("doc_id") % 40 < 8).select(
        F.concat(F.lit("f"), (F.col("doc_id") % 40).cast("string")).alias("repo"),
        F.md5(forked_text).alias("file_md5"),
    )
    return base.unionByName(fork)


def _import_pats_values() -> str:
    from .operators.code import IMPORT_PATTERNS

    return ", ".join(
        "('" + kind + "', '" + rx.replace("'", "''") + "')"
        for kind, rx in IMPORT_PATTERNS
    )


# deterministic code-file synthesis over the source-contract shape:
# every doc plants a py import + a py from-import; every 3rd adds a
# C include; the raw text follows as the final line (any organic
# import-shaped words parse identically in both engines)
_CODE_CONTENT_SQL = """'import mod' || CAST(doc_id % 50 AS VARCHAR) || chr(10)
    || 'from pkg' || CAST(doc_id % 7 AS VARCHAR) || ' import thing' || chr(10)
    || CASE WHEN doc_id % 3 = 0
            THEN '#include <lib' || CAST(doc_id % 5 AS VARCHAR) || '.h>' || chr(10)
            ELSE '' END
    || text"""


@_q(
    "src_import_triples",
    f"""WITH files AS (
          SELECT 'r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
                 'src/f' || CAST(doc_id AS VARCHAR) || '.py' AS path,
                 {_CODE_CONTENT_SQL} AS content
          FROM documents),
        pats(kind, pat) AS (VALUES {_import_pats_values()}),
        hits AS (SELECT repo, path, kind,
                        unnest(regexp_extract_all(content, pat, 1)) AS module
                 FROM files CROSS JOIN pats)
       SELECT 'src:' || repo || '/' || path AS subj,
              'code:imports' AS pred,
              module AS obj_value,
              kind
       FROM hits""",
)
def src_import_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The code-KG job's own ``code:imports`` rule over synthesized code
    files: ``code_kg_state`` (no dedup, no resolution) filtered to its
    import rows, one (src:<repo>/<path>, code:imports, module, kind) row
    per match. One content scan evaluates ALL language patterns; the
    oracle replays each pattern as an independent regexp_extract_all."""
    from .plans.code_pipeline import CodeKgConfig, code_kg_state

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inc = F.when(
        d % 3 == 0,
        F.concat(F.lit("#include <lib"), (d % 5).cast("string"), F.lit(".h>\n")),
    ).otherwise(F.lit(""))
    files = docs.select(
        F.concat(F.lit("r"), (d % 40).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), d.cast("string"), F.lit(".py")).alias("path"),
        F.lit("c0").alias("commit"),
        F.concat(
            F.lit("import mod"), (d % 50).cast("string"), F.lit("\n"),
            F.lit("from pkg"), (d % 7).cast("string"),
            F.lit(" import thing\n"), inc, F.col("text"),
        ).alias("content"),
    )
    state = code_kg_state(files, CodeKgConfig(dedup=False, resolve=False))
    return state.filter(F.col("pred") == "code:imports").select(
        "subj", "pred", "obj_value", "kind"
    )


@_q(
    "src_repo_forks",
    f"""WITH files AS ({_REPO_FILES_SQL}),
        idx AS (SELECT DISTINCT repo AS k, file_md5 AS g FROM files),
        bounded AS (SELECT k, g FROM
                      (SELECT k, g, count(*) OVER (PARTITION BY g) AS df
                       FROM idx)
                    WHERE df <= 1000),
        sizes AS (SELECT k, count(*) AS n FROM bounded GROUP BY k),
        common AS (SELECT a.k AS repo_a, b.k AS repo_b, count(*) AS c
                   FROM bounded a JOIN bounded b USING (g)
                   WHERE a.k < b.k GROUP BY 1, 2)
        SELECT repo_a, repo_b,
               round(c / (na.n + nb.n - c), 6) AS jaccard
        FROM common
        JOIN sizes na ON na.k = repo_a
        JOIN sizes nb ON nb.k = repo_b
        WHERE round(c / (na.n + nb.n - c), 6) >= 0.5""",
)
def src_repo_forks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork/mirror detection over the synthesized multi-repo file table:
    Jaccard >= 0.5 over each repo's distinct file-content-hash set (see
    operators.dedup_approx.fileset_near_duplicates for the df-bounded
    inverted-index scale shape)."""
    from .operators.dedup_approx import fileset_near_duplicates

    return fileset_near_duplicates(
        _repo_files(spark, sf_dir), threshold=0.5, max_df=1000
    )


def _def_pats_values() -> str:
    from .operators.code import DEF_PATTERNS

    return ", ".join(
        "('" + kind + "', '" + rx.replace("'", "''") + "')"
        for kind, rx in DEF_PATTERNS
    )


def _def_net_pats_values() -> str:
    """Netting subset (operators.code.DEF_NET_PATTERNS): only headers
    guaranteed to self-mention may subtract a -1 — see the Spark-side
    rationale on the constant."""
    from .operators.code import DEF_NET_PATTERNS

    return ", ".join(
        "('" + kind + "', '" + rx.replace("'", "''") + "')"
        for kind, rx in DEF_NET_PATTERNS
    )


# the source-contract file table with definitions planted next to the
# imports of _CODE_CONTENT_SQL: every doc defines fn<d%9>; every 4th a
# class C<d%6>; every 10th doc's PATH registers module mod<d%50> (so a
# slice of the planted `import mod<d%50>` lines resolves in-repo and
# the rest stay external — both resolution branches exercised)
_SRC_CONTENT_SQL = f"""{_CODE_CONTENT_SQL}
    || chr(10) || 'def fn' || CAST(doc_id % 9 AS VARCHAR) || '(x):'
    || CASE WHEN doc_id % 4 = 0
            THEN chr(10) || 'class C' || CAST(doc_id % 6 AS VARCHAR) || ':'
            ELSE '' END"""

_SRC_FILES_SQL = f"""
    SELECT 'r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
           CASE WHEN doc_id % 10 = 0
                THEN 'src/mod' || CAST(doc_id % 50 AS VARCHAR) || '.py'
                ELSE 'src/f' || CAST(doc_id AS VARCHAR) || '.py' END AS path,
           'c' || CAST(doc_id % 3 AS VARCHAR) AS commit,
           'py' AS lang,
           {_SRC_CONTENT_SQL} AS content
    FROM documents
"""


def _src_files(
    spark: SparkSession,
    sf_dir: str,
    calls: bool = False,
    deep: bool = False,
) -> DataFrame:
    return _src_files_df(
        _read(spark, sf_dir, "documents"), calls=calls, deep=deep
    )


def _src_files_df(
    docs: DataFrame, calls: bool = False, deep: bool = False
) -> DataFrame:
    """The synthesized source-contract table from any (doc_id, text)
    frame — split out of :func:`_src_files` so bench.py can replicate
    the documents table before synthesis (corpus multiplier for
    scaling runs) while the oracles keep their 1:1 mapping."""
    d = F.col("doc_id")
    inc = F.when(
        d % 3 == 0,
        F.concat(F.lit("#include <lib"), (d % 5).cast("string"), F.lit(".h>\n")),
    ).otherwise(F.lit(""))
    cls = F.when(
        d % 4 == 0,
        F.concat(F.lit("\nclass C"), (d % 6).cast("string"), F.lit(":")),
    ).otherwise(F.lit(""))
    tail = (
        F.concat(
            F.lit("\n    return fn"),
            ((d + 1) % 9).cast("string"),
            F.lit("(x)"),
            F.when(
                d % 4 == 1,
                F.concat(
                    F.lit("\nif (x): C"), (d % 6).cast("string"), F.lit("(x)")
                ),
            ).otherwise(F.lit("")),
        )
        if calls
        else F.lit("")
    )
    return docs.select(
        F.concat(F.lit("r"), (d % 40).cast("string")).alias("repo"),
        F.when(
            d % 10 == 0,
            F.concat(F.lit("src/mod"), (d % 50).cast("string"), F.lit(".py")),
        )
        .otherwise(F.concat(F.lit("src/f"), d.cast("string"), F.lit(".py")))
        .alias("path"),
        F.concat(F.lit("c"), (d % 3).cast("string")).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(
            F.lit("import mod"), (d % 50).cast("string"), F.lit("\n"),
            F.lit("from pkg"), (d % 7).cast("string"),
            F.lit(" import thing\n"), inc, F.col("text"),
            F.lit("\ndef fn"), (d % 9).cast("string"), F.lit("(x):"), cls,
            tail,
            F.concat(F.lit("\nimport src.mod"), (d % 50).cast("string"))
            if deep
            else F.lit(""),
        ).alias("content"),
    )


@_q(
    "src_def_triples",
    f"""WITH files AS ({_SRC_FILES_SQL}),
        pats(kind, pat) AS (VALUES {_def_pats_values()}),
        hits AS (SELECT repo, path, kind,
                        unnest(regexp_extract_all(content, pat, 1)) AS name
                 FROM files CROSS JOIN pats)
       SELECT 'src:' || repo || '/' || path AS subj,
              'code:defines' AS pred,
              name AS obj_value,
              kind
       FROM hits""",
)
def src_def_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Definition extraction over the synthesized source files: the
    symbol-node half of the code KG (operators/code.py:
    code_def_triples — one scan evaluates every language pattern, no
    shuffle, no Python)."""
    from .operators.code import code_def_triples

    return code_def_triples(_src_files(spark, sf_dir))


@_q(
    "src_resolve_imports",
    f"""WITH files AS ({_SRC_FILES_SQL}),
        pats(kind, pat) AS (VALUES {_import_pats_values()}),
        imports AS (SELECT repo, path, kind,
                           unnest(regexp_extract_all(content, pat, 1))
                             AS module
                    FROM files CROSS JOIN pats),
        keyed AS (SELECT repo, path, kind, module,
                    CASE WHEN kind IN ('c_include','js_require','js_import')
                         THEN regexp_replace(
                                list_extract(string_split(module, '/'), -1),
                                '\\.[A-Za-z0-9]+$', '')
                         ELSE string_split(module, '.')[1] END AS mkey
                  FROM imports),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM (SELECT repo,
                                  regexp_replace(
                                    list_extract(string_split(path, '/'), -1),
                                    '\\.[A-Za-z0-9]+$', '') AS mkey,
                                  path
                           FROM files)
                     WHERE mkey <> '' GROUP BY repo, mkey)
       SELECT 'src:' || repo || '/' || path AS subj,
              'code:dependsOn' AS pred,
              CASE WHEN def_path IS NOT NULL
                   THEN 'src:' || repo || '/' || def_path
                   ELSE 'ext:' || module END AS obj_value,
              kind,
              def_path IS NOT NULL AS resolved
       FROM keyed LEFT JOIN registry USING (repo, mkey)""",
)
def src_resolve_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking over the import graph: each textual import
    resolves to the same-repo file whose basename registers the module,
    else is marked ext: — raw import strings become real file->file
    dependency edges (operators/code.py:resolve_import_edges; hash
    equi-join on (repo, module key), registry min-path deterministic)."""
    from .operators.code import resolve_import_edges

    return resolve_import_edges(_src_files(spark, sf_dir))


# the contract table plus 4 vendor blobs shared across repos (every
# 5th doc checks in one of 4 identical vendor files)
_SRC_VENDOR_FILES_SQL = f"""{_SRC_FILES_SQL}
    UNION ALL
    SELECT 'r' || CAST(doc_id % 40 AS VARCHAR),
           'vendor/shared' || CAST(doc_id AS VARCHAR) || '.py',
           'c0', 'py',
           '# vendored blob ' || CAST(doc_id % 4 AS VARCHAR)
    FROM documents WHERE doc_id % 5 = 0
"""


def _src_files_vendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    vendor = docs.filter(d % 5 == 0).select(
        F.concat(F.lit("r"), (d % 40).cast("string")).alias("repo"),
        F.concat(
            F.lit("vendor/shared"), d.cast("string"), F.lit(".py")
        ).alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit("# vendored blob "), (d % 4).cast("string")).alias(
            "content"
        ),
    )
    return _src_files(spark, sf_dir).unionByName(vendor)


@_q(
    "src_vendored_files",
    f"""WITH files AS ({_SRC_VENDOR_FILES_SQL}),
        hashed AS (SELECT repo, md5(content) AS h FROM files),
        spread AS (SELECT h, count(DISTINCT repo) AS n_repos
                   FROM hashed GROUP BY h)
       SELECT repo,
              CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(CASE WHEN n_repos > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_vendored,
              round(sum(CASE WHEN n_repos > 1 THEN 1 ELSE 0 END)
                    / count(*), 6) AS vendored_frac
       FROM hashed JOIN spread USING (h)
       GROUP BY repo""",
)
def src_vendored_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-repo duplicate-content (vendored-file) detection: the
    synthesized corpus plants 4 shared vendor blobs across repos on top
    of the unique per-doc files; per-repo hygiene stats come from one
    per-hash count(distinct repo) + a hash-key join back — linear, no
    self-join (operators/code.py:vendored_file_stats)."""
    from .operators.code import vendored_file_stats

    return vendored_file_stats(_src_files_vendor(spark, sf_dir))


@_q(
    "src_content_aliases",
    f"""WITH files AS ({_SRC_VENDOR_FILES_SQL}),
        hashed AS (SELECT md5(content) AS h,
                          'src:' || repo || '/' || path AS uri
                   FROM files),
        canon AS (SELECT h, min(uri) AS canonical
                  FROM hashed GROUP BY h HAVING count(*) > 1)
       SELECT uri AS alias, canonical
       FROM hashed JOIN canon USING (h)
       WHERE uri <> canonical""",
)
def src_content_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content entity linking (operators/code.py:
    content_alias_table): every vendored copy aliases to the
    lexicographic-min holder of its content hash — the owl:sameAs-style
    broadcast dictionary that operators/canonicalize.canonicalize then
    applies to the code KG (collapsing copies into one node). One hash
    pass, one map-side-combined min+count per hash, single-holder
    hashes dropped before the join back, so the output is
    vendored-copy-sized."""
    from .operators.code import content_alias_table

    return content_alias_table(_src_files_vendor(spark, sf_dir))


@_q(
    "src_code_kg",
    f"""WITH files AS ({_SRC_FILES_SQL}),
        furi AS (SELECT repo, path, "commit", lang, content,
                        'src:' || repo || '/' || path AS f
                 FROM files),
        consts AS (
          SELECT f AS subj, 'code:repo' AS pred, repo AS obj_value,
                 TRUE AS obj_is_literal FROM furi
          UNION ALL SELECT f, 'code:path', path, TRUE FROM furi
          UNION ALL SELECT f, 'code:commit', "commit", TRUE FROM furi
          UNION ALL SELECT f, 'code:sha256', sha256(content), TRUE FROM furi
          UNION ALL SELECT f, 'code:lang', lang, TRUE FROM furi),
        dpats(kind, pat) AS (VALUES {_def_pats_values()}),
        dsym AS (SELECT f, name, kind,
                        'sym:' || repo || '/' || path || '#' || name AS s
                 FROM (SELECT repo, path, f, kind,
                              unnest(regexp_extract_all(content, pat, 1))
                                AS name
                       FROM furi CROSS JOIN dpats)),
        deftr AS (
          SELECT f AS subj, 'code:defines' AS pred, s AS obj_value,
                 FALSE AS obj_is_literal FROM dsym
          UNION ALL SELECT s, 'code:name', name, TRUE FROM dsym
          UNION ALL SELECT s, 'code:kind', kind, TRUE FROM dsym),
        ipats(kind, pat) AS (VALUES {_import_pats_values()}),
        imports AS (SELECT repo, path, f, kind,
                           unnest(regexp_extract_all(content, pat, 1))
                             AS module
                    FROM furi CROSS JOIN ipats),
        keyed AS (SELECT repo, f, kind, module,
                    CASE WHEN kind IN ('c_include','js_require','js_import')
                         THEN regexp_replace(
                                list_extract(string_split(module, '/'), -1),
                                '\\.[A-Za-z0-9]+$', '')
                         ELSE string_split(module, '.')[1] END AS mkey
                  FROM imports),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM (SELECT repo,
                                  regexp_replace(
                                    list_extract(string_split(path, '/'), -1),
                                    '\\.[A-Za-z0-9]+$', '') AS mkey,
                                  path
                           FROM files)
                     WHERE mkey <> '' GROUP BY repo, mkey),
        imptr AS (
          SELECT f AS subj, 'code:imports' AS pred, module AS obj_value,
                 TRUE AS obj_is_literal FROM imports
          UNION ALL
          SELECT f, 'code:dependsOn',
                 CASE WHEN def_path IS NOT NULL
                      THEN 'src:' || repo || '/' || def_path
                      ELSE 'ext:' || module END,
                 FALSE
          FROM keyed LEFT JOIN registry USING (repo, mkey))
       SELECT DISTINCT '#code' AS graph, subj, pred, obj_value,
              obj_is_literal,
              CAST(NULL AS VARCHAR) AS obj_datatype,
              CAST(NULL AS VARCHAR) AS obj_lang
       FROM (SELECT * FROM consts
             UNION ALL SELECT * FROM deftr
             UNION ALL SELECT * FROM imptr)""",
)
def src_code_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END code knowledge graph at default config
    (plans/code_pipeline.py:code_kg_plan): per-file constants including
    the code:sha256 lineage triple, definition symbol nodes with
    name/kind literals, raw import literals, and entity-linked
    code:dependsOn edges — deduped quads, the exact table jobs/code_kg.py
    materializes and jobs/query.py's SPARQL runner queries. Two
    column-pruned content passes, one registry equi-join, one dedup
    exchange; no Python anywhere."""
    from .plans.code_pipeline import code_kg_plan

    return code_kg_plan(_src_files(spark, sf_dir)).select(
        "graph",
        "subj",
        "pred",
        "obj_value",
        "obj_is_literal",
        "obj_datatype",
        "obj_lang",
    )


def _call_stop_sql() -> str:
    from .operators.code import CALL_STOPWORDS

    return ", ".join("'" + w + "'" for w in CALL_STOPWORDS)


def _call_mentions_sql() -> str:
    """The DuckDB replay of the mention arm of
    operators.code.netted_mention_structs: scrub
    attribute calls globally, then extract call sites."""
    from .operators.code import ATTR_CALL_SCRUB, CALL_SITE_PATTERN

    scrub = ATTR_CALL_SCRUB.replace("'", "''")
    site = CALL_SITE_PATTERN.replace("'", "''")
    return (
        f"regexp_extract_all(regexp_replace(content, '{scrub}', '.(', 'g'),"
        f" '{site}', 1)"
    )


# the source-contract table with CALL SITES planted after the planted
# definitions: every doc's fn<d%9> body calls fn<(d+1)%9> (resolves iff
# some doc in the repo defines it), every 4th-plus-1 doc calls its
# class C<d%6> behind an `if (` keyword guard (stoplist exercised)
_SRC_CALL_FILES_SQL = f"""
    SELECT 'r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
           CASE WHEN doc_id % 10 = 0
                THEN 'src/mod' || CAST(doc_id % 50 AS VARCHAR) || '.py'
                ELSE 'src/f' || CAST(doc_id AS VARCHAR) || '.py' END AS path,
           'c' || CAST(doc_id % 3 AS VARCHAR) AS commit,
           'py' AS lang,
           {_SRC_CONTENT_SQL}
             || chr(10) || '    return fn'
             || CAST((doc_id + 1) % 9 AS VARCHAR) || '(x)'
             || CASE WHEN doc_id % 4 = 1
                     THEN chr(10) || 'if (x): C'
                            || CAST(doc_id % 6 AS VARCHAR) || '(x)'
                     ELSE '' END AS content
    FROM documents
"""


@_q(
    "src_call_graph",
    f"""WITH files AS ({_SRC_CALL_FILES_SQL}),
        m AS (SELECT repo, path,
                     unnest({_call_mentions_sql()}) AS name
              FROM files),
        mk AS (SELECT repo, path, name, count(*) AS n_m FROM m
               WHERE name NOT IN ({_call_stop_sql()})
               GROUP BY repo, path, name),
        dpats(kind, pat) AS (VALUES {_def_pats_values()}),
        d AS (SELECT repo, path,
                     unnest(regexp_extract_all(content, pat, 1)) AS name
              FROM files CROSS JOIN dpats),
        npats(kind, pat) AS (VALUES {_def_net_pats_values()}),
        dk AS (SELECT repo, path, name, count(*) AS n_d
               FROM (SELECT repo, path,
                            unnest(regexp_extract_all(content, pat, 1))
                              AS name
                     FROM files CROSS JOIN npats) nd
               GROUP BY repo, path, name),
        calls AS (SELECT repo, path, name,
                         n_m - COALESCE(n_d, 0) AS n_calls
                  FROM mk LEFT JOIN dk USING (repo, path, name)
                  WHERE n_m - COALESCE(n_d, 0) > 0),
        reg AS (SELECT repo, name, min(path) AS def_path,
                       count(DISTINCT path) AS n_candidates
                FROM d GROUP BY repo, name
                HAVING count(DISTINCT path) <= 100)
       SELECT 'src:' || repo || '/' || path AS subj,
              'code:calls' AS pred,
              'sym:' || repo || '/' || def_path || '#' || name AS obj_value,
              n_calls, n_candidates
       FROM calls JOIN reg USING (repo, name)""",
)
def src_call_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Call-graph construction (operators/code.py:call_graph_edges):
    call sites (identifier + ``(``, not attribute-qualified, keyword-
    stoplisted, definition headers netted out) entity-linked to the
    same-repo symbol that defines the callee, with deterministic
    min-path winner and visible candidate ambiguity. One content scan
    per side, two map-side-combined groupBys, one df-bounded hash
    equi-join on (repo, name) — no Python, no broadcast, no skew (keys
    are repo-prefixed and fan-out is capped by max_def)."""
    from .operators.code import call_graph_edges

    return call_graph_edges(_src_files(spark, sf_dir, calls=True))


# resolved file->file dependency edges over the synthesized contract
# table, as a plain SELECT (nested subqueries, no CTEs) so it can slot
# into _pagerank_oracle's `WITH edges AS (...)`
_SRC_DEP_EDGES_SQL = f"""
    SELECT DISTINCT 'src:' || k.repo || '/' || k.path AS src,
           'src:' || k.repo || '/' || reg.def_path AS dst
    FROM (SELECT repo, path,
                 CASE WHEN kind IN ('c_include', 'js_require', 'js_import')
                      THEN regexp_replace(
                             list_extract(string_split(module, '/'), -1),
                             '\\.[A-Za-z0-9]+$', '')
                      ELSE string_split(module, '.')[1] END AS mkey
          FROM (SELECT repo, path, kind,
                       unnest(regexp_extract_all(content, pat, 1)) AS module
                FROM ({_SRC_FILES_SQL}) files
                CROSS JOIN (VALUES {_import_pats_values()}) pats(kind, pat)
               ) i) k
    JOIN (SELECT repo, mkey, min(path) AS def_path
          FROM (SELECT repo,
                       regexp_replace(
                         list_extract(string_split(path, '/'), -1),
                         '\\.[A-Za-z0-9]+$', '') AS mkey,
                       path
                FROM ({_SRC_FILES_SQL}) f2) rk
          WHERE mkey <> '' GROUP BY repo, mkey) reg
      ON k.repo = reg.repo AND k.mkey = reg.mkey
"""


@_q(
    "src_module_pagerank",
    _pagerank_oracle(3, 0.85, edges_sql=_SRC_DEP_EDGES_SQL),
)
def src_module_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Module centrality over the code KG: fixed-iteration PageRank on
    the resolved file->file dependency edges (operators/graph.py:
    pagerank over operators/code.py:resolve_import_edges) — the
    down-weight-popular-vendored-hubs signal a code-corpus curation
    pipeline ranks by. Oracled by the same unrolled-recurrence CTE
    chain as graph_pagerank, instantiated over the dependency edges."""
    from .operators.code import resolve_import_edges
    from .operators.graph import pagerank

    edges = (
        resolve_import_edges(_src_files(spark, sf_dir))
        .filter(F.col("resolved"))
        .select(F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
        .distinct()
    )
    return pagerank(edges, n_iter=3, damping=0.85).select(
        "node", F.round("rank", 9).alias("rank")
    )


@_q(
    "src_call_closure",
    rf"""WITH RECURSIVE files AS ({_SRC_CALL_FILES_SQL}),
        cmention AS (SELECT repo, path,
                            unnest({_call_mentions_sql()}) AS name
                     FROM files),
        mk AS (SELECT repo, path, name, count(*) AS n_m FROM cmention
               WHERE name NOT IN ({_call_stop_sql()})
               GROUP BY repo, path, name),
        dpats(kind, pat) AS (VALUES {_def_pats_values()}),
        dhits AS (SELECT repo, path,
                         unnest(regexp_extract_all(content, pat, 1))
                           AS name
                  FROM files CROSS JOIN dpats),
        npats(kind, pat) AS (VALUES {_def_net_pats_values()}),
        dk AS (SELECT repo, path, name, count(*) AS n_d
               FROM (SELECT repo, path,
                            unnest(regexp_extract_all(content, pat, 1))
                              AS name
                     FROM files CROSS JOIN npats) nd
               GROUP BY repo, path, name),
        calls AS (SELECT repo, path, name
                  FROM mk LEFT JOIN dk USING (repo, path, name)
                  WHERE n_m - COALESCE(n_d, 0) > 0),
        creg AS (SELECT repo, name, min(path) AS def_path
                 FROM dhits GROUP BY repo, name
                 HAVING count(DISTINCT path) <= 100),
        e AS (SELECT DISTINCT 'src:' || repo || '/' || path AS src,
                     'src:' || repo || '/' || def_path AS dst
              FROM calls JOIN creg USING (repo, name)
              WHERE path <> def_path),
        r AS (SELECT src AS u, dst AS v, 1 AS depth FROM e
              UNION
              SELECT r.u, e.dst, r.depth + 1
              FROM r JOIN e ON r.v = e.src WHERE r.depth < 25)
       SELECT u AS src, v AS dst, CAST(min(depth) AS BIGINT) AS depth
       FROM r GROUP BY u, v""",
)
def src_call_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachability over the call graph: shortest-hop transitive
    closure (semi-naive frontier, operators/graph.py:
    transitive_closure) of the file->defining-file call edges — "what
    does this file transitively invoke", the impact-analysis query of
    a code KG. The synthesized call chains cycle through the per-repo
    symbol owners (fn<k> calls fn<k+1 mod 9>), so cycle safety and
    shortest-depth semantics are genuinely exercised. The oracle's
    recursive CTE carries a depth column, which diverges on cycles, so
    it is bounded at depth < 25 — safe because every shortest path
    stays within a repo's <= ~15 symbol-owner files plus one entry
    hop, independent of scale factor."""
    from .operators.code import call_graph_edges
    from .operators.graph import transitive_closure

    cg = call_graph_edges(_src_files(spark, sf_dir, calls=True))
    e = (
        cg.select(
            F.col("subj").alias("src"),
            F.concat(
                F.lit("src:"),
                F.regexp_extract(F.col("obj_value"), r"^sym:(.*)#", 1),
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return transitive_closure(e).select(
        "src", "dst", F.col("depth").cast("long").alias("depth")
    )


_XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"

# DuckDB replays of the pipeline's annotation expressions (clone key
# normalization chain and The Stack-style license detection), over a
# column named `content`
_CLONE_KEY_SQL = (
    r"md5(trim(regexp_replace(regexp_replace(regexp_replace("
    r"regexp_replace(regexp_replace(content, '(?s)/\*.*?\*/', ' ', 'g'),"
    r" '(?m)(//|#)[^\n]*', ' ', 'g'), '[A-Za-z_][A-Za-z0-9_]*', 'v', 'g'),"
    r" '[0-9]+(\.[0-9]+)?', '0', 'g'), '\s+', ' ', 'g')))"
)
_LICENSE_SQL = r"""coalesce(
    nullif(regexp_extract(content,
      'SPDX-License-Identifier:\s*([A-Za-z0-9.+\-]+)', 1), ''),
    CASE
      WHEN contains(lower(content), 'permission is hereby granted')
        THEN 'MIT'
      WHEN contains(lower(content), 'apache license')
           AND contains(lower(content), 'version 2.0')
        THEN 'Apache-2.0'
      WHEN contains(lower(content), 'gnu general public license')
        THEN 'GPL-3.0-only'
      WHEN contains(lower(content),
           'redistribution and use in source and binary forms')
        THEN 'BSD-3-Clause'
    END)"""


@_q(
    "src_code_kg_full",
    rf"""WITH files AS ({_SRC_CALL_FILES_SQL}),
        furi AS (SELECT repo, path, "commit", lang, content,
                        'src:' || repo || '/' || path AS f,
                        {_LICENSE_SQL} AS license
                 FROM files),
        consts AS (
          SELECT f AS subj, 'code:repo' AS pred, repo AS obj_value,
                 TRUE AS obj_is_literal, CAST(NULL AS VARCHAR) AS dt
          FROM furi
          UNION ALL SELECT f, 'code:path', path, TRUE, NULL FROM furi
          UNION ALL SELECT f, 'code:commit', "commit", TRUE, NULL FROM furi
          UNION ALL SELECT f, 'code:sha256', sha256(content), TRUE, NULL
                    FROM furi
          UNION ALL SELECT f, 'code:lang', lang, TRUE, NULL FROM furi
          UNION ALL SELECT f, 'code:license', license, TRUE, NULL
                    FROM furi WHERE license IS NOT NULL
          UNION ALL SELECT f, 'code:permissive',
                    CASE WHEN license IN ('MIT', 'Apache-2.0',
                                          'BSD-3-Clause', 'ISC',
                                          'Unlicense')
                         THEN 'true' ELSE 'false' END,
                    TRUE, '{_XSD_BOOL}' FROM furi
          UNION ALL SELECT f, 'code:cloneKey', {_CLONE_KEY_SQL}, TRUE,
                    NULL FROM furi),
        dpats(kind, pat) AS (VALUES {_def_pats_values()}),
        dhits AS (SELECT repo, path, f, kind,
                         unnest(regexp_extract_all(content, pat, 1))
                           AS name
                  FROM furi CROSS JOIN dpats),
        dsym AS (SELECT f, name, kind,
                        'sym:' || repo || '/' || path || '#' || name AS s
                 FROM dhits),
        deftr AS (
          SELECT f AS subj, 'code:defines' AS pred, s AS obj_value,
                 FALSE AS obj_is_literal, CAST(NULL AS VARCHAR) AS dt
          FROM dsym
          UNION ALL SELECT s, 'code:name', name, TRUE, NULL FROM dsym
          UNION ALL SELECT s, 'code:kind', kind, TRUE, NULL FROM dsym),
        ipats(kind, pat) AS (VALUES {_import_pats_values()}),
        imports AS (SELECT repo, path, f, kind,
                           unnest(regexp_extract_all(content, pat, 1))
                             AS module
                    FROM furi CROSS JOIN ipats),
        keyed AS (SELECT repo, f, kind, module,
                    CASE WHEN kind IN ('c_include','js_require','js_import')
                         THEN regexp_replace(
                                list_extract(string_split(module, '/'), -1),
                                '\.[A-Za-z0-9]+$', '')
                         ELSE string_split(module, '.')[1] END AS mkey
                  FROM imports),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM (SELECT repo,
                                  regexp_replace(
                                    list_extract(string_split(path, '/'), -1),
                                    '\.[A-Za-z0-9]+$', '') AS mkey,
                                  path
                           FROM files)
                     WHERE mkey <> '' GROUP BY repo, mkey),
        imptr AS (
          SELECT f AS subj, 'code:imports' AS pred, module AS obj_value,
                 TRUE AS obj_is_literal, CAST(NULL AS VARCHAR) AS dt
          FROM imports
          UNION ALL
          SELECT f, 'code:dependsOn',
                 CASE WHEN def_path IS NOT NULL
                      THEN 'src:' || repo || '/' || def_path
                      ELSE 'ext:' || module END,
                 FALSE, NULL
          FROM keyed LEFT JOIN registry USING (repo, mkey)),
        cmention AS (SELECT repo, path,
                            unnest({_call_mentions_sql()}) AS name
                     FROM furi),
        mk AS (SELECT repo, path, name, count(*) AS n_m FROM cmention
               WHERE name NOT IN ({_call_stop_sql()})
               GROUP BY repo, path, name),
        npats(kind, pat) AS (VALUES {_def_net_pats_values()}),
        dk AS (SELECT repo, path, name, count(*) AS n_d
               FROM (SELECT repo, path,
                            unnest(regexp_extract_all(content, pat, 1))
                              AS name
                     FROM furi CROSS JOIN npats) nd
               GROUP BY repo, path, name),
        calls AS (SELECT repo, path, name
                  FROM mk LEFT JOIN dk USING (repo, path, name)
                  WHERE n_m - COALESCE(n_d, 0) > 0),
        creg AS (SELECT repo, name, min(path) AS def_path
                 FROM dhits GROUP BY repo, name
                 HAVING count(DISTINCT path) <= 100),
        calltr AS (SELECT 'src:' || repo || '/' || path AS subj,
                          'code:calls' AS pred,
                          'sym:' || repo || '/' || def_path || '#' || name
                            AS obj_value,
                          FALSE AS obj_is_literal,
                          CAST(NULL AS VARCHAR) AS dt
                   FROM calls JOIN creg USING (repo, name)),
        spread AS (SELECT sha256(content) AS h,
                          count(DISTINCT repo) > 1 AS v
                   FROM files GROUP BY sha256(content)),
        vendtr AS (SELECT f AS subj, 'code:vendored' AS pred,
                          CASE WHEN v THEN 'true' ELSE 'false' END
                            AS obj_value,
                          TRUE AS obj_is_literal,
                          '{_XSD_BOOL}' AS dt
                   FROM furi JOIN spread ON sha256(furi.content) = spread.h)
       SELECT DISTINCT '#code' AS graph, subj, pred, obj_value,
              obj_is_literal, dt AS obj_datatype,
              CAST(NULL AS VARCHAR) AS obj_lang
       FROM (SELECT * FROM consts
             UNION ALL SELECT * FROM deftr
             UNION ALL SELECT * FROM imptr
             UNION ALL SELECT * FROM calltr
             UNION ALL SELECT * FROM vendtr)""",
)
def src_code_kg_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The code-KG plan with EVERY optional branch on (calls, vendored,
    license, clone keys) — the full production configuration of
    jobs/code_kg.py, driver-verified as one oracled quad set: constants
    incl. lineage sha and The Stack-style license/permissive verdicts,
    type-2 clone keys, definition symbol nodes, raw+linked import
    edges, netted call edges, and cross-repo vendored flags, deduped at
    the output layer. Content passes stay branch-local (constants+defs,
    imports, calls netting, corpus registry, vendored hashing); no
    Python anywhere."""
    from .plans.code_pipeline import CodeKgConfig, code_kg_plan

    cfg = CodeKgConfig(
        calls=True, vendored=True, license=True, clone_keys=True
    )
    return code_kg_plan(_src_files(spark, sf_dir, calls=True), cfg).select(
        "graph",
        "subj",
        "pred",
        "obj_value",
        "obj_is_literal",
        "obj_datatype",
        "obj_lang",
    )


@_q(
    "src_resolve_imports_deep",
    f"""WITH files AS (
          SELECT 'r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
                 CASE WHEN doc_id % 10 = 0
                      THEN 'src/mod' || CAST(doc_id % 50 AS VARCHAR) || '.py'
                      ELSE 'src/f' || CAST(doc_id AS VARCHAR) || '.py'
                 END AS path,
                 {_SRC_CONTENT_SQL}
                   || chr(10) || 'import src.mod'
                   || CAST(doc_id % 50 AS VARCHAR) AS content
          FROM documents),
        ipats(kind, pat) AS (VALUES {_import_pats_values()}),
        imports AS (SELECT repo, path, kind,
                           unnest(regexp_extract_all(content, pat, 1))
                             AS module
                    FROM files CROSS JOIN ipats),
        dmods AS (SELECT DISTINCT repo, kind, module FROM imports),
        cands AS (
          SELECT repo, kind, module, 0 AS prio,
                 CASE WHEN kind NOT IN ('c_include', 'js_require',
                                        'js_import')
                       AND len(string_split(module, '.')) >= 2
                      THEN string_split(module, '.')[-2] || '.'
                             || string_split(module, '.')[-1] END AS mkey
          FROM dmods
          UNION ALL
          SELECT repo, kind, module, 1,
                 CASE WHEN kind IN ('c_include', 'js_require', 'js_import')
                      THEN regexp_replace(
                             list_extract(string_split(module, '/'), -1),
                             '\\.[A-Za-z0-9]+$', '')
                      ELSE string_split(module, '.')[1] END
          FROM dmods),
        rkeys AS (
          SELECT repo, path,
                 regexp_replace(
                   list_extract(string_split(path, '/'), -1),
                   '\\.[A-Za-z0-9]+$', '') AS mkey
          FROM files
          UNION ALL
          SELECT repo, path,
                 string_split(path, '/')[-2] || '.'
                   || regexp_replace(
                        list_extract(string_split(path, '/'), -1),
                        '\\.[A-Za-z0-9]+$', '')
          FROM files WHERE len(string_split(path, '/')) >= 2),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM rkeys
                     WHERE mkey IS NOT NULL AND mkey <> ''
                     GROUP BY repo, mkey),
        best AS (SELECT repo, kind, module,
                        first(def_path ORDER BY prio, def_path)
                          AS def_path,
                        first(prio ORDER BY prio, def_path) AS prio
                 FROM cands JOIN registry USING (repo, mkey)
                 GROUP BY repo, kind, module)
       SELECT 'src:' || repo || '/' || path AS subj,
              'code:dependsOn' AS pred,
              CASE WHEN def_path IS NOT NULL
                   THEN 'src:' || repo || '/' || def_path
                   ELSE 'ext:' || module END AS obj_value,
              kind,
              def_path IS NOT NULL AS resolved,
              CAST(CASE WHEN prio = 0 THEN 2
                        WHEN prio = 1 THEN 1
                        ELSE 0 END AS INT) AS depth
       FROM imports LEFT JOIN best USING (repo, kind, module)""",
)
def src_resolve_imports_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-aware entity linking (operators/code.py:
    resolve_import_edges_deep): dotted imports try a two-level
    (parent dir).(basename) registry key before the top-level/basename
    fallback — `import src.modK` binds to `src/modK.py` when the repo
    holds it, else falls through to ext:. Candidate-explode +
    min(struct(prio, def_path)) winner per import occurrence; the
    oracle replays the winner per distinct (repo, kind, module), which
    is equivalent because candidates are a pure function of those
    columns."""
    from .operators.code import resolve_import_edges_deep

    return resolve_import_edges_deep(_src_files(spark, sf_dir, deep=True))


@_q(
    "kg_bgp_star_query",
    f"""SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll,
              'cust:' || o_custkey AS owner
       FROM orders WHERE o_orderstatus = 'O'""",
)
def kg_bgp_star_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style BGP over the constructed graph — the star shape:
    three patterns sharing the subject variable, one of them fully
    ground on pred+obj (the selective one; the compiler's bound-count
    ordering starts there). All joins key on ?obj = subj, so one
    subject partitioning serves the whole chain (operators/bgp.py).
    The triple projection is persisted first — it models the
    materialized graph table; unpersisted, each pattern's scan would
    re-run the extraction UDF."""
    from .operators.bgp import bgp_query

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_query(
        triples,
        [
            ("?obj", rel, "?coll"),
            ("?obj", OWNER, "?owner"),
            ("?obj", STATE, ACTIVE),
        ],
        select=["obj", "coll", "owner"],
    )


@_q(
    "kg_bgp_path_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/order:' || o_orderkey || '/DC' AS ds
       FROM orders""",
)
def kg_bgp_path_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP path shape: the join variable is pattern 1's OBJECT and
    pattern 2's SUBJECT (?obj disseminates ?ds . ?ds mimeType
    'text/xml') — the traversal join a star rewrite can't express.
    Equi-join on ?ds; the mimeType pattern is fully bound on pred+obj
    and ordered first."""
    from .operators.bgp import bgp_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_query(
        triples,
        [
            ("?obj", DISSEMINATES, "?ds"),
            ("?ds", MIME_TYPE, "text/xml"),
        ],
        select=["obj", "ds"],
    )


@_q(
    "kg_bgp_optional_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll,
              CASE WHEN o_orderkey % 2 = 0 THEN 'cust:' || o_custkey END AS owner
       FROM orders""",
)
def kg_bgp_optional_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL: membership is required, ownership is optional —
    compiled as a LEFT join of the optional group's sub-BGP on the
    shared ?obj variable, NULL owner where the group found no match.
    The graph is made sparse deterministically (owner triples kept for
    even orders only) so the optional actually exercises both branches;
    the oracle restates the same parity from orders."""
    from .operators.bgp import bgp_query

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    okey = F.regexp_extract(F.col("subj"), r"order:(\d+)", 1).cast("long")
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .filter(~((F.col("pred") == OWNER) & (okey % 2 == 1)))
        .persist()
    )
    return bgp_query(
        triples,
        [("?obj", rel, "?coll")],
        select=["obj", "coll", "owner"],
        optional_patterns=[[("?obj", OWNER, "?owner")]],
    )


@_q(
    "graph_transitive_closure",
    """WITH RECURSIVE e AS (
          SELECT c_custkey AS src, c_custkey // 2 AS dst
          FROM customer WHERE c_custkey > 1
          UNION
          SELECT c_custkey, c_custkey // 3 FROM customer WHERE c_custkey > 2),
        r AS (
          SELECT src AS u, dst AS v, 1 AS depth FROM e
          UNION
          SELECT r.u, e.dst AS v, r.depth + 1 FROM r JOIN e ON r.v = e.src)
       SELECT u AS src, v AS dst, CAST(min(depth) AS BIGINT) AS depth
       FROM r GROUP BY u, v""",
)
def graph_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``parent+`` property path: shortest-hop transitive closure
    by semi-naive frontier iteration (operators/graph.py:
    transitive_closure). The parent DAG is derived deterministically
    from customer keys with TWO parent rules (k -> k//2 and k -> k//3),
    so many pairs have multiple paths and the shortest-depth semantics
    is actually exercised; the oracle is a recursive CTE with a min()
    rollup."""
    from .operators.graph import transitive_closure

    cust = _read(spark, sf_dir, "customer")
    e = (
        cust.filter(F.col("c_custkey") > 1)
        .select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") / 2).cast("long").alias("dst"),
        )
        .union(
            cust.filter(F.col("c_custkey") > 2).select(
                F.col("c_custkey").alias("src"),
                (F.col("c_custkey") / 3).cast("long").alias("dst"),
            )
        )
    )
    return transitive_closure(e, "src", "dst")


@_q(
    "kg_bgp_property_path",
    """WITH RECURSIVE e AS (
          SELECT c_custkey AS s, c_custkey // 2 AS d
          FROM customer WHERE c_custkey > 1),
        r AS (
          SELECT s AS u, d AS v FROM e
          UNION
          SELECT r.u, e.d FROM r JOIN e ON r.v = e.s)
       SELECT 'c:' || u AS x, 'c:' || v AS y
       FROM r JOIN customer c ON c.c_custkey = r.v
       WHERE c.c_mktsegment = 'BUILDING'""",
)
def kg_bgp_property_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path INSIDE a BGP: ``?x kg:parent+ ?y . ?y
    kg:segment 'BUILDING'`` — the `+` pattern expands to the
    shortest-hop transitive closure of that predicate's edges (semi-
    naive iteration) and then joins the rest of the pattern like any
    scan. Triples synthesized from customer keys (parent = k -> k//2
    chain, segment = c_mktsegment) so the oracle is a recursive CTE
    joined back to customer."""
    from .operators.bgp import bgp_query

    cust = _read(spark, sf_dir, "customer")
    ckey = F.concat(F.lit("c:"), F.col("c_custkey"))
    parent = cust.filter(F.col("c_custkey") > 1).select(
        ckey.alias("subj"),
        F.lit("kg:parent").alias("pred"),
        F.concat(F.lit("c:"), (F.col("c_custkey") / 2).cast("long")).alias(
            "obj_value"
        ),
    )
    segment = cust.select(
        ckey.alias("subj"),
        F.lit("kg:segment").alias("pred"),
        F.col("c_mktsegment").alias("obj_value"),
    )
    triples = parent.union(segment).persist()
    return bgp_query(
        triples,
        [("?x", "kg:parent+", "?y"), ("?y", "kg:segment", "BUILDING")],
        select=["x", "y"],
    )


#: deterministic license-header augmentation both engines derive from
#: doc_id (the synthetic corpus contains no license text of its own)
_LIC_HEADER_SQL = """CASE doc_id % 4
       WHEN 0 THEN '// SPDX-License-Identifier: MPL-2.0' || chr(10)
       WHEN 1 THEN '# Licensed under the Apache License, Version 2.0' || chr(10)
       WHEN 2 THEN '/* Permission is hereby granted, free of charge */' || chr(10)
       ELSE '' END || text"""


@_q(
    "docs_license_detect",
    f"""WITH aug AS (SELECT doc_id, {_LIC_HEADER_SQL} AS text FROM documents)
       SELECT doc_id,
              coalesce(
                nullif(regexp_extract(text,
                  'SPDX-License-Identifier:\\s*([A-Za-z0-9.+\\-]+)', 1), ''),
                CASE
                  WHEN contains(lower(text), 'permission is hereby granted')
                    THEN 'MIT'
                  WHEN contains(lower(text), 'apache license')
                       AND contains(lower(text), 'version 2.0')
                    THEN 'Apache-2.0'
                  WHEN contains(lower(text), 'gnu general public license')
                    THEN 'GPL-3.0-only'
                  WHEN contains(lower(text),
                       'redistribution and use in source and binary forms')
                    THEN 'BSD-3-Clause'
                END) AS license,
              CAST(CASE WHEN coalesce(
                nullif(regexp_extract(text,
                  'SPDX-License-Identifier:\\s*([A-Za-z0-9.+\\-]+)', 1), ''),
                CASE
                  WHEN contains(lower(text), 'permission is hereby granted')
                    THEN 'MIT'
                  WHEN contains(lower(text), 'apache license')
                       AND contains(lower(text), 'version 2.0')
                    THEN 'Apache-2.0'
                  WHEN contains(lower(text), 'gnu general public license')
                    THEN 'GPL-3.0-only'
                  WHEN contains(lower(text),
                       'redistribution and use in source and binary forms')
                    THEN 'BSD-3-Clause'
                END) IN ('MIT', 'Apache-2.0', 'BSD-3-Clause', 'ISC',
                         'Unlicense')
                THEN 1 ELSE 0 END AS INTEGER) AS permissive
       FROM aug""",
)
def docs_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Stack-style license gate: SPDX tag wins, then fixed-order
    header-phrase heuristics, permissive verdict for training
    admission. One codegen projection (operators/code.py:
    with_license, the code-KG job's ``code:license`` rule); the corpus
    is augmented with deterministic doc_id%4 license headers both
    engines derive identically (SPDX non-permissive / Apache phrase /
    MIT phrase / none)."""
    from .operators.code import with_license

    docs = _read(spark, sf_dir, "documents")
    header = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("// SPDX-License-Identifier: MPL-2.0\n"),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.lit("# Licensed under the Apache License, Version 2.0\n"),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit("/* Permission is hereby granted, free of charge */\n"),
        )
        .otherwise(F.lit(""))
    )
    aug = docs.select(
        "doc_id", F.concat(header, F.col("text")).alias("text")
    )
    return with_license(aug).select("doc_id", "license", "permissive")


@_q(
    "kg_bgp_filter_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll,
              'cust:' || o_custkey AS owner
       FROM orders
       WHERE contains('info:fedora/collection:' || (o_custkey % 100),
                      'collection:1')
         AND 'cust:' || o_custkey <> 'cust:5'""",
)
def kg_bgp_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER over BGP bindings: declared once on the joined
    result, pushed by Catalyst into the single pattern scan that binds
    each variable (tests pin the contains() predicate landing below the
    join). Two constraints: a substring test on ?coll and an inequality
    on ?owner."""
    from .operators.bgp import bgp_query

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_query(
        triples,
        [("?obj", rel, "?coll"), ("?obj", OWNER, "?owner")],
        select=["obj", "coll", "owner"],
        filters=[("?coll", "contains", "collection:1"),
                 ("?owner", "!=", "cust:5")],
    )


@_q(
    "kg_sparql_union_filter_query",
    f"""SELECT {_U} AS obj, 'cust:' || o_custkey AS v FROM orders
        WHERE o_orderstatus = 'O'
          AND 'cust:' || o_custkey <> 'cust:5'
        UNION ALL
        SELECT {_U}, o_orderpriority FROM orders
        WHERE o_orderstatus NOT IN ('O', 'F')
          AND contains(o_orderpriority, 'URGENT')""",
)
def kg_sparql_union_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION branches with branch-scoped FILTERs through the text
    front-end: Active objects' owners (minus one customer) unioned
    with Deleted objects' urgent labels. Each branch compiles as its
    own BGP — its filter pushes into ITS pattern scans only — and the
    Union concatenates partitions with no shuffle
    (operators/bgp.py:bgp_union, branches normalized through the same
    sub-group form as OPTIONAL)."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?v WHERE {
          { ?obj m:state m:Active . ?obj m:ownerId ?v .
            FILTER(?v != "cust:5") }
          UNION
          { ?obj m:state m:Deleted . ?obj m:label ?v .
            FILTER(CONTAINS(?v, "URGENT")) }
        }
        """,
    )


@_q(
    "kg_sparql_subquery_query",
    """WITH members AS (SELECT 'info:fedora/order:' || o_orderkey AS obj,
                               'info:fedora/collection:' || (o_custkey % 100)
                                 AS coll
                        FROM orders),
            counts AS (SELECT coll, CAST(count(*) AS BIGINT) AS n_members
                       FROM members GROUP BY coll)
       SELECT m.obj, m.coll, c.n_members
       FROM members m JOIN counts c USING (coll)""",
)
def kg_sparql_subquery_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §12 subquery through the text front-end: every
    membership row annotated with its collection's member count — the
    inner ``{ SELECT ?coll (COUNT(*) AS ?n_members) ... GROUP BY }``
    evaluates once bottom-up (one partially-aggregated count per
    collection), then hash-joins back on ?coll; the outer pattern and
    the subquery share the subject-bucketed pattern-scan shape, so at
    100 TB this is one agg exchange plus one co-keyed join, never a
    per-row correlated re-scan (operators/bgp.py sub_solutions)."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        SELECT ?obj ?coll ?n_members WHERE {
          ?obj rel:isMemberOfCollection ?coll .
          { SELECT ?coll (COUNT(*) AS ?n_members) WHERE {
              ?o2 rel:isMemberOfCollection ?coll } GROUP BY ?coll }
        }
        """,
    )


@_q(
    "kg_sparql_nested_optional_query",
    f"""SELECT {_U} AS obj, {_U} || '/DC' AS ds,
               'text/xml' AS mime FROM orders
        UNION ALL
        SELECT {_U}, {_U} || '/RELS-EXT', CAST(NULL AS VARCHAR)
        FROM orders""",
)
def kg_sparql_nested_optional_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested OPTIONAL with a group-scoped FILTER, end-to-end through
    the text front-end: every object keeps one solution per
    disseminated datastream, and the INNER optional attaches the mime
    type only where its filter matches (text/xml = the DC stream) —
    the RELS-EXT rows survive with ?mime unbound, because a filter
    INSIDE an optional decides whether the group MATCHES, never
    whether the solution survives (operators/bgp.py:_norm_opt_group;
    contrast kg_sparql_select_expr_query's top-level filter, which
    drops). Each optional level compiles recursively to its own BGP
    and one left join on the shared variable."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        PREFIX view: <info:fedora/fedora-system:def/view#>
        SELECT ?obj ?ds ?mime WHERE {
          ?obj m:ownerId ?owner .
          OPTIONAL {
            ?obj view:disseminates ?ds .
            OPTIONAL { ?ds view:mimeType ?mime . FILTER(?mime = "text/xml") }
          }
        }
        """,
    )


@_q(
    "kg_sparql_select_expr_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS s,
              'cust:' || o_custkey AS owner,
              'owner=' || 'cust:' || o_custkey AS tag
       FROM orders
       WHERE 'cust:' || o_custkey <> 'cust:5'""",
)
def kg_sparql_select_expr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 SELECT expressions plus a FILTER over an
    OPTIONAL-bound variable, end-to-end through the text front-end.
    ``(CONCAT(...) AS ?tag)`` desugars to a projected BIND (one column
    expression, zero extra stages). The store's ``m:state`` subjects
    are objects AND datastreams, but only objects carry ``m:ownerId``
    — the OPTIONAL genuinely misses for every datastream row, and the
    top-level ``FILTER(?owner != ...)`` then drops those solutions
    (SPARQL §18.2.2.2: unbound -> type error -> drop; Spark's NULL
    comparison is exactly that), deferred until after the left join
    (operators/bgp.py deferred_filters)."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?s ?owner (CONCAT("owner=", STR(?owner)) AS ?tag) WHERE {
          ?s m:state ?st .
          OPTIONAL { ?s m:ownerId ?owner }
          FILTER(?owner != "cust:5")
        }
        """,
    )


@_q(
    "kg_sparql_filter_expr_query",
    f"""SELECT 'info:fedora/order:' || o_orderkey AS obj,
               {_STATE_SQL} AS st,
               'cust:' || o_custkey AS owner,
               o_orderpriority AS prio
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
          AND 'cust:' || o_custkey NOT IN ('cust:5', 'cust:7')
          AND (o_orderpriority IN ('1-URGENT', '2-HIGH')
               OR contains(o_orderpriority, 'MEDIUM'))""",
)
def kg_sparql_filter_expr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER expressions through the text front-end: ``||`` /
    ``&&`` with parentheses, ``IN``, and ``NOT IN`` (SPARQL 1.1
    §17.4.1.9) over a three-pattern star. Each FILTER — however nested —
    compiles to ONE row-local Column predicate
    (operators/bgp.py:_filter_col); the OR lives in a filter, never a
    join condition, so the star still hash-joins on ?obj and Catalyst
    pushes each conjunct down to the single pattern scan that binds its
    variable. The disjunction over ?st (Active || Inactive) restricts
    the state scan itself — at 100 TB that's the difference between
    scanning one predicate partition and scanning the store."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?st ?owner ?prio WHERE {
          ?obj m:state ?st .
          ?obj m:ownerId ?owner .
          ?obj m:label ?prio .
          FILTER(?st = m:Active || ?st = m:Inactive)
          FILTER(?owner NOT IN ("cust:5", "cust:7"))
          FILTER((?prio IN ("1-URGENT", "2-HIGH") || CONTAINS(?prio, "MEDIUM")))
        }
        """,
    )


@_q(
    "kg_bgp_aggregate_query",
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS coll,
              COUNT(*) AS n_members,
              COUNT(DISTINCT 'cust:' || o_custkey) AS n_owners,
              MIN('info:fedora/order:' || o_orderkey) AS first_member,
              string_agg(DISTINCT 'cust:' || o_custkey, '|'
                         ORDER BY 'cust:' || o_custkey) AS owner_concat
       FROM orders WHERE o_orderstatus = 'O'
       GROUP BY 1
       HAVING COUNT(*) >= 2""",
)
def kg_bgp_aggregate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregates over a BGP (operators/bgp.py:
    bgp_aggregate): per-collection membership stats for ACTIVE objects
    — COUNT(*), COUNT(DISTINCT ?owner), MIN(?obj) as the deterministic
    SAMPLE, and GROUP_CONCAT over the distinct owner set (sorted, so
    the spec's arbitrary order becomes reproducible bytes), with a
    HAVING floor. The group key ?coll is a join variable of the star,
    and the aggregate is one hash aggregate with map-side partials over
    the join output. GROUP_CONCAT's distinct arm composes through a
    collect_set; the oracle states the same five columns from orders."""
    from .operators.bgp import bgp_aggregate

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_aggregate(
        triples,
        [
            ("?obj", rel, "?coll"),
            ("?obj", OWNER, "?owner"),
            ("?obj", STATE, ACTIVE),
        ],
        group_by=["?coll"],
        aggs=[
            ("count", "*", "n_members"),
            ("count_distinct", "?owner", "n_owners"),
            ("sample", "?obj", "first_member"),
            ("group_concat_distinct:|", "?owner", "owner_concat"),
        ],
        having=[("n_members", ">=", 2)],
    )


@_q(
    "kg_bgp_not_exists_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll
       FROM orders WHERE o_orderkey % 2 = 1""",
)
def kg_bgp_not_exists_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS: collection members with NO owner triple
    (ownership deterministically dropped for odd orders) — compiled as a
    LEFT ANTI join of the negation sub-BGP on the shared ?obj variable;
    on shared-variable groups this is also exactly MINUS."""
    from .operators.bgp import bgp_query

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    okey = F.regexp_extract(F.col("subj"), r"order:(\d+)", 1).cast("long")
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .filter(~((F.col("pred") == OWNER) & (okey % 2 == 1)))
        .persist()
    )
    return bgp_query(
        triples,
        [("?obj", rel, "?coll")],
        select=["obj", "coll"],
        not_exists=[[("?obj", OWNER, "?owner")]],
    )


@_q(
    "kg_bgp_construct_query",
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS subj,
              'ex:contains' AS pred,
              'info:fedora/order:' || o_orderkey AS obj_value
       FROM orders WHERE o_orderstatus = 'O'
       UNION
       SELECT 'info:fedora/order:' || o_orderkey,
              'rdf:type', 'ex:ActiveObject'
       FROM orders WHERE o_orderstatus = 'O'""",
)
def kg_bgp_construct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT as a materialized inference rule: from ACTIVE
    membership bindings, derive the INVERTED containment edge and a type
    triple. Both template triples instantiate from ONE evaluation of the
    solution plan (array-of-structs exploded once — never a
    per-template filter+union); set semantics via one distinct."""
    from .operators.bgp import bgp_construct

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_construct(
        triples,
        [("?obj", rel, "?coll"), ("?obj", STATE, ACTIVE)],
        template=[
            ("?coll", "ex:contains", "?obj"),
            ("?obj", "rdf:type", "ex:ActiveObject"),
        ],
    )


@_q(
    "kg_bgp_ask_query",
    """SELECT EXISTS(SELECT 1 FROM orders
                     WHERE o_orderstatus NOT IN ('O', 'F')
                       AND o_custkey % 100 = 5) AS matched""",
)
def kg_bgp_ask_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK — is any DELETED-state object a member of
    collection:5? Compiles to LIMIT 1 over the solution plan (the job
    stops at the first match anywhere) then a count-to-boolean; with
    SELECT, aggregates, and CONSTRUCT this completes the query verbs."""
    from .operators.bgp import bgp_ask

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_ask(
        triples,
        [
            ("?obj", STATE, DELETED),
            ("?obj", rel, "info:fedora/collection:5"),
        ],
    )


@_q(
    "kg_bgp_path_star",
    """WITH RECURSIVE
        e AS (SELECT 'urn:' || c_custkey AS s, 'urn:' || (c_custkey // 2) AS o
              FROM customer WHERE c_custkey > 1),
        nodes AS (SELECT s AS n FROM e UNION SELECT o FROM e),
        r AS (SELECT s AS u, o AS v FROM e
              UNION
              SELECT r.u, e.o FROM r JOIN e ON r.v = e.s)
       SELECT u AS x, v AS y FROM r
       UNION
       SELECT n, n FROM nodes""",
)
def kg_bgp_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL zero-or-more property path (``next*``): the transitive
    closure UNIONed with the identity relation over every graph term
    (SPARQL 1.1 §9.1 — a zero-length path matches every term). Edge set
    = the halving chain over customer keys; the oracle is the recursive
    closure plus an identity union."""
    from .operators.bgp import bgp_query

    cust = _read(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    triples = cust.filter(key > 1).select(
        F.concat(F.lit("urn:"), key.cast("string")).alias("subj"),
        F.lit("next").alias("pred"),
        F.concat(F.lit("urn:"), (key / 2).cast("long").cast("string")).alias(
            "obj_value"
        ),
    )
    return bgp_query(triples, [("?x", "next*", "?y")], select=["x", "y"])


@_q(
    "docs_code_clone_key",
    r"""WITH keyed AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text, '(?s)/\*.*?\*/', ' ', 'g'),
                         '(?m)(//|#)[^\n]*', ' ', 'g'),
                       '[A-Za-z_][A-Za-z0-9_]*', 'v', 'g'),
                     '[0-9]+(\.[0-9]+)?', '0', 'g'),
                   '\s+', ' ', 'g'))) AS clone_key
          FROM documents),
        sizes AS (SELECT clone_key, CAST(count(*) AS BIGINT)
                    AS clone_group_size
                  FROM keyed GROUP BY 1)
       SELECT doc_id, clone_key, clone_group_size
       FROM keyed JOIN sizes USING (clone_key)""",
)
def docs_code_clone_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 code-clone keys (identical up to identifier names,
    literals, comments, whitespace — the renamed-copy modality): one
    lookaround-free regex normalization pass, md5 key, group sizes.
    The oracle replays the identical RE2-compatible regex chain
    (operators/code.py:clone_key_expr, the code-KG job's
    ``code:cloneKey`` rule)."""
    from .operators.code import clone_key_expr

    keyed = _read(spark, sf_dir, "documents").select(
        "doc_id", clone_key_expr().alias("clone_key")
    )
    sizes = keyed.groupBy("clone_key").agg(
        F.count("*").cast("long").alias("clone_group_size")
    )
    return keyed.join(sizes, "clone_key").select(
        "doc_id", "clone_key", "clone_group_size"
    )


@_q(
    "kg_bgp_union_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              CAST(NULL AS VARCHAR) AS owner
       FROM orders WHERE o_orderstatus = 'O'
       UNION ALL
       SELECT 'info:fedora/order:' || o_orderkey, 'cust:' || o_custkey
       FROM orders""",
)
def kg_bgp_union_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION: two BGP branches concatenated, with variables a
    branch does not bind coming back NULL (SPARQL unbound semantics).
    Branch 1 is itself a two-pattern join (Active AND hasModel — state
    alone also matches datastream nodes); each branch keeps its own
    pushed scans and the Union is shuffle-free
    (operators/bgp.py:bgp_union)."""
    from .operators.bgp import bgp_union

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_union(
        triples,
        [
            [("?obj", STATE, ACTIVE), ("?obj", HAS_MODEL, FEDORA_OBJECT)],
            [("?obj", OWNER, "?owner")],
        ],
        select=["obj", "owner"],
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled parallel-peel k-core as a CTE chain: round i recomputes
    degrees over the subgraph induced by round i-1's survivors. Peeling
    is monotone — extra rounds past the fixpoint are no-ops — so the
    oracle equals the engine's run-to-fixpoint result whenever the
    fixpoint lands within ``rounds`` (the pytest sweep + driver check
    would catch a graph that peels longer)."""
    # MATERIALIZED: the chain references each level multiple times and
    # DuckDB inlines plain CTEs, which would expand the minhash pipeline
    # exponentially (observed as a file-handle explosion on the scans)
    ctes = [
        "e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM p "
        "UNION SELECT doc_b, doc_a FROM p)"
    ]
    for i in range(rounds):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT u, count(*) AS deg FROM e{i} "
            f"GROUP BY u HAVING count(*) >= {k})"
        )
        if i < rounds - 1:
            ctes.append(
                f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e "
                f"JOIN s{i} a ON e.u = a.u JOIN s{i} b ON e.v = b.u)"
            )
    chain = ",\n        ".join(ctes)
    return f"""WITH p AS MATERIALIZED ({_MINHASH_NEARDUP_SQL}),
        {chain}
       SELECT u AS id, CAST(deg AS BIGINT) AS core_degree
       FROM s{rounds - 1}"""


@_q("docs_dup_kcore", _kcore_oracle(k=2, rounds=8))
def docs_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-dup graph: vertices supported by a
    CYCLE of corroborating collisions — tree-like LSH bridge artifacts
    have an empty 2-core and peel away. Iterated parallel peeling, one
    degree aggregation + two left_semi endpoint filters per round
    (operators/graph.py:kcore); the oracle unrolls 8 peel rounds, a
    proven-by-check bound for this graph (extra rounds are no-ops past
    the fixpoint)."""
    from .operators.dedup_approx import minhash_near_duplicates
    from .operators.graph import kcore

    pairs = minhash_near_duplicates(
        _read(spark, sf_dir, "documents"), threshold=0.5, num_hashes=8, bands=4
    )
    return kcore(pairs, k=2)


# =========================================================================
# SPARQL named graphs (GRAPH), inline bindings (VALUES), DESCRIBE
# =========================================================================


def _quads_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction output re-homed into per-order named graphs
    (``graph:<orderkey % 4>``): the multi-graph quad store the GRAPH
    queries run against. The reference's own output is single-graph
    (`SingleGraphStreamRDF.java`), but its N-Quads data model is quads —
    a store merging several extractions (one graph per source run) is
    the standard Fedora Resource Index deployment shape."""
    source = synthesize_foxml_from_orders(spark, sf_dir)
    key = F.regexp_extract("subj", r"order:(\d+)", 1).cast("long")
    return (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .withColumn(
            "graph",
            F.concat(F.lit("graph:"), (key % 4).cast("string")),
        )
        .persist()
    )


@_q(
    "kg_bgp_graph_query",
    f"""SELECT 'info:fedora/order:' || o_orderkey AS obj,
               'cust:' || o_custkey AS owner
        FROM orders
        WHERE o_orderstatus = 'O' AND o_orderkey % 4 = 1""",
)
def kg_bgp_graph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``GRAPH <g> { ... }`` with a CONSTANT graph: both
    patterns are pinned to named graph ``graph:1``. Compiles to a
    pushed-down equality on the quad table's graph column cloned into
    every pattern scan — on a graph-partitioned store this is partition
    pruning, zero extra joins (operators/bgp.py)."""
    from .operators.bgp import bgp_query

    quads = _quads_from_orders(spark, sf_dir)
    return bgp_query(
        quads,
        [("?obj", STATE, ACTIVE), ("?obj", OWNER, "?owner")],
        select=["obj", "owner"],
        graph="graph:1",
    )


@_q(
    "kg_bgp_graph_var_query",
    """SELECT 'graph:' || CAST(o_orderkey % 4 AS VARCHAR) AS g,
              'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll
       FROM orders""",
)
def kg_bgp_graph_var_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``GRAPH ?g { ... }`` with a graph VARIABLE: every
    pattern additionally binds its quad's graph as ``?g`` and the join
    chain keys on it — all patterns in the group must match within the
    SAME named graph, and ?g reports which. The join stays a single
    subject-keyed chain; g rides along as a second equi-join key
    (operators/bgp.py; cross-graph exclusion pinned in test_bgp)."""
    from .operators.bgp import bgp_query

    rel = "info:fedora/fedora-system:def/relations-external#isMemberOfCollection"
    quads = _quads_from_orders(spark, sf_dir)
    return bgp_query(
        quads,
        [("?obj", rel, "?coll"), ("?obj", OWNER, "?owner")],
        select=["g", "obj", "coll"],
        graph="?g",
    )


@_q(
    "kg_bgp_values_query",
    f"""WITH base AS (
          SELECT 'info:fedora/order:' || o_orderkey AS obj,
                 'cust:' || o_custkey AS owner,
                 {_STATE_SQL} AS st
          FROM orders)
        SELECT obj, owner, st FROM base WHERE owner = 'cust:1'
        UNION ALL
        SELECT obj, owner, st FROM base
        WHERE owner = 'cust:2' AND st = '{ACTIVE}'""",
)
def kg_bgp_values_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES: an inline solution sequence joined with the
    evaluated WHERE clause — here two rows with DIFFERENT defined-
    variable signatures (one binds ?owner only, the other ?owner AND
    ?st — the second row's missing variables are SPARQL UNDEF
    wildcards). Each signature compiles to one broadcast-hash join of
    the driver-held inline table; the per-signature results union back,
    reproducing the spec's multiset join (operators/bgp.py)."""
    from .operators.bgp import bgp_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_query(
        triples,
        [("?obj", OWNER, "?owner"), ("?obj", STATE, "?st")],
        select=["obj", "owner", "st"],
        values=[
            {"?owner": "cust:1"},
            {"?owner": "cust:2", "?st": ACTIVE},
        ],
    )


@_q(
    "kg_bgp_describe_query",
    f"""WITH t AS MATERIALIZED ({_kg_orders_oracle()})
        SELECT subj, pred, obj_value FROM t
        WHERE subj IN (SELECT subj FROM t
                       WHERE pred = '{STATE}' AND obj_value = '{DELETED}')""",
)
def kg_bgp_describe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE — the fourth query verb: all OUTBOUND triples of
    every DELETED-state object (``DESCRIBE ?obj WHERE { ?obj state
    Deleted }``). The WHERE clause evaluates once, distincts the
    described bindings into a node set, and the store is LEFT SEMI
    joined on subj — existence-only, no row multiplication; outbound
    triples = the Concise Bounded Description here because blank nodes
    are skolemized at parse time (operators/bgp.py:bgp_describe)."""
    from .operators.bgp import bgp_describe

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return bgp_describe(
        triples, "?obj", [("?obj", STATE, DELETED)]
    ).select("subj", "pred", "obj_value")


@_q(
    "kg_sparql_text_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll,
              'cust:' || o_custkey AS owner
       FROM orders WHERE o_orderstatus = 'O'""",
)
def kg_sparql_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL TEXT front-end end-to-end: the same star query as
    kg_bgp_star_query, but arriving as a SPARQL string — PREFIX
    expansion, WHERE block, term bracketing — through
    operators/sparql.py:parse_sparql into the identical bgp_query plan
    (the parser emits the compiler's own structures, so the pushdown /
    broadcast / no-BNLJ plan pins carry over verbatim)."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?coll ?owner WHERE {
          ?obj rel:isMemberOfCollection ?coll .
          ?obj m:ownerId ?owner .
          ?obj m:state m:Active .
        }
        """,
    )


@_q(
    "kg_bgp_bind_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll,
              'info:fedora/collection:' || (o_custkey % 100) || '/' ||
                'info:fedora/order:' || o_orderkey AS member,
              CAST(7.0 AS DOUBLE) AS seven
       FROM orders""",
)
def kg_bgp_bind_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``BIND`` end-to-end through the text front-end: a string
    CONCAT/STR bind usable in the SELECT list, plus an arithmetic bind
    exercising ``+``/``*`` precedence over try_cast(double) operands
    (operators/sparql.py:_bind_expr -> operators/bgp.py:_bind_expr_col).
    BINDs compile to plain column projections, so the plan is the same
    single-pattern scan as the unBIND query — zero extra stages."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        SELECT ?obj ?coll ?member ?seven WHERE {
          ?obj rel:isMemberOfCollection ?coll .
          BIND(CONCAT(STR(?coll), "/", STR(?obj)) AS ?member)
          BIND(1 + 2 * 3 AS ?seven)
        }
        """,
    )


@_q(
    "kg_bgp_having_expr_query",
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS coll,
              COUNT(*) AS n
       FROM orders WHERE o_orderstatus = 'O'
       GROUP BY 1
       HAVING (COUNT(*) >= 48 AND COUNT(*) < 52)
           OR ends_with('info:fedora/collection:' || (o_custkey % 100),
                        ':7')""",
)
def kg_bgp_having_expr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING as a full boolean expression (SPARQL §11.5 allows any
    constraint): a count-band conjunction OR'd with a string function
    over the GROUP KEY — the FILTER node grammar compiled against
    aggregate aliases + group keys (operators/bgp.py:bgp_aggregate).
    Still ONE hash aggregate + one row-local predicate above it; the
    single-leaf HAVING path is unchanged."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?coll (COUNT(*) AS ?n) WHERE {
          ?obj m:state m:Active .
          ?obj rel:isMemberOfCollection ?coll .
        } GROUP BY ?coll
        HAVING(?n >= 48 && ?n < 52 || STRENDS(?coll, ":7"))
        """,
    )


@_q(
    "kg_bgp_agg_topk_query",
    """SELECT 'info:fedora/collection:' || (o_custkey % 100) AS coll,
              COUNT(*) AS n
       FROM orders WHERE o_orderstatus = 'O'
       GROUP BY 1
       ORDER BY n DESC, coll
       LIMIT 5""",
)
def kg_bgp_agg_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL top-k idiom — GROUP BY .. ORDER BY DESC(?n) LIMIT k —
    previously rejected, now a first-class modifier over the aggregated
    frame (operators/bgp.py:solution_modifiers). Plans as
    TakeOrderedAndProject above the one hash aggregate: no global sort
    materialization, the k winners ship from each partition. Ties break
    on the ascending group key so both engines return identical rows."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?coll (COUNT(*) AS ?n) WHERE {
          ?obj m:state m:Active .
          ?obj rel:isMemberOfCollection ?coll .
        } GROUP BY ?coll
        ORDER BY DESC(?n) ?coll
        LIMIT 5
        """,
    )


@_q(
    "kg_sparql_filter_fn_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'cust:' || o_custkey AS owner,
              'info:fedora/collection:' || (o_custkey % 100) AS coll
       FROM orders
       WHERE (o_custkey >= 50
              AND length('info:fedora/collection:' || (o_custkey % 100)) = 25)
          OR contains(upper('cust:' || o_custkey), 'CUST:19')""",
)
def kg_sparql_filter_fn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER expression surface end-to-end: arithmetic over a
    SUBSTR slice (numeric path — the string side goes through
    try_cast(double), so a non-numeric binding would drop as a SPARQL
    type error, never an ANSI abort), STRLEN equality, CONTAINS over
    UCASE, composed with &&/|| precedence. Everything compiles into ONE
    row-local predicate on the joined bindings
    (operators/bgp.py:_filter_col 'cmp'/'bool' nodes), which Catalyst
    then splits and pushes into the pattern scans."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?owner ?coll WHERE {
          ?obj m:ownerId ?owner .
          ?obj rel:isMemberOfCollection ?coll .
          FILTER(SUBSTR(?owner, 6) + 0 >= 50 && STRLEN(?coll) = 25
                 || CONTAINS(UCASE(?owner), "CUST:19"))
        }
        """,
    )


@_q(
    "kg_bgp_filter_bound_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'info:fedora/collection:' || (o_custkey % 100) AS coll
       FROM orders WHERE o_orderstatus <> 'O'""",
)
def kg_bgp_filter_bound_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FILTER(!BOUND(?v))`` — the find-the-absent idiom (SPARQL
    §17.4.1.1): OPTIONAL binds ?owner only where the object is Active,
    and the top-level filter keeps the solutions where the group did
    NOT match. BOUND compiles to isNotNull over the left join's NULLs
    ('!' negates through three-valued logic), deferred until after the
    OPTIONAL join — the top-level filter scope."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX rel: <info:fedora/fedora-system:def/relations-external#>
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?coll WHERE {
          ?obj rel:isMemberOfCollection ?coll .
          OPTIONAL { ?obj m:state m:Active . ?obj m:ownerId ?owner }
          FILTER(!BOUND(?owner))
        }
        """,
    )


@_q(
    "kg_bgp_negated_set_query",
    f"""WITH act AS (SELECT * FROM orders WHERE o_orderstatus = 'O')
        SELECT {_U} AS obj, o_orderpriority AS other FROM act
        UNION ALL SELECT {_U}, 'cust:' || o_custkey FROM act
        UNION ALL SELECT {_U}, {_ISO_SQL} FROM act
        UNION ALL SELECT {_U}, {_ISO_SQL} FROM act
        UNION ALL SELECT {_U}, '{FEDORA_OBJECT}' FROM act
        UNION ALL SELECT {_U}, o_orderpriority FROM act
        UNION ALL SELECT {_U}, 'order:' || o_orderkey FROM act
        UNION ALL SELECT {_U},
                  'info:fedora/collection:' || (o_custkey % 100) FROM act
        UNION ALL SELECT {_U} || '/DC', 'text/xml' FROM orders
        UNION ALL SELECT {_U} || '/DC', {_ISO_SQL} FROM orders
        UNION ALL SELECT {_U} || '/DC', 'false' FROM orders
        UNION ALL SELECT {_U} || '/DC', 'info:fedora/*/DC' FROM orders
        UNION ALL SELECT {_U} || '/RELS-EXT', 'application/rdf+xml'
                  FROM orders
        UNION ALL SELECT {_U} || '/RELS-EXT', {_ISO_SQL} FROM orders
        UNION ALL SELECT {_U} || '/RELS-EXT', 'false' FROM orders
        UNION ALL SELECT {_U} || '/RELS-EXT', 'info:fedora/*/RELS-EXT'
                  FROM orders""",
)
def kg_bgp_negated_set_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negated property set (``!(p|q)``, SPARQL 1.1 §9.1): every
    triple of an Active subject EXCEPT its state and disseminates rows —
    a NOT-IN filter on the same pattern scan, so it prunes exactly like
    a positive pattern. Matches both object subjects (8 remaining
    triples each, incl. the duplicated label/dc:title value — bag
    semantics) and the always-Active datastream subjects (4 each), so
    the oracle restates both subject classes."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        PREFIX v: <info:fedora/fedora-system:def/view#>
        SELECT ?obj ?other WHERE {
          ?obj m:state m:Active .
          ?obj !(v:disseminates|m:state) ?other .
        }
        """,
    )


@_q(
    "kg_bgp_exists_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj,
              'cust:' || o_custkey AS owner
       FROM orders WHERE o_orderstatus = 'O'""",
)
def kg_bgp_exists_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``FILTER EXISTS { ... }`` — the positive twin of the
    NOT EXISTS negation: keep a solution iff the group matches at
    least once, compiled to a LEFT SEMI join on the shared variables
    (operators/bgp.py — never multiplies solutions, never adds
    columns). Here: owners of objects that ARE active, asserted as an
    existence group rather than a join pattern, so the semi-join shape
    itself is driver-verified."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        SELECT ?obj ?owner WHERE {
          ?obj m:ownerId ?owner .
          FILTER EXISTS { ?obj m:state m:Active }
        }
        """,
    )


@_q(
    "kg_bgp_path_seq_query",
    """SELECT 'info:fedora/order:' || o_orderkey AS obj, m AS mime
       FROM orders
       CROSS JOIN (VALUES ('text/xml'), ('application/rdf+xml')) t(m)
       WHERE o_orderstatus = 'O'""",
)
def kg_bgp_path_seq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL sequence property path (``p/q``) end-to-end: the parser
    desugars ``view:disseminates/view:mimeType`` into a two-pattern
    join through a fresh intermediate variable (hidden from the
    projection), composing with the plain state pattern — so the plan
    is exactly the three-pattern star join the programmatic API would
    build, and SELECT * semantics never leak the synthetic variable."""
    from .operators.sparql import sparql_query

    source = synthesize_foxml_from_orders(spark, sf_dir)
    triples = (
        triples_only(extract_triples(source))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        triples,
        """
        PREFIX m: <info:fedora/fedora-system:def/model#>
        PREFIX v: <info:fedora/fedora-system:def/view#>
        SELECT * WHERE {
          ?obj v:disseminates/v:mimeType ?mime .
          ?obj m:state m:Active .
        }
        """,
    )


@_q(
    "src_sparql_query",
    f"""WITH files AS ({_SRC_FILES_SQL}),
        cls AS (SELECT DISTINCT repo, path,
                       unnest(regexp_extract_all(content,
                         '(?m)^\\s*class\\s+([A-Za-z_][A-Za-z0-9_]*)', 1))
                         AS name
                FROM files),
        ipats(kind, pat) AS (VALUES {_import_pats_values()}),
        imports AS (SELECT repo, path, kind,
                           unnest(regexp_extract_all(content, pat, 1))
                             AS module
                    FROM files CROSS JOIN ipats),
        keyed AS (SELECT repo, path, module,
                    CASE WHEN kind IN ('c_include','js_require','js_import')
                         THEN regexp_replace(
                                list_extract(string_split(module, '/'), -1),
                                '\\.[A-Za-z0-9]+$', '')
                         ELSE string_split(module, '.')[1] END AS mkey
                  FROM imports),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM (SELECT repo,
                                  regexp_replace(
                                    list_extract(string_split(path, '/'), -1),
                                    '\\.[A-Za-z0-9]+$', '') AS mkey,
                                  path
                           FROM files)
                     WHERE mkey <> '' GROUP BY repo, mkey),
        deps AS (SELECT DISTINCT repo, path,
                        CASE WHEN def_path IS NOT NULL
                             THEN 'src:' || repo || '/' || def_path
                             ELSE 'ext:' || module END AS dep
                 FROM keyed LEFT JOIN registry USING (repo, mkey))
       SELECT 'src:' || repo || '/' || path AS f, name, dep
       FROM cls JOIN deps USING (repo, path)""",
)
def src_sparql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL text front-end over the CODE knowledge graph: a
    4-pattern star — files defining a py_class symbol, the symbol's
    name, and the file's entity-linked dependencies — parsed by
    operators/sparql.py and compiled onto code_kg_plan's quad table
    (the same engine that serves the Fedora graph; the code KG is just
    another triple set to it). The plan is persisted before the
    self-joins so the extraction runs once, not once per BGP side; the
    oracle replays the star as direct joins over the synthesized files
    with DISTINCT mirroring the plan's output-layer quad dedup."""
    from .operators.sparql import sparql_query
    from .plans.code_pipeline import code_kg_plan

    quads = (
        code_kg_plan(_src_files(spark, sf_dir))
        .select("subj", "pred", "obj_value")
        .persist()
    )
    return sparql_query(
        quads,
        """
        PREFIX code: <code:>
        SELECT ?f ?name ?dep WHERE {
          ?f code:defines ?s .
          ?s code:kind "py_class" .
          ?s code:name ?name .
          ?f code:dependsOn ?dep .
        }
        """,
    )


@_q(
    "src_latest_snapshot",
    f"""WITH base AS ({_SRC_FILES_SQL}),
        files AS (SELECT * FROM base
                  UNION ALL
                  SELECT repo, path, 'c9' AS commit, lang,
                         content || chr(10) || '# v2'
                  FROM base WHERE "commit" = 'c1'),
        ranked AS (SELECT *, row_number() OVER (
                     PARTITION BY repo, path
                     ORDER BY "commit" DESC, lang DESC, content DESC)
                     AS rn
                   FROM files)
       SELECT repo, path, "commit", lang, content
       FROM ranked WHERE rn = 1""",
)
def src_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version pick over a multi-commit contract table
    (operators/code.py:latest_snapshot) — the code twin of the FOXML
    latest-datastream-version rule; KG construction runs on this
    snapshot so stale blobs assert nothing. The synthesized history
    gives every commit-c1 file a later c9 revision AND reuses module
    paths across docs (same (repo, path) from different doc_ids), so
    the pick is exercised on both genuine-history and collision rows.
    One max(struct(commit, *rest)) groupBy — single shuffle, never
    per-column maxima (the frankenrow class)."""
    from .operators.code import latest_snapshot

    base = _src_files(spark, sf_dir)
    v2 = (
        base.filter(F.col("commit") == "c1")
        .withColumn("commit", F.lit("c9"))
        .withColumn(
            "content", F.concat(F.col("content"), F.lit("\n# v2"))
        )
    )
    return latest_snapshot(base.unionByName(v2))


@_q(
    "src_repo_profile",
    f"""WITH files AS ({_SRC_FILES_SQL}),
        nf AS (SELECT repo, count(*) AS n_files FROM files GROUP BY repo),
        dpats(kind, pat) AS (VALUES {_def_pats_values()}),
        defs AS (SELECT repo, count(*) AS n_defs
                 FROM (SELECT repo,
                              unnest(regexp_extract_all(content, pat, 1))
                       FROM files CROSS JOIN dpats) d
                 GROUP BY repo),
        ipats(kind, pat) AS (VALUES {_import_pats_values()}),
        keyed AS (SELECT repo,
                    CASE WHEN kind IN ('c_include','js_require','js_import')
                         THEN regexp_replace(
                                list_extract(string_split(module, '/'), -1),
                                '\\.[A-Za-z0-9]+$', '')
                         ELSE string_split(module, '.')[1] END AS mkey
                  FROM (SELECT repo, kind,
                               unnest(regexp_extract_all(content, pat, 1))
                                 AS module
                        FROM files CROSS JOIN ipats) i),
        registry AS (SELECT repo, mkey, min(path) AS def_path
                     FROM (SELECT repo,
                                  regexp_replace(
                                    list_extract(string_split(path, '/'), -1),
                                    '\\.[A-Za-z0-9]+$', '') AS mkey,
                                  path
                           FROM files)
                     WHERE mkey <> '' GROUP BY repo, mkey),
        imp AS (SELECT repo, count(*) AS n_imports,
                       sum(CASE WHEN def_path IS NOT NULL
                                THEN 1 ELSE 0 END) AS n_resolved
                FROM keyed LEFT JOIN registry USING (repo, mkey)
                GROUP BY repo)
       SELECT repo,
              CAST(n_files AS BIGINT) AS n_files,
              CAST(coalesce(n_defs, 0) AS BIGINT) AS n_defs,
              CAST(coalesce(n_imports, 0) AS BIGINT) AS n_imports,
              CAST(coalesce(n_resolved, 0) AS BIGINT) AS n_resolved,
              round(coalesce(n_resolved, 0)
                    / greatest(coalesce(n_imports, 0), 1), 6)
                AS resolved_frac
       FROM nf LEFT JOIN defs USING (repo) LEFT JOIN imp USING (repo)""",
)
def src_repo_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo triage profile (operators/code.py:repo_profile): file
    count, definition/import volumes, and the in-tree resolution rate —
    the table a curation pipeline ranks repos by. Defs tally is a
    scan-side size() (no explode); imports explode once for the
    registry join; two map-side-combined per-repo aggregates."""
    from .operators.code import repo_profile

    return repo_profile(_src_files(spark, sf_dir))


def queries() -> dict[str, QueryFn]:
    return dict(_T)


def oracle_sql() -> dict[str, str]:
    return dict(_SQL)
