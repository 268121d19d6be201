"""Source-table access and deterministic synthesis.

The engine's input contract (north rule): a table of blobs with columns
``(repo string, path string, commit string, lang string, content string)``
— one FOXML document per row. In production this is an Iceberg table; in
this container Iceberg's runtime jar is absent, so reads gate on format
availability and fall back to parquet (same DataFrame downstream).

Synthesis here is fully deterministic (no wall clock, no RNG) so that
bench runs, retries, and the DuckDB oracle all see identical data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCE_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def read_source(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    """Open the blob source table. ``fmt`` may be ``iceberg`` (table
    name) or a path-based format: ``parquet``/``orc`` (self-describing)
    or ``json``/``csv`` (schema ENFORCED from the contract — inference
    would scan the data twice and could mistype a numeric-looking
    ``commit``). The projection is narrowed immediately so Catalyst
    prunes columnar scans to the five contract columns."""
    if fmt == "iceberg":
        try:
            df = spark.read.format("iceberg").load(location)
        except Exception as e:  # runtime jar not on classpath in this sandbox
            raise RuntimeError(
                "Iceberg runtime not available; pass fmt='parquet'"
            ) from e
    elif fmt in ("json", "csv"):
        schema = ", ".join(f"{c} string" for c in SOURCE_COLUMNS)
        reader = spark.read.schema(schema)
        if fmt == "csv":
            # FOXML content embeds quotes/newlines: require proper
            # quoting, and disable the parser's whitespace trimming —
            # it silently strips a content-final newline, breaking the
            # sha256(content) lineage invariant
            reader = (
                reader.option("header", "true")
                .option("multiLine", "true")
                .option("escape", '"')
                .option("ignoreLeadingWhiteSpace", "false")
                .option("ignoreTrailingWhiteSpace", "false")
            )
        df = reader.format(fmt).load(location)
    else:
        df = spark.read.format(fmt).load(location)
    return df.select(*[c for c in SOURCE_COLUMNS if c in df.columns])


# --- deterministic FOXML synthesis from the TPC-H-ish testdata -------------
#
# Used by __spark_entry__.entry(), the DuckDB-oracled end-to-end query, and
# bench.py. Each `orders` row becomes one FOXML object:
#   pid            = order:<o_orderkey>
#   label          = <o_orderpriority>
#   ownerId        = cust:<o_custkey>
#   state          = O->A, F->I, P->D
#   created/lastmod= o_orderdate as ISO instant
#   DC             = title + identifier
#   RELS-EXT       = isMemberOfCollection -> info:fedora/collection:<o_custkey % 100>
# Everything is a pure column expression (format_string), so synthesis
# itself is JVM-side and scales with the input.

_FOXML_TEMPLATE = (
    '<foxml:digitalObject VERSION="1.1" PID="order:%s"'
    ' xmlns:foxml="info:fedora/fedora-system:def/foxml#">'
    "<foxml:objectProperties>"
    '<foxml:property NAME="info:fedora/fedora-system:def/model#state" VALUE="%s"/>'
    '<foxml:property NAME="info:fedora/fedora-system:def/model#label" VALUE="%s"/>'
    '<foxml:property NAME="info:fedora/fedora-system:def/model#ownerId" VALUE="cust:%s"/>'
    '<foxml:property NAME="info:fedora/fedora-system:def/model#createdDate" VALUE="%s"/>'
    '<foxml:property NAME="info:fedora/fedora-system:def/view#lastModifiedDate" VALUE="%s"/>'
    "</foxml:objectProperties>"
    '<foxml:datastream ID="DC" STATE="A" CONTROL_GROUP="X">'
    '<foxml:datastreamVersion ID="DC.0" CREATED="%s" MIMETYPE="text/xml">'
    "<foxml:xmlContent>"
    '<oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"'
    ' xmlns:dc="http://purl.org/dc/elements/1.1/">'
    "<dc:title>%s</dc:title><dc:identifier>order:%s</dc:identifier>"
    "</oai_dc:dc></foxml:xmlContent></foxml:datastreamVersion></foxml:datastream>"
    '<foxml:datastream ID="AUDIT" STATE="A" CONTROL_GROUP="X">'
    '<foxml:datastreamVersion ID="AUDIT.0" CREATED="%s" MIMETYPE="text/xml">'
    "<foxml:xmlContent><audit:auditTrail xmlns:audit=\"info:fedora/fedora-system:def/audit#\"/>"
    "</foxml:xmlContent></foxml:datastreamVersion></foxml:datastream>"
    '<foxml:datastream ID="RELS-EXT" STATE="A" CONTROL_GROUP="X">'
    '<foxml:datastreamVersion ID="RELS-EXT.0" CREATED="%s" MIMETYPE="application/rdf+xml">'
    "<foxml:xmlContent>"
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
    ' xmlns:rel="info:fedora/fedora-system:def/relations-external#">'
    '<rdf:Description rdf:about="info:fedora/order:%s">'
    '<rel:isMemberOfCollection rdf:resource="info:fedora/collection:%s"/>'
    "</rdf:Description></rdf:RDF>"
    "</foxml:xmlContent></foxml:datastreamVersion></foxml:datastream>"
    "</foxml:digitalObject>"
)


def synthesize_foxml_from_orders(
    spark: SparkSession, sf_dir: str, copies: int = 1
) -> DataFrame:
    """orders.parquet -> deterministic FOXML blob source table.

    The *narrow* orders scan is repartitioned to the session's default
    parallelism before synthesis: the local test parquet is one small
    file (one split -> one task -> one Python worker for the downstream
    extraction UDF). At production scale, 128 MB input splits provide
    this for free; here the shuffle moves only the small relational rows
    and the FOXML strings are generated in parallel after it.

    ``copies`` scales the corpus for throughput measurement: each copy
    gets a disjoint orderkey range (okey + copy * 10^10) so object PIDs
    stay unique and downstream dedup/join cardinalities stay realistic."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    target = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < target:
        orders = orders.repartition(target)
    if copies > 1:
        orders = orders.withColumn(
            "_copy", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
        ).withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.col("_copy").cast("long") * F.lit(10_000_000_000),
        )
    iso = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    state = (
        F.when(F.col("o_orderstatus") == "O", F.lit("A"))
        .when(F.col("o_orderstatus") == "F", F.lit("I"))
        .otherwise(F.lit("D"))
    )
    okey = F.col("o_orderkey").cast("string")
    collection = F.pmod(F.col("o_custkey"), F.lit(100)).cast("string")
    content = F.format_string(
        _FOXML_TEMPLATE,
        okey, state, F.col("o_orderpriority"), F.col("o_custkey").cast("string"),
        iso, iso,          # object created / lastModified
        iso,               # DC version CREATED
        F.col("o_orderpriority"), okey,   # dc:title, dc:identifier
        iso,               # AUDIT version CREATED (must emit NO triples)
        iso,               # RELS-EXT version CREATED
        okey, collection,  # rdf:about pid, collection member
    )
    return orders.select(
        F.lit("synthetic-orders").alias("repo"),
        F.concat(F.lit("info:fedora/order:"), okey).alias("path"),
        F.lit("synth-commit-0").alias("commit"),
        F.lit("foxml").alias("lang"),
        content.alias("content"),
    )
