"""Structured Streaming variants of the engine's plans.

The reference "streams" only in the pipelining sense (bounded queue +
push visitors, `Extract.java:194-195`, `README.md:32`); it has no event
time or state. These plans add the real thing for continuously-arriving
blob tables:

- ``streaming_extract``: file-source stream of blob rows -> the same
  vectorized extraction -> append-mode sink with its own checkpoint
  (exactly-once per Structured Streaming's file-sink commit log; the
  batch pipeline's chunk manifests are the batch twin)
- ``streaming_triple_rates``: watermarked tumbling-window triple/error
  counters — the streaming twin of M1 progress metering
- ``streaming_dedup``: stateful exact dedup with a watermark bound on
  state (late duplicates beyond the watermark are not suppressed —
  documented tradeoff; unbounded state is not an option at 10^12 scale)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import TRIPLE_KEY
from ..operators.extractor import extract_triples
from ..operators.filters import skip_empty_literals, with_graph
from ..vocab import DEFAULT_GRAPH

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def read_blob_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Incremental scan of a growing blob directory. maxFilesPerTrigger
    bounds per-microbatch work (the streaming analog of the reference's
    admission queue, `Extract.java:108-113`)."""
    return (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def streaming_extract(
    source_stream: DataFrame, graph: str = DEFAULT_GRAPH, skip_empty: bool = True
) -> DataFrame:
    """The extraction plan applied to a stream — identical operators; only
    the source/sink differ (mapInPandas and the filters are all
    stream-safe stateless transforms)."""
    out = extract_triples(source_stream)
    out = with_graph(out, graph)
    if skip_empty:
        out = skip_empty_literals(out)
    return out


def write_triples_stream(
    triples: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Append-mode parquet sink. availableNow=True drains everything
    currently in the source then stops — the batch-equivalence mode used
    by tests and backfills; leave False for a long-running ingest."""
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_code_state(
    source_stream: DataFrame, config=None
) -> DataFrame:
    """The code-KG pipeline's streaming twin, split at the same
    boundary as its incremental batch path: the file-LOCAL layer
    (constant/definition/annotation quads + kind-tagged import rows —
    all stateless per-file transforms, hence stream-safe) materializes
    continuously as the per-document STATE table; corpus-DEPENDENT
    edges (dependsOn/calls/vendored) are then assembled by a periodic
    batch ``code_kg_from_state`` over the accumulated state — they
    depend on the whole corpus (an unchanged importer's edge flips
    when another file starts defining its module), so no bounded-state
    streaming operator can emit them correctly."""
    from ..plans.code_pipeline import CodeKgConfig, code_kg_state

    config = config or CodeKgConfig()
    # config.vendored is fine: the state layer doesn't consult it —
    # the batch assembly derives vendored flags from the identity table
    return code_kg_state(source_stream, config)


def streaming_triple_rates(
    triples: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """Windowed extraction counters over processing time (M1's streaming
    twin): triples/errors per window per repo."""
    stamped = triples.withColumn("_ts", F.current_timestamp())
    return (
        stamped.withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window).alias("win"), "repo")
        .agg(
            F.count(F.col("subj")).alias("n_triples"),
            F.count(F.col("error_stage")).alias("n_errors"),
        )
    )


def streaming_dedup(triples: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup: dropDuplicates over the triple key with a
    processing-time watermark bounding the state store."""
    stamped = triples.withColumn("_ts", F.current_timestamp())
    return stamped.withWatermark("_ts", watermark).dropDuplicates(
        [c for c in TRIPLE_KEY if c in triples.columns]
    )


REPO_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("n_objects", T.LongType()),
        T.StructField("n_triples", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("batches_seen", T.LongType()),
    ]
)

_REPO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_objects", T.LongType()),
        T.StructField("n_triples", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("batches_seen", T.LongType()),
    ]
)


def streaming_repo_totals(triples: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): cumulative
    per-repo extraction totals that survive across micro-batches —
    running counts are genuine unbounded state that windowed aggregation
    can't express. One output row per repo per micro-batch carrying the
    totals *so far* (the streaming ledger behind M1 progress logs,
    `Extract.java:224-235`). State is one 4-long tuple per repo —
    trivially bounded by the repo count, no watermark needed."""

    def update(key, pdfs, state):
        import pandas as pd

        n_obj = n_tri = n_err = 0
        paths = set()
        for pdf in pdfs:
            n_tri += int(pdf["subj"].notna().sum())
            n_err += int(pdf["error_stage"].notna().sum())
            paths.update(pdf["path"].dropna().unique())
        n_obj = len(paths)
        if state.exists:
            (p_obj, p_tri, p_err, p_batches) = state.get
        else:
            p_obj = p_tri = p_err = p_batches = 0
        # NB: object count is additive-approximate across batches (a
        # repo's object seen in two batches counts twice); exact distinct
        # would need per-path state, unbounded at 10^12 — documented.
        totals = (p_obj + n_obj, p_tri + n_tri, p_err + n_err, p_batches + 1)
        state.update(totals)
        yield pd.DataFrame(
            [{"repo": key[0], "n_objects": totals[0], "n_triples": totals[1],
              "n_errors": totals[2], "batches_seen": totals[3]}]
        )

    return triples.groupBy("repo").applyInPandasWithState(
        update,
        outputStructType=REPO_TOTALS_SCHEMA,
        stateStructType=_REPO_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
