"""Per-chunk checkpoint manifests for resumable extraction.

The unit of resume is a *chunk*: a stable hash-slice of the input,
``chunk_id = pmod(xxhash64(repo, path, commit), num_chunks)``. Unlike
Spark partition ids, chunk ids are a pure function of row identity, so
they survive re-planning, AQE, and cluster-size changes — the same rows
always land in the same chunk at N and at 4N executors.

Each completed chunk appends one manifest row:
(chunk_id, n_objects, n_triples, n_errors, content_fingerprint, num_chunks)
where the fingerprint is an order-independent
``bit_xor(xxhash64(content_sha256))`` over the chunk's rows — enough to
detect input drift between a run and its resume without storing per-row
lineage twice (the per-row lineage itself rides on every output row) —
and ``num_chunks`` is the chunk count the id was computed under, so a
resume under another count is refused from the same read that finds the
done chunks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def with_chunk_id(source: DataFrame, num_chunks: int) -> DataFrame:
    return source.withColumn(
        "chunk_id",
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(num_chunks)).cast("int"),
    )


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def read_done_chunks(
    spark: SparkSession, checkpoint_dir: str
) -> tuple[set[int], set[int]]:
    """The chunk ids in the manifest and the ``num_chunks`` values its
    rows record. Rows appended before manifests carried ``num_chunks``
    record none (``mergeSchema`` reads them as NULL next to newer rows),
    so a manifest written only by them resumes unchecked."""
    path = manifest_path(checkpoint_dir)
    try:
        manifest = spark.read.option("mergeSchema", "true").parquet(path)
    except Exception:  # no manifest yet -> fresh run
        return set(), set()
    if "num_chunks" not in manifest.columns:
        manifest = manifest.withColumn("num_chunks", F.lit(None).cast("int"))
    rows = manifest.select("chunk_id", "num_chunks").distinct().collect()
    return (
        {r.chunk_id for r in rows},
        {r.num_chunks for r in rows if r.num_chunks is not None},
    )


def chunk_manifest(extracted_chunk: DataFrame) -> DataFrame:
    """Aggregate one chunk's extraction output into its manifest row(s)
    (grouped by chunk_id, so a multi-chunk wave yields one row each).

    Two-level aggregate: first per object (so the xor fingerprint sees
    each object's sha exactly once — xor of a value an even number of
    times would cancel out), then per chunk. The object key is the FULL
    identity (repo, path, commit, sha): code corpora routinely hold
    byte-identical files at the same relative path in different repos
    (vendored copies), and a (path, sha)-only key would collapse two
    such objects into one row — undercounting n_objects and xoring
    their shared sha once instead of twice, the exact even-count
    cancellation this aggregate exists to prevent."""
    errors = (
        F.count(F.col("error_stage"))
        if "error_stage" in extracted_chunk.columns
        else F.lit(0)  # plans with no per-row error channel (code KG)
    )
    per_object = extracted_chunk.groupBy(
        "chunk_id", "repo", "path", "commit", "content_sha256"
    ).agg(
        F.count(F.col("subj")).alias("_t"),
        errors.alias("_e"),
    )
    return per_object.groupBy("chunk_id").agg(
        F.count("*").alias("n_objects"),
        F.sum("_t").alias("n_triples"),
        F.sum("_e").alias("n_errors"),
        F.expr("bit_xor(xxhash64(content_sha256))").alias("content_fingerprint"),
    )


def append_manifest(manifest_rows: DataFrame, checkpoint_dir: str) -> None:
    manifest_rows.write.mode("append").parquet(manifest_path(checkpoint_dir))


def write_layout_marker(out_dir: str, layout: str, **extra) -> None:
    """Record the table layout in ``_LAYOUT.json`` next to the data, so a
    later ``--previous`` can be validated (local paths only; on an
    object-store URI the write fails and is skipped)."""
    try:
        with open(os.path.join(out_dir, "_LAYOUT.json"), "w") as fh:
            json.dump({"layout": layout, **extra}, fh)
    except OSError:
        pass


def read_layout_marker(out_dir: str) -> dict | None:
    """The ``_LAYOUT.json`` marker dict, or None. An absent marker and a
    corrupt one (e.g. truncated by a kill mid-write) both read as None,
    which callers treat as warn-and-proceed."""
    try:
        with open(os.path.join(out_dir, "_LAYOUT.json")) as fh:
            marker = json.load(fh)
    except (OSError, ValueError):
        return None
    return marker if isinstance(marker, dict) else None
