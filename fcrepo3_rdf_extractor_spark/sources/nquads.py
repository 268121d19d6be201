"""N-Quads sink (and test-support reader).

The reference writes one ``quads<i>.nq`` file per extraction thread
(`Extract.java:218-219`, `TripleDump.java:63-65`); here each Spark task
writes one file of the text dataset — same contention-free layout,
scheduler-managed. ``canonical=True`` adds a within-partition sort so
output bytes are stable across runs (the reference's output order is
thread-nondeterministic; ours can be made deterministic for diffing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import nquad_line_col


def write_nquads(
    triples: DataFrame,
    path: str,
    canonical: bool = False,
    num_files: int | None = None,
) -> None:
    lines = triples.select(nquad_line_col().alias("value"))
    if num_files:
        if canonical:
            # hash-partition by the line itself: row->file assignment is a
            # pure function of content, so output bytes are identical
            # across runs/retries regardless of input order (round-robin
            # depends on partition enumeration order)
            lines = lines.repartition(num_files, F.col("value"))
        else:
            lines = lines.repartition(num_files)
    if canonical:
        lines = lines.sortWithinPartitions("value")
    lines.write.mode("overwrite").text(path)


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """Parse N-Quads text back into the triple schema via a small
    mapInPandas batch parse (test/verification use)."""
    import pandas as pd  # local import: only the reader needs pandas

    from ..terms import parse_nt_line

    def parse(batches):
        cols = ["subj", "pred", "obj_value", "obj_is_literal",
                "obj_datatype", "obj_lang", "graph"]
        for pdf in batches:
            rows = [p for p in (parse_nt_line(v) for v in pdf["value"]) if p]
            yield pd.DataFrame(rows, columns=cols)

    schema = ("subj string, pred string, obj_value string, obj_is_literal boolean, "
              "obj_datatype string, obj_lang string, graph string")
    return spark.read.text(path).filter(F.length("value") > 0).mapInPandas(parse, schema)
