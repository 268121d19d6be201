"""Vectorized triple extraction: the ``mapInPandas`` operator.

This is the engine's one table-valued UDF — the Spark-native shape of the
reference's per-thread ``ObjectProcessor`` (`ObjectProcessor.java:142-177`):
an Arrow batch of FOXML source rows goes in, an Arrow batch of triple rows
(plus error rows, E1 semantics) comes out. Everything else in the plan is
declarative DataFrame ops that Catalyst can optimize around it.

Scale notes:
- the UDF is a pure function of (content, managed_content) — safe under
  task retry and speculative execution, no wall-clock, no randomness
- Arrow transfer is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
- per-document Python work is unavoidable here (XML parsing), but there is
  no per-ROW Python on the DataFrame side: one UDF call handles a whole
  batch, and all pre/post processing (sha256, graph, filters, dedup,
  bucketing) stays JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract import DsLookup, extract_object

#: lineage carried from the source table through to every output row
LINEAGE_COLS = ["repo", "path", "commit", "content_sha256"]

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj_value", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("obj_lang", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("error_stage", T.StringType()),
        T.StructField("error_ds_id", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)

_OUT_COLS = [f.name for f in TRIPLES_SCHEMA.fields]


def _store_lookup(fetched: dict) -> DsLookup:
    """A lookup over one object's ``managed_content``. The attach maps a
    key that the ds-store holds with two different contents to NULL;
    that key fails its datastream with a conflict error, not a miss."""
    def lookup(key: str) -> str | None:
        content = fetched.get(key)
        if content is None and key in fetched:
            raise ValueError(f"conflicting ds-store contents for {key}")
        return content
    return lookup


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        has_managed = "managed_content" in pdf.columns
        # columnar assembly: six term columns appended per triple, lineage
        # gathered once per batch via np.repeat — cheaper than building
        # one 13-tuple per output row (measured ~25% of UDF time)
        subj: list = []; pred: list = []; objv: list = []
        islit: list = []; dtype_: list = []; lang: list = []
        n_per_doc = np.zeros(len(pdf), dtype=np.int64)
        err_rows: list[tuple] = []  # (doc_index, stage, ds_id, message)
        for i in range(len(pdf)):
            content = pdf["content"].iat[i]
            lookup = None
            if has_managed:
                managed = pdf["managed_content"].iat[i]
                if managed is not None and len(managed):
                    lookup = _store_lookup(dict(managed))
            triples, errors = extract_object(content, ds_lookup=lookup)
            n_per_doc[i] = len(triples)
            for t in triples:
                subj.append(t.subj); pred.append(t.pred); objv.append(t.obj_value)
                islit.append(t.obj_is_literal); dtype_.append(t.obj_datatype)
                lang.append(t.obj_lang)
            for e in errors:
                err_rows.append((i, e.stage, e.ds_id, e.message))

        idx = np.repeat(np.arange(len(pdf)), n_per_doc)
        lineage = {c: pdf[c].to_numpy()[idx] for c in LINEAGE_COLS}
        n = len(subj)
        out = pd.DataFrame(
            {
                "subj": subj, "pred": pred, "obj_value": objv,
                "obj_is_literal": pd.array(islit, dtype="boolean"),
                "obj_datatype": dtype_, "obj_lang": lang,
                **lineage,
                "error_stage": np.full(n, None, dtype=object),
                "error_ds_id": np.full(n, None, dtype=object),
                "error_message": np.full(n, None, dtype=object),
            },
            columns=_OUT_COLS,
        )
        if err_rows:
            eidx = np.array([r[0] for r in err_rows], dtype=np.int64)
            edf = pd.DataFrame(
                {
                    "subj": None, "pred": None, "obj_value": None,
                    "obj_is_literal": pd.array([None] * len(err_rows), dtype="boolean"),
                    "obj_datatype": None, "obj_lang": None,
                    **{c: pdf[c].to_numpy()[eidx] for c in LINEAGE_COLS},
                    "error_stage": [r[1] for r in err_rows],
                    "error_ds_id": [r[2] for r in err_rows],
                    "error_message": [r[3] for r in err_rows],
                },
                columns=_OUT_COLS,
            )
            out = pd.concat([out, edf], ignore_index=True)
        yield out


def extract_triples(source: DataFrame) -> DataFrame:
    """source(repo, path, commit, content[, managed_content]) ->
    triples+errors DataFrame (TRIPLES_SCHEMA).

    ``content_sha256`` is computed JVM-side (``F.sha2``) *before* the UDF
    and echoed through — the per-row lineage invariant costs no Python.
    Only the columns the UDF needs are selected, so Catalyst prunes the
    parquet scan down to (repo, path, commit, content).
    """
    cols = ["repo", "path", "commit", "content",
            F.sha2(F.col("content"), 256).alias("content_sha256")]
    if "managed_content" in source.columns:
        cols.append("managed_content")
    narrow = source.select(*cols)
    return narrow.mapInPandas(_extract_batches, schema=TRIPLES_SCHEMA)


def triples_only(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("error_stage").isNull()).drop(
        "error_stage", "error_ds_id", "error_message"
    )


def errors_only(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("error_stage").isNotNull()).select(
        *LINEAGE_COLS, "error_stage", "error_ds_id", "error_message"
    )


def error_counts(extracted: DataFrame) -> DataFrame:
    """M1-style counters as a tiny aggregate (Extract.java:233-235)."""
    return (
        extracted.filter(F.col("error_stage").isNotNull())
        .groupBy("error_stage")
        .agg(F.count("*").alias("n_errors"))
    )
