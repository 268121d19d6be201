"""End-to-end extraction plans.

``extract_plan`` is the declarative hot path (one job, no driver loops):

    scan(repo,path,commit,content)            # pruned parquet/iceberg scan
      -> [managed-content join]               # ds-store given: prefiltered rows only
      -> mapInPandas(extract)                 # the one Python stage
      -> with_graph -> skip_empty_literals    # codegen'd column ops
      -> [canonicalize via broadcast dict]    # broadcast hash join
      -> [dedup_exact]                        # partial agg + 1 shuffle

``run_resumable`` wraps it with chunked, idempotent writes + manifests
(resume = skip chunks already in the manifest; re-running a chunk
dynamically overwrites its own partition directory only).

``materialize_graph`` is M5: the subject-hash-bucketed triple table
(`HashPathIdMapper.java:118-160` is the reference's analog of this
layout), one shuffle on the bucket key, optional canonical sort for
byte-stable output.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sql_str, subject_bucket
from ..operators.canonicalize import canonicalize
from ..operators.dedup import TRIPLE_KEY, dedup_exact
from ..operators.extractor import extract_triples
from ..operators.filters import skip_empty_literals, with_graph
from ..vocab import DEFAULT_GRAPH
from .checkpoint import (
    append_manifest,
    chunk_manifest,
    read_done_chunks,
    with_chunk_id,
)


@dataclass
class ExtractConfig:
    graph: str = DEFAULT_GRAPH
    skip_empty: bool = True           # SidoraExamplesIT runs with true
    dedup: bool = True
    num_chunks: int = 64              # resume granularity
    chunks_per_wave: int = 16         # chunks committed per wave job


def _attr_val(el: str, name: str) -> str:
    """SQL for an XML attribute's raw value in element text ``el``,
    accepting EITHER quote style: well-formed XML allows single quotes
    too, and the ElementTree-backed UDF accepts them. Each branch
    excludes only its own quote character, so an apostrophe inside a
    double-quoted value (or vice versa) survives."""
    dq, sq = (
        f"regexp_extract({el}, {sql_str(f'(?s){name}={q}([^{q}]*){q}')}, 1)" for q in "\"'"
    )
    return f"CASE WHEN {dq} != '' THEN {dq} ELSE {sq} END"


def _xml_unescape(col: str) -> str:
    """SQL decoding the character references of raw attribute text, so
    fetch keys match what the ElementTree-backed extraction UDF looks up
    ('&' MUST be entity-escaped in well-formed attributes, so URLs with
    query strings carry '&amp;' or '&#38;'). ONE tokenizer pass (the
    five named entities plus decimal/hex numeric refs), so decoded
    output is never re-scanned: chained replaces turn the raw literal
    '&#38;amp;' into '&' instead of '&amp;'. Numeric refs decode over
    printable ASCII (32-126), the URL-legal alphabet a contentLocation
    can carry; anything else stays undecoded and surfaces as the
    per-datastream error row. The code point is staged in a struct
    because the decode reads it three times."""
    tokens = sql_str("&#[0-9]+;|&#x[0-9a-fA-F]+;|&(?:amp|lt|gt|quot|apos);|&|[^&]+")
    code = (
        "CASE WHEN t RLIKE '^&#x' THEN try_cast(conv(regexp_replace(t, '&#x|;', ''), 16, 10) AS int) "
        "WHEN t RLIKE '^&#' THEN try_cast(regexp_replace(t, '[^0-9]', '') AS int) END"
    )
    named = " ".join(
        f"WHEN e.t = '&{name};' THEN {sql_str(char)}"
        for name, char in (("amp", "&"), ("lt", "<"), ("gt", ">"), ("quot", '"'), ("apos", "'"))
    )
    return (
        f"array_join(transform(transform(regexp_extract_all({col}, {tokens}, 0), "
        f"t -> named_struct('t', t, 'c', {code})), "
        f"e -> CASE {named} WHEN e.c >= 32 AND e.c <= 126 THEN chr(e.c) ELSE e.t END), '')"
    )


_CONTROL_GROUP_RX = r"""CONTROL_GROUP=["'][MER]["']"""
_DS_ID_RX = r"""ID=["'](DC|RELS-EXT|RELS-INT)["']"""
_DS_BLOCK_RX = r"(?s)<foxml:datastream\b.*?</foxml:datastream>"
_DS_OPEN_RX = r"^<foxml:datastream\b[^>]*\b"
_VERSION_BLOCK_RX = r"(?s)<foxml:datastreamVersion\b.*?</foxml:datastreamVersion>"
_CREATED_ATTR = r"\bCREATED"
_REF_ATTR = r"<foxml:contentLocation\b[^>]*?\bREF"
_GROUP_RX = r"""\bCONTROL_GROUP=["']([MER])["']"""

# The request pass is four staged projections of per-object ARRAYS, and
# bad keys are dropped inside those arrays with one inline at the end. A
# Filter over a staged, non-cheap column would be pushed below its
# projection with the column's whole expression copied in for each
# reference (versions transform, xml_unescape, minting), a plan over 10x
# the size; test_plans.py pins the regexp_extract_all count. Each stage
# is SQL text built once at import: one py4j call per stage, where the
# Column API paid about a thousand per run.

# prefilter: one datastream open tag carrying both attributes, in either
# order. _PICKED applies the same tag test to each block, so every row
# the request pass keeps passes it; coalesce sends NULL content to the
# attach's pass-through side
_NEEDS_RX = rf"<foxml:datastream\b(?=[^>]*\b{_DS_ID_RX})(?=[^>]*\b{_CONTROL_GROUP_RX})"
_NEEDS = f"coalesce(content RLIKE {sql_str(_NEEDS_RX)}, false)"

# newest version = the max of (parsed CREATED, -position, raw REF).
# Struct order puts a NULL k first, so any parseable CREATED beats none
# (the parser sorts absent/garbage CREATED last); -position makes ties
# and all-NULL k pick the FIRST version in document order, like the
# parser's stable sort. try_to_timestamp, not the raw text:
# lexicographic max diverges for variable-length fractions
# ('..0.1Z' > '..0.15Z' because 'Z' > '5') and non-Z offsets. A
# version-less block gives an empty array, whose array_max is NULL (no
# ANSI abort, E1).
_NEWEST_REF = (
    f"array_max(transform(regexp_extract_all(ds, {sql_str(_VERSION_BLOCK_RX)}, 0), "
    f"(v, i) -> named_struct('k', try_to_timestamp({_attr_val('v', _CREATED_ATTR)}), "
    f"'o', -i, 'r', {_attr_val('v', _REF_ATTR)}))).r"
)
# the qualifying datastream blocks -> (control group, newest raw REF)
_PICKED = (
    f"transform(filter(regexp_extract_all(content, {sql_str(_DS_BLOCK_RX)}, 0), "
    f"ds -> ds RLIKE {sql_str(_DS_OPEN_RX + _CONTROL_GROUP_RX)} "
    f"AND ds RLIKE {sql_str(_DS_OPEN_RX + _DS_ID_RX)}), "
    f"ds -> named_struct("
    f"'g', regexp_extract(ds, {sql_str(_GROUP_RX)}, 1), "
    f"'r', {_NEWEST_REF})) AS _reqs"
)
# decode only the chosen REF; NULL (no version) and empty tokens yield
# no request row
_TOKENS = (
    f"filter(transform(_reqs, q -> named_struct('g', q.g, 't', {_xml_unescape('q.r')})), "
    f"q -> q.t IS NOT NULL AND q.t != '') AS _reqs"
)
# stage the split: minting reads it 4x per token, through the lambda
# variable, so CollapseProject may merge these projections without
# copying the split per reference
_PARTS = (
    f"transform(_reqs, q -> named_struct('g', q.g, 't', q.t, 'p', split(q.t, '\\\\+'))) "
    f"AS _reqs"
)
# Blob-id minting as terms.get_blob_id: a 1-token key gains the
# info:fedora/ prefix, a 3-token ns:id+dsId+dsvId one becomes
# info:fedora/ns:id/<enc>/<enc> with Java-URLEncoder form encoding (=
# url_encode), any other count is unmintable (NULL).
_MINT3 = "concat(q.p[0], '/', url_encode(q.p[1]), '/', url_encode(q.p[2]))"
_MINTED = (
    "CASE WHEN size(q.p) = 1 THEN "
    "CASE WHEN startswith(q.t, 'info:fedora/') THEN q.t ELSE concat('info:fedora/', q.t) END "
    f"WHEN size(q.p) = 3 THEN CASE WHEN startswith(q.p[0], 'info:fedora/') THEN {_MINT3} "
    f"ELSE concat('info:fedora/', {_MINT3}) END END"
)


def _requests(fields: str, generator: str = "inline") -> str:
    """The last stage: MANAGED locations mint to Akubra blob ids,
    EXTERNAL/REDIRECT ones stay verbatim URLs (the crawler table's
    key). An unmintable MANAGED token gives a NULL blob_id and no row,
    and two datastreams with one fetch key give one row, because the
    attach builds a map on that key. ``inline_outer`` keeps an object
    with no valid request as one row with a NULL blob_id."""
    return (
        f"{generator}(array_distinct(filter(transform(_reqs, q -> named_struct("
        f"'blob_id', CASE WHEN q.g = 'M' THEN {_MINTED} ELSE q.t END{fields})), "
        f"r -> r.blob_id IS NOT NULL)))"
    )


# jobs/crawl.py needs the dispatch group to enumerate E/R URLs
_REQUESTS = {False: _requests(""), True: _requests(", 'control_group', q.g")}
_ATTACH_REQUESTS = _requests("", "inline_outer")


def _request_pass(needs: DataFrame, keep: list[str], requests: str) -> DataFrame:
    """The staged request projections over prefiltered rows, carrying
    the ``keep`` columns through."""
    return (
        needs.selectExpr(*keep, _PICKED)
        .selectExpr(*keep, _TOKENS)
        .selectExpr(*keep, _PARTS)
        .selectExpr(*keep, requests)
    )


def managed_content_requests(source: DataFrame, keep_group: bool = False) -> DataFrame:
    """The content *request* pass: object row -> the fetch keys of the
    newest DC/RELS-EXT/RELS-INT MANAGED (M) and EXTERNAL/REDIRECT (E/R)
    datastream versions, as pure JVM column expressions (regex block
    extraction + ``url_encode`` minting). M locations mint to Akubra
    blob ids; E/R locations stay verbatim URLs — the key of the
    pre-crawled (url, content) table that replaces the reference's
    inline HTTP fetch (`ObjectProcessor.java:217-222`).

    Round 1 ran a second full FOXML parse in Python here; the
    request pass only needs three attributes per datastream block, so a
    regex sweep costs a scan instead of a mapInPandas fork + XML parse —
    and the extraction hot path keeps exactly ONE Python stage (pinned).

    Version choice mirrors ``foxml.parse_foxml``: newest CREATED wins by
    PARSED-timestamp order, document order breaks ties/absent-CREATED.
    Blob-id minting mirrors ``terms.get_blob_id``
    (`ObjectProcessor.java:293-341`); malformed tokens yield no request
    row, so the extraction UDF emits the per-datastream error row
    instead of the job dying. Output columns: repo, path, commit,
    blob_id (+ control_group with ``keep_group``), one row per distinct
    key of an object."""
    return _request_pass(source.filter(_NEEDS), ["repo", "path", "commit"], _REQUESTS[keep_group])


# One object's fetched (blob_id, content) pairs -> its managed_content
# map. Identical pairs (a store row appended twice) collapse; a key with
# two different contents maps to NULL, which the extraction UDF reports
# as a conflict on that datastream. No fetched pair -> NULL map, as for
# an object that needs no fetch.
_FETCHED = "array_distinct(collect_list(IF(_blob IS NULL, NULL, struct(blob_id, _blob)))) AS _fetched"
_MANAGED = (
    "IF(size(_fetched) = 0, NULL, map_from_entries(transform("
    "transform(array_distinct(_fetched.blob_id), k -> filter(_fetched, f -> f.blob_id = k)), "
    "g -> struct(g[0].blob_id, IF(size(g) = 1, g[0]._blob, NULL))))) AS managed_content"
)


def attach_managed_content(source: DataFrame, ds_store: DataFrame) -> DataFrame:
    """P6's MANAGED branch (`ObjectProcessor.java:214-216`) as a join.

    ``ds_store`` has columns (blob_id, content) — Akubra blob ids for
    MANAGED datastreams and verbatim URLs for EXTERNAL/REDIRECT ones
    (one table, one key column). The source splits once on the
    request pass's prefilter:

    - rows that cannot need a DC/RELS fetch get a NULL
      ``managed_content`` and stay on the scan's own splits, so the
      extraction UDF runs with the input's task count;
    - rows that may need one carry their columns and a per-row id (a
      group key only: ``(repo, path, commit)`` need not be unique)
      through the request pass, left-join the store, and group back
      into one row with a per-object map of fetched blobs.

    So only the prefiltered rows cross a shuffle: at 10^12 scale the
    join input is a sliver of the table. A ds-store key held with two
    different contents is that datastream's error row, never a job
    abort (E1). The request pass is pure column expressions
    (``managed_content_requests``), so FOXML parses exactly once per
    object — in the extraction UDF."""
    cols = [f"`{c}`" for c in source.columns]
    needs = _request_pass(
        source.filter(_NEEDS).selectExpr("*", "monotonically_increasing_id() AS _rid"),
        [*cols, "_rid"], _ATTACH_REQUESTS,
    )
    store = ds_store.selectExpr("blob_id", "content AS _blob").filter("_blob IS NOT NULL")
    fetched = (
        needs.join(store, "blob_id", "left")
        .groupBy("_rid")
        .agg(*(F.expr(f"any_value({c}) AS {c}") for c in cols), F.expr(_FETCHED))
        .selectExpr(*cols, _MANAGED)
    )
    rest = source.filter(f"NOT {_NEEDS}").selectExpr(
        *cols, "CAST(NULL AS map<string, string>) AS managed_content"
    )
    return rest.unionByName(fetched)


def dedup_mixed(out: DataFrame) -> DataFrame:
    """Single-pass dedup over the mixed triples+errors frame: a
    filter/union split would re-run the whole upstream plan once per
    branch (two scans, two MapInPandas — 2x the work at 100 TB).
    Triple rows dedup on the triple key (error cols NULL, guard "");
    error rows get a per-document guard key so they pass through
    un-collapsed across documents while identical re-runs of the same
    document still dedup."""
    guard = F.when(
        F.col("error_stage").isNotNull(),
        F.concat_ws("\x01", "repo", "path", "commit"),
    ).otherwise(F.lit(""))
    key = [c for c in TRIPLE_KEY if c in out.columns]
    key += ["error_stage", "error_ds_id", "_guard"]
    return dedup_exact(out.withColumn("_guard", guard), key=key).drop("_guard")


def extract_plan(
    source: DataFrame,
    config: ExtractConfig | None = None,
    aliases: DataFrame | None = None,
    ds_store: DataFrame | None = None,
) -> DataFrame:
    """Full declarative plan: source table -> triples+errors DataFrame."""
    config = config or ExtractConfig()
    if ds_store is not None:
        source = attach_managed_content(source, ds_store)
    out = extract_triples(source)
    out = with_graph(out, config.graph)
    if config.skip_empty:
        out = skip_empty_literals(out)
    if aliases is not None:
        out = canonicalize(out, aliases)
    if config.dedup:
        out = dedup_mixed(out)
    return out


@dataclass
class IncrementalPlan:
    changed: DataFrame   # source rows that will be (re-)extracted
    reused: DataFrame    # prior per-document rows carried forward unchanged
    state: DataFrame     # reused ∪ fresh, PER-DOCUMENT (pre-dedup) — feed
                         # this table to the next run's ``previous``
    output: DataFrame    # state, with dedup applied iff config.dedup


def extract_incremental(
    source: DataFrame,
    previous: DataFrame,
    config: ExtractConfig | None = None,
    aliases: DataFrame | None = None,
    ds_store: DataFrame | None = None,
) -> IncrementalPlan:
    """KG refresh without re-parsing the world: rows whose
    (repo, path, commit, content_sha256) identity already exists in the
    ``previous`` triples+errors table reuse their prior output rows;
    only new/changed rows run the extraction UDF; rows absent from the
    new source (deleted or superseded versions) drop out.

    ``previous`` MUST be a per-document (pre-dedup) table — the prior
    run's ``IncrementalPlan.state`` or an ``extract_plan`` output with
    ``dedup=False``. A deduped previous is unsound for incremental
    maintenance: dedup keeps one witness row per triple, so (a) a fresh
    doc re-asserting an already-witnessed triple would duplicate it and
    (b) deleting/editing the witness doc would drop the triple even when
    an unchanged live doc still asserts it. Dedup is therefore applied
    HERE, once, over the reused∪fresh union (``output``), while
    ``state`` stays per-document for the next refresh.

    Both membership checks are semi/anti joins on the 4-column identity
    — at 10^12 rows that is a narrow shuffle of ids, not content, and
    the daily-changed slice (typically <<1%) is all the Python work
    that runs. The content_sha256 in the key means a same-path edit
    re-extracts and its stale triples vanish via the semi-join."""
    from dataclasses import replace

    config = config or ExtractConfig()
    ident = ["repo", "path", "commit", "content_sha256"]
    cur_ids = (
        source.select("repo", "path", "commit",
                      F.sha2(F.col("content"), 256).alias("content_sha256"))
        .distinct()
    )
    prev_ids = previous.select(*ident).distinct()
    changed = (
        source.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .join(prev_ids, ident, "left_anti")
        .drop("content_sha256")
    )
    # the per-document layer is always built dedup-free; dedup collapses
    # cross-document witnesses and is applied once at the output layer
    fresh = extract_plan(
        changed, replace(config, dedup=False), aliases=aliases, ds_store=ds_store
    )
    # a previous MATERIALIZED table carries layout columns (subj_bucket);
    # project onto the pipeline schema before the union
    reused = previous.select(*fresh.columns).join(cur_ids, ident, "left_semi")
    state = reused.unionByName(fresh)
    output = dedup_mixed(state) if config.dedup else state
    return IncrementalPlan(changed=changed, reused=reused, state=state, output=output)


def run_resumable(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    config: ExtractConfig | None = None,
    aliases: DataFrame | None = None,
    ds_store: DataFrame | None = None,
    plan_fn=None,
) -> dict:
    """Chunked, idempotent extraction with per-chunk manifests.

    ``plan_fn`` (wave_source -> extracted DataFrame) swaps the per-wave
    plan while keeping the chunking / manifest / dynamic-overwrite
    machinery — the code-KG job passes ``code_kg_plan`` here. The
    extracted frame must carry the lineage columns (``path``,
    ``content_sha256``) the manifest fingerprints. Default: the FOXML
    ``extract_plan`` with this call's config/aliases/ds_store.

    Dedup scope note: with ``config.dedup`` the dedup runs PER WAVE —
    identical triples asserted by documents that land in different waves
    both survive in the materialized table (collapsing them would break
    chunk idempotency: a chunk's output must be a pure function of that
    chunk's input). Treat the resumable table as per-document-ish and
    apply ``dedup_mixed`` at export when global set semantics are needed
    — the same layering the incremental plan uses.

    Each wave processes ``chunks_per_wave`` chunks in one distributed job,
    writes ``out_dir/chunk_id=<k>/`` via dynamic partition overwrite
    (idempotent under retry/crash: a re-run of a chunk replaces exactly
    its own directory), then appends the wave's manifest rows. Resume
    skips every chunk already present in the manifest.

    Chunk ids only mean something under the ``num_chunks`` that wrote
    them, so every manifest row records it; a resume under a different
    ``num_chunks`` raises ``ValueError`` instead of skipping chunks whose
    objects were never extracted. A manifest without the column resumes
    unchecked."""
    config = config or ExtractConfig()
    if plan_fn is None:
        plan_fn = lambda wave_src: extract_plan(  # noqa: E731
            wave_src, config, aliases=aliases, ds_store=ds_store
        )
    spark = source.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    chunked = with_chunk_id(source, config.num_chunks)
    done, recorded = read_done_chunks(spark, checkpoint_dir)
    stale = recorded - {config.num_chunks}
    if stale:
        raise ValueError(
            f"checkpoint {checkpoint_dir} was written with num_chunks="
            f"{min(stale)} but this run has num_chunks={config.num_chunks}; "
            "chunk ids differ between the two, so a resume would skip "
            "objects never extracted. Rerun with the recorded value or "
            "start a fresh checkpoint"
        )
    todo = sorted(set(range(config.num_chunks)) - done)
    waves = [
        todo[i : i + config.chunks_per_wave]
        for i in range(0, len(todo), config.chunks_per_wave)
    ]
    stats = {"chunks_done_before": len(done), "waves": len(waves), "chunks_run": 0}
    for wave in waves:
        wave_src = chunked.filter(F.col("chunk_id").isin(wave))
        extracted = plan_fn(wave_src.drop("chunk_id"))
        extracted = with_chunk_id(extracted, config.num_chunks)
        (
            extracted.write.mode("overwrite")
            .partitionBy("chunk_id")
            .parquet(out_dir)
        )
        # manifest from the committed files, not the in-flight plan:
        # a chunk only enters the manifest once its data is durably on disk.
        # Chunks with zero input rows still get a (zeroed) manifest row —
        # otherwise resume would re-run them forever.
        manifest = chunk_manifest(
            spark.read.parquet(out_dir).filter(F.col("chunk_id").isin(wave))
        )
        wave_ids = spark.createDataFrame([(c,) for c in wave], "chunk_id int")
        manifest = (
            wave_ids.join(manifest, "chunk_id", "left")
            .fillna(0, ["n_objects", "n_triples", "n_errors", "content_fingerprint"])
            .withColumn("num_chunks", F.lit(config.num_chunks).cast("int"))
        )
        append_manifest(manifest, checkpoint_dir)
        stats["chunks_run"] += len(wave)
    return stats


def materialize_graph(
    triples: DataFrame,
    out_path: str,
    buckets: int = 256,
    canonical_sort: bool = False,
) -> None:
    """M5 graph materialization: subject-hash-bucketed partitioned table.

    One shuffle, keyed on the bucket: `repartition(bucket)` co-locates
    each entity's triples; hot *predicates* (hasModel, disseminationType
    — every object emits them, `ObjectProcessor.java:244,268`) do NOT
    skew this layout because the key is the subject hash, which is
    uniform by construction. partitionBy(bucket) then gives partition
    pruning for per-entity lookups. On a real cluster this becomes an
    Iceberg `bucket(N, subj)` transform; parquet directories model it
    here.

    Error rows (E1) ride along under the reserved bucket -1 — one write
    materializes both streams (splitting them into two writes would run
    the whole extraction once per sink)."""
    if "error_stage" in triples.columns:
        bucket = F.when(
            F.col("error_stage").isNotNull(), F.lit(-1)
        ).otherwise(subject_bucket("subj", buckets))
    else:
        bucket = subject_bucket("subj", buckets)
    bucketed = triples.withColumn("subj_bucket", bucket)
    bucketed = bucketed.repartition(F.col("subj_bucket"))
    if canonical_sort:
        bucketed = bucketed.sortWithinPartitions("subj", "pred", "obj_value")
    bucketed.write.mode("overwrite").partitionBy("subj_bucket").parquet(out_path)
