"""End-to-end extraction plans.

``extract_plan`` is the declarative hot path (one job, no driver loops):

    scan(repo,path,commit,content)            # pruned parquet/iceberg scan
      -> [managed-content join]               # only if a ds-store is given
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

from ..functions import subject_bucket
from ..operators.canonicalize import canonicalize
from ..operators.dedup import TRIPLE_KEY, dedup_exact
from ..operators.extractor import extract_triples
from ..operators.filters import skip_empty_literals, with_graph
from ..vocab import DEFAULT_GRAPH
from .checkpoint import (
    append_manifest,
    chunk_manifest,
    read_done_chunks,
    read_layout_marker,
    with_chunk_id,
    write_layout_marker,
)


@dataclass
class ExtractConfig:
    graph: str = DEFAULT_GRAPH
    skip_empty: bool = True           # SidoraExamplesIT runs with true
    dedup: bool = True
    num_chunks: int = 64              # resume granularity
    chunks_per_wave: int = 16         # chunks committed per wave job


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
    PARSED-timestamp order (try_to_timestamp — lexicographic comparison
    breaks on variable-length fractions and offsets), document order
    breaks ties/absent-CREATED. Blob-id minting
    mirrors ``terms.get_blob_id`` (`ObjectProcessor.java:293-341`):
    3-token ``ns:id+dsId+dsvId`` -> ``info:fedora/ns:id/<enc>/<enc>``
    with Java-URLEncoder form encoding (= Spark ``url_encode``);
    malformed tokens yield no request row, so the extraction UDF emits
    the per-datastream error row instead of the job dying."""
    def attr_val(col, name: str):
        """Extract an XML attribute value accepting EITHER quote style —
        well-formed XML allows single quotes too, and the ElementTree-
        backed UDF accepts them, so the regex pass must as well. Each
        branch excludes only its own quote character, so an apostrophe
        inside a double-quoted value (or vice versa) survives."""
        dq = F.regexp_extract(col, f'(?s){name}="([^"]*)"', 1)
        sq = F.regexp_extract(col, f"(?s){name}='([^']*)'", 1)
        return F.when(dq != "", dq).otherwise(sq)

    # prefilter: one regex scan replacing the per-literal contains chain
    # (both quote styles)
    needs = source.filter(
        F.col("content").rlike("CONTROL_GROUP=[\"'][MER][\"']")
        & F.col("content").rlike("ID=[\"'](DC|RELS-EXT|RELS-INT)[\"']")
    )
    ds_block = r"(?s)<foxml:datastream\b.*?</foxml:datastream>"
    v_block = r"(?s)<foxml:datastreamVersion\b.*?</foxml:datastreamVersion>"
    exploded = needs.select(
        "repo", "path", "commit",
        F.explode(F.regexp_extract_all("content", F.lit(ds_block), 0)).alias("_ds"),
    ).filter(
        F.col("_ds").rlike("^<foxml:datastream\\b[^>]*\\bCONTROL_GROUP=[\"'][MER][\"']")
        & F.col("_ds").rlike("^<foxml:datastream\\b[^>]*\\bID=[\"'](DC|RELS-EXT|RELS-INT)[\"']")
    ).withColumn(
        "_group",
        F.regexp_extract("_ds", "\\bCONTROL_GROUP=[\"']([MER])[\"']", 1),
    )
    def xml_unescape(col):
        # regex extraction reads RAW attribute text; decode character
        # references so fetch keys match what the ElementTree-backed
        # extraction UDF will look up ('&' MUST be entity-escaped in
        # well-formed attributes, so URLs with query strings carry
        # '&amp;' or '&#38;'). ONE tokenizer pass — the five named
        # entities plus decimal/hex numeric refs — so decoded output is
        # never re-scanned (chained replaces turn the raw literal
        # '&#38;amp;' into '&' instead of '&amp;'). Numeric refs decode
        # over printable ASCII (32-126) — the URL-legal alphabet a
        # contentLocation can carry; anything outside stays undecoded
        # and surfaces as the per-datastream error row (same contract
        # as before, now a far smaller surface).
        toks = F.regexp_extract_all(
            col,
            F.lit("&#[0-9]+;|&#x[0-9a-fA-F]+;|&(?:amp|lt|gt|quot|apos);|&|[^&]+"),
            0,
        )

        def dec(t):
            dec_code = F.regexp_replace(t, "[^0-9]", "").try_cast("int")
            hex_code = F.conv(F.regexp_replace(t, "&#x|;", ""), 16, 10).try_cast("int")
            code = F.when(t.rlike("^&#x"), hex_code).otherwise(dec_code)
            return (
                F.when(t == "&amp;", F.lit("&"))
                .when(t == "&lt;", F.lit("<"))
                .when(t == "&gt;", F.lit(">"))
                .when(t == "&quot;", F.lit('"'))
                .when(t == "&apos;", F.lit("'"))
                .when(
                    t.rlike("^&#")
                    & code.isNotNull() & (code >= 32) & (code <= 126),
                    F.char(code),
                )
                .otherwise(t)
            )

        return F.array_join(F.transform(toks, dec), "")

    versions = F.transform(
        F.regexp_extract_all("_ds", F.lit(v_block), 0),
        lambda v: F.struct(
            # PARSED timestamp as the ordering key: lexicographic max
            # diverges for variable-length fractions ('..0.1Z' > '..0.15Z'
            # because 'Z' > '5') and non-Z offsets, both of which the
            # engine's date grammar accepts; try_to_timestamp matches
            # parse_foxml's parse_instant ordering and yields NULL for
            # absent/garbage CREATED (sorted last, like the parser)
            F.try_to_timestamp(attr_val(v, r"\bCREATED")).alias("k"),
            xml_unescape(
                attr_val(v, r"<foxml:contentLocation\b[^>]*?\bREF")
            ).alias("r"),
        ),
    )
    staged = exploded.select("repo", "path", "commit", "_group", versions.alias("_vs"))
    maxk = F.array_max(F.transform(F.col("_vs"), lambda x: x["k"]))
    # try_element_at, NOT element_at: a version-less datastream block
    # yields an empty _vs, and under ANSI mode (Spark 4 default)
    # element_at on an empty array ABORTS THE JOB — a malformed object
    # must cost an error row, never the job (E1)
    newest_ref = F.when(
        # no version has a parseable CREATED -> document order, like the
        # parser's stable sort
        maxk.isNull(), F.try_element_at(F.col("_vs"), F.lit(1))["r"]
    ).otherwise(
        F.try_element_at(
            F.filter(F.col("_vs"), lambda x: x["k"] == maxk), F.lit(1)
        )["r"]
    )
    tokens = staged.select(
        "repo", "path", "commit", "_group", newest_ref.alias("_token")
    ).filter(F.col("_token").isNotNull() & (F.col("_token") != ""))
    # stage the split: referenced 4x below (CollapseProject would
    # re-inline the split per reference otherwise)
    parts = tokens.select(
        "repo", "path", "commit", "_group", "_token",
        F.split("_token", r"\+").alias("_p"),
    )
    p = F.col("_p")
    mint3 = F.concat(
        p[0], F.lit("/"), F.url_encode(p[1]), F.lit("/"), F.url_encode(p[2])
    )
    minted = F.when(
        F.size(p) == 1,
        F.when(F.col("_token").startswith("info:fedora/"), F.col("_token"))
        .otherwise(F.concat(F.lit("info:fedora/"), F.col("_token"))),
    ).when(
        F.size(p) == 3,
        F.when(p[0].startswith("info:fedora/"), mint3)
        .otherwise(F.concat(F.lit("info:fedora/"), mint3)),
    )
    # MANAGED locations mint to Akubra blob ids; EXTERNAL/REDIRECT
    # locations are verbatim URLs — the fetch key the crawler table uses
    blob = F.when(F.col("_group") == "M", minted).otherwise(F.col("_token"))
    cols = ["repo", "path", "commit", blob.alias("blob_id")]
    if keep_group:
        # jobs/crawl.py needs the dispatch group to enumerate E/R URLs
        cols.append(F.col("_group").alias("control_group"))
    return parts.select(*cols).filter(F.col("blob_id").isNotNull())


def attach_managed_content(source: DataFrame, ds_store: DataFrame) -> DataFrame:
    """P6's MANAGED branch (`ObjectProcessor.java:214-216`) as a join.

    ``ds_store`` has columns (blob_id, content) — Akubra blob ids for
    MANAGED datastreams and verbatim URLs for EXTERNAL/REDIRECT ones
    (one table, one key column). Only objects that can
    possibly need a managed/external DC/RELS fetch are joined (cheap JVM-side
    substring prefilter — exact control-group dispatch happens in the
    UDF), so at 10^12 scale the join input is a sliver of the table.
    The fetched blobs arrive as a per-object map column. The request
    pass is pure column expressions (``managed_content_requests``), so
    FOXML parses exactly once per object — in the extraction UDF."""
    req = managed_content_requests(source)
    fetched = (
        req.join(ds_store.select("blob_id", F.col("content").alias("_blob_content")),
                 "blob_id", "inner")
        .groupBy("repo", "path", "commit")
        .agg(
            F.map_from_arrays(
                F.collect_list("blob_id"), F.collect_list("_blob_content")
            ).alias("managed_content")
        )
    )
    return source.join(fetched, ["repo", "path", "commit"], "left")


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
    them, so the first wave of a fresh checkpoint records it in the
    checkpoint dir's ``_LAYOUT.json``; a resume under a different
    ``num_chunks`` raises ``ValueError`` instead of skipping chunks whose
    objects were never extracted. A checkpoint without the record
    resumes unchecked."""
    config = config or ExtractConfig()
    if plan_fn is None:
        plan_fn = lambda wave_src: extract_plan(  # noqa: E731
            wave_src, config, aliases=aliases, ds_store=ds_store
        )
    spark = source.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    chunked = with_chunk_id(source, config.num_chunks)
    done = read_done_chunks(spark, checkpoint_dir)
    recorded = (read_layout_marker(checkpoint_dir) or {}).get("num_chunks")
    if recorded is not None and recorded != config.num_chunks:
        raise ValueError(
            f"checkpoint {checkpoint_dir} was written with num_chunks="
            f"{recorded} but this run has num_chunks={config.num_chunks}; "
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
        )
        append_manifest(manifest, checkpoint_dir)
        if recorded is None and not done:
            # fresh checkpoint: the manifest append created its dir
            recorded = config.num_chunks
            write_layout_marker(checkpoint_dir, "chunk_manifest", num_chunks=recorded)
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
