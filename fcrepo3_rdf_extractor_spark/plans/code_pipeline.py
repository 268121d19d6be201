"""End-to-end code-KG construction: the source-code twin of
``plans/pipeline.py``'s FOXML extraction plan.

Input is the north-rule source contract table
``(repo, path, commit, lang, content)``; output is the same quad schema
the FOXML pipeline emits (graph, subj, pred, obj_value, obj_is_literal,
obj_datatype, obj_lang) with the same per-row lineage columns
(repo, path, commit, content_sha256), so every downstream stage —
``dedup_exact`` on TRIPLE_KEY, ``materialize_graph`` subject-bucketed
layout, ``write_nquads``, the BGP/SPARQL compiler, ``run_resumable``
chunk checkpoints — is shared with the reference-parity pipeline
unchanged.

Emitted triples per file F = ``src:<repo>/<path>``:

- constants: ``(F, code:repo|code:path|code:commit|code:lang, literal)``
  and ``(F, code:sha256, sha2-256 hex)`` — the lineage invariant AS
  DATA, so content equality vs any other extraction of the same corpus
  is checkable by joining the graph itself.
- definitions (symbol-node modeling): ``(F, code:defines, S)`` with
  ``S = sym:<repo>/<path>#<name>``, plus ``(S, code:name, literal)``
  and ``(S, code:kind, literal)`` — keeps kind queryable through BGP
  (``?f code:defines ?s . ?s code:kind "py_class"``) without inventing
  per-kind predicates.
- imports: ``(F, code:imports, module literal)`` for every textual
  import, and with ``resolve=True`` additionally
  ``(F, code:dependsOn, src:<repo>/<defining path> | ext:<module>)`` —
  the entity-linked file->file edge from
  :func:`..operators.code.module_registry`.
- optional annotations (flag-gated): ``code:license`` /
  ``code:permissive`` (SPDX/header detection, The Stack's gate),
  ``code:cloneKey`` (type-2 clone hash), ``code:vendored``
  (cross-repo exact-content spread — a corpus-global branch), and
  ``code:calls`` symbol-linked call edges (mention-netted call sites
  resolved against the corpus-wide df-bounded callee registry — see
  :func:`..operators.code.call_graph_edges` for the semantics).

Scale shape (10^12 files): the content column is deserialized and
regex-scanned exactly ONCE, whatever the config — ``code_kg_state``
builds every per-file triple family (constants, definitions,
annotations, imports, netted call mentions) inside a single projection
and a single Generate, and the plan persists that content-free state
(MEMORY_AND_DISK) so the corpus-dependent assembly layers
(``code_kg_from_state``: module-registry join, callee-registry join,
vendored sha spread) read the narrow cached rows instead of re-running
the scan. Earlier rounds ran one content pass per branch (up to six
with every flag on); the measured cost of that duplication was not
wall-clock at low parallelism but SCALING — duplicated string traffic
saturates socket memory bandwidth exactly when all cores are busy
(BASELINE.md round-4 code-KG attribution). Call-mention netting is
row-local (no exchange); the only shuffles left are the three narrow
assembly joins/aggregates and the output dedup. No Python anywhere —
regex extraction cannot raise per-row, so unlike FOXML there is no
error channel (malformed source text simply matches no patterns).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.code import (
    DEF_PATTERNS,
    _module_key,
    _tagged_matches,
    deep_module_winner,
    module_registry,
    module_registry_deep,
    netted_mention_structs,
)
from ..operators.dedup import TRIPLE_KEY, dedup_exact
from ..operators.text import IMPORT_PATTERNS, clone_key_expr, with_license

XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"

DEFAULT_CODE_GRAPH = "#code"

LINEAGE = ["repo", "path", "commit", "content_sha256"]

#: call-edge ambiguity / fan-out bound: a callee name defined in more
#: files of one repo than this links nowhere
MAX_DEF = 100


@dataclass
class CodeKgConfig:
    graph: str = DEFAULT_CODE_GRAPH
    resolve: bool = True        # emit code:dependsOn entity-linked edges
    deep_resolve: bool = False  # path-aware (parent.basename-first) linking
    calls: bool = False         # emit code:calls symbol-linked edges
    vendored: bool = False      # emit code:vendored (corpus-global agg)
    license: bool = False       # emit code:license / code:permissive
    clone_keys: bool = False    # emit code:cloneKey (type-2 clone hash)
    #: output dedup mode. True (default): the trust-nothing global
    #: dedup_exact exchange — safe on ANY input, including versioned
    #: corpora (several commits of one path emit identical constant
    #: quads) and duplicate identity rows. "local": distinct-by-
    #: construction — row-local array_distinct at the scan plus subset
    #: dedups for the one family that can still duplicate on a
    #: single-version corpus (imports/dependsOn, where `import foo` +
    #: `from foo import x` collapse to one quad); every other family is
    #: unique because subjects embed (repo, path). NO full-output
    #: exchange — measured 37% of the 8-core wall time and the
    #: worst-scaling stage of the plan (pure exchange reads 0.47 on
    #: 2->8, tools/bandwidth_ceiling.py) — but it REQUIRES the
    #: snapshot-table contract that (repo, path) is unique per row
    #: (run latest_snapshot first on versioned tables; assert
    #: count == countDistinct(repo, path) when in doubt — violations
    #: surface as duplicate constant quads). False: no output dedup at
    #: all (extraction bag semantics — the per-document layer that
    #: resumable/incremental maintenance stores).
    dedup: bool | str = True


def _file_uri() -> Column:
    return F.concat(F.lit("src:"), F.col("repo"), F.lit("/"), F.col("path"))


def _with_def_path(
    rows: DataFrame,
    corpus: DataFrame,
    deep: bool,
    kind_col: str,
    module_col: str,
) -> DataFrame:
    """Attach ``_def_path`` (nullable) to import rows — the ONE
    definition of the dependsOn linking rule, shared by the fused plan
    branch and the incremental/from-state assembly (their ≡-plan pin
    depends on it). Shallow: basename-key left join against
    :func:`module_registry`. Deep: winner per DISTINCT
    (repo, kind, module) via :func:`deep_module_winner` joined back."""
    if deep:
        mods = rows.select(
            F.col("repo").alias("_repo"),
            F.col(kind_col).alias("kind"),
            F.col(module_col).alias("_module"),
        ).distinct()
        best = deep_module_winner(
            mods, module_registry_deep(corpus)
        ).select(
            F.col("_repo").alias("repo"),
            F.col("kind").alias(kind_col),
            F.col("_module").alias(module_col),
            "_def_path",
        )
        return rows.join(best, ["repo", kind_col, module_col], "left")
    registry = module_registry(corpus).withColumnRenamed("_repo", "repo")
    return (
        rows.withColumn(
            "_mkey", _module_key(F.col(module_col), F.col(kind_col))
        )
        .join(registry, ["repo", "_mkey"], "left")
        .drop("_mkey")
    )


#: Per-document staging rows (netted call mentions) live in the state
#: table alongside real quads so ONE table is the whole refresh state;
#: they are filtered out of every exported/assembled KG.
STAGING_PRED = "code:_callMention"


def _non_null_content(files: DataFrame) -> DataFrame:
    """NULL content -> ''. Without this a NULL-content row (easy via
    csv/json sources) would VANISH from the graph — regexp over NULL is
    NULL, the triple-array concat goes NULL, and the explode drops the
    file with its constant triples, violating the documented error
    model ('malformed text matches no patterns', never 'file
    disappears'). It would also sha to NULL, and NULL join keys never
    match, so incremental refresh would re-classify the row as changed
    forever."""
    if "content" not in files.columns:
        return files
    return files.withColumn(
        "content", F.coalesce(F.col("content"), F.lit(""))
    )


def code_kg_state(files: DataFrame, config: CodeKgConfig) -> DataFrame:
    """The per-document LOCAL layer: every row derivable from a file
    ALONE — constants/definitions/annotation quads, ``code:imports``
    quads carrying their match ``kind`` (the resolution join needs it),
    and, with ``config.calls``, ``code:_callMention`` staging rows (one
    per netted callee name). Schema = quad + lineage + ``kind``.

    ONE content scan, ONE Generate, zero shuffles: every triple family
    (constants, definitions, annotations, imports, netted call
    mentions) is built as an array of a COMMON six-field struct inside
    a single projection, concatenated, null-filtered, and exploded
    once. Call-mention netting is row-local
    (:func:`..operators.code.netted_mention_structs`), so even the
    calls branch adds no exchange. Streaming-safe: pure stateless
    projections, no aggregates.

    This is the sound unit of incremental reuse: corpus-DEPENDENT
    triples (dependsOn, calls, vendored) are deliberately absent —
    an unchanged file's dependsOn edge can change when ANOTHER file
    starts or stops defining the module, so those edges must be
    re-assembled from the corpus state every refresh
    (:func:`code_kg_from_state`), never reused per-document."""
    files = _non_null_content(files)
    staged = files
    if config.license:
        staged = with_license(staged, text_col="content")
    if config.clone_keys:
        staged = staged.withColumn("clone_key", clone_key_expr("content"))
    staged = staged.withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    furi = _file_uri()
    null_s = F.lit(None).cast("string")

    def _s(
        subj: Column,
        pred: str,
        obj: Column,
        is_literal: bool,
        datatype: str | None = None,
        kind: Column | None = None,
    ) -> Column:
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            obj.cast("string").alias("obj_value"),
            F.lit(is_literal).alias("obj_is_literal"),
            (F.lit(datatype) if datatype else null_s).alias(
                "obj_datatype"
            ),
            (kind if kind is not None else null_s).alias("kind"),
        )

    consts = [
        _s(furi, "code:repo", F.col("repo"), True),
        _s(furi, "code:path", F.col("path"), True),
        _s(furi, "code:commit", F.col("commit"), True),
        _s(furi, "code:sha256", F.col("content_sha256"), True),
    ]
    if "lang" in files.columns:
        consts.append(_s(furi, "code:lang", F.col("lang"), True))
    if config.license:
        consts.append(_s(furi, "code:license", F.col("license"), True))
        consts.append(
            _s(
                furi,
                "code:permissive",
                F.when(F.col("permissive") == 1, "true").otherwise("false"),
                True,
                XSD_BOOLEAN,
            )
        )
    if config.clone_keys:
        consts.append(_s(furi, "code:cloneKey", F.col("clone_key"), True))

    def sym(m: Column) -> Column:
        return F.concat(
            F.lit("sym:"),
            F.col("repo"),
            F.lit("/"),
            F.col("path"),
            F.lit("#"),
            m["name"],
        )

    defs = F.flatten(
        F.transform(
            _tagged_matches(F.col("content"), DEF_PATTERNS),
            lambda m: F.array(
                _s(furi, "code:defines", sym(m), False),
                _s(sym(m), "code:name", m["name"], True),
                _s(sym(m), "code:kind", m["kind"], True),
            ),
        )
    )
    imps = F.transform(
        _tagged_matches(F.col("content"), IMPORT_PATTERNS),
        lambda m: _s(
            furi, "code:imports", m["name"], True, None, m["kind"]
        ),
    )
    arr = F.concat(F.array(*consts), defs, imps)
    if config.calls:
        ments = F.transform(
            netted_mention_structs(F.col("content")),
            lambda s: _s(furi, STAGING_PRED, s["name"], True),
        )
        arr = F.concat(arr, ments)
    arr = F.filter(arr, lambda s: s["obj_value"].isNotNull())
    if config.dedup:
        # row-local dedup at the scan: duplicate def headers, repeated
        # identical imports, etc. collapse INSIDE the projection array
        # — no exchange. Under dedup="local" this is one of the two
        # pillars of distinct-by-construction (see code_kg_from_state);
        # under dedup=True it only shrinks the global exchange's input.
        # dedup=False keeps extraction bag semantics untouched.
        arr = F.array_distinct(arr)
    exploded = staged.select(*LINEAGE, F.explode(arr).alias("_e"))
    return exploded.select(
        F.lit(config.graph).alias("graph"),
        F.col("_e.subj").alias("subj"),
        F.col("_e.pred").alias("pred"),
        F.col("_e.obj_value").alias("obj_value"),
        F.col("_e.obj_is_literal").alias("obj_is_literal"),
        F.col("_e.obj_datatype").alias("obj_datatype"),
        null_s.alias("obj_lang"),
        *LINEAGE,
        F.col("_e.kind").alias("kind"),
    )


def code_kg_from_state(
    state: DataFrame,
    cur_ids: DataFrame,
    config: CodeKgConfig,
    *,
    corpus_ids: DataFrame | None = None,
    defs_registry: DataFrame | None = None,
) -> DataFrame:
    """Assemble the FULL knowledge graph from the per-document state
    plus the current identity table (repo, path, commit,
    content_sha256) — zero content reads:

    - module registry from ``cur_ids`` paths (narrow columns only)
    - ``code:dependsOn`` = stored import rows ⋈ registry (kind-aware)
    - ``code:calls`` = stored mention staging rows ⋈ the defs registry
      recovered from the stored ``code:defines`` triples (callee name =
      the sym URI fragment; defining path = the row's own lineage)
    - ``code:vendored`` = the identity table's sha spread

    ``corpus_ids`` / ``defs_registry`` widen the RESOLUTION BASIS
    beyond the state's own files — the resumable-wave case, where a
    wave's imports/calls/vendored flags must resolve against the WHOLE
    corpus's modules/symbols/hashes while only the wave's files emit
    rows. ``corpus_ids`` (same identity schema) feeds the module
    registry and the vendored spread; ``defs_registry``
    (repo, _name, _def_path — already MAX_DEF-bounded) replaces the
    state-derived callee registry. Both default to the state-local
    basis.

    ``code_kg_from_state(code_kg_state(files, c), ids(files), c)`` is
    row-identical to ``code_kg_plan(files, c)`` (pytest-pinned), so the
    incremental path can never drift from the one-shot plan."""
    basis_ids = corpus_ids if corpus_ids is not None else cur_ids
    local = config.dedup == "local"
    quads = state.filter(F.col("pred") != STAGING_PRED).drop("kind")
    imports = state.filter(F.col("pred") == "code:imports")
    if local:
        # distinct-by-construction, with the ONLY two families that can
        # still duplicate on a unique-(repo,path) corpus routed through
        # ONE subset dedup (collected in `dup_risk`, deduped once at
        # the end): `import foo` + `from foo import x` are distinct
        # STATE rows (kind differs — resolution needs both) but
        # identical `code:imports` quads once kind drops, and their
        # resolved `code:dependsOn` edges can land on one target. Every
        # other family cannot duplicate: subjects embed (repo, path) —
        # unique per source row under the input contract — and
        # array_distinct in code_kg_state removed row-local repeats.
        # One combined exchange, not one per family: at bench scale the
        # plan's cost is stage-boundary-dominated (two subset exchanges
        # measured as slow as the full-output one), and at 100 TB the
        # single exchange still carries only the ~2-4 import-derived
        # rows of the ~13 rows/file. Both reads of the imports split
        # come from the persisted state cache (the filter+union
        # re-run trap does not apply to a cache).
        dup_risk = imports.drop("kind")
        quads = quads.filter(F.col("pred") != "code:imports")
    out = quads
    if config.resolve:
        linked = _with_def_path(
            imports, basis_ids, config.deep_resolve, "kind", "obj_value"
        )
        depends = linked.select(
            F.col("graph"),
            F.col("subj"),
            F.lit("code:dependsOn").alias("pred"),
            F.when(
                F.col("_def_path").isNotNull(),
                F.concat(
                    F.lit("src:"),
                    F.col("repo"),
                    F.lit("/"),
                    F.col("_def_path"),
                ),
            )
            .otherwise(F.concat(F.lit("ext:"), F.col("obj_value")))
            .alias("obj_value"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            *LINEAGE,
        )
        if local:
            # multi-kind imports of one module can resolve to the SAME
            # target (py_import + py_from foo) — dependsOn joins the
            # imports quads in the one combined subset dedup
            dup_risk = dup_risk.unionByName(depends)
        else:
            out = out.unionByName(depends)
    if config.calls:
        defsreg = (
            defs_registry
            if defs_registry is not None
            else (
                state.filter(F.col("pred") == "code:defines")
                .select(
                    "repo",
                    F.substring_index("obj_value", "#", -1).alias("_name"),
                    F.col("path").alias("_dpath"),
                )
                .groupBy("repo", "_name")
                .agg(
                    F.min("_dpath").alias("_def_path"),
                    F.countDistinct("_dpath").alias("_nc"),
                )
                .filter(F.col("_nc") <= MAX_DEF)
                .drop("_nc")
            )
        )
        calls = (
            state.filter(F.col("pred") == STAGING_PRED)
            .withColumnRenamed("obj_value", "_name")
            .join(defsreg, ["repo", "_name"])
            .select(
                F.col("graph"),
                F.col("subj"),
                F.lit("code:calls").alias("pred"),
                F.concat(
                    F.lit("sym:"),
                    F.col("repo"),
                    F.lit("/"),
                    F.col("_def_path"),
                    F.lit("#"),
                    F.col("_name"),
                ).alias("obj_value"),
                F.lit(False).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit(None).cast("string").alias("obj_lang"),
                *LINEAGE,
            )
        )
        out = out.unionByName(calls)
    if config.vendored:
        spread = basis_ids.groupBy("content_sha256").agg(
            (F.countDistinct("repo") > 1).alias("_vend")
        )
        vend = cur_ids.join(spread, "content_sha256").select(
            F.lit(config.graph).alias("graph"),
            _file_uri().alias("subj"),
            F.lit("code:vendored").alias("pred"),
            F.when(F.col("_vend"), "true").otherwise("false").alias(
                "obj_value"
            ),
            F.lit(True).alias("obj_is_literal"),
            F.lit(XSD_BOOLEAN).alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            *LINEAGE,
        )
        out = out.unionByName(vend)
    if local:
        # the one subset exchange of 'local' mode (see above)
        out = out.unionByName(
            dedup_exact(dup_risk, key=[c for c in TRIPLE_KEY])
        )
    # match code_kg_plan's column order so stored one-shot/incremental
    # tables are interchangeable
    out = out.select(
        "graph", "subj", "pred", "obj_value", "obj_is_literal",
        "obj_datatype", "obj_lang", *LINEAGE,
    )
    if config.dedup and not local:
        # dedup=True: the trust-nothing global exchange (safe under
        # duplicate source identities). dedup="local" already collapsed
        # every duplicate class above without shuffling the full output.
        out = dedup_exact(out, key=TRIPLE_KEY)
    return out


@dataclass
class CodeIncrementalPlan:
    changed: DataFrame  # source rows that must re-scan content
    reused: DataFrame   # prior per-doc state rows still live
    state: DataFrame    # reused ∪ fresh — the next refresh's --previous
    output: DataFrame   # the assembled full KG


def code_kg_incremental(
    source: DataFrame,
    previous_state: DataFrame,
    config: CodeKgConfig | None = None,
) -> CodeIncrementalPlan:
    """Code-KG refresh without re-scanning the world: files whose
    (repo, path, commit, content_sha256) identity already exists in the
    prior per-document STATE reuse their local rows; only new/changed
    files pay the content regex passes; deleted files drop out via the
    semi-join. The corpus-dependent edge layers are then re-assembled
    from the (narrow) state — so an UNCHANGED file's dependsOn edge
    correctly flips when another file starts/stops defining its module,
    the case per-document reuse of edges would get wrong. Same
    4-column-identity semi/anti-join shape as the FOXML
    ``extract_incremental`` (pipeline.py).

    ``config`` must match the config the previous state was built with
    (flag set and graph): a state built without ``calls`` carries no
    mention staging rows, so flipping ``calls`` on mid-chain silently
    under-produces — rebuild fresh when changing flags."""
    config = config or CodeKgConfig()
    source = _non_null_content(source)
    ident = ["repo", "path", "commit", "content_sha256"]
    cur_ids = source.select(
        "repo",
        "path",
        "commit",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    ).distinct()
    prev_ids = previous_state.select(*ident).distinct()
    changed = (
        source.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .join(prev_ids, ident, "left_anti")
        .drop("content_sha256")
    )
    fresh = code_kg_state(changed, config)
    reused = previous_state.select(*fresh.columns).join(
        cur_ids, ident, "left_semi"
    )
    state = reused.unionByName(fresh)
    output = code_kg_from_state(state, cur_ids, config)
    return CodeIncrementalPlan(
        changed=changed, reused=reused, state=state, output=output
    )


def code_kg_plan(
    files: DataFrame,
    config: CodeKgConfig | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Full declarative plan: source-contract table -> quad+lineage
    DataFrame, structured as ``code_kg_from_state ∘ code_kg_state`` —
    ONE fused content scan builds the per-document state, which is
    persisted (MEMORY_AND_DISK; it is content-free and every assembly
    branch reads it), then the corpus-dependent layers (dependsOn,
    calls, vendored) assemble from it with narrow joins only. Before
    the fusion the plan paid up to six content passes (constants+defs,
    imports, call netting, callee registry, vendored hash, spread);
    now content is deserialized and regex-scanned exactly once — the
    difference is pure memory-bandwidth/allocator headroom at high
    core counts, where the duplicated string traffic was measured as
    the scaling ceiling (BASELINE.md round-4 code-KG section).

    With ``config.dedup`` duplicate quads collapse via ``dedup_exact``
    on TRIPLE_KEY (deterministic ``min(struct)`` witness keeps ONE
    file's lineage per quad); leave ``dedup=False`` for the
    per-document layer that resumable/incremental maintenance needs —
    the same output-layer-dedup discipline as the FOXML pipeline.

    ``corpus`` is the corpus-global basis for import resolution,
    callee registry, and vendored spread; pass the FULL source table
    when ``files`` is a resumable wave so each wave's output equals
    the one-shot run's slice (defaults to ``files``). The wave case
    pays two extra corpus passes (identity sha + callee defs) — the
    wave's own content is still scanned once."""
    config = config or CodeKgConfig()
    state = code_kg_state(files, config).persist()
    cur_ids = state.filter(F.col("pred") == "code:sha256").select(
        "repo", "path", "commit", "content_sha256"
    )
    if corpus is None:
        return code_kg_from_state(state, cur_ids, config)
    corpus = _non_null_content(corpus)
    corpus_ids = corpus.select(
        "repo",
        "path",
        "commit",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    defs_registry = None
    if config.calls:
        defs_registry = (
            corpus.select(
                "repo",
                F.col("path").alias("_dpath"),
                F.explode(
                    _tagged_matches(F.col("content"), DEF_PATTERNS)
                ).alias("_d"),
            )
            .groupBy("repo", F.col("_d.name").alias("_name"))
            .agg(
                F.min("_dpath").alias("_def_path"),
                F.countDistinct("_dpath").alias("_nc"),
            )
            .filter(F.col("_nc") <= MAX_DEF)
            .drop("_nc")
        )
    return code_kg_from_state(
        state,
        cur_ids,
        config,
        corpus_ids=corpus_ids,
        defs_registry=defs_registry,
    )
