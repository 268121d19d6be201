"""KG construction over source-code corpora: the rules and standalone
operators behind the code knowledge graph.

The north-rule corpus is an Iceberg table of source-code repositories
(repo, path, commit, lang, content). ``plans/code_pipeline.py`` builds
the graph from the rules kept here:

- :data:`IMPORT_PATTERNS` / :data:`DEF_PATTERNS` — the import and
  definition statement shapes behind ``code:imports`` and
  ``code:defines``
- :func:`with_license` / :func:`clone_key_expr` — the per-file
  ``code:license`` / ``code:permissive`` and ``code:cloneKey``
  annotations
- :func:`code_def_triples` — what each file DEFINES (functions/classes
  across languages), the symbol nodes of the graph
- :func:`resolve_import_edges` — entity linking: each textual import is
  resolved to the repo file that defines the module, or marked external;
  turns the raw import strings into real file->file dependency edges
- :func:`vendored_file_stats` — cross-repo duplicate-content detection
  (vendored/copied files), the repo-level hygiene signal a training-data
  pipeline uses to avoid over-weighting popular vendored libraries

All are pure DataFrame column algebra (no Python on the hot path); the
regex patterns are RE2-compatible with a single capture group so the
DuckDB oracles replay them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (kind, regex-with-one-capture) import/include/require statement shapes.
#: RE2-compatible (no lookaround) so the DuckDB oracle replays them
#: byte-for-byte; (?m) anchors ^ at line starts in both engines.
IMPORT_PATTERNS: list[tuple[str, str]] = [
    ("py_import", r"(?m)^\s*import\s+([A-Za-z_][A-Za-z0-9_.]*)"),
    ("py_from", r"(?m)^\s*from\s+([A-Za-z_][A-Za-z0-9_.]*)\s+import"),
    ("c_include", r"(?m)^\s*#include\s+[<\"]([^>\"]+)[>\"]"),
    ("js_require", r"require\(\s*['\"]([^'\"]+)['\"]\s*\)"),
    ("js_import", r"(?m)^\s*import\s+[^\n]*\s+from\s+['\"]([^'\"]+)['\"]"),
]

#: (kind, regex-with-one-capture) definition-statement shapes. Same
#: contract as :data:`IMPORT_PATTERNS`: RE2-safe (no lookaround), (?m) for
#: line anchoring, exactly one capture group = the defined name. The
#: set is deliberately cross-match-safe: no two patterns capture the
#: same line shape, so a file never emits duplicate (name, kind) pairs
#: for one definition.
DEF_PATTERNS: list[tuple[str, str]] = [
    ("py_def", r"(?m)^\s*def\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
    ("py_class", r"(?m)^\s*class\s+([A-Za-z_][A-Za-z0-9_]*)"),
    ("js_function", r"(?m)^\s*function\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*\("),
    ("go_func", r"(?m)^func\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
    ("rust_fn", r"(?m)^\s*fn\s+([A-Za-z_][A-Za-z0-9_]*)"),
]

#: Netting subset of :data:`DEF_PATTERNS`: only header shapes that
#: GUARANTEE ``name\s*(`` in the source — i.e. whose header also shows
#: up as a +1 :data:`CALL_SITE_PATTERN` self-mention — may subtract a
#: -1 in :func:`netted_call_mentions`. Paren-less headers
#: (``class C:``, generic ``fn foo<T>(``) produce NO self-mention, so
#: netting them would cancel one genuine call elsewhere in the file (a
#: silent false-negative class). ``class C(Base):`` headers DO
#: self-mention, hence the parenthesized py_class/rust_fn variants
#: here. Registry/definition extraction keeps the full DEF_PATTERNS —
#: every definition registers a symbol regardless of header shape.
DEF_NET_PATTERNS: list[tuple[str, str]] = [
    ("py_def", r"(?m)^\s*def\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
    ("py_class", r"(?m)^\s*class\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
    ("js_function", r"(?m)^\s*function\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*\("),
    ("go_func", r"(?m)^func\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
    ("rust_fn", r"(?m)^\s*fn\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("),
]


def _tagged_matches(
    content: F.Column, patterns: list[tuple[str, str]]
) -> F.Column:
    """All patterns evaluated inside ONE projection: per pattern a
    ``regexp_extract_all``, kind-tagged via ``transform`` (single-arg
    lambda — the two-arg form binds (element, index)), flattened so the
    caller explodes ONCE. A filter+union per pattern would re-scan the
    content per branch (the CollapseProject/filter+union class pinned in
    tests/test_plans.py)."""

    def tagged(kind: str, rx: str):
        return F.transform(
            F.regexp_extract_all(content, F.lit(rx), 1),
            lambda m: F.struct(F.lit(kind).alias("kind"), m.alias("name")),
        )

    return F.flatten(F.array(*[tagged(kind, rx) for kind, rx in patterns]))


#: Detection order matters: an explicit SPDX tag always wins; phrase
#: heuristics follow in a fixed order so a file quoting several license
#: names classifies deterministically.
_PERMISSIVE = ("MIT", "Apache-2.0", "BSD-3-Clause", "ISC", "Unlicense")


def with_license(df: DataFrame, text_col: str = "text") -> DataFrame:
    """License detection for code corpora (The Stack / StarCoder
    pipelines keep only permissive-licensed files): every input column
    plus the detected ``license`` id and a ``permissive`` verdict. An
    explicit ``SPDX-License-Identifier:`` tag is authoritative;
    otherwise a fixed-order chain of header-phrase heuristics (MIT's
    "permission is hereby granted", Apache's name+version, GPL, BSD's
    redistribution clause). Unknown -> NULL license, permissive = 0
    (no license, no training).

    One narrow codegen projection — staged lowered text, one
    regexp_extract + a CASE chain of contains() tests; no explode, no
    join, no shuffle. The phrase list is deliberately small: production
    detection (askalono, go-license-detector) ranks against full
    license TEXTS; this is the cheap high-precision header pass those
    tools also run first."""
    spdx = F.regexp_extract(
        F.col(text_col), r"SPDX-License-Identifier:\s*([A-Za-z0-9.+\-]+)", 1
    )
    staged = df.select(
        "*",
        F.lower(F.col(text_col)).alias("_t"),
        F.when(spdx != "", spdx).alias("_spdx"),
    )
    t = F.col("_t")
    lic = F.coalesce(
        F.col("_spdx"),
        F.when(t.contains("permission is hereby granted"), "MIT")
        .when(
            t.contains("apache license") & t.contains("version 2.0"),
            "Apache-2.0",
        )
        .when(t.contains("gnu general public license"), "GPL-3.0-only")
        .when(
            t.contains("redistribution and use in source and binary forms"),
            "BSD-3-Clause",
        ),
    )
    return staged.select(
        *df.columns,
        lic.alias("license"),
        F.when(lic.isin(*_PERMISSIVE), 1).otherwise(0).cast("int").alias(
            "permissive"
        ),
    )


def clone_key_expr(text_col: str = "text") -> F.Column:
    """Type-2 code-clone key (Roy & Cordy's taxonomy: clones identical
    up to identifier names, literal values, comments, and whitespace):
    strip comments, abstract every identifier to ``v`` and every numeric
    literal to ``0``, collapse whitespace, and md5 the result. Files
    sharing a key are type-2 exact clones — the renamed-copy modality
    whole-text exact dedup misses.

    Normalization is deliberately lookaround-free (RE2-compatible, so
    the DuckDB oracle replays it byte-for-byte): keywords abstract along
    with identifiers, the standard trade for a single-regex-pass
    normalizer; structure (operators, punctuation, nesting) is what
    survives."""
    t = F.col(text_col)
    t = F.regexp_replace(t, r"(?s)/\*.*?\*/", " ")      # block comments
    t = F.regexp_replace(t, r"(?m)(//|#)[^\n]*", " ")   # line comments
    t = F.regexp_replace(t, r"[A-Za-z_][A-Za-z0-9_]*", "v")  # identifiers
    t = F.regexp_replace(t, r"[0-9]+(\.[0-9]+)?", "0")  # numeric literals
    t = F.trim(F.regexp_replace(t, r"\s+", " "))        # whitespace
    return F.md5(t)


def code_def_triples(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Definition extraction: (src:<repo>/<path>, code:defines, name,
    kind) triples — the symbol-node half of the code KG (imports are
    the edge half). One content scan evaluates every language pattern;
    no shuffle, no Python; files defining nothing emit nothing. NULL
    content emits nothing too (regexp over NULL -> NULL array -> the
    explode drops it) — identical to ''-content output, so no coalesce
    guard is needed here, unlike the hash-keyed operators below.

    Scale shape (10^12 files): identical to the ``code:imports`` family
    of ``plans.code_pipeline.code_kg_state`` — a narrow 3-column
    projection of the scan, all regex work inside
    whole-stage-codegen-adjacent JVM expressions, output partitioning
    inherited from the scan.
    """
    exploded = files.select(
        F.col(repo_col).alias("_repo"),
        F.col(path_col).alias("_path"),
        F.explode(_tagged_matches(F.col(content_col), DEF_PATTERNS)).alias(
            "_e"
        ),
    )
    return exploded.select(
        F.concat(
            F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_path")
        ).alias("subj"),
        F.lit("code:defines").alias("pred"),
        F.col("_e.name").alias("obj_value"),
        F.col("_e.kind").alias("kind"),
    )


def _module_key(module: F.Column, kind: F.Column) -> F.Column:
    """Normalize an imported-module string to the key a defining file is
    registered under. Path-shaped imports (C includes, JS paths) keep
    the basename with the file extension stripped; dotted Python modules
    resolve via their FIRST segment (``import a.b.c`` is satisfied by
    the file defining package ``a`` — the top-level-package rule, the
    only one derivable from file paths alone)."""
    pathish = kind.isin("c_include", "js_require", "js_import")
    base = F.element_at(F.split(module, "/"), -1)
    no_ext = F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")
    first_seg = F.element_at(F.split(module, r"\."), 1)
    return F.when(pathish, no_ext).otherwise(first_seg)


def module_registry(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
) -> DataFrame:
    """The (``_repo``, ``_mkey``, ``_def_path``) module registry: each
    file registers the module named by its path basename sans extension
    (``src/util.py`` defines ``util``) — the convention shared by Python
    modules, C headers, and JS files. Basename collisions inside a repo
    resolve deterministically to the lexicographically smallest path
    (``min``), so resolution is stable across partitionings. One
    map-side-combined groupBy over a 2-narrow-column projection — never
    touches content."""
    return (
        files.select(
            F.col(repo_col).alias("_repo"),
            F.regexp_replace(
                F.element_at(F.split(F.col(path_col), "/"), -1),
                r"\.[A-Za-z0-9]+$",
                "",
            ).alias("_mkey"),
            F.col(path_col).alias("_def_path"),
        )
        .filter(F.col("_mkey") != "")
        .groupBy("_repo", "_mkey")
        .agg(F.min("_def_path").alias("_def_path"))
    )


def module_registry_deep(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
) -> DataFrame:
    """Two-shape module registry: every file registers under its
    extension-stripped basename AND (when it has a parent directory)
    under ``parent.basename`` — the key ``import a.b`` resolves
    against. Shapes coexist in one (``_repo``, ``_mkey``,
    ``_def_path``) table: two-level keys contain a ``.`` while stripped
    basenames (almost) never do. Deterministic min-path winner per key;
    never touches content."""
    base = files.select(
        F.col(repo_col).alias("_repo"),
        F.col(path_col).alias("_def_path"),
        F.split(F.col(path_col), "/").alias("_segs"),
    )
    bn = F.regexp_replace(
        F.element_at(F.col("_segs"), -1), r"\.[A-Za-z0-9]+$", ""
    )
    # try_element_at: a single-segment path has no -2 and ANSI
    # element_at would abort the job (CLAUDE.md gotcha)
    two = F.when(
        F.size("_segs") >= 2,
        F.concat_ws(".", F.try_element_at(F.col("_segs"), F.lit(-2)), bn),
    )
    return (
        base.select(
            "_repo",
            "_def_path",
            F.explode(
                F.filter(
                    F.array(bn, two), lambda k: k.isNotNull() & (k != "")
                )
            ).alias("_mkey"),
        )
        .groupBy("_repo", "_mkey")
        .agg(F.min("_def_path").alias("_def_path"))
    )


def deep_module_winner(mods: DataFrame, registry: DataFrame) -> DataFrame:
    """Best resolution per DISTINCT (``_repo``, ``kind``, ``_module``):
    each module explodes into its applicable candidate keys — (prio 0)
    the last two dotted segments when the module is dotted and not
    path-shaped, (prio 1) the shallow rule's key — inner-joins the
    two-shape registry, and the winner is one map-side-combined
    ``min(struct(prio, def_path))``. Returns resolved modules only
    (left-join back to occurrences to keep the ext: fallback)."""
    segs = F.split(F.col("_module"), r"\.")
    last2 = F.concat_ws(
        ".", F.try_element_at(segs, F.lit(-2)), F.element_at(segs, -1)
    )
    pathish = F.col("kind").isin("c_include", "js_require", "js_import")
    deep_ok = (~pathish) & (F.size(segs) >= 2)
    cand = F.filter(
        F.array(
            F.struct(
                F.lit(0).alias("prio"),
                F.when(deep_ok, last2).alias("key"),
            ),
            F.struct(
                F.lit(1).alias("prio"),
                _module_key(F.col("_module"), F.col("kind")).alias("key"),
            ),
        ),
        lambda c: c["key"].isNotNull(),
    )
    cands = mods.select(
        "_repo", "kind", "_module", F.explode(cand).alias("_c")
    ).select(
        "_repo",
        "kind",
        "_module",
        F.col("_c.prio").alias("_prio"),
        F.col("_c.key").alias("_mkey"),
    )
    return (
        cands.join(registry, ["_repo", "_mkey"])
        .groupBy("_repo", "kind", "_module")
        .agg(F.min(F.struct("_prio", "_def_path")).alias("_b"))
        .select(
            "_repo",
            "kind",
            "_module",
            F.col("_b._prio").alias("_prio"),
            F.col("_b._def_path").alias("_def_path"),
        )
    )


def resolve_import_edges_deep(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Path-aware import resolution: like :func:`resolve_import_edges`
    but a dotted module tries its LAST TWO segments against a
    (parent dir).(basename) registry key first (``import a.b.c``
    resolves to ``**/b/c.py`` — the real package-layout rule), falling
    back to the top-level-segment/basename rule only when no two-level
    key matches. Output schema matches the shallow resolver plus a
    ``depth`` column (2 = two-level hit, 1 = basename hit, 0 = ext).

    Distributed shape — the candidate-explode + min-struct-winner
    pattern (same family as the IVF argmin): the winner is a pure
    function of (repo, kind, module), so it is computed once per
    DISTINCT module — candidate keys tagged with priority, inner-join
    against the two-shape registry on (repo, key), ONE map-side-
    combined ``min(struct(prio, def_path))`` — then joined back to the
    occurrences. Two extra shuffles vs the shallow resolver (distinct +
    winner join-back), both over module-count-sized tables, all keys
    repo-prefixed."""
    imports = files.select(
        F.col(repo_col).alias("_repo"),
        F.col(path_col).alias("_path"),
        F.explode(
            _tagged_matches(F.col(content_col), IMPORT_PATTERNS)
        ).alias("_e"),
    ).select(
        "_repo",
        "_path",
        F.col("_e.kind").alias("kind"),
        F.col("_e.name").alias("_module"),
    )
    mods = imports.select("_repo", "kind", "_module").distinct()
    best = deep_module_winner(
        mods, module_registry_deep(files, repo_col, path_col)
    )
    linked = imports.join(best, ["_repo", "kind", "_module"], "left")
    return linked.select(
        F.concat(
            F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_path")
        ).alias("subj"),
        F.lit("code:dependsOn").alias("pred"),
        F.when(
            F.col("_def_path").isNotNull(),
            F.concat(
                F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_def_path")
            ),
        )
        .otherwise(F.concat(F.lit("ext:"), F.col("_module")))
        .alias("obj_value"),
        F.col("kind"),
        F.col("_def_path").isNotNull().alias("resolved"),
        F.when(F.col("_prio") == 0, 2)
        .when(F.col("_prio") == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("depth"),
    )


def resolve_import_edges(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Entity linking over the import graph: resolve each textual
    import to the file IN THE SAME REPO that defines the module, else
    mark it external. Emits (subj = src:<repo>/<importing path>,
    pred = code:dependsOn, obj_value = src:<repo>/<defining path> |
    ext:<module>, kind, resolved) — the raw import strings become real
    file->file edges, which is what makes the code graph queryable for
    reachability/centrality instead of a bag of names.

    Module registry: a file registers the module named by its path
    basename sans extension (``src/util.py`` defines ``util``) — the
    convention shared by Python modules, C headers, and JS files.
    Basename collisions inside a repo resolve deterministically to the
    lexicographically smallest path (``min``), so the output is stable
    across partitionings.

    Scale shape (10^12 files): both sides derive from the same scan but
    carry only narrow columns; the registry is one map-side-combined
    ``groupBy(repo, module)``; the link itself is a hash equi-join on
    (repo, module_key) — co-partitioned by the join's own exchange, no
    broadcast needed (the registry is file-count-sized), no skew
    hotspot (module keys are prefixed by repo, so even ``util`` fans
    out across repos).
    """
    imports = files.select(
        F.col(repo_col).alias("_repo"),
        F.col(path_col).alias("_path"),
        F.explode(
            _tagged_matches(F.col(content_col), IMPORT_PATTERNS)
        ).alias("_e"),
    ).select(
        "_repo",
        "_path",
        F.col("_e.kind").alias("kind"),
        F.col("_e.name").alias("_module"),
    )
    registry = module_registry(files, repo_col, path_col)
    linked = imports.withColumn(
        "_mkey", _module_key(F.col("_module"), F.col("kind"))
    ).join(registry, ["_repo", "_mkey"], "left")
    return linked.select(
        F.concat(
            F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_path")
        ).alias("subj"),
        F.lit("code:dependsOn").alias("pred"),
        F.when(
            F.col("_def_path").isNotNull(),
            F.concat(
                F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_def_path")
            ),
        )
        .otherwise(F.concat(F.lit("ext:"), F.col("_module")))
        .alias("obj_value"),
        F.col("kind"),
        F.col("_def_path").isNotNull().alias("resolved"),
    )


#: Attribute/method call scrub: ``.name(`` loses its name before call
#: extraction, so ``os.path.join(`` never binds to a bare ``def join``
#: in the repo (mostly-wrong linkage — the same precision-first choice
#: as stack-graph-style resolvers' first pass). Replacement is ``.(``,
#: which no later pattern can mistake for a call site. The pattern
#: opens on a literal ``.`` so the regex engine's first-char scan stays
#: fast.
ATTR_CALL_SCRUB = r"\.([A-Za-z_][A-Za-z0-9_]*)\s*\("

#: Call-site shape over SCRUBBED text: an identifier followed by ``(``.
#: Leftmost-greedy matching makes an explicit boundary check
#: unnecessary — a scan starting mid-identifier still consumes to the
#: identifier's end before requiring ``(``, so ``bar foo(`` captures
#: only ``foo``. The earlier one-pass form with an alternated prefix
#: group, ``(^|[^A-Za-z0-9_.])(name)\s*\(``, was measured 6x slower
#: AND parallelism-hostile on the JVM (same job: 6.7 CPU-s at 2
#: threads, 22 CPU-s at 8 — contention inside the matcher turned a
#: 0.8-efficiency stage into 0.33); scrub-then-extract restores both.
CALL_SITE_PATTERN = r"([A-Za-z_][A-Za-z0-9_]*)\s*\("

#: Keywords that precede ``(`` in the supported languages but are never
#: (or almost never) callees — a volume/precision trim that keeps the
#: exploded mention table from being dominated by ``if (``/``while (``
#: rows. Applied to MENTIONS only, never to definitions: ``match`` and
#: ``case`` are soft keywords (a Python ``def match(...)`` is legal),
#: so a stoplisted name can still register as a symbol — calls to it
#: are sacrificed (documented false-negative), but a definition header
#: never nets out as a phantom call.
CALL_STOPWORDS = (
    "if", "elif", "else", "while", "for", "switch", "return", "catch",
    "except", "with", "not", "and", "or", "assert", "yield", "lambda",
    "new", "do", "try", "sizeof", "typeof", "defined", "match", "case",
)


def netted_mention_structs(content: F.Column) -> F.Column:
    """Row-local netted call mentions:
    ``array<struct<name:string, n:long>>`` with one entry per distinct
    callee name whose call-site mentions exceed its netting definition
    headers in THIS file. Netting is per-file by definition, so no
    shuffle is ever needed — the whole rule evaluates inside one scan
    projection.

    The mention and net-def arrays are bound as a lambda VARIABLE (a
    1-element ``transform``) rather than staged projection columns:
    CollapseProject re-inlines single-referenced aliases into
    higher-order-function lambda bodies, which would re-run the regex
    extraction once per array ELEMENT; a lambda variable is evaluated
    exactly once per row and cannot be inlined. Per-row cost is
    O(distinct names x (mentions + net-defs)) array comparisons —
    bounded by call-site count, trivial next to the regex extraction
    itself.

    The -1 side uses :data:`DEF_NET_PATTERNS` — only headers that
    themselves contribute a +1 self-mention may subtract, so a file
    defining paren-less ``class C:`` and genuinely calling ``C()``
    keeps the call edge."""
    mentions = F.filter(
        F.regexp_extract_all(
            F.regexp_replace(content, ATTR_CALL_SCRUB, ".("),
            F.lit(CALL_SITE_PATTERN),
            1,
        ),
        lambda x: ~x.isin(*CALL_STOPWORDS),
    )
    netdefs = F.flatten(
        F.array(
            *[
                F.regexp_extract_all(content, F.lit(rx), 1)
                for _, rx in DEF_NET_PATTERNS
            ]
        )
    )
    return F.flatten(
        F.transform(
            F.array(F.struct(mentions.alias("m"), netdefs.alias("d"))),
            lambda md: F.filter(
                F.transform(
                    F.array_distinct(md["m"]),
                    lambda nm: F.struct(
                        nm.alias("name"),
                        (
                            F.size(F.filter(md["m"], lambda x: x == nm))
                            - F.size(F.filter(md["d"], lambda x: x == nm))
                        )
                        .cast("long")
                        .alias("n"),
                    ),
                ),
                lambda s: s["n"] > 0,
            ),
        )
    )


def netted_call_mentions(
    files: DataFrame,
    group_cols: list,
    content_col: str = "content",
) -> DataFrame:
    """Per-(group_cols..., ``_name``) netted call counts, positive rows
    only: the row-local :func:`netted_mention_structs` exploded — zero
    shuffles (netting is per-file, so the previous ±1 groupBy exchange
    was pure overhead). ``group_cols`` must be per-file granularity
    (include the path; it determines the rest) — the rule nets within
    one file, never across files. The single source of the netting
    rule — shared by :func:`call_graph_edges`, the pipeline's calls
    branch, and the incremental state builder (their equivalence pins
    depend on the rule having exactly one definition)."""
    exploded = files.select(
        *group_cols,
        F.explode(netted_mention_structs(F.col(content_col))).alias("_e"),
    )
    keys = exploded.columns[:-1]
    return exploded.select(
        *keys,
        F.col("_e.name").alias("_name"),
        F.col("_e.n").alias("n_calls"),
    )


def call_graph_edges(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
    max_def: int = 100,
) -> DataFrame:
    """Call-graph construction: link each file's call sites to the
    same-repo symbol that defines the callee. Emits
    (subj = src:<repo>/<path>, pred = code:calls,
    obj_value = sym:<repo>/<defining path>#<name>, n_calls,
    n_candidates) — the finer-grained companion of
    :func:`resolve_import_edges` (imports say which FILE a file reads;
    calls say which SYMBOL it actually invokes).

    Semantics (regex-level, so the DuckDB oracle replays it exactly):

    - a MENTION is a :data:`CALL_SITE_PATTERN` match over
      attribute-scrubbed text — ``name(`` that is not an attribute/
      method access (``obj.name(`` is scrubbed first), name not a
      keyword
    - a parenthesized definition header is itself a mention
      (``def helper(x)`` puts ``helper(`` in the text), so per
      (file, name) the call count is ``mentions - net_definitions``
      (:data:`DEF_NET_PATTERNS` — only headers guaranteed to
      self-mention subtract) and only positive counts survive:
      defining a symbol is not calling it, a file that defines AND
      calls ``helper`` keeps the genuine call sites, and a paren-less
      ``class C:`` header neither adds nor subtracts — a later
      ``C()`` call still nets to +1
    - the callee registry is per (repo, name): deterministic
      ``min(path)`` winner plus ``n_candidates`` so ambiguous linkage
      is visible to consumers; names defined in more than ``max_def``
      files of one repo (``main``, ``init``, generated stubs) are
      dropped — at that ambiguity an edge is noise, and df-bounding
      the registry also caps the join fan-out (same guard family as
      the LSH ``max_bucket`` / containment ``max_df``)
    - unresolved mentions (builtins, library calls) emit nothing —
      external linkage is the import graph's job

    Scale shape (10^12 files): ONE content scan evaluates the call
    pattern and every DEF pattern inside a single projection (tagged
    ±1, exploded once); both the per-file netting and the registry are
    map-side-combined groupBys over narrow columns; the link is a hash
    equi-join on (repo, name) — repo-prefixed keys, df-bounded fan-out,
    no broadcast needed, no Python anywhere."""
    calls = netted_call_mentions(
        files,
        [F.col(repo_col).alias("_repo"), F.col(path_col).alias("_path")],
        content_col,
    )
    # the registry side re-derives defs from its own defs-only
    # projection: self-join sides share no exchanges on Spark 4.1
    # (pinned knowledge in CLAUDE.md), so reusing the calls branch's
    # exploded frame would recompute the heavier call-pattern pass too
    registry = (
        files.select(
            F.col(repo_col).alias("_repo"),
            F.col(path_col).alias("_path"),
            F.explode(
                _tagged_matches(F.col(content_col), DEF_PATTERNS)
            ).alias("_d"),
        )
        .groupBy("_repo", F.col("_d.name").alias("_name"))
        .agg(
            F.min("_path").alias("_def_path"),
            F.countDistinct("_path").cast("long").alias("n_candidates"),
        )
        .filter(F.col("n_candidates") <= max_def)
    )
    return calls.join(registry, ["_repo", "_name"]).select(
        F.concat(
            F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_path")
        ).alias("subj"),
        F.lit("code:calls").alias("pred"),
        F.concat(
            F.lit("sym:"),
            F.col("_repo"),
            F.lit("/"),
            F.col("_def_path"),
            F.lit("#"),
            F.col("_name"),
        ).alias("obj_value"),
        "n_calls",
        "n_candidates",
    )


def latest_snapshot(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    commit_col: str = "commit",
) -> DataFrame:
    """Per-(repo, path) latest-version pick over a multi-commit
    contract table — the code twin of the FOXML pipeline's
    latest-datastream-version rule: a KG built over raw history rows
    would assert triples for every stale blob, so construction runs on
    the snapshot. Ordering is the ``commit_col``'s lexicographic order
    (the contract table carries no timestamp; callers with a real
    commit-time column pass it instead); ties break deterministically
    by the remaining columns' struct order.

    One ``max(struct(commit, *rest))`` groupBy — map-side combined,
    single shuffle, and NEVER per-column maxima (the frankenrow class
    pinned in CLAUDE.md: ``max(commit), max(content)`` could pair one
    version's commit with another's content)."""
    others = [c for c in files.columns if c not in (repo_col, path_col)]
    ordered = [commit_col] + [c for c in others if c != commit_col]
    picked = files.groupBy(repo_col, path_col).agg(
        F.max(F.struct(*[F.col(c).alias(c) for c in ordered])).alias("_w")
    )
    return picked.select(
        repo_col,
        path_col,
        *[F.col(f"_w.{c}").alias(c) for c in others],
    )


def repo_profile(files: DataFrame) -> DataFrame:
    """Per-repo corpus profile: file count, definition/import volumes,
    and the entity-linking resolution rate — the triage table a
    training-data curator ranks repos by (a repo whose imports mostly
    resolve in-tree is self-contained; one full of unresolved externals
    leans on vendoring). Columns: (repo, n_files, n_defs, n_imports,
    n_resolved, resolved_frac).

    Two content scans (defs tally is a scan-side ``size()`` — no
    explode; imports must explode for the registry join), one narrow
    registry join, two map-side-combined per-repo aggregates joined on
    the repo key."""
    defs = files.groupBy(F.col("repo")).agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(
            F.size(_tagged_matches(F.col("content"), DEF_PATTERNS))
        ).cast("long").alias("n_defs"),
    )
    imports = files.select(
        F.col("repo").alias("_repo"),
        F.explode(
            _tagged_matches(F.col("content"), IMPORT_PATTERNS)
        ).alias("_e"),
    ).select(
        "_repo",
        F.col("_e.kind").alias("_kind"),
        F.col("_e.name").alias("_module"),
    )
    registry = module_registry(files)
    linked = imports.withColumn(
        "_mkey", _module_key(F.col("_module"), F.col("_kind"))
    ).join(registry, ["_repo", "_mkey"], "left")
    imp = linked.groupBy(F.col("_repo").alias("repo")).agg(
        F.count("*").cast("long").alias("n_imports"),
        F.sum(F.col("_def_path").isNotNull().cast("long"))
        .cast("long")
        .alias("n_resolved"),
    )
    return (
        defs.join(imp, "repo", "left")
        .select(
            "repo",
            "n_files",
            "n_defs",
            F.coalesce("n_imports", F.lit(0)).cast("long").alias(
                "n_imports"
            ),
            F.coalesce("n_resolved", F.lit(0)).cast("long").alias(
                "n_resolved"
            ),
            F.round(
                F.coalesce("n_resolved", F.lit(0))
                / F.greatest(F.coalesce("n_imports", F.lit(0)), F.lit(1)),
                6,
            ).alias("resolved_frac"),
        )
    )


def content_alias_table(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Entity linking by exact content: vendored copies of the same
    bytes are the SAME logical file, so every copy aliases to the
    canonical holder — the lexicographically smallest file URI among
    the hash's holders (deterministic across partitionings and corpus
    growth order). Output (alias, canonical), non-canonical copies
    only — the drop-in dictionary shape for
    :func:`..operators.canonicalize.canonicalize`, which then rewrites
    every subj/obj of the code KG through a broadcast hash join: the
    owl:sameAs analog of :func:`vendored_file_stats`'s per-repo stats
    (stats tell you HOW vendored a repo is; this collapses the copies
    in the graph itself).

    Scale shape: one hash projection, one map-side-combined
    min+count per hash, one equi-join back on the hash key (the join's
    own exchange co-partitions). Hashes held by a single file are
    dropped BEFORE the join-back via the count, so the alias table is
    vendored-copy-sized — small enough to broadcast downstream even
    when the corpus is not. md5 keeps the key portable to the DuckDB
    oracle; production would use xxhash64. NULL content (easy via
    csv/json sources) hashes as '' — md5(NULL) is NULL and NULL join
    keys never match, which would silently drop those rows (same
    contract as plans.code_pipeline._non_null_content)."""
    uri = F.concat(
        F.lit("src:"), F.col(repo_col), F.lit("/"), F.col(path_col)
    )
    hashed = files.select(
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("_h"),
        uri.alias("_uri"),
    )
    canon = (
        hashed.groupBy("_h")
        .agg(F.min("_uri").alias("canonical"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return (
        hashed.join(canon, "_h")
        .filter(F.col("_uri") != F.col("canonical"))
        .select(F.col("_uri").alias("alias"), "canonical")
    )


def vendored_file_stats(
    files: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
) -> DataFrame:
    """Cross-repo duplicate-content detection: a file is VENDORED when
    its exact content hash appears in more than one repo (copied /
    checked-in dependencies — the files that make popular libraries
    massively over-represented in a naive code corpus). Returns one row
    per repo: (repo, n_files, n_vendored, vendored_frac).

    This is the repo-level complement of :func:`.dedup_approx
    .fileset_near_duplicates` (whole-repo fork detection): forks score
    repo PAIRS, this scores each repo's own hygiene, and a curation
    pipeline drops forks then down-weights high-vendored-frac repos.

    Scale shape: hash the content once in the scan projection, ONE
    two-phase ``count(distinct repo)`` aggregate per hash (partial
    map-side), join the per-hash repo count back on the hash key (the
    join's own exchange co-partitions both sides), then a map-side-
    combined per-repo aggregate. No self-join, no pair blow-up — cost
    is linear in file count at any corpus size. md5 keeps the key
    portable to the DuckDB oracle; production would use xxhash64.
    NULL content hashes as '' so NULL-content rows still count toward
    n_files/vendored_frac instead of vanishing through a NULL join key
    (same contract as plans.code_pipeline._non_null_content).
    """
    hashed = files.select(
        F.col(repo_col).alias("_repo"),
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("_h"),
    )
    spread = hashed.groupBy("_h").agg(
        F.countDistinct("_repo").alias("_n_repos")
    )
    return (
        hashed.join(spread, "_h")
        .groupBy("_repo")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum((F.col("_n_repos") > 1).cast("long"))
            .cast("long")
            .alias("n_vendored"),
        )
        .select(
            F.col("_repo").alias("repo"),
            "n_files",
            "n_vendored",
            F.round(F.col("n_vendored") / F.col("n_files"), 6).alias(
                "vendored_frac"
            ),
        )
    )
