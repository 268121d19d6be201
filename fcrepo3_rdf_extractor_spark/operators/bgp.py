"""Basic-graph-pattern (BGP) queries over the constructed triples table.

The reference is construction-only — it has no query language
(`SURVEY.md §2`: "no query language, no optimizer"); downstream, Fedora's
Resource Index is queried with SPARQL-style triple patterns. This module
gives the ENGINE that surface: the conjunctive core of SPARQL (a basic
graph pattern = a set of triple patterns sharing variables) compiled to
a DataFrame plan over the (subj, pred, obj_value) table the pipeline
materializes.

Compilation model — each triple pattern is a FILTERED SCAN of the
triples table (constants become equality predicates that push down to
the parquet/Iceberg scan; variables become projected columns named by
the variable), and shared variables between patterns become hash
EQUI-JOINS. That is the classical relational encoding of SPARQL BGPs
(Cyganiak, "A relational algebra for SPARQL", HPL-2005-170) — and it is
exactly the shape Catalyst optimizes well:

- A star pattern (many patterns sharing the subject variable — the
  dominant KG query shape) compiles to a join chain keyed on ``subj``
  throughout: the first join's exchange partitions by subject and every
  later join reuses that partitioning, so n patterns cost one shuffle
  per side, not n reshuffles. On the ``materialize_graph`` output the
  table is ALREADY subject-bucketed, so star joins are co-located scans.
- Join ORDER follows bound-term count (patterns with more constants
  first — the textbook selectivity heuristic; a fully-bound
  (s, p, ?o) pattern yields a handful of rows, a (?s, ?p, ?o) pattern
  yields the corpus). Ties prefer bound predicates, the highest-skew
  position. After the static ordering, AQE's runtime statistics convert
  small joined sides to broadcasts — the operator does not hand-place
  broadcast hints because pattern selectivity is a data property the
  static compiler cannot know.
- Disconnected patterns (no shared variable with the joined prefix)
  are a cartesian product and REJECTED by default: on a 10^12-triple
  store that is always a bug, not a query.

Callers passing a plan whose lineage contains the extraction UDF should
persist/materialize the narrow triple projection first (self-join sides
do not share exchanges on Spark 4.1 — each pattern would re-run the
parse); the registered queries model reading the materialized graph
table by persisting once.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS_COLS = ("subj", "pred", "obj_value")

# FILTER / HAVING comparison operators, shared by bgp_query's FILTER
# constraints and bgp_aggregate's HAVING constraints.
_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "contains": lambda c, v: c.contains(v),
    "regex": lambda c, v: c.rlike(v),
}
_ORDERING = {"<", "<=", ">", ">="}
# comparisons that take the try_cast(double) path for a NUMERIC value:
# under ANSI, '=' / '!=' against a number implicitly casts the string
# column and would abort on the first non-numeric binding, exactly like
# the ordering ops — SPARQL's type-error-drops semantics needs try_cast
# on all six
_NUMERIC_COMPARABLE = _ORDERING | {"=", "!="}


def _filter_col(expr: object, bound_vars: set[str]) -> "F.Column":
    """Compile one FILTER expression node into a Column predicate.

    A node is either a leaf ``(var, op, value)`` 3-tuple — the original
    flat form, still accepted everywhere — or a boolean combinator
    ``("and", [nodes...])`` / ``("or", [nodes...])`` nesting further
    nodes (SPARQL ``&&`` / ``||``, parenthesized freely). Leaves gain
    two set ops: ``("?v", "in", (v1, v2, ...))`` and ``"not_in"``
    (SPARQL 1.1 ``IN`` / ``NOT IN``, §17.4.1.9 — sugar for a chain of
    ``=`` tests: string members match the lexical form, numeric
    members match on ``try_cast('double')`` exactly like the ``=``
    leaf). The whole expression compiles to a
    single row-local predicate — no join condition ever carries the OR
    (the OR-of-equalities BNLJ trap applies to join conditions, not
    filters), and Catalyst still splits top-level conjuncts and pushes
    each side down to the pattern scan that binds its variable.
    """
    if (
        isinstance(expr, tuple)
        and len(expr) == 2
        and expr[0] in ("and", "or")
    ):
        kind, children = expr
        if not children:
            raise ValueError(f"empty {kind.upper()} in FILTER")
        cols = [_filter_col(c, bound_vars) for c in children]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if kind == "and" else (out | c)
        return out
    if isinstance(expr, tuple) and expr[0] == "not" and len(expr) == 2:
        # SPARQL '!expr'. NOT of a NULL comparison stays NULL (both
        # engines' three-valued logic), so a row whose inner test is a
        # type error still drops — exactly SPARQL's error-propagation
        # through '!'.
        return ~_filter_col(expr[1], bound_vars)
    if isinstance(expr, tuple) and expr[0] == "cmp" and len(expr) == 4:
        # general comparison: both sides are expression ASTs
        # (_bind_expr_col grammar) — covers ?a op ?b, arithmetic, and
        # string-function operands. Numeric path iff either side is
        # numeric-TYPED (numeric literal, arithmetic, STRLEN): the
        # string-typed side goes through try_cast('double') (non-
        # numeric bindings drop as SPARQL type errors, never an ANSI
        # abort). With both sides string-typed the comparison is
        # lexical — SPARQL's codepoint string ordering.
        _, op, lhs, rhs = expr
        if op not in _OPS or op in ("contains", "regex"):
            raise ValueError(f"unknown comparison op {op!r}")
        lc = _bind_expr_col(lhs, bound_vars)
        rc = _bind_expr_col(rhs, bound_vars)
        if _expr_is_numeric(lhs) or _expr_is_numeric(rhs):
            lc = lc if _expr_is_numeric(lhs) else lc.try_cast("double")
            rc = rc if _expr_is_numeric(rhs) else rc.try_cast("double")
            lc, rc = lc.cast("double"), rc.cast("double")
        return _OPS[op](lc, rc)
    if isinstance(expr, tuple) and expr[0] == "bool" and len(expr) == 2:
        # a boolean-valued expression used directly as the constraint
        # (STRSTARTS/STRENDS/CONTAINS/BOUND)
        if not (
            isinstance(expr[1], tuple) and expr[1][0] in _BOOLEAN_NODES
        ):
            raise ValueError(
                f"FILTER expression is not boolean-valued: {expr[1]!r}"
            )
        return _bind_expr_col(expr[1], bound_vars)
    var, op, value = expr
    name = var.lstrip("?")
    if name not in bound_vars:
        raise ValueError(
            f"FILTER on {var!r}: not bound by any pattern"
        )
    col = F.col(name)

    def _is_num(v: object) -> bool:
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    if op in ("in", "not_in"):
        vals = list(value) if isinstance(value, (list, tuple, set)) else None
        if not vals:
            raise ValueError("IN/NOT IN takes a non-empty list of values")
        # numeric members compare on try_cast(double) — a non-numeric
        # binding becomes NULL and the row drops (SPARQL type-error
        # semantics), NEVER an ANSI cast abort (a raw isin(floats)
        # would implicitly cast the string column and kill the job on
        # the first non-numeric binding); string members compare on the
        # lexical form like '='. A mixed list is the OR of both arms.
        nums = [float(v) for v in vals if _is_num(v)]
        strs = [v for v in vals if not _is_num(v)]
        arms = []
        if nums:
            arms.append(col.try_cast("double").isin(nums))
        if strs:
            arms.append(col.isin(strs))
        cond = arms[0]
        for arm in arms[1:]:
            cond = cond | arm
        return cond if op == "in" else ~cond
    if op not in _OPS:
        raise ValueError(f"unknown FILTER op {op!r}")
    if op in _NUMERIC_COMPARABLE and _is_num(value):
        # SPARQL numeric FILTER: bindings are string lexical forms,
        # so compare on try_cast(double) — a non-numeric binding
        # becomes NULL and is filtered out (SPARQL type-error
        # semantics), instead of an ANSI CAST abort (a plain cast
        # would kill the job on the first non-numeric row; equality
        # against a numeric literal implicitly casts under ANSI too)
        # or a silently-lexicographic string compare ('10' < '5').
        col = col.try_cast("double")
        value = float(value)
    return _OPS[op](col, value)


def _norm_opt_group(group: object) -> dict:
    """Normalize one OPTIONAL group to its full sub-group form.

    A group is a plain sequence of triple patterns (the original form,
    still accepted everywhere) or a mapping ``{"patterns": [...],
    "optional": [...nested groups...], "filters": [...]}`` — a full
    sub-group compiled recursively, giving nested OPTIONAL and FILTERs
    scoped to the group (the filter decides whether the group MATCHES;
    the solution survives with NULLs either way — contrast the
    top-level filter scope, which drops the solution).
    """
    if isinstance(group, Mapping):
        return {
            "patterns": list(group.get("patterns") or []),
            "optional": list(group.get("optional") or []),
            "filters": list(group.get("filters") or []),
        }
    return {"patterns": list(group), "optional": [], "filters": []}


def _opt_group_patterns(group: dict):
    """All triple patterns of a normalized group, nested ones included."""
    yield from group["patterns"]
    for nested in group["optional"]:
        yield from _opt_group_patterns(_norm_opt_group(nested))


def _filter_vars(expr: object) -> set[str]:
    """Variables (without '?') referenced anywhere in a FILTER node."""
    if (
        isinstance(expr, tuple)
        and len(expr) == 2
        and expr[0] in ("and", "or")
    ):
        out: set[str] = set()
        for child in expr[1]:
            out |= _filter_vars(child)
        return out
    if isinstance(expr, tuple) and expr[0] == "not" and len(expr) == 2:
        return _filter_vars(expr[1])
    if isinstance(expr, tuple) and expr[0] == "cmp" and len(expr) == 4:
        return _expr_vars(expr[2]) | _expr_vars(expr[3])
    if isinstance(expr, tuple) and expr[0] == "bool" and len(expr) == 2:
        return _expr_vars(expr[1])
    return {expr[0].lstrip("?")}


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _bind_expr_col(expr, available: set[str]) -> F.Column:
    """Compile a BIND expression AST to a Column over the joined
    bindings. AST nodes (plain tuples, so the SPARQL parser and
    programmatic callers share one shape):

    - ``("var", "?x")`` — an in-scope binding
    - ``("const", value)`` — a string/number literal
    - ``("concat", [expr, ...])`` — CONCAT over stringified args
    - ``("str", expr)`` — STR(): cast to string
    - ``("arith", op, lhs, rhs)`` — ``+ - * /`` over
      ``try_cast('double')`` of the operands: the same numeric
      semantics as FILTER (a non-numeric binding yields NULL — SPARQL's
      type-error-to-unbound — never an ANSI cast abort)
    """
    kind = expr[0]
    if kind == "var":
        name = expr[1].lstrip("?")
        if name not in available:
            raise ValueError(
                f"expression references unbound variable ?{name}"
            )
        return F.col(name)
    if kind == "const":
        return F.lit(expr[1])
    if kind == "concat":
        return F.concat(
            *[_bind_expr_col(e, available).cast("string") for e in expr[1]]
        )
    if kind == "str":
        return _bind_expr_col(expr[1], available).cast("string")
    if kind == "arith":
        op, lhs, rhs = expr[1], expr[2], expr[3]
        lc = _bind_expr_col(lhs, available).try_cast("double")
        rc = _bind_expr_col(rhs, available).try_cast("double")
        if op == "+":
            return lc + rc
        if op == "-":
            return lc - rc
        if op == "*":
            return lc * rc
        if op == "/":
            return lc / rc
        raise ValueError(f"unknown BIND arithmetic op {op!r}")
    if kind == "strlen":
        # SPARQL STRLEN: character count of the lexical form
        return F.length(_bind_expr_col(expr[1], available).cast("string"))
    if kind == "lcase":
        return F.lower(_bind_expr_col(expr[1], available).cast("string"))
    if kind == "ucase":
        return F.upper(_bind_expr_col(expr[1], available).cast("string"))
    if kind == "substr":
        # SPARQL SUBSTR is 1-based like Spark's substring; start/length
        # are parse-time integer constants in this subset
        src = _bind_expr_col(expr[1], available).cast("string")
        start = int(expr[2])
        if len(expr) > 3 and expr[3] is not None:
            return F.substring(src, start, int(expr[3]))
        return F.substring(src, start, 0x7FFFFFFF)
    if kind == "strstarts":
        return _bind_expr_col(expr[1], available).cast("string").startswith(
            _bind_expr_col(expr[2], available).cast("string")
        )
    if kind == "strends":
        return _bind_expr_col(expr[1], available).cast("string").endswith(
            _bind_expr_col(expr[2], available).cast("string")
        )
    if kind == "contains_f":
        return _bind_expr_col(expr[1], available).cast("string").contains(
            _bind_expr_col(expr[2], available).cast("string")
        )
    if kind == "bound":
        # SPARQL BOUND(?v): in this engine an unbound binding IS a
        # NULL column (OPTIONAL left joins produce them), so BOUND is
        # exactly isNotNull. Inside a group-scoped filter the group's
        # own variables are always bound — BOUND is only interesting
        # at the top-level filter scope, after the left joins.
        name = expr[1].lstrip("?")
        if name not in available:
            raise ValueError(f"BOUND references unknown variable ?{name}")
        return F.col(name).isNotNull()
    raise ValueError(f"unknown BIND expression node {expr!r}")


#: expression nodes whose RESULT is numeric — a comparison touching one
#: of these takes the numeric path (try_cast the string-typed side)
_NUMERIC_NODES = frozenset({"arith", "strlen"})
#: expression nodes whose result is boolean — usable as a bare FILTER
#: constraint via the ("bool", expr) node
_BOOLEAN_NODES = frozenset({"strstarts", "strends", "contains_f", "bound"})


def _expr_is_numeric(expr: object) -> bool:
    if not isinstance(expr, tuple):
        return False
    if expr[0] == "const":
        return isinstance(expr[1], (int, float)) and not isinstance(
            expr[1], bool
        )
    return expr[0] in _NUMERIC_NODES


def _expr_vars(expr: object) -> set[str]:
    """Variables (without '?') referenced in a BIND/FILTER expression
    AST node."""
    if not isinstance(expr, tuple):
        return set()
    kind = expr[0]
    if kind in ("var", "bound"):
        return {expr[1].lstrip("?")}
    if kind == "const":
        return set()
    out: set[str] = set()
    for part in expr[1:]:
        if isinstance(part, tuple):
            out |= _expr_vars(part)
        elif isinstance(part, list):
            for p in part:
                out |= _expr_vars(p)
    return out


def bgp_query(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    select: Sequence[str] | None = None,
    distinct: bool = False,
    allow_cartesian: bool = False,
    optional_patterns: Sequence[object] | None = None,  # pattern lists or sub-group mappings
    filters: Sequence[object] | None = None,  # leaves or and/or nodes (_filter_col)
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    order_by: Sequence[tuple[str, str]] | None = None,
    limit: int | None = None,
    offset: int = 0,
    graph: str | None = None,
    values: Sequence[Mapping[str, str]] | None = None,
    binds: Sequence[tuple[str, object]] | None = None,
    exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    sub_solutions: Sequence[Mapping] | None = None,
) -> DataFrame:
    """Evaluate a SPARQL-style basic graph pattern.

    ``patterns``: (subject, predicate, object) triples where a term
    starting with ``?`` is a variable and anything else is a constant
    matched against the corresponding column (objects match
    ``obj_value`` — URI or literal lexical form). A variable repeated
    WITHIN one pattern becomes an equality predicate on that scan.

    ``select``: variables (with or without the ``?``) to project, in
    order; defaults to every variable in first-mention order (required
    patterns first, then optional groups). SPARQL bag semantics by
    default; ``distinct=True`` for set semantics.

    ``filters``: SPARQL FILTER constraints as (variable, op, value)
    tuples, op in {'=', '!=', '<', '<=', '>', '>=', 'contains',
    'regex', 'in', 'not_in'} ('in'/'not_in' take a sequence of values,
    SPARQL 1.1 IN — equality on lexical forms). An entry may also be a
    boolean combinator node ``("and", [nodes...])`` / ``("or",
    [nodes...])`` nesting further entries (SPARQL ``&&``/``||``), a
    negation ``("not", node)``, a general comparison ``("cmp", op,
    lhs_ast, rhs_ast)`` whose sides are BIND-grammar expression ASTs
    (_bind_expr_col — variables, literals, arithmetic, STRLEN/LCASE/
    UCASE/SUBSTR/CONCAT/STR; the numeric try_cast path engages when
    either side is numeric-typed), or a bare boolean expression
    ``("bool", ast)`` (STRSTARTS/STRENDS/CONTAINS/BOUND — BOUND(?v)
    is isNotNull over OPTIONAL's NULLs); the
    whole node compiles to ONE row-local predicate.
    Declared once over the joined bindings and applied AFTER
    the joins — Catalyst then pushes each predicate down through the
    join tree into the single pattern scan that binds the variable
    (pinned in tests), so declaring late costs nothing and keeps the
    surface declarative. Ordering ops with a NUMERIC ``value`` compare
    on ``try_cast('double')`` of the binding (SPARQL numeric-FILTER
    semantics: non-numeric bindings drop as type errors, never an ANSI
    cast abort); with a string value they compare lexicographically —
    pass an int/float when you mean numbers. A filter referencing an
    OPTIONAL-bound variable is deferred until after the left joins —
    SPARQL's TOP-LEVEL filter scope (an unbound binding is a type
    error, so the solution drops; Spark's NULL comparisons give exactly
    that). A filter INSIDE an optional group (scoped to whether the
    group matches, keeping the solution with NULLs) is not expressible
    here — evaluate it in the group's own bgp_query call.

    ``sub_solutions``: pre-evaluated SPARQL subqueries (§12) — each a
    mapping ``{"df": DataFrame, "scalar": bool}`` whose frame's columns
    are the subquery's projected variables. Joined INNER on the shared
    variables right after the required patterns (both sides
    hash-partition on the join key; the subquery evaluated once,
    independent of the outer bindings — SPARQL bottom-up semantics), so
    FILTERs may reference subquery aliases. A frame sharing no variable
    is rejected unless ``scalar`` (a group-less aggregate —
    guaranteed one row), which attaches via ``crossJoin(broadcast(...))``
    — the documented-fine 1-row scalar shape.

    ``optional_patterns``: a list of OPTIONAL groups — each either a
    plain list of patterns, or a mapping ``{"patterns": [...],
    "optional": [...nested groups...], "filters": [...]}`` for nested
    OPTIONAL and group-scoped FILTERs (the filter decides whether the
    group MATCHES; the solution survives with NULLs either way). Each
    group is compiled as its own BGP (recursively) and
    LEFT-joined to the required part on their shared variables (the
    SPARQL OPTIONAL left-outer semantics); variables bound only inside
    a group come back NULL where the group found no match. A group
    sharing no variable with the required part is rejected — that is a
    cartesian, not an optional. A group filter referencing a variable
    the group itself does not bind is rejected (outer-variable filter
    scope is not in this subset).

    ``not_exists``: a list of negation groups — SPARQL
    ``FILTER NOT EXISTS { ... }``: a solution survives only if the
    group (with the solution's bindings injected) matches nothing.
    Each group compiles to a LEFT ANTI join of its sub-BGP on the
    variables shared with the required part — on shared-variable
    groups this is also exactly SPARQL ``MINUS`` (the two constructs
    only diverge when the group shares no variable, and a no-shared-
    variable group is rejected here: under NOT EXISTS it would mean
    "drop everything if the group matches at all", which is a job-level
    existence test, not a per-solution filter). Applied to the
    required-part bindings, before OPTIONAL groups attach.

    Solution modifiers (SPARQL 1.1 §15): ``order_by`` is a list of
    (variable, 'asc'|'desc') pairs; ``limit``/``offset`` slice the
    ordered solutions. With ``order_by`` + ``limit`` and no offset the
    plan is a TakeOrderedAndProject (top-k per partition, merge on the
    driver — never a global sort); an ``offset`` keeps the top
    ``offset+limit`` per partition then skips driver-side. ORDER BY
    without LIMIT forces a global sort — on a 10^12-triple store order
    the CONSUMER instead (or add the limit you actually mean).
    ``offset`` without ``order_by`` is rejected: an offset into an
    unordered bag is nondeterministic across partitionings.

    ``graph``: SPARQL named-graph scoping — ``GRAPH g { ... }`` around
    the whole WHERE clause (required patterns, OPTIONAL groups, and
    NOT EXISTS groups alike; the store is a quad table and this engine
    defaults to the union-default-graph convention when ``graph`` is
    None). A CONSTANT pins every pattern to that one named graph — it
    compiles to a pushed-down equality on the ``graph`` column of every
    scan, so a store partitioned by graph prunes files. A VARIABLE
    (``"?g"``) binds the graph each solution lives in: every pattern
    additionally projects its quad's graph as that variable, and the
    join chain then keys on it like any shared variable — the SPARQL
    semantics that all patterns inside one ``GRAPH ?g`` group match
    within the SAME named graph. A graph variable repeated as a pattern
    term (``GRAPH ?g { ?g ?p ?o }``) becomes an equality on the scan,
    same as a variable repeated within a pattern. Property paths work
    under both forms: a CONSTANT graph pre-filters the closure's edge
    set, and a graph VARIABLE computes the closure PER NAMED GRAPH
    (grouped semi-naive iteration — a path never crosses graphs, per
    the GRAPH scoping semantics) with ?g binding the graph each path
    lives in.

    ``values``: SPARQL VALUES — an inline solution sequence joined with
    the evaluated group (SPARQL 1.1 §10.2: VALUES joins AFTER the rest
    of the WHERE clause, so it is applied after OPTIONAL groups and
    before DISTINCT / solution modifiers). Each element is a
    ``{var: value}`` mapping; a variable a row leaves out is SPARQL's
    ``UNDEF`` — a wildcard for that row. Rows are grouped by their
    defined-variable signature and each signature becomes ONE
    broadcast-hash inner join on exactly those variables (the inline
    table is driver-held and tiny by construction); the per-signature
    results union back, which reproduces SPARQL's multiset join —
    a solution matching two VALUES rows appears twice, unless
    ``distinct``. Every VALUES variable must be bound somewhere in the
    WHERE clause, and a row defining NO variable is rejected (it would
    match every solution — almost certainly a typo, and a cartesian
    multiplier if meant).

    ``exists``: a list of POSITIVE existence groups — SPARQL
    ``FILTER EXISTS { ... }``: a solution survives only if the group
    (with the solution's bindings injected) matches at least once.
    Each group compiles to a LEFT SEMI join of its sub-BGP on the
    variables shared with the required part — the exact mirror of
    ``not_exists``' LEFT ANTI, with the same shared-variable
    requirement and the same evaluation point (required bindings,
    before OPTIONAL groups attach).

    ``binds``: SPARQL ``BIND(expr AS ?var)`` — a list of
    (variable, expression-AST) pairs (see :func:`_bind_expr_col` for
    the node shapes: var/const/concat/str/arith). Applied over the
    fully-evaluated group in order (a later BIND sees an earlier one),
    before projection and solution modifiers, so SELECT and ORDER BY
    can use the new bindings; rebinding a pattern variable is rejected
    (SPARQL §10.1). FILTER keeps its pattern-variable scope in this
    subset. Compiles to ``withColumn`` projections — Catalyst folds
    them into the output projection, zero plan cost at any scale.

    Returns one column per selected variable. Raises ``ValueError`` on
    unknown select variables, constant-only patterns, or (unless
    ``allow_cartesian``) patterns disconnected from the rest of the
    query.
    """
    if offset and not order_by:
        raise ValueError(
            "OFFSET without ORDER BY: an offset into an unordered bag is "
            "nondeterministic — add order_by"
        )
    if not patterns:
        raise ValueError("empty basic graph pattern")

    def vars_of(pat: tuple[str, str, str]) -> list[str]:
        return [t for t in pat if _is_var(t)]

    def bound_count(pat: tuple[str, str, str]) -> int:
        return sum(0 if _is_var(t) else 1 for t in pat)

    # GRAPH scoping: a constant pre-filters the whole store once (the
    # filter is cloned into every scan by Catalyst and pushed down); a
    # variable makes every pattern additionally bind its quad's graph.
    gvar: str | None = None
    store = triples
    if graph is not None:
        if "graph" not in triples.columns:
            raise ValueError(
                "graph= needs a quad table with a 'graph' column; this "
                "triples input has none"
            )
        if _is_var(graph):
            gvar = graph.lstrip("?")
            if not gvar:
                raise ValueError("graph variable must have a name: '?g'")
        else:
            store = triples.filter(F.col("graph") == graph)

    all_vars: list[str] = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be a 3-tuple: {pat!r}")
        if not vars_of(pat):
            raise ValueError(
                f"constant-only pattern {pat!r}: an existence test, not a "
                "bindings producer — filter the triples table directly"
            )
        for v in vars_of(pat):
            if v not in all_vars:
                all_vars.append(v)
    if gvar is not None and "?" + gvar not in all_vars:
        all_vars.append("?" + gvar)

    def pat_binds(pat: tuple[str, str, str]) -> set[str]:
        """Variables a pattern's scan binds — the pattern's own plus,
        under a graph VARIABLE, the graph binding every scan carries
        (two patterns sharing only ?g ARE connected: the join on the
        named graph is the GRAPH-group semantics, not a cartesian)."""
        names = {v.lstrip("?") for v in vars_of(pat)}
        if gvar is not None:
            names.add(gvar)
        return names

    opt_groups = [_norm_opt_group(g) for g in (optional_patterns or [])]
    opt_vars: list[str] = []
    for group in opt_groups:
        if not group["patterns"]:
            raise ValueError("empty OPTIONAL group")
        for pat in _opt_group_patterns(group):
            for v in vars_of(pat):
                if v not in all_vars and v not in opt_vars:
                    opt_vars.append(v)

    sub_list = list(sub_solutions or [])
    sub_names: list[str] = []
    for sub in sub_list:
        for c in sub["df"].columns:
            if c not in sub_names:
                sub_names.append(c)

    bind_list = [(v.lstrip("?"), e) for v, e in (binds or [])]
    pattern_names = {v.lstrip("?") for v in all_vars + opt_vars} | set(sub_names)
    for bname, _ in bind_list:
        if bname in pattern_names:
            raise ValueError(
                f"BIND(... AS ?{bname}) would rebind a pattern variable "
                "— SPARQL forbids rebinding; pick a fresh name"
            )
    bind_names = [b for b, _ in bind_list]
    if len(set(bind_names)) != len(bind_names):
        raise ValueError("duplicate BIND target variable")
    if select is None:
        seen = {v.lstrip("?") for v in all_vars + opt_vars}
        sel = (
            [v.lstrip("?") for v in all_vars + opt_vars]
            + [c for c in sub_names if c not in seen]
            + bind_names
        )
    else:
        sel = [s.lstrip("?") for s in select]
        known = pattern_names | set(bind_names)
        unknown = [s for s in sel if s not in known]
        if unknown:
            raise ValueError(f"select variables not in any pattern: {unknown}")

    def scan(pat: tuple[str, str, str]) -> DataFrame:
        """One pattern -> filtered, variable-named projection. A
        constant predicate starting with ``^`` is SPARQL's inverse
        path: the pattern matches with subject and object swapped
        (``?coll ^member ?doc`` ≡ ``?doc member ?coll``) — compiled by
        swapping the pattern's terms, zero plan cost. A
        constant predicate ending in ``+`` is SPARQL's one-or-more
        property path: the pattern's bindings are the transitive
        closure of that predicate's edge set (shortest-hop closure via
        :func:`..graph.transitive_closure` — semi-naive delta-frontier
        iteration, the one recursive construct a fixed join chain can't
        express). ``*`` (zero-or-more) is the closure UNIONed with the
        identity relation over every term of the graph, and ``?``
        (zero-or-one) is the single-step edge set unioned with the same
        identity — per SPARQL 1.1 §9.1 a zero-length path matches EVERY
        graph term, so the identity side is a distinct over the graph's
        subjects and objects (one exchange over the narrow term
        projection; bind a constant on either side to prune it).
        Subject/object constants on a path pattern filter the
        closure exactly like an ordinary scan.

        ESCAPE HATCH: a constant wrapped in angle brackets (``<...>``)
        matches LITERALLY with the brackets stripped and no path /
        inverse reading — needed because this engine's URI resolution
        deliberately preserves bare trailing ``?``/``#`` markers
        (rdfxml.resolve_uri), so a predicate like ``http://ex/p?`` can
        exist in the graph; ``<http://ex/p?>`` queries it as-is where
        the unbracketed form would evaluate a zero-or-one path over
        ``http://ex/p``."""
        wrapped = [
            not _is_var(t) and len(t) > 2 and t[0] == "<" and t[-1] == ">"
            for t in pat
        ]
        pat = tuple(t[1:-1] if w else t for t, w in zip(pat, wrapped))
        literal_pred = wrapped[1]
        if not literal_pred and not _is_var(pat[1]) and pat[1].startswith("^"):
            inner = pat[1][1:]
            # ^<iri> = inverse of a LITERAL predicate: the escape
            # brackets survive the ^ so an IRI whose own last character
            # is +/*/? is still matched as-is, never re-read as a path
            if len(inner) > 2 and inner[0] == "<" and inner[-1] == ">":
                inner = inner[1:-1]
                literal_pred = True
            pat = (pat[2], inner, pat[0])
        if (
            not literal_pred
            and not _is_var(pat[1])
            and pat[1].startswith("!")
            and len(pat[1]) > 1
        ):
            # negated property set (!p / !(p|q)): match any predicate
            # NOT in the set — a NOT-IN filter on the same scan, so it
            # prunes/prices exactly like an ordinary pattern (the
            # predicate is consumed, never bound)
            preds = pat[1][1:].split("|")
            df = store.filter(~F.col("pred").isin(preds))
            seen_n: dict[str, str] = {}
            proj = []
            for term, col in zip((pat[0], pat[2]), ("subj", "obj_value")):
                if _is_var(term):
                    name = term.lstrip("?")
                    if name in seen_n:
                        df = df.filter(F.col(seen_n[name]) == F.col(col))
                    else:
                        seen_n[name] = col
                        proj.append(F.col(col).alias(name))
                else:
                    df = df.filter(F.col(col) == term)
            if gvar is not None:
                if gvar in seen_n:
                    df = df.filter(F.col(seen_n[gvar]) == F.col("graph"))
                else:
                    proj.append(F.col("graph").alias(gvar))
            return df.select(*proj)
        if (
            not literal_pred
            and not _is_var(pat[1])
            and pat[1][-1] in "+*?"
            and len(pat[1]) > 1
        ):
            from .graph import transitive_closure

            # alternation inside the path: "p|q+" = one-or-more steps,
            # each over EITHER predicate (SPARQL (p|q)+) — the edge set
            # is the union, i.e. an isin filter on the same scan.
            # Under a constant graph ``store`` is already pinned, so the
            # closure never walks an edge homed in another graph; under
            # a graph VARIABLE the closure is computed PER GRAPH (the
            # grouped semi-naive iteration — a path never crosses named
            # graphs, per SPARQL's GRAPH ?g scoping) and ?g binds the
            # graph each path lives in.
            mod = pat[1][-1]
            preds = pat[1][:-1].split("|")
            gsel = [F.col("graph")] if gvar is not None else []
            gby = "graph" if gvar is not None else None
            gk = ["graph"] if gvar is not None else []
            edges = store.filter(F.col("pred").isin(preds)).select(
                *gsel, F.col("subj"), F.col("obj_value")
            )
            if mod == "+":
                closure = transitive_closure(
                    edges, "subj", "obj_value", group=gby
                ).drop("depth")
            else:
                # zero-length paths match EVERY graph term (per graph,
                # under a graph variable: a term in two graphs matches
                # zero-length in both)
                nodes = (
                    store.select(*gsel, F.col("subj").alias("_n"))
                    .union(store.select(*gsel, F.col("obj_value").alias("_n")))
                    .distinct()
                )
                identity = nodes.select(
                    *gk,
                    F.col("_n").alias("subj"),
                    F.col("_n").alias("obj_value"),
                )
                steps = (
                    transitive_closure(
                        edges, "subj", "obj_value", group=gby
                    ).drop("depth")
                    if mod == "*"
                    else edges
                )
                closure = steps.union(identity).distinct()
            df, proj = closure, []
            bound: dict[str, str] = {}
            for term, col in zip((pat[0], pat[2]), ("subj", "obj_value")):
                if _is_var(term):
                    name = term.lstrip("?")
                    if name in bound:  # (?x, p+, ?x): cycle membership
                        df = df.filter(F.col(bound[name]) == F.col(col))
                    else:
                        bound[name] = col
                        proj.append(F.col(col).alias(name))
                else:
                    df = df.filter(F.col(col) == term)
            if gvar is not None:
                if gvar in bound:  # GRAPH ?g { ?g p+ ?y }
                    df = df.filter(F.col(bound[gvar]) == F.col("graph"))
                else:
                    proj.append(F.col("graph").alias(gvar))
            return df.select(*proj)
        df = store
        seen: dict[str, str] = {}  # var name -> first column bound to it
        proj = []
        for term, col in zip(pat, _POS_COLS):
            if _is_var(term):
                name = term.lstrip("?")
                if name in seen:
                    # repeated variable within the pattern: equality
                    df = df.filter(F.col(seen[name]) == F.col(col))
                else:
                    seen[name] = col
                    proj.append(F.col(col).alias(name))
            else:
                df = df.filter(F.col(col) == term)
        if gvar is not None:
            if gvar in seen:
                # GRAPH ?g { ?g ?p ?o }: the graph IS a pattern term
                df = df.filter(F.col(seen[gvar]) == F.col("graph"))
            else:
                proj.append(F.col("graph").alias(gvar))
        return df.select(*proj)

    # selectivity order: most bound terms first; ties prefer a bound
    # predicate (the highest-skew position); stable on input order
    order = sorted(
        range(len(patterns)),
        key=lambda i: (-bound_count(patterns[i]), _is_var(patterns[i][1]), i),
    )
    remaining = list(order)
    first = remaining.pop(0)
    joined = scan(patterns[first])
    joined_vars = pat_binds(patterns[first])

    while remaining:
        # greedy: next-most-selective pattern CONNECTED to the prefix
        pick = next(
            (
                j
                for j in remaining
                if joined_vars & pat_binds(patterns[j])
            ),
            None,
        )
        if pick is None:
            if not allow_cartesian:
                raise ValueError(
                    "disconnected basic graph pattern (cartesian product); "
                    "pass allow_cartesian=True only if you mean it"
                )
            pick = remaining[0]
        remaining.remove(pick)
        pat_vars = pat_binds(patterns[pick])
        on = sorted(joined_vars & pat_vars)
        nxt = scan(patterns[pick])
        joined = joined.join(nxt, on=on, how="inner") if on else joined.crossJoin(nxt)
        joined_vars |= pat_vars

    for sub in sub_list:
        sdf = sub["df"]
        on = sorted(joined_vars & set(sdf.columns))
        if on:
            joined = joined.join(sdf, on=on, how="inner")
        elif sub.get("scalar"):
            # group-less aggregate: exactly one row — the documented-fine
            # 1-row scalar broadcast shape (CLAUDE.md)
            joined = joined.crossJoin(F.broadcast(sdf))
        else:
            raise ValueError(
                "subquery shares no variable with the required patterns "
                "— a non-scalar subquery join would be a cartesian"
            )
        joined_vars |= set(sdf.columns)

    # Filters over required-pattern variables apply NOW (conjunctive and
    # row-local, so Catalyst pushes each down into the pattern scan that
    # binds its variable); a filter referencing any OPTIONAL-bound
    # variable defers until after the left joins — SPARQL's top-level
    # FILTER scope (§18.2.2.2: the filter sees the whole group result;
    # an unbound binding is a type error, which drops the row — exactly
    # Spark's NULL-comparison semantics).
    deferred_filters = []
    for expr in filters or []:
        if _filter_vars(expr) <= joined_vars:
            joined = joined.filter(_filter_col(expr, joined_vars))
        else:
            deferred_filters.append(expr)

    for group in not_exists or []:
        sub = bgp_query(
            triples, group, allow_cartesian=allow_cartesian, graph=graph
        )
        on = sorted(joined_vars & set(sub.columns))
        if not on:
            raise ValueError(
                "NOT EXISTS group shares no variable with the required "
                "patterns — a per-solution filter needs a shared binding"
            )
        joined = joined.join(sub.select(*on), on=on, how="left_anti")

    for group in exists or []:
        # FILTER EXISTS: the positive twin of NOT EXISTS — a solution
        # survives iff the group (with its bindings injected) matches
        # at least once. LEFT SEMI join on the shared variables: never
        # multiplies solutions, never adds columns, and the sub-group
        # compiles/prunes exactly like any BGP.
        sub = bgp_query(
            triples, group, allow_cartesian=allow_cartesian, graph=graph
        )
        on = sorted(joined_vars & set(sub.columns))
        if not on:
            raise ValueError(
                "EXISTS group shares no variable with the required "
                "patterns — a per-solution filter needs a shared binding"
            )
        joined = joined.join(sub.select(*on), on=on, how="left_semi")

    for group in opt_groups:
        sub = bgp_query(
            triples,
            group["patterns"],
            optional_patterns=group["optional"] or None,
            filters=group["filters"] or None,
            allow_cartesian=allow_cartesian,
            graph=graph,
        )
        on = sorted(joined_vars & set(sub.columns))
        if not on:
            raise ValueError(
                "OPTIONAL group shares no variable with the required "
                "patterns — that is a cartesian, not an optional"
            )
        joined = joined.join(sub, on=on, how="left")
        joined_vars |= set(sub.columns)

    for expr in deferred_filters:
        joined = joined.filter(_filter_col(expr, joined_vars))

    if values:
        # SPARQL VALUES joins with the group result (§10.2). Restricted
        # to variables bound by REQUIRED patterns: joining an inline
        # value against an OPTIONAL-only binding would need SPARQL's
        # unbound-is-compatible join (NULL matches anything), which an
        # equi-join cannot express — rejecting keeps semantics exact.
        required_names = {v.lstrip("?") for v in all_vars}
        by_sig: dict[tuple[str, ...], list[dict[str, str]]] = {}
        for row in values:
            named = {k.lstrip("?"): v for k, v in row.items()}
            if not named:
                raise ValueError(
                    "VALUES row defining no variable would match every "
                    "solution — drop the row or bind something"
                )
            missing = sorted(set(named) - required_names)
            if missing:
                raise ValueError(
                    f"VALUES variables {missing} not bound by any required "
                    "pattern (OPTIONAL-only bindings need SPARQL's "
                    "unbound-compatible join — bind them in the required "
                    "part instead)"
                )
            by_sig.setdefault(tuple(sorted(named)), []).append(named)
        spark = triples.sparkSession
        parts = []
        for sig, sig_rows in sorted(by_sig.items()):
            inline = spark.createDataFrame(
                [tuple(r[c] for c in sig) for r in sig_rows],
                ", ".join(f"`{c}` string" for c in sig),
            )
            parts.append(
                joined.join(F.broadcast(inline), on=list(sig), how="inner")
            )
        joined = parts[0]
        for nxt in parts[1:]:
            joined = joined.unionByName(nxt)

    # BIND: projected expressions over the evaluated group (applied
    # after OPTIONAL/NOT EXISTS/VALUES, before projection/modifiers, so
    # ORDER BY and SELECT see the new bindings; FILTER stays scoped to
    # pattern variables — this subset's documented evaluation order). A
    # later BIND may reference an earlier one (SPARQL's sequential
    # group scope). Pure column expressions: Catalyst folds them into
    # the projection — zero extra plan cost.
    bind_scope = {v.lstrip("?") for v in all_vars + opt_vars}
    for bname, bexpr in bind_list:
        joined = joined.withColumn(
            bname, _bind_expr_col(bexpr, bind_scope)
        )
        bind_scope.add(bname)

    out = joined.select(*sel)
    if distinct:
        out = out.distinct()
    return solution_modifiers(out, order_by, offset, limit)


def solution_modifiers(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]] | None = None,
    offset: int | None = 0,
    limit: int | None = None,
) -> DataFrame:
    """SPARQL's ORDER BY / OFFSET / LIMIT over an already-projected
    frame: BGP, aggregate and UNION results alike, so ORDER BY may name
    only an output column (a selected variable, group key or aggregate
    alias). ORDER BY ... LIMIT k plans as TakeOrderedAndProject (no
    global sort materialization) — the SPARQL top-k idiom."""
    if order_by:
        cols = []
        for var, direction in order_by:
            name = var.lstrip("?")
            if name not in df.columns:
                raise ValueError(f"ORDER BY ?{name}: not a selected variable")
            if direction not in ("asc", "desc"):
                raise ValueError(f"ORDER BY direction must be asc/desc: {direction!r}")
            c = F.col(name)
            cols.append(c.desc() if direction == "desc" else c.asc())
        df = df.orderBy(*cols)
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def bgp_union(
    triples: DataFrame,
    branches: Sequence[object],
    select: Sequence[str],
    distinct: bool = False,
    allow_cartesian: bool = False,
) -> DataFrame:
    """SPARQL UNION: evaluate each branch as its own BGP and concatenate
    the binding sets. A branch is a plain pattern list, or the same
    sub-group mapping OPTIONAL groups take (``{"patterns", "optional",
    "filters"}``) — so a branch may carry its own FILTERs and OPTIONAL
    groups, each compiled inside that branch only. ``select`` is
    required (it defines the shared
    output shape); a branch that does not bind one of the selected
    variables contributes NULL there — SPARQL's unbound semantics.
    Bag semantics by default (UNION ALL); ``distinct=True`` dedups.

    Plan shape: a plain Union of the branch plans — each branch keeps
    its own pushed-down scans and join ordering, and Spark unions
    partitions without a shuffle (the filter+union double-evaluation
    gotcha does not apply when the triples input is a table scan; for a
    UDF-backed plan, persist it first, same as bgp_query)."""
    if not branches:
        raise ValueError("empty UNION")
    sel = [s.lstrip("?") for s in select]
    outs = []
    for branch in branches:
        g = _norm_opt_group(branch)
        sub = bgp_query(
            triples,
            g["patterns"],
            optional_patterns=g["optional"] or None,
            filters=g["filters"] or None,
            allow_cartesian=allow_cartesian,
        )
        cols = [
            F.col(v).cast("string").alias(v)
            if v in sub.columns
            else F.lit(None).cast("string").alias(v)
            for v in sel
        ]
        outs.append(sub.select(*cols))
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    return out.distinct() if distinct else out


def bgp_aggregate(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    group_by: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    having: Sequence[object] | None = None,  # leaves or filter nodes
    allow_cartesian: bool = False,
    optional_patterns: Sequence[object] | None = None,  # pattern lists or sub-group mappings
    filters: Sequence[object] | None = None,  # leaves or and/or nodes (_filter_col)
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    graph: str | None = None,
    values: Sequence[Mapping[str, str]] | None = None,
    exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    sub_solutions: Sequence[Mapping] | None = None,
) -> DataFrame:
    """SPARQL 1.1 aggregates: GROUP BY over a basic graph pattern's
    bindings (SPARQL 1.1 Query §11), the missing third of the query
    surface next to the join core and the solution modifiers.

    ``group_by``: variables to group on (with or without ``?``); empty
    means one global group (SPARQL's implicit grouping when any
    aggregate appears).

    ``aggs``: (fn, var, alias) triples, fn in {'count', 'count_distinct',
    'sum', 'avg', 'min', 'max', 'group_concat', 'sample'}; ``var='*'``
    is allowed only with ``count`` (count of solutions). SPARQL-specific
    semantics, mapped deterministically:

    - ``sum``/``avg`` operate on NUMERIC bindings, but bindings in the
      triples table are string lexical forms — so they aggregate
      ``try_cast('double')`` of the binding: non-numeric bindings drop
      as SPARQL type errors instead of an ANSI cast abort, mirroring
      the numeric-FILTER rule in :func:`bgp_query`.
    - ``group_concat`` in the spec concatenates in ARBITRARY order; an
      arbitrary order is nondeterministic across partitionings, so this
      engine pins the sorted order: ``array_join(array_sort(
      collect_list(x)), sep)`` — same bag, deterministic bytes. The
      separator is the SPARQL default ``' '`` (pass a custom one by
      using fn ``'group_concat:<sep>'``). ``group_concat_distinct``
      (SPARQL's ``GROUP_CONCAT(DISTINCT x)``) concatenates the distinct
      set via ``collect_set``, same sorted determinism.
    - ``sample`` in the spec picks an ARBITRARY element; this engine
      pins ``min`` — a valid SAMPLE under the spec, and the same value
      on every engine and every partitioning.

    ``having``: constraints over the aggregated columns (SPARQL
    HAVING) — (alias, op, value) leaves with the same op set as
    FILTER, or full FILTER boolean/expression nodes (``("and"/"or",
    [...])``, ``("not", node)``, ``("cmp", ...)``, ``("bool", ...)``)
    scoped to aggregate aliases and group keys.

    Plan shape: the BGP join chain from :func:`bgp_query`, then ONE
    hash aggregate with a map-side partial phase (sum/count/min/max
    combine; collect_list partials ship lists). When the group key is
    the join variable the chain already hashes on — the dominant shape,
    e.g. grouping a star pattern by its subject — the aggregation
    reuses the join's exchange and the groupBy is shuffle-free.
    ``count_distinct`` plans as Spark's two-phase distinct aggregate
    (partial distinct before the exchange), never a driver-side set.
    """
    if not aggs:
        raise ValueError("bgp_aggregate needs at least one aggregate")
    keys = [v.lstrip("?") for v in group_by]

    # variables the aggregation actually consumes
    needed = list(keys)
    for fn, var, _alias in aggs:
        if var != "*" and var.lstrip("?") not in needed:
            needed.append(var.lstrip("?"))

    bindings = bgp_query(
        triples,
        patterns,
        select=needed,
        allow_cartesian=allow_cartesian,
        optional_patterns=optional_patterns,
        filters=filters,
        not_exists=not_exists,
        graph=graph,
        values=values,
        exists=exists,
        sub_solutions=sub_solutions,
    )

    exprs = []
    for fn, var, alias in aggs:
        sep = " "
        if fn.startswith(("group_concat:", "group_concat_distinct:")):
            fn, sep = fn.split(":", 1)
        if var == "*":
            if fn != "count":
                raise ValueError(f"'*' is only valid with count, got {fn!r}")
            exprs.append(F.count(F.lit(1)).alias(alias))
            continue
        col = F.col(var.lstrip("?"))
        if fn == "count":
            exprs.append(F.count(col).alias(alias))
        elif fn == "count_distinct":
            exprs.append(F.count_distinct(col).alias(alias))
        elif fn in ("sum", "avg"):
            agg = F.sum if fn == "sum" else F.avg
            exprs.append(agg(col.try_cast("double")).alias(alias))
        elif fn in ("min", "max"):
            exprs.append((F.min if fn == "min" else F.max)(col).alias(alias))
        elif fn == "group_concat":
            exprs.append(
                F.array_join(F.array_sort(F.collect_list(col)), sep).alias(alias)
            )
        elif fn == "group_concat_distinct":
            # SPARQL GROUP_CONCAT(DISTINCT x; separator=sep): the
            # distinct bag via collect_set (partial sets merge map-side)
            exprs.append(
                F.array_join(F.array_sort(F.collect_set(col)), sep).alias(alias)
            )
        elif fn == "sample":
            exprs.append(F.min(col).alias(alias))
        else:
            raise ValueError(f"unknown aggregate {fn!r}")

    out = bindings.groupBy(*keys).agg(*exprs) if keys else bindings.agg(*exprs)

    aliases = {a for _f, _v, a in aggs}
    for entry in having or []:
        if not (
            isinstance(entry, tuple)
            and len(entry) == 3
            and isinstance(entry[0], str)
        ):
            # boolean combinator / expression node over alias columns —
            # the FILTER node grammar, scoped to aggregate aliases and
            # group keys (SPARQL allows full expressions in HAVING; the
            # same one-row-local-predicate compilation applies)
            scope = aliases | set(keys)
            for v in _filter_vars(entry):
                if v not in scope:
                    raise ValueError(
                        f"HAVING on unknown aggregate alias {v!r}"
                    )
            out = out.filter(_filter_col(entry, scope))
            continue
        alias, op, value = entry
        if alias not in aliases and alias not in keys:
            # same scope as the expression path: aliases + group keys
            raise ValueError(f"HAVING on unknown aggregate alias {alias!r}")
        if op not in _OPS:
            raise ValueError(f"unknown HAVING op {op!r}")
        col = F.col(alias)
        if op in _NUMERIC_COMPARABLE and isinstance(
            value, (int, float)
        ) and not isinstance(value, bool):
            # same numeric rule as FILTER: a STRING-typed aggregate
            # (min/max/sample/group_concat) compared against a number
            # must not take the raw comparison path — under ANSI a
            # non-numeric aggregate value would abort the job instead
            # of dropping as a SPARQL type error ('=' / '!=' implicitly
            # cast too). try_cast is a no-op
            # widening for the already-numeric count/sum/avg columns.
            col = col.try_cast("double")
            value = float(value)
        out = out.filter(_OPS[op](col, value))
    return out


def bgp_construct(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    template: Sequence[tuple[str, str, str]],
    distinct: bool = True,
    allow_cartesian: bool = False,
    optional_patterns: Sequence[object] | None = None,  # pattern lists or sub-group mappings
    filters: Sequence[object] | None = None,  # leaves or and/or nodes (_filter_col)
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    graph: str | None = None,
    values: Sequence[Mapping[str, str]] | None = None,
    exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate a triple TEMPLATE once per BGP
    solution, producing a NEW graph — which makes every template a
    materializable inference rule (body = the WHERE patterns, head =
    the template; e.g. invert membership edges, add type triples,
    flatten two-hop paths). Output: (subj, pred, obj_value).

    The template is a list of (s, p, o) terms, each a ``?variable``
    bound by the WHERE clause or a constant. Per the spec: the result
    is a GRAPH, so set semantics by default (``distinct=False`` for the
    bag); a solution that leaves any slot of a template triple NULL (an
    OPTIONAL variable that did not bind) skips THAT triple only.

    Plan shape: all template triples instantiate from ONE evaluation of
    the solution plan — an array-of-structs projection exploded once —
    never a per-template filter+union, which would re-run the BGP join
    tree once per template triple (the documented union double-
    evaluation gotcha). The trailing distinct is one exchange on the
    output triples.
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    tvars = sorted(
        {t.lstrip("?") for pat in template for t in pat if _is_var(t)}
    )
    bindings = bgp_query(
        triples,
        patterns,
        select=tvars or None,
        allow_cartesian=allow_cartesian,
        optional_patterns=optional_patterns,
        filters=filters,
        not_exists=not_exists,
        graph=graph,
        values=values,
        exists=exists,
    )

    def slot(term: str):
        return F.col(term.lstrip("?")) if _is_var(term) else F.lit(term)

    entries = F.array(
        *[
            F.struct(
                slot(s).alias("subj"),
                slot(p).alias("pred"),
                slot(o).alias("obj_value"),
            )
            for s, p, o in template
        ]
    )
    out = (
        bindings.select(F.explode(entries).alias("_t"))
        .select("_t.subj", "_t.pred", "_t.obj_value")
        .filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj_value").isNotNull()
        )
    )
    return out.distinct() if distinct else out


def bgp_ask(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    allow_cartesian: bool = False,
    optional_patterns: Sequence[object] | None = None,  # pattern lists or sub-group mappings
    filters: Sequence[object] | None = None,  # leaves or and/or nodes (_filter_col)
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    graph: str | None = None,
    values: Sequence[Mapping[str, str]] | None = None,
    exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
) -> DataFrame:
    """SPARQL ASK: does the pattern match at all? Returns a one-row
    DataFrame ``(matched boolean)`` — with SELECT (:func:`bgp_query`),
    aggregates (:func:`bgp_aggregate`) and CONSTRUCT
    (:func:`bgp_construct`) this completes the SPARQL query verbs.

    Plan shape: a LIMIT 1 over the solution plan, then a
    count-to-boolean. Because the aggregate sits ABOVE the limit, the
    limit plans as LocalLimit-per-partition + a single-partition
    exchange + GlobalLimit — every partition's task is still scheduled,
    but each one STOPS at its first local match and ships at most one
    row, so the work per task is the probe, not the partition. (It is
    NOT Spark's incremental CollectLimit scheduling — that only applies
    when the limit is the terminal collect.) Never a full count of the
    solution set either way.
    """
    first = bgp_query(
        triples,
        patterns,
        allow_cartesian=allow_cartesian,
        optional_patterns=optional_patterns,
        filters=filters,
        not_exists=not_exists,
        graph=graph,
        values=values,
        exists=exists,
    ).limit(1)
    return first.agg((F.count(F.lit(1)) > 0).alias("matched"))


def bgp_describe(
    triples: DataFrame,
    describe: str,
    patterns: Sequence[tuple[str, str, str]] | None = None,
    allow_cartesian: bool = False,
    optional_patterns: Sequence[object] | None = None,  # pattern lists or sub-group mappings
    filters: Sequence[object] | None = None,  # leaves or and/or nodes (_filter_col)
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    graph: str | None = None,
    values: Sequence[Mapping[str, str]] | None = None,
    exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
) -> DataFrame:
    """SPARQL DESCRIBE — the last of the four query verbs (SELECT /
    ASK / CONSTRUCT / DESCRIBE): return the TRIPLES describing a
    resource rather than variable bindings.

    ``describe`` is either a constant URI (``DESCRIBE <uri>`` —
    ``patterns`` may be omitted) or a variable (``DESCRIBE ?x WHERE
    { ... }`` — the description covers every distinct binding of ?x in
    the WHERE solutions).

    The description form is implementation-defined by the spec (§16.4);
    this engine returns the resource's OUTBOUND triples (every quad
    whose subject is a described node). That is exactly the Concise
    Bounded Description here, because this engine skolemizes blank
    nodes at parse time (rdfxml.py) — CBD's recursive blank-node
    closure has nothing left to recurse into. Filtering/graph scoping
    applies to the WHERE clause only; the description itself is drawn
    from the full quad store, per spec.

    Plan shape: the WHERE clause evaluates once, its described-variable
    column distincts into a node set (one exchange over a single
    column), and the store is LEFT SEMI joined on ``subj`` — existence
    only, no row multiplication, and the solution set never fans out
    over the store's width. A selective WHERE yields a small node set
    that AQE turns into a broadcast semi-join at runtime; DESCRIBE of a
    constant is a pushed-down point filter with no join at all.
    """
    if not _is_var(describe):
        if (
            patterns
            or optional_patterns
            or filters
            or not_exists
            or graph is not None
            or values
        ):
            # the spec describes a constant regardless of the pattern's
            # solutions, so a WHERE clause here would be silently inert —
            # reject instead (gate on bindings with DESCRIBE ?var)
            raise ValueError(
                "DESCRIBE of a constant takes no WHERE clause / filters "
                "in this subset; use DESCRIBE ?var WHERE { ... } to "
                "describe pattern bindings"
            )
        node = describe
        # the <...> literal-match escape, same stripping as scan()
        if len(node) > 2 and node[0] == "<" and node[-1] == ">":
            node = node[1:-1]
        return triples.filter(F.col("subj") == node)
    if not patterns:
        raise ValueError(
            "DESCRIBE of a variable needs WHERE patterns binding it"
        )
    nodes = bgp_query(
        triples,
        patterns,
        select=[describe],
        distinct=True,
        allow_cartesian=allow_cartesian,
        optional_patterns=optional_patterns,
        filters=filters,
        not_exists=not_exists,
        graph=graph,
        values=values,
        exists=exists,
    ).withColumnRenamed(describe.lstrip("?"), "subj")
    return triples.join(nodes, on="subj", how="left_semi")
