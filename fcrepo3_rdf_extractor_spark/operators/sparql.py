"""SPARQL text front-end: parse a SPARQL query STRING into the engine's
BGP compiler calls.

The reference pipeline feeds Fedora's Resource Index, which users query
with SPARQL text — so "a user of the reference could switch" needs a
string front-end, not only the programmatic pattern API. This module is
a small recursive-descent parser over the subset the compiler
(operators/bgp.py) implements, mapping 1:1 onto its functions — the
parser produces exactly the (patterns, optional, filters, not_exists,
graph, values, ...) structures, so every plan property pinned for the
programmatic API holds verbatim for parsed queries. Parsing is
driver-side metadata work; no Spark cost.

Supported grammar (SPARQL 1.1 syntax, the compiler's semantic subset):

- ``PREFIX pfx: <iri>`` prologue; ``a`` for rdf:type
- verbs: ``SELECT [DISTINCT] (?v... | * | (AGG(?v) AS ?alias)...)``,
  ``ASK``, ``CONSTRUCT { template }``, ``DESCRIBE (?v | <uri>)``
- WHERE group: triple patterns ('.'-separated), ``OPTIONAL { ... }``
  (nestable; may contain its own FILTERs, scoped to whether the group
  matches), ``FILTER(...)`` (comparisons — either side a full
  expression: variables, literals, arithmetic, ``STRLEN``/``LCASE``/
  ``UCASE``/``SUBSTR``/``CONCAT``/``STR`` — plus bare boolean
  functions ``STRSTARTS``/``STRENDS``/``CONTAINS``/``BOUND``,
  ``REGEX``, ``?v [NOT] IN (v1, v2, ...)``, combined with ``&&`` /
  ``||`` / ``!`` and parentheses — one row-local predicate per FILTER;
  a comparison touching a numeric-TYPED side — numeric literal,
  arithmetic, STRLEN — try_casts the string side to double, so
  non-numeric bindings drop as SPARQL type errors; a top-level filter
  may reference OPTIONAL-bound variables, deferred to after the left
  join per §18.2.2.2, which makes ``!BOUND(?v)`` the find-the-absent
  idiom), ``FILTER EXISTS
  { ... }`` (group-level positive existence -> LEFT SEMI join),
  ``FILTER NOT EXISTS { ... }`` / ``MINUS { ... }``, ``VALUES``
  (single- and multi-var, UNDEF), ``GRAPH g { ... }`` as the group
  wrapper, top-level ``{ A } UNION { B }`` alternation, and
  ``{ SELECT ... }`` subqueries (§12, one nesting level: evaluated
  bottom-up, joined on shared variables; a group-less aggregate
  subquery is a scalar attached via the 1-row broadcast shape)
- property paths: ``pred+ pred* pred? ^pred (p|q)+ !p !(p|q)`` (the compiler's
  path subset) and sequences ``p/q`` (desugared to a join chain
  through fresh intermediate variables, hidden from ``SELECT *``;
  each step keeps its own inverse/modifier syntax, so ``p/^q`` and
  ``p/q+`` compose)
- ``BIND(expr AS ?var)``: ``?var``, literals, ``CONCAT``, ``STR``,
  and ``+ - * /`` arithmetic (try_cast(double) operand semantics,
  matching FILTER); applied after the group evaluates, usable in
  SELECT and ORDER BY; rebinding a pattern variable is rejected
- aggregates: COUNT([DISTINCT] ?v | *), SUM, AVG, MIN, MAX,
  GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR = "s"]), SAMPLE, with
  ``GROUP BY`` and ``HAVING(...)`` over projection aliases — a single
  ``?alias op value`` leaf or a full boolean expression (the FILTER
  grammar: ``&&``/``||``/``!``, IN, arithmetic/function operands)
- solution modifiers: ``ORDER BY [ASC|DESC](?v)...``, ``LIMIT``,
  ``OFFSET`` — including over aggregate queries (sort keys = group
  keys / aggregate aliases; ``GROUP BY .. ORDER BY DESC(?n) LIMIT k``
  is the top-k idiom and plans as TakeOrderedAndProject) and over
  UNION results

SELECT expressions ``(expr AS ?v)`` are accepted as sugar for
``BIND(expr AS ?v)`` projected under the alias (same expression
grammar, same rebind rules).

Deliberate subset limits (each raises a clear SparqlParseError):
FILTER functions beyond the expression set above (no LANG/DATATYPE —
the table stores ``obj_lang``/``obj_datatype``, but a BGP variable
binding carries only the term's lexical value, so a bound variable has
no tag or datatype left to read — and EXISTS is a group-level
construct, not an expression operand),
a group filter referencing a variable its OPTIONAL group does
not bind (outer-variable filter scope), MINUS/VALUES/BIND/EXISTS
inside OPTIONAL, UNION combined with
TOP-LEVEL OPTIONAL/FILTER/aggregates in the same query (branches DO
take their own FILTERs and OPTIONAL groups — each scoped to its
branch), and bare alternation without a path modifier. These mirror
the compiler's own surface —
the parser never accepts syntax the engine would silently mis-run.

Term mapping: IRIs and literals are emitted BRACKETED (``<...>``, the
compiler's literal-match escape hatch) so a URI ending in ``+``/``?``
or containing ``|`` can never be misread as a property path; the path
readings are produced only from explicit path SYNTAX. Plain literals
are emitted bracketed for the same reason (the store matches lexical
forms, so ``"x"`` and ``<x>`` both mean obj_value == 'x'). Numeric
FILTER literals become Python floats (the compiler's try_cast numeric
semantics); quoted ones stay strings (lexicographic).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlParseError(ValueError):
    """Raised on syntax outside the supported SPARQL subset."""


# --- lexer ------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<COMMENT>\#[^\n]*)
  | (?P<IRI><[^<>\s]*>)
  | (?P<STRING>"(?:[^"\\]|\\.)*")
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<NUMBER>[+-]?\d+(?:\.\d+)?)
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_-]*:(?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)
  | (?P<KEYWORD>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<PUNCT>\|\||&&|\(|\)|\{|\}|\.|;|,|\*|\+|\?|\^|\||=|!=|!|<=|>=|<|>|/|-)
    """,
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    text: str
    pos: int


def _lex(text: str) -> list[_Tok]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise SparqlParseError(f"unexpected character at {i}: {text[i:i+20]!r}")
        kind = m.lastgroup
        if kind not in ("WS", "COMMENT"):
            toks.append(_Tok(kind, m.group(), i))
        i = m.end()
    toks.append(_Tok("EOF", "", len(text)))
    return toks


# --- parsed form ------------------------------------------------------------


@dataclass
class ParsedQuery:
    """The compiler-call description a SPARQL string parses into."""

    verb: str  # select | ask | construct | describe
    patterns: list[tuple[str, str, str]] = field(default_factory=list)
    select: list[str] | None = None
    distinct: bool = False
    # each entry: a plain pattern list, or the compiler's sub-group
    # mapping {"patterns", "optional", "filters"} (nested OPTIONAL)
    optional_patterns: list[object] = field(default_factory=list)
    # each entry: a (var, op, value) leaf or an ("and"/"or", [nodes])
    # boolean combinator (operators/bgp.py:_filter_col)
    filters: list[object] = field(default_factory=list)
    not_exists: list[list[tuple[str, str, str]]] = field(default_factory=list)
    graph: str | None = None
    values: list[dict[str, str]] = field(default_factory=list)
    order_by: list[tuple[str, str]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None  # None = absent (so 'OFFSET 0 OFFSET 5'
    # still trips the duplicate guard); consumers read `q.offset or 0`
    # each branch: a plain pattern list or the sub-group mapping
    # (branch-scoped FILTERs / nested OPTIONAL), like optional_patterns
    union_branches: list[object] = field(default_factory=list)
    binds: list[tuple[str, object]] = field(default_factory=list)
    exists: list[list[tuple[str, str, str]]] = field(default_factory=list)
    group_by: list[str] | None = None
    aggs: list[tuple[str, str, str]] = field(default_factory=list)
    having: list[object] = field(default_factory=list)
    template: list[tuple[str, str, str]] = field(default_factory=list)
    describe: str | None = None
    subselects: list["ParsedQuery"] = field(default_factory=list)


_AGG_FNS = {
    "COUNT": "count",
    "SUM": "sum",
    "AVG": "avg",
    "MIN": "min",
    "MAX": "max",
    "GROUP_CONCAT": "group_concat",
    "SAMPLE": "sample",
}


class _Parser:
    def __init__(self, text: str):
        self.toks = _lex(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._n_seq_vars = 0  # fresh intermediates for p/q path desugar

    # -- token helpers --
    def peek(self, ahead: int = 0) -> _Tok:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        t = self.peek()
        if t.kind == "KEYWORD" and t.text.upper() == word:
            self.next()
            return True
        return False

    def expect_kw(self, word: str) -> None:
        if not self.kw(word):
            t = self.peek()
            raise SparqlParseError(f"expected {word} at {t.pos}, got {t.text!r}")

    def punct(self, ch: str) -> bool:
        t = self.peek()
        if t.kind == "PUNCT" and t.text == ch:
            self.next()
            return True
        return False

    def expect_punct(self, ch: str) -> None:
        if not self.punct(ch):
            t = self.peek()
            raise SparqlParseError(f"expected {ch!r} at {t.pos}, got {t.text!r}")

    # -- terms --
    def _expand_pname(self, pname: str, pos: int) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise SparqlParseError(f"undeclared prefix {pfx!r}: at {pos}")
        return self.prefixes[pfx] + local

    def iri_or_pname(self) -> str:
        """A raw IRI string (no brackets) — for PREFIX decls and DESCRIBE."""
        t = self.peek()
        if t.kind == "IRI":
            self.next()
            return t.text[1:-1]
        if t.kind == "PNAME":
            self.next()
            return self._expand_pname(t.text, t.pos)
        raise SparqlParseError(f"expected an IRI at {t.pos}, got {t.text!r}")

    def term(self, position: str) -> str:
        """One pattern term -> the compiler's term syntax. Constants are
        BRACKETED (literal-match escape) unless path syntax applies."""
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return "?" + t.text[1:]
        if t.kind == "STRING":
            self.next()
            return "<" + _unescape(t.text[1:-1]) + ">"
        if t.kind == "NUMBER":
            self.next()
            return "<" + t.text + ">"
        if position == "pred":
            return self._predicate_path()
        if t.kind in ("IRI", "PNAME"):
            return "<" + self.iri_or_pname() + ">"
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            return "<" + _RDF_TYPE + ">"
        raise SparqlParseError(f"expected a term at {t.pos}, got {t.text!r}")

    def _predicate_path(self) -> str:
        """Predicate position: plain IRI (bracketed literal), ``a``, or a
        property path — ``^p``, ``p+ p* p?``, ``(p|q)+``. Path output is
        the compiler's UNBRACKETED syntax; plain IRIs stay bracketed so
        a URI's own trailing ``+`` can't be misread."""
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "!":
            # negated property set: !p or !(p|q) — match any predicate
            # NOT in the set (SPARQL 1.1 §9.1 PathNegatedPropertySet;
            # inverse members !^p are outside the subset)
            self.next()
            t = self.peek()
            if t.kind == "PUNCT" and t.text == "(":
                self.next()
                alts = [self.iri_or_pname()]
                while self.punct("|"):
                    alts.append(self.iri_or_pname())
                self.expect_punct(")")
            elif t.kind == "KEYWORD" and t.text == "a":
                self.next()
                alts = [_RDF_TYPE]
            elif t.kind == "PUNCT" and t.text == "^":
                raise SparqlParseError(
                    f"!^p at {t.pos}: inverse members of a negated "
                    "property set are not in the engine's subset"
                )
            else:
                alts = [self.iri_or_pname()]
            return "!" + "|".join(alts)
        inverse = False
        if t.kind == "PUNCT" and t.text == "^":
            self.next()
            inverse = True
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "(":
            if inverse:
                raise SparqlParseError(
                    f"^(p|q) at {t.pos}: inverse of an alternation is not "
                    "in the engine's path subset"
                )
            self.next()
            alts = [self.iri_or_pname()]
            while self.punct("|"):
                alts.append(self.iri_or_pname())
            self.expect_punct(")")
            mod = self._path_mod()
            if mod is None:
                raise SparqlParseError(
                    "bare alternation (p|q) without +/*/? is not in the "
                    "engine's path subset — use a UNION of patterns"
                )
            return "|".join(alts) + mod
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            iri = _RDF_TYPE
        else:
            iri = self.iri_or_pname()
        mod = self._path_mod()
        if mod is not None:
            if inverse:
                raise SparqlParseError(
                    "^p with a path modifier is not in the engine's subset"
                )
            return iri + mod
        if inverse:
            # keep the literal-match brackets INSIDE the inverse marker:
            # scan() strips ^ then the brackets, so an IRI whose own last
            # character is +/*/? can never be re-read as a path
            return "^<" + iri + ">"
        return "<" + iri + ">"

    def _path_mod(self) -> str | None:
        t = self.peek()
        if t.kind == "PUNCT" and t.text in ("+", "*", "?"):
            self.next()
            return t.text
        return None

    # -- query --
    def parse(self) -> ParsedQuery:
        while self.kw("PREFIX"):
            t = self.next()
            # the declaration label must be exactly "pfx:" (a PNAME with
            # an EMPTY local part) — "ex:junk" here is a typo, not a
            # declaration, and accepting it would silently register "ex"
            # and discard "junk"
            if t.kind != "PNAME" or not t.text.endswith(":"):
                raise SparqlParseError(
                    f"expected 'pfx:' after PREFIX at {t.pos}, "
                    f"got {t.text!r}"
                )
            pfx = t.text[: t.text.index(":")]
            iri_t = self.next()
            if iri_t.kind != "IRI":
                raise SparqlParseError(f"expected <iri> at {iri_t.pos}")
            self.prefixes[pfx] = iri_t.text[1:-1]

        if self.kw("SELECT"):
            q = self._select()
        elif self.kw("ASK"):
            q = ParsedQuery(verb="ask")
            self.kw("WHERE")
            self._group(q)
        elif self.kw("CONSTRUCT"):
            q = ParsedQuery(verb="construct")
            self.expect_punct("{")
            q.template = self._triples_block()
            self.expect_punct("}")
            self.expect_kw("WHERE")
            self._group(q)
        elif self.kw("DESCRIBE"):
            q = ParsedQuery(verb="describe")
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                q.describe = "?" + t.text[1:]
            else:
                q.describe = self.iri_or_pname()
            if self.kw("WHERE") or self.peek().text == "{":
                self._group(q)
        else:
            t = self.peek()
            raise SparqlParseError(
                f"expected SELECT/ASK/CONSTRUCT/DESCRIBE at {t.pos}, "
                f"got {t.text!r}"
            )

        if q.verb in ("select",):
            self._solution_modifiers(q)
        t = self.peek()
        if t.kind != "EOF":
            raise SparqlParseError(f"trailing input at {t.pos}: {t.text!r}")
        self._check_shape(q)
        return q

    def _select(self) -> ParsedQuery:
        q = ParsedQuery(verb="select")
        q.distinct = self.kw("DISTINCT")
        sel: list[str] = []
        star = False
        while True:
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                sel.append(t.text[1:])
            elif t.kind == "PUNCT" and t.text == "*" and not sel and not q.aggs:
                self.next()
                star = True
                break
            elif t.kind == "PUNCT" and t.text == "(":
                self.next()
                head = self.peek()
                if head.kind == "KEYWORD" and head.text.upper() in _AGG_FNS:
                    q.aggs.append(self._agg_projection())
                else:
                    # SPARQL 1.1 SELECT expression: (expr AS ?v) — sugar
                    # for BIND(expr AS ?v) projected under the alias;
                    # reuses the BIND grammar, so the rebind and
                    # BIND-with-aggregates validations apply unchanged.
                    expr = self._bind_expr()
                    self.expect_kw("AS")
                    v = self.next()
                    if v.kind != "VAR":
                        raise SparqlParseError(
                            f"expected ?alias after AS at {v.pos}"
                        )
                    self.expect_punct(")")
                    q.binds.append(("?" + v.text[1:], expr))
                    sel.append(v.text[1:])
            else:
                break
        q.select = None if star else sel
        self.kw("WHERE")
        self._group(q)
        return q

    def _agg_projection(self) -> tuple[str, str, str]:
        t = self.next()
        fn = _AGG_FNS.get(t.text.upper()) if t.kind == "KEYWORD" else None
        if fn is None:
            raise SparqlParseError(
                f"unsupported aggregate {t.text!r} at {t.pos} "
                f"(supported: {sorted(_AGG_FNS)})"
            )
        self.expect_punct("(")
        distinct = self.kw("DISTINCT")
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "*":
            self.next()
            var = "*"
        elif t.kind == "VAR":
            self.next()
            var = "?" + t.text[1:]
        else:
            raise SparqlParseError(f"expected ?var or * at {t.pos}")
        sep = None
        if self.punct(";"):
            self.expect_kw("SEPARATOR")
            self.expect_punct("=")
            s = self.next()
            if s.kind != "STRING":
                raise SparqlParseError(f"expected a string separator at {s.pos}")
            sep = _unescape(s.text[1:-1])
        self.expect_punct(")")
        self.expect_kw("AS")
        a = self.next()
        if a.kind != "VAR":
            raise SparqlParseError(f"expected ?alias after AS at {a.pos}")
        self.expect_punct(")")
        if distinct:
            if fn == "count":
                fn = "count_distinct"
            elif fn == "group_concat":
                fn = "group_concat_distinct"
            else:
                raise SparqlParseError(
                    f"DISTINCT inside {fn.upper()} is not in the subset"
                )
        if sep is not None:
            if not fn.startswith("group_concat"):
                raise SparqlParseError("SEPARATOR is only for GROUP_CONCAT")
            fn = f"{fn}:{sep}"
        return (fn, var, a.text[1:])

    # -- group graph pattern --
    def _group(self, q: ParsedQuery) -> None:
        self.expect_punct("{")
        # GRAPH wrapper around the whole group
        if self.kw("GRAPH"):
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                q.graph = "?" + t.text[1:]
            else:
                q.graph = self.iri_or_pname()
            self._group_body(q)
            self.expect_punct("}")  # GRAPH's own braces
            self._group_tail(q)
            self.expect_punct("}")
            return
        self._group_body_open(q)
        self.expect_punct("}")

    def _group_body(self, q: ParsedQuery) -> None:
        self.expect_punct("{")
        self._group_items(q)

    def _group_body_open(self, q: ParsedQuery) -> None:
        # first alternative: UNION of groups ('{ SELECT' is a
        # subquery, not a branch — _group_items handles it). A branch
        # has the same content grammar as an OPTIONAL group: patterns,
        # FILTERs, nested OPTIONAL — each scoped to its branch.
        nt = self.peek(1)
        if self.peek().text == "{" and not (
            nt.kind == "KEYWORD" and nt.text.upper() == "SELECT"
        ):
            save = self.i
            self.next()
            try:
                branch = self._optional_group()
                closed = self.punct("}")
            except SparqlParseError:
                branch, closed = None, False
            if closed and self.kw("UNION"):
                q.union_branches.append(branch)
                while True:
                    self.expect_punct("{")
                    q.union_branches.append(self._optional_group())
                    self.expect_punct("}")
                    if not self.kw("UNION"):
                        break
                return
            self.i = save  # not a UNION — re-parse as ordinary items
        self._group_items(q)

    def _group_items(self, q: ParsedQuery) -> None:
        while True:
            t = self.peek()
            if t.kind == "PUNCT" and t.text == "}":
                return
            if t.kind == "KEYWORD" and t.text.upper() == "OPTIONAL":
                self.next()
                self.expect_punct("{")
                q.optional_patterns.append(self._optional_group())
                self.expect_punct("}")
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "MINUS":
                self.next()
                self.expect_punct("{")
                q.not_exists.append(self._triples_block())
                self.expect_punct("}")
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "FILTER":
                self.next()
                if self.kw("NOT"):
                    self.expect_kw("EXISTS")
                    self.expect_punct("{")
                    q.not_exists.append(self._triples_block())
                    self.expect_punct("}")
                elif self.kw("EXISTS"):
                    self.expect_punct("{")
                    q.exists.append(self._triples_block())
                    self.expect_punct("}")
                else:
                    q.filters.append(self._filter_constraint())
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "VALUES":
                self.next()
                q.values.extend(self._values_block())
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "BIND":
                self.next()
                self.expect_punct("(")
                expr = self._bind_expr()
                self.expect_kw("AS")
                v = self.next()
                if v.kind != "VAR":
                    raise SparqlParseError(f"expected ?var at {v.pos}")
                self.expect_punct(")")
                q.binds.append(("?" + v.text[1:], expr))
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "GRAPH":
                raise SparqlParseError(
                    f"GRAPH at {t.pos}: only as the wrapper of the whole "
                    "WHERE group in this subset"
                )
            if t.kind == "PUNCT" and t.text == "{":
                # SPARQL 1.1 §12 subquery: { SELECT ... } inside a group
                nt = self.peek(1)
                if not (nt.kind == "KEYWORD" and nt.text.upper() == "SELECT"):
                    raise SparqlParseError(
                        f"nested group at {t.pos}: only "
                        "'{ SELECT ... }' subqueries are supported "
                        "inside a group"
                    )
                self.next()  # {
                self.expect_kw("SELECT")
                sub = self._select()
                self._solution_modifiers(sub)
                self._check_shape(sub)
                if sub.subselects:
                    raise SparqlParseError(
                        "subqueries nest one level only in this subset"
                    )
                if sub.union_branches:
                    raise SparqlParseError(
                        "UNION inside a subquery is not in the subset"
                    )
                if sub.graph is not None:
                    raise SparqlParseError(
                        "GRAPH inside a subquery is not in the subset"
                    )
                self.expect_punct("}")
                self.punct(".")
                q.subselects.append(sub)
                continue
            pats = self._triples_block()
            if not pats:
                raise SparqlParseError(
                    f"expected a triple pattern at {t.pos}, got {t.text!r}"
                )
            q.patterns.extend(pats)

    def _optional_group(self) -> object:
        """Contents of ``OPTIONAL { ... }``: triple patterns, FILTER
        constraints scoped to the group, and nested OPTIONAL groups.
        Returns the plain pattern list when the group is patterns-only
        (the compiler's original form, keeping every existing pin
        byte-identical) or the compiler's sub-group mapping otherwise.
        """
        patterns: list[tuple[str, str, str]] = []
        optional: list[object] = []
        filters: list[object] = []
        while True:
            t = self.peek()
            if t.kind in ("PUNCT", "EOF") and t.text in ("}", ""):
                break
            if t.kind == "KEYWORD" and t.text.upper() == "OPTIONAL":
                self.next()
                self.expect_punct("{")
                optional.append(self._optional_group())
                self.expect_punct("}")
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() == "FILTER":
                self.next()
                nt = self.peek()
                if nt.kind == "KEYWORD" and nt.text.upper() in (
                    "NOT", "EXISTS",
                ):
                    raise SparqlParseError(
                        f"FILTER [NOT] EXISTS inside OPTIONAL is not in "
                        f"the subset (at {t.pos})"
                    )
                filters.append(self._filter_constraint())
                self.punct(".")
                continue
            if t.kind == "KEYWORD" and t.text.upper() in (
                "MINUS", "VALUES", "BIND", "GRAPH", "UNION",
            ):
                raise SparqlParseError(
                    f"{t.text.upper()} inside OPTIONAL is not in the "
                    f"subset (at {t.pos})"
                )
            pats = self._triples_block()
            if not pats:
                raise SparqlParseError(
                    f"expected a triple pattern at {t.pos}, got {t.text!r}"
                )
            patterns.extend(pats)
        if not patterns:
            raise SparqlParseError("empty OPTIONAL group")
        if optional or filters:
            return {
                "patterns": patterns,
                "optional": optional,
                "filters": filters,
            }
        return patterns

    def _triples_block(self) -> list[tuple[str, str, str]]:
        """Dot-separated triple patterns with ';' predicate lists."""
        out: list[tuple[str, str, str]] = []
        while True:
            t = self.peek()
            if t.kind in ("PUNCT", "EOF") and t.text in ("}", "{", ""):
                # '{' opens a nested group (subquery) — the caller's turn
                return out
            if t.kind == "KEYWORD" and t.text.upper() in (
                "OPTIONAL", "FILTER", "MINUS", "VALUES", "GRAPH", "UNION",
                "BIND",
            ):
                return out
            subj = self.term("subj")
            while True:
                # sequence property path (p/q/...): each step keeps its
                # own per-step syntax (inverse, modifier, alternation)
                preds = [self.term("pred")]
                while self.punct("/"):
                    preds.append(self.term("pred"))
                obj = self.term("obj")
                if len(preds) == 1:
                    out.append((subj, preds[0], obj))
                else:
                    # desugar: chain through fresh intermediates —
                    # ?s p/q ?o ≡ ?s p ?_seqN . ?_seqN q ?o. The
                    # synthetic variables are dropped from SELECT *
                    # (_check_shape), matching SPARQL's path scoping.
                    cur = subj
                    for k, p in enumerate(preds):
                        if k == len(preds) - 1:
                            nxt = obj
                        else:
                            nxt = f"?_seq{self._n_seq_vars}"
                            self._n_seq_vars += 1
                        out.append((cur, p, nxt))
                        cur = nxt
                if self.punct(";"):
                    continue
                break
            if not self.punct("."):
                return out

    def _bind_expr(self) -> object:
        """BIND expression subset -> the compiler's AST tuples
        (operators.bgp._bind_expr_col): ``?var``, string/number
        literals, ``CONCAT(...)``, ``STR(...)``, parentheses, and
        ``+ - * /`` with standard precedence over try_cast(double)
        operands."""
        left = self._bind_mul()
        while True:
            t = self.peek()
            if t.kind == "PUNCT" and t.text in ("+", "-"):
                self.next()
                left = ("arith", t.text, left, self._bind_mul())
            elif t.kind == "NUMBER" and t.text[0] in "+-":
                # unspaced arithmetic: the lexer's signed-NUMBER rule
                # eats the operator of '?a+1' / '?n-1' into the literal
                # — re-read the sign as the binary operator and leave
                # the magnitude for _bind_mul (so '?a+1*2' keeps *
                # precedence). A NUMBER can never legitimately FOLLOW a
                # complete operand inside an expression.
                op = t.text[0]
                t.text = t.text[1:]
                left = ("arith", op, left, self._bind_mul())
            else:
                return left

    def _bind_mul(self) -> object:
        left = self._bind_prim()
        while True:
            t = self.peek()
            if t.kind == "PUNCT" and t.text in ("*", "/"):
                self.next()
                left = ("arith", t.text, left, self._bind_prim())
            else:
                return left

    def _bind_prim(self) -> object:
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return ("var", "?" + t.text[1:])
        if t.kind == "STRING":
            self.next()
            return ("const", _unescape(t.text[1:-1]))
        if t.kind == "NUMBER":
            self.next()
            return ("const", float(t.text))
        if t.kind == "PUNCT" and t.text == "(":
            self.next()
            inner = self._bind_expr()
            self.expect_punct(")")
            return inner
        if t.kind == "KEYWORD" and t.text.upper() == "CONCAT":
            self.next()
            self.expect_punct("(")
            args = [self._bind_expr()]
            while self.punct(","):
                args.append(self._bind_expr())
            self.expect_punct(")")
            return ("concat", args)
        if t.kind == "KEYWORD" and t.text.upper() == "STR":
            self.next()
            self.expect_punct("(")
            inner = self._bind_expr()
            self.expect_punct(")")
            return ("str", inner)
        up = t.text.upper() if t.kind == "KEYWORD" else ""
        if up in ("STRLEN", "LCASE", "UCASE"):
            self.next()
            self.expect_punct("(")
            inner = self._bind_expr()
            self.expect_punct(")")
            return (up.lower(), inner)
        if up == "SUBSTR":
            # SPARQL SUBSTR(source, start[, length]) — 1-based;
            # start/length are integer literals in this subset
            self.next()
            self.expect_punct("(")
            src = self._bind_expr()
            self.expect_punct(",")
            st = self.next()
            # fn:substring semantics diverge from Spark's substring for
            # non-positive starts (SPARQL -1 = whole string, Spark -1 =
            # last char), so only the region where the two agree is
            # accepted: integer start >= 1, integer length >= 0
            if st.kind != "NUMBER" or "." in st.text or int(st.text) < 1:
                raise SparqlParseError(
                    f"SUBSTR start must be an integer >= 1 at {st.pos}"
                )
            length = None
            if self.punct(","):
                lt = self.next()
                if (lt.kind != "NUMBER" or "." in lt.text
                        or int(lt.text) < 0):
                    raise SparqlParseError(
                        f"SUBSTR length must be an integer >= 0 at "
                        f"{lt.pos}"
                    )
                length = int(lt.text)
            self.expect_punct(")")
            return ("substr", src, int(st.text), length)
        if up in ("STRSTARTS", "STRENDS"):
            self.next()
            self.expect_punct("(")
            a = self._bind_expr()
            self.expect_punct(",")
            b = self._bind_expr()
            self.expect_punct(")")
            return (
                "strstarts" if up == "STRSTARTS" else "strends", a, b
            )
        if up == "BOUND":
            self.next()
            self.expect_punct("(")
            v = self.next()
            if v.kind != "VAR":
                raise SparqlParseError(f"BOUND takes a ?var at {v.pos}")
            self.expect_punct(")")
            return ("bound", "?" + v.text[1:])
        if t.kind == "IRI":
            # IRIs/prefixed names are constants in expression position
            # (the FILTER '?p = <iri>' form): lexical-form strings,
            # brackets stripped like pattern terms
            self.next()
            return ("const", t.text[1:-1])
        if t.kind == "PNAME":
            self.next()
            return ("const", self._expand_pname(t.text, t.pos))
        raise SparqlParseError(
            f"expression supports ?var, literals, IRIs, CONCAT, STR, "
            f"STRLEN, LCASE, UCASE, SUBSTR, STRSTARTS, STRENDS, BOUND, "
            f"and + - * / — got {t.text!r} at {t.pos}"
        )

    def _filter_constraint(self) -> object:
        """``FILTER( expr )`` — boolean expression over constraint leaves.

        Grammar (|| binds loosest, && tighter, parens free):
        ``expr := and ('||' and)* ; and := prim ('&&' prim)* ;
        prim := '(' expr ')' | leaf``. A lone leaf returns the flat
        (var, op, value) 3-tuple the compiler has always taken;
        combinators return ("or"/"and", [nodes...]) — the compiler's
        recursive node form (operators/bgp.py:_filter_col), ONE
        row-local predicate per FILTER.
        """
        self.expect_punct("(")
        node = self._filter_or()
        self.expect_punct(")")
        return node

    def _filter_or(self) -> object:
        parts = [self._filter_and()]
        while self.punct("||"):
            parts.append(self._filter_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def _filter_and(self) -> object:
        parts = [self._filter_prim()]
        while self.punct("&&"):
            parts.append(self._filter_prim())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def _filter_prim(self) -> object:
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "(":
            self.next()
            node = self._filter_or()
            self.expect_punct(")")
            return node
        if t.kind == "PUNCT" and t.text == "!":
            # SPARQL '!expr' (most commonly !BOUND(?v)); '!=' lexes as
            # one token, so a bare '!' here is always negation
            self.next()
            return ("not", self._filter_prim())
        return self._filter_leaf()

    def _filter_value(self) -> object:
        vt = self.next()
        if vt.kind == "STRING":
            return _unescape(vt.text[1:-1])
        if vt.kind == "NUMBER":
            return float(vt.text)
        if vt.kind == "IRI":
            return vt.text[1:-1]
        if vt.kind == "PNAME":
            return self._expand_pname(vt.text, vt.pos)
        raise SparqlParseError(f"expected a FILTER value at {vt.pos}")

    _BOOL_FN_NODES = ("strstarts", "strends", "contains_f", "bound")

    def _filter_leaf(self) -> object:
        t = self.peek()
        if t.kind == "KEYWORD" and t.text.upper() == "REGEX":
            # REGEX keeps its dedicated leaf form: (?var, 'regex', str)
            self.next()
            self.expect_punct("(")
            v = self.next()
            if v.kind != "VAR":
                raise SparqlParseError(f"expected ?var at {v.pos}")
            self.expect_punct(",")
            s = self.next()
            if s.kind != "STRING":
                raise SparqlParseError(f"expected a string at {s.pos}")
            self.expect_punct(")")
            return ("?" + v.text[1:], "regex", _unescape(s.text[1:-1]))
        if (
            t.kind == "KEYWORD"
            and t.text.upper() == "CONTAINS"
            and self.peek(1).text == "("
            and self.peek(2).kind == "VAR"
            and self.peek(3).text == ","
            and self.peek(4).kind == "STRING"
            and self.peek(5).text == ")"
        ):
            # the original (?var, 'contains', str) leaf — kept when the
            # args match it exactly; general operands fall through to
            # the expression form below
            self.next()
            self.expect_punct("(")
            v = self.next()
            self.expect_punct(",")
            s = self.next()
            self.expect_punct(")")
            return ("?" + v.text[1:], "contains", _unescape(s.text[1:-1]))
        if t.kind == "KEYWORD" and t.text.upper() == "CONTAINS":
            self.next()
            self.expect_punct("(")
            a = self._bind_expr()
            self.expect_punct(",")
            b = self._bind_expr()
            self.expect_punct(")")
            return ("bool", ("contains_f", a, b))
        # general constraint: expression [op expression] — covers the
        # legacy '?var op value' (emitted in its original flat-tuple
        # form so programmatic plans and plan pins are unchanged),
        # ?a op ?b, arithmetic, string functions, and bare boolean
        # functions (STRSTARTS/STRENDS/BOUND)
        lhs = self._bind_expr()
        nt = self.peek()
        if nt.kind == "KEYWORD" and nt.text.upper() in ("IN", "NOT"):
            if not (isinstance(lhs, tuple) and lhs[0] == "var"):
                raise SparqlParseError(
                    f"IN/NOT IN takes a plain ?var at {nt.pos}"
                )
            var = lhs[1]
            # SPARQL 1.1 §17.4.1.9 IN / NOT IN: sugar for a chain of
            # '='/'!=' tests — values compare on lexical forms like '='.
            negated = nt.text.upper() == "NOT"
            self.next()
            if negated:
                self.expect_kw("IN")
            self.expect_punct("(")
            vals = [self._filter_value()]
            while self.punct(","):
                vals.append(self._filter_value())
            self.expect_punct(")")
            return (var, "not_in" if negated else "in", tuple(vals))
        if nt.kind == "PUNCT" and nt.text in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            rhs = self._bind_expr()
            if (
                isinstance(lhs, tuple)
                and lhs[0] == "var"
                and isinstance(rhs, tuple)
                and rhs[0] == "const"
            ):
                return (lhs[1], nt.text, rhs[1])
            return ("cmp", nt.text, lhs, rhs)
        if isinstance(lhs, tuple) and lhs[0] in self._BOOL_FN_NODES:
            return ("bool", lhs)
        raise SparqlParseError(
            f"expected a comparison operator, IN, or a boolean function "
            f"at {nt.pos}, got {nt.text!r}"
        )

    def _values_block(self) -> list[dict[str, str]]:
        t = self.peek()
        rows: list[dict[str, str]] = []
        if t.kind == "VAR":  # VALUES ?x { v1 v2 }
            self.next()
            var = "?" + t.text[1:]
            self.expect_punct("{")
            while not self.punct("}"):
                rows.append({var: self._values_term()})
            return rows
        self.expect_punct("(")  # VALUES (?x ?y) { (a b) (c UNDEF) }
        vars_: list[str] = []
        while not self.punct(")"):
            v = self.next()
            if v.kind != "VAR":
                raise SparqlParseError(f"expected ?var at {v.pos}")
            vars_.append("?" + v.text[1:])
        self.expect_punct("{")
        while not self.punct("}"):
            self.expect_punct("(")
            row: dict[str, str] = {}
            for var in vars_:
                t = self.peek()
                if t.kind == "KEYWORD" and t.text.upper() == "UNDEF":
                    self.next()
                    continue
                row[var] = self._values_term()
            self.expect_punct(")")
            rows.append(row)
        return rows

    def _values_term(self) -> str:
        t = self.next()
        if t.kind == "STRING":
            return _unescape(t.text[1:-1])
        if t.kind == "NUMBER":
            return t.text
        if t.kind == "IRI":
            return t.text[1:-1]
        if t.kind == "PNAME":
            return self._expand_pname(t.text, t.pos)
        raise SparqlParseError(f"expected a VALUES term at {t.pos}")

    def _group_tail(self, q: ParsedQuery) -> None:
        """Nothing may follow a GRAPH wrapper inside the WHERE braces."""
        t = self.peek()
        if not (t.kind == "PUNCT" and t.text == "}"):
            raise SparqlParseError(
                f"GRAPH wraps the whole WHERE group in this subset; "
                f"unexpected {t.text!r} at {t.pos}"
            )

    def _solution_modifiers(self, q: ParsedQuery) -> None:
        if self.kw("GROUP"):
            self.expect_kw("BY")
            q.group_by = []
            while self.peek().kind == "VAR":
                q.group_by.append(self.next().text[1:])
        if self.kw("HAVING"):
            node = self._filter_constraint()
            if (isinstance(node, tuple) and len(node) == 3
                    and isinstance(node[0], str)
                    and node[0].startswith("?")
                    and node[1] not in ("in", "not_in")):
                # single '?alias op value' leaf: keep the historical
                # numeric coercion (HAVING(?n > "1") compares 1.0)
                alias, op, value = node
                if isinstance(value, str):
                    try:
                        value = float(value)
                    except ValueError:
                        pass
                q.having.append((alias.lstrip("?"), op, value))
            else:
                # full boolean expression over alias columns — the
                # FILTER node grammar, compiled by bgp_aggregate with
                # alias/group-key scope
                q.having.append(node)
        if self.kw("ORDER"):
            self.expect_kw("BY")
            while True:
                t = self.peek()
                if t.kind == "KEYWORD" and t.text.upper() in ("ASC", "DESC"):
                    self.next()
                    direction = t.text.lower()
                    self.expect_punct("(")
                    v = self.next()
                    if v.kind != "VAR":
                        raise SparqlParseError(f"expected ?var at {v.pos}")
                    self.expect_punct(")")
                    q.order_by.append((v.text[1:], direction))
                elif t.kind == "VAR":
                    self.next()
                    q.order_by.append((t.text[1:], "asc"))
                else:
                    break
        # SPARQL 1.1 LimitOffsetClauses: LIMIT and OFFSET in EITHER order
        while True:
            if self.kw("LIMIT"):
                t = self.next()
                if t.kind != "NUMBER":
                    raise SparqlParseError(f"expected a number at {t.pos}")
                if q.limit is not None:
                    raise SparqlParseError(f"duplicate LIMIT at {t.pos}")
                q.limit = int(t.text)
            elif self.kw("OFFSET"):
                t = self.next()
                if t.kind != "NUMBER":
                    raise SparqlParseError(f"expected a number at {t.pos}")
                if q.offset is not None:
                    raise SparqlParseError(f"duplicate OFFSET at {t.pos}")
                q.offset = int(t.text)
            else:
                break

    def _check_shape(self, q: ParsedQuery) -> None:
        if q.subselects:
            if q.verb != "select":
                raise SparqlParseError(
                    "subqueries are supported in SELECT queries only in "
                    "this subset"
                )
            if q.graph is not None:
                raise SparqlParseError(
                    "a subquery inside GRAPH is not in the subset"
                )
            if not q.patterns:
                raise SparqlParseError(
                    "a subquery needs at least one triple pattern in the "
                    "enclosing group (run the inner SELECT on its own "
                    "otherwise)"
                )
        if q.aggs and q.group_by is None:
            # SPARQL's implicit single group when any aggregate appears
            q.group_by = []
        if q.group_by is not None and not q.aggs:
            raise SparqlParseError("GROUP BY without any aggregate projection")
        if q.aggs and (q.select or q.order_by or q.limit is not None or q.offset):
            # bgp_aggregate's output is keys + aliases; plain vars in the
            # SELECT must be exactly the group keys
            extra = [v for v in (q.select or []) if v not in (q.group_by or [])]
            if extra:
                raise SparqlParseError(
                    f"non-grouped variables in an aggregate SELECT: {extra}"
                )
            # ORDER BY/LIMIT/OFFSET over the aggregated frame (the
            # SPARQL top-k idiom: GROUP BY .. ORDER BY DESC(?n) LIMIT
            # k — plans as TakeOrderedAndProject); sort keys must be
            # group keys or aggregate aliases
            scope = set(q.group_by or []) | {a for _f, _v, a in q.aggs}
            for var, _d in q.order_by:
                if var not in scope:
                    raise SparqlParseError(
                        f"ORDER BY ?{var} is not a group key or "
                        f"aggregate alias"
                    )
        if q.union_branches:
            if (
                q.patterns
                or q.optional_patterns
                or q.filters
                or q.not_exists
                or q.aggs
                or q.values
                or q.binds
                or q.exists
                or q.subselects
                or q.verb != "select"
            ):
                raise SparqlParseError(
                    "UNION combines with nothing else in this subset: a "
                    "UNION query is exactly '{ patterns } UNION "
                    "{ patterns } ...'"
                )
            if not q.select:
                raise SparqlParseError(
                    "UNION needs an explicit SELECT list (it defines the "
                    "shared output shape)"
                )
        if q.binds:
            if q.aggs:
                raise SparqlParseError(
                    "BIND with aggregates is not in the subset — compute "
                    "the expression over the returned DataFrame"
                )
            if q.verb != "select":
                raise SparqlParseError(
                    "BIND is supported in SELECT queries only in this "
                    "subset"
                )
            bound = {
                t
                for pats in (
                    [q.patterns]
                    + [list(_group_pats(g)) for g in q.optional_patterns]
                )
                for pat in pats
                for t in pat
                if t.startswith("?")
            }
            for var, _ in q.binds:
                if var in bound:
                    raise SparqlParseError(
                        f"BIND(... AS {var}) would rebind a pattern "
                        "variable (SPARQL §10.1 forbids rebinding)"
                    )
        if self._n_seq_vars and q.select is None and q.verb == "select":
            # SELECT * must not expose the synthetic p/q intermediates:
            # materialize the user-visible variables in first-mention
            # order (required patterns, then optional groups) — the
            # same order the compiler's default projection uses.
            ordered: list[str] = []
            for pats in (
                [q.patterns]
                + [list(_group_pats(g)) for g in q.optional_patterns]
            ):
                for pat in pats:
                    for t in pat:
                        if (
                            t.startswith("?")
                            and not t.startswith("?_seq")
                            and t[1:] not in ordered
                        ):
                            ordered.append(t[1:])
            for var, _ in q.binds:  # BINDs project after pattern vars
                if var[1:] not in ordered:
                    ordered.append(var[1:])
            q.select = ordered


def _group_pats(group: object):
    """Triple patterns of one OPTIONAL group entry — plain list or the
    sub-group mapping form — nested groups included, depth-first (the
    compiler's own variable-collection order)."""
    if isinstance(group, dict):
        yield from group["patterns"]
        for nested in group["optional"]:
            yield from _group_pats(nested)
    else:
        yield from group


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}
_ESC_RE = re.compile(r"\\(.)")


def _unescape(s: str) -> str:
    # single pass over escape PAIRS (the lexer's STRING regex guarantees
    # backslashes come in \x pairs) — sequential str.replace decoded
    # '\\\\n' (escaped backslash + letter n) into a newline
    return _ESC_RE.sub(lambda m: _ESCAPES.get(m.group(1), m.group(1)), s)


def parse_sparql(text: str) -> ParsedQuery:
    """Parse SPARQL text into the engine's compiler-call description."""
    return _Parser(text).parse()


def sparql_query(triples: DataFrame, text: str) -> DataFrame:
    """Evaluate a SPARQL string against a triples/quads DataFrame —
    the one-call text front-end over the BGP compiler. Dispatches on
    the parsed verb:

    - SELECT -> :func:`.bgp.bgp_query` (or :func:`.bgp.bgp_union` for
      branch alternation, :func:`.bgp.bgp_aggregate` for aggregates)
    - ASK -> :func:`.bgp.bgp_ask` (one-row ``matched`` boolean)
    - CONSTRUCT -> :func:`.bgp.bgp_construct` (derived triples)
    - DESCRIBE -> :func:`.bgp.bgp_describe` (outbound quads)

    The parse is driver-side; the returned DataFrame's plan is
    byte-identical to the equivalent programmatic call, so every plan
    pin (pushdown, broadcast, no-BNLJ) carries over.
    """
    from .bgp import (
        bgp_aggregate,
        bgp_ask,
        bgp_construct,
        bgp_describe,
        bgp_query,
        bgp_union,
        solution_modifiers,
    )

    q = parse_sparql(text)
    if q.verb == "ask":
        return bgp_ask(
            triples,
            q.patterns,
            optional_patterns=q.optional_patterns or None,
            filters=q.filters or None,
            not_exists=q.not_exists or None,
            exists=q.exists or None,
            graph=q.graph,
            values=q.values or None,
        )
    if q.verb == "construct":
        # template constants are EMITTED (F.lit), not matched — the
        # bracket escape is a scan-matching device and must not leak
        # into the constructed triples
        def unbracket(t: str) -> str:
            return (
                t[1:-1]
                if len(t) > 2 and t[0] == "<" and t[-1] == ">"
                else t
            )

        return bgp_construct(
            triples,
            q.patterns,
            template=[
                tuple(x if x.startswith("?") else unbracket(x) for x in pat)
                for pat in q.template
            ],
            optional_patterns=q.optional_patterns or None,
            filters=q.filters or None,
            not_exists=q.not_exists or None,
            exists=q.exists or None,
            graph=q.graph,
            values=q.values or None,
        )
    if q.verb == "describe":
        return bgp_describe(
            triples,
            q.describe,
            q.patterns or None,
            optional_patterns=q.optional_patterns or None,
            filters=q.filters or None,
            not_exists=q.not_exists or None,
            exists=q.exists or None,
            graph=q.graph,
            values=q.values or None,
        )
    if q.union_branches:
        # solution modifiers apply to the union result (SPARQL evaluates
        # them over the combined solution sequence)
        return solution_modifiers(
            bgp_union(
                triples, q.union_branches, select=q.select,
                distinct=q.distinct,
            ),
            q.order_by, q.offset, q.limit,
        )
    subs = []
    for sub in q.subselects:
        # SPARQL §12 bottom-up semantics: each subquery evaluates once,
        # independent of the outer bindings, then joins with the group.
        # A group-less aggregate is a scalar (one row) — the compiler
        # attaches it via the 1-row broadcast shape.
        if sub.aggs:
            sdf = bgp_aggregate(
                triples,
                sub.patterns,
                group_by=sub.group_by or [],
                aggs=sub.aggs,
                having=sub.having or None,
                optional_patterns=sub.optional_patterns or None,
                filters=sub.filters or None,
                not_exists=sub.not_exists or None,
                exists=sub.exists or None,
                values=sub.values or None,
            )
            subs.append({
                "df": solution_modifiers(
                    sdf, sub.order_by, sub.offset, sub.limit
                ),
                "scalar": not (sub.group_by or []),
            })
        else:
            sdf = bgp_query(
                triples,
                sub.patterns,
                select=sub.select or None,
                distinct=sub.distinct,
                optional_patterns=sub.optional_patterns or None,
                filters=sub.filters or None,
                not_exists=sub.not_exists or None,
                exists=sub.exists or None,
                order_by=sub.order_by or None,
                limit=sub.limit,
                offset=sub.offset or 0,
                values=sub.values or None,
                binds=sub.binds or None,
            )
            subs.append({"df": sdf, "scalar": False})
    if q.aggs:
        return solution_modifiers(
            bgp_aggregate(
                triples,
                q.patterns,
                group_by=q.group_by or [],
                aggs=q.aggs,
                having=q.having or None,
                optional_patterns=q.optional_patterns or None,
                filters=q.filters or None,
                not_exists=q.not_exists or None,
                exists=q.exists or None,
                graph=q.graph,
                values=q.values or None,
                sub_solutions=subs or None,
            ),
            q.order_by, q.offset, q.limit,
        )
    return bgp_query(
        triples,
        q.patterns,
        select=q.select or None,
        distinct=q.distinct,
        optional_patterns=q.optional_patterns or None,
        filters=q.filters or None,
        not_exists=q.not_exists or None,
        exists=q.exists or None,
        order_by=q.order_by or None,
        limit=q.limit,
        offset=q.offset or 0,
        graph=q.graph,
        values=q.values or None,
        binds=q.binds or None,
        sub_solutions=subs or None,
    )
