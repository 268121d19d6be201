"""JVM-side column functions: N-Quads rendering, subject bucketing, and
the SQL-literal quoting that fixed SQL-text expressions share. No Python
executes per row.

The N-Quads string column replaces the reference's Jena
``WriterStreamRDFPlain`` sink (`TripleDump.java:51-66`) with a
deterministic expression, so serialization parallelizes with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..vocab import XSD_STRING


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (the parser resolves
    backslash escapes, so backslash and quote are the two characters to
    escape)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# A term is escaped per character class: the regexp guard keeps a clean
# value to one scan, and only a value holding a special character is
# split into tokens (one per special character, one per run of ordinary
# ones) whose special tokens map to their escapes. Tokenizing instead of
# a 42-deep replace chain keeps every generated method under HotSpot's
# 8,000-byte JIT limit: the chain, fused with the table scan, generated a
# 15-16 KB ``processNext``, so every row ran in the bytecode interpreter.
_UCHAR = "concat('\\\\u', lpad(hex(ascii(t)), 4, '0'))"  # as terms.escape_*: %04X


def _escaped(col: str, special: str, escape: str) -> str:
    """SQL for ``col`` with every character in the regex character class
    ``[special]`` replaced by ``escape``: an SQL expression over lambda
    token ``t`` (one special character, or a run of ordinary ones) that
    returns an ordinary run unchanged."""
    guard = sql_str(f"[{special}]")
    tokens = sql_str(f"[{special}]|[^{special}]+")
    return (
        f"CASE WHEN {col} RLIKE {guard} THEN array_join(transform("
        f"regexp_extract_all({col}, {tokens}, 0), t -> {escape}), '') "
        f"ELSE {col} END"
    )


# IRIREF-illegal characters (N-Triples: controls, space, <>"{}|^`\),
# UCHAR-escaped, byte-identical to terms.escape_uri. An ordinary token's
# first character is none of them, so ``ascii(t)`` tells the classes apart.
_URI_SPECIAL = "\\x00-\\x20<>\"{}|^`\\\\"
_URI_CODES = ", ".join(str(ord(c)) for c in '<>"{}|^`\\')
# ECHARs, then \uXXXX for the remaining C0 controls, byte-identical to
# terms.escape_literal
_LITERAL_SPECIAL = "\\x00-\\x1F\"\\\\"
_ECHARS = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _uri(col: str) -> str:
    esc = f"IF(ascii(t) <= 32 OR ascii(t) IN ({_URI_CODES}), {_UCHAR}, t)"
    return f"concat('<', {_escaped(col, _URI_SPECIAL, esc)}, '>')"


def _literal(col: str) -> str:
    whens = " ".join(f"WHEN {ord(c)} THEN {sql_str(e)}" for c, e in _ECHARS.items())
    esc = f"CASE ascii(t) {whens} ELSE IF(ascii(t) < 32, {_UCHAR}, t) END"
    return f"""concat('"', {_escaped(col, _LITERAL_SPECIAL, esc)}, '"')"""


# an empty lang or datatype (the parser keeps xml:lang="") tags nothing,
# as in terms.serialize_term: '"x"@' is no N-Quads term
_OBJECT = (
    f"CASE WHEN obj_is_literal THEN concat({_literal('obj_value')}, "
    f"CASE WHEN obj_lang != '' THEN concat('@', obj_lang) "
    f"WHEN obj_datatype != '' AND obj_datatype != {sql_str(XSD_STRING)} "
    f"THEN concat('^^', {_uri('obj_datatype')}) ELSE '' END) "
    f"ELSE {_uri('obj_value')} END"
)
NQUAD_LINE_SQL = (
    f"concat({_uri('subj')}, ' ', {_uri('pred')}, ' ', {_OBJECT}, ' ', "
    f"{_uri('graph')}, ' .')"
)


def nquad_line_col() -> Column:
    """One N-Quads line per row of the triple schema (``subj``, ``pred``,
    ``obj_*``, ``graph``), byte-compatible with the pure-Python
    ``terms.nquad_line`` (tested for equality)."""
    return F.expr(NQUAD_LINE_SQL)


def subject_bucket(subj: Column | str = "subj", num_buckets: int = 256) -> Column:
    """Hash-bucket by subject — the Spark analog of the reference
    deployment's MD5 hash-path sharding (`HashPathIdMapper.java:118-160`):
    co-locates all triples of one entity, spreads entities uniformly."""
    col = F.col(subj) if isinstance(subj, str) else subj
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")
