"""Output checks: order-independent fingerprints and DuckDB twins of the
SPARQL query shapes (the repo's oracle pattern: the same question asked
of the same parquet table by an independent engine)."""

from __future__ import annotations

import glob
import hashlib
import os

MODEL = "info:fedora/fedora-system:def/model#"
REL = "info:fedora/fedora-system:def/relations-external#"
DC = "http://purl.org/dc/elements/1.1/"
PREFIXES = f"PREFIX m: <{MODEL}>\nPREFIX rel: <{REL}>\nPREFIX dc: <{DC}>\n"


def nquads_fingerprint(path: str) -> tuple[int, int, int]:
    """(lines, distinct lines, sum of 64-bit line digests mod 2^64) over
    every part file of an N-Quads text directory; independent of file
    split and line order."""
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(line for line in fh.read().split("\n") if line)
    acc = 0
    for line in lines:
        acc += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "big")
    return len(lines), len(set(lines)), acc % 2**64


def _table(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def table_fingerprint(path: str) -> tuple[int, int]:
    """(rows, order-independent digest) of a written triple table."""
    import duckdb

    with duckdb.connect() as con:
        rows, digest = con.execute(
            "SELECT count(*), CAST(sum(hash(graph, subj, pred, obj_value, obj_is_literal, "
            f"obj_datatype, obj_lang)) % 18446744073709551616 AS UBIGINT) FROM {_table(path)}"
        ).fetchone()
    return rows, digest


def triples_by_pred(path: str) -> dict[str, int]:
    """Rows per predicate of a written triple table."""
    import duckdb

    with duckdb.connect() as con:
        rows = con.execute(f"SELECT pred, count(*) FROM {_table(path)} GROUP BY pred").fetchall()
    return dict(sorted(rows))


class QueryMix:
    """The ``kg_query`` shapes, instantiated from the corpus and seed, each
    with its DuckDB twin."""

    SHAPES = ["star", "group_count", "path", "optional", "describe"]

    def __init__(self, rng, corpus):
        top = sorted(c for c, p in corpus.parents.items() if p == "coll:0")
        leaves = sorted(c for c in corpus.members if c not in corpus.parents.values())
        self.owner = f"owner{rng.randrange(5)}"
        self.top = rng.choice(top)
        self.leaf = rng.choice(leaves)
        self.pids = list(corpus.sample_pids)

    def sparql(self, shape: str, k: int) -> str:
        if shape == "star":
            return PREFIXES + (
                "SELECT ?o ?label ?owner WHERE { ?o m:label ?label . ?o m:ownerId ?owner . "
                f'?o m:state m:Active . FILTER(STRSTARTS(?owner, "{self.owner}")) }}'
            )
        if shape == "group_count":
            return PREFIXES + (
                "SELECT ?c (COUNT(?o) AS ?n) WHERE { ?o rel:isMemberOfCollection ?c } GROUP BY ?c"
            )
        if shape == "path":
            return PREFIXES + (
                f"SELECT ?o WHERE {{ ?o rel:isMemberOfCollection+ <info:fedora/{self.top}> }}"
            )
        if shape == "optional":
            return PREFIXES + (
                f"SELECT ?o ?d WHERE {{ ?o rel:isMemberOfCollection <info:fedora/{self.leaf}> . "
                "OPTIONAL { ?o dc:description ?d } }"
            )
        return f"DESCRIBE <info:fedora/{self.pids[k % len(self.pids)]}>"

    def twin_sql(self, shape: str, k: int, path: str) -> str:
        t = _table(path)
        member = REL + "isMemberOfCollection"
        if shape == "star":
            return (
                f"SELECT a.subj, a.obj_value, b.obj_value FROM {t} a JOIN {t} b ON a.subj = b.subj "
                f"JOIN {t} c ON a.subj = c.subj WHERE a.pred = '{MODEL}label' "
                f"AND b.pred = '{MODEL}ownerId' AND c.pred = '{MODEL}state' "
                f"AND c.obj_value = '{MODEL}Active' AND starts_with(b.obj_value, '{self.owner}')"
            )
        if shape == "group_count":
            return f"SELECT obj_value, count(*) FROM {t} WHERE pred = '{member}' GROUP BY obj_value"
        if shape == "path":
            return (
                f"WITH RECURSIVE r(s) AS (SELECT subj FROM {t} WHERE pred = '{member}' "
                f"AND obj_value = 'info:fedora/{self.top}' UNION SELECT e.subj FROM {t} e "
                f"JOIN r ON e.obj_value = r.s WHERE e.pred = '{member}') SELECT s FROM r"
            )
        if shape == "optional":
            return (
                f"SELECT a.subj, b.obj_value FROM {t} a LEFT JOIN {t} b ON a.subj = b.subj "
                f"AND b.pred = '{DC}description' WHERE a.pred = '{member}' "
                f"AND a.obj_value = 'info:fedora/{self.leaf}'"
            )
        pid = self.pids[k % len(self.pids)]
        return f"SELECT subj, pred, obj_value FROM {t} WHERE subj = 'info:fedora/{pid}'"

    def twin(self, shape: str, k: int, path: str) -> list[tuple]:
        import duckdb

        with duckdb.connect() as con:
            rows = con.execute(self.twin_sql(shape, k, path)).fetchall()
        return sorted(_norm(r) for r in rows)


def spark_rows(shape: str, rows) -> list[tuple]:
    """Engine result rows in the twin's column order."""
    if shape == "describe":
        return sorted(_norm((r["subj"], r["pred"], r["obj_value"])) for r in rows)
    return sorted(_norm(tuple(r)) for r in rows)


def _norm(row) -> tuple:
    return tuple(None if v is None else str(v) for v in row)
