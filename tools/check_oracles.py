"""Local stand-in for the driver's DuckDB cross-check: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count, column names, and an order-insensitive
value hash (columns sorted by name, floats repr'd).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem",
          "events", "documents"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "\x00null"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest(), lines


def _check_one(spark, cursor, sf_dir, name, fn, oracle_sql):
    """Three-way check for one query; returns (failed: bool, message).
    ``cursor`` is a per-thread DuckDB cursor (connections are not
    thread-safe; cursors over one connection are the documented way to
    share an in-memory catalog across threads)."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return True, f"FAIL {name}: spark error: {e}"
    if oracle_sql is None:
        return False, f"ok?  {name}: rows-only ({len(s_rows)} rows, no oracle)"
    try:
        rel = cursor.sql(oracle_sql)
        d_cols = list(rel.columns)
        d_rows = rel.fetchall()
    except Exception as e:
        return True, f"FAIL {name}: duckdb error: {e}"
    problems = []
    if sorted(s_cols) != sorted(c.lower() for c in d_cols) and sorted(
        c.lower() for c in s_cols
    ) != sorted(c.lower() for c in d_cols):
        problems.append(f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
    sh, slines = table_hash(s_cols, s_rows)
    dh, dlines = table_hash(d_cols, d_rows)
    if sh != dh:
        sset, dset = set(slines), set(dlines)
        sample_s = list(sset - dset)[:3]
        sample_d = list(dset - sset)[:3]
        problems.append(f"hash mismatch; spark-only={sample_s} duck-only={sample_d}")
    if problems:
        return True, f"FAIL {name}: " + " | ".join(problems)
    return False, f"OK   {name}: {len(s_rows)} rows"


def run_checks(spark, sf_dir: str, only=(), log=print, workers: int = 1) -> list[str]:
    """Run every (or the named subset of) registered queries() entry on
    ``spark`` and its oracle_sql() on DuckDB over the ``sf_dir`` parquet
    tables; return the list of failing query names. This is the same
    three-way signal (rowcount / columns / value-hash) the driver
    records — importable so a pytest can sweep ALL registered queries
    (the driver samples a subset).

    ``workers`` > 1 submits queries from a thread pool: Spark's
    scheduler accepts concurrent jobs from one session, and at sf0.001
    each query is overhead-dominated (driver round-trips, tiny stages),
    so overlapping them fills the idle cores the sequential sweep
    leaves — same checks, same failure list, ~4x less wall."""
    import duckdb

    import __spark_entry__ as entrymod

    only = set(only)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    todo = [(name, fn) for name, fn in qs.items() if not only or name in only]
    failed = []
    if workers <= 1:
        for name, fn in todo:
            bad, msg = _check_one(spark, con, sf_dir, name, fn,
                                  oracles.get(name))
            log(msg)
            if bad:
                failed.append(name)
    else:
        from concurrent.futures import ThreadPoolExecutor

        def task(item):
            name, fn = item
            return name, _check_one(spark, con.cursor(), sf_dir, name, fn,
                                     oracles.get(name))

        with ThreadPoolExecutor(max_workers=workers) as pool:
            for name, (bad, msg) in pool.map(task, todo):
                log(msg)
                if bad:
                    failed.append(name)
    con.close()
    return failed


def main():
    from fcrepo3_rdf_extractor_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session("oracle-check")
    failed = run_checks(spark, sf_dir, only=sys.argv[2:])
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("all oracles match")


if __name__ == "__main__":
    main()
