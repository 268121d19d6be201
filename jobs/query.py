#!/usr/bin/env python
"""SPARQL query runner — the engine's query surface as a CLI.

    python jobs/query.py --triples /data/triples_parquet --sparql '
        SELECT ?obj ?coll ?owner WHERE {
          ?obj <rel:isMemberOfCollection> ?coll .
          ?obj <model:state> <model:Active> .
          OPTIONAL { ?obj <model:ownerId> ?owner }
          FILTER(CONTAINS(?coll, "collection:1"))
        } ORDER BY ASC(?obj) LIMIT 20'

    python jobs/query.py --triples /data/quads_parquet --sparql '
        DESCRIBE ?x WHERE { GRAPH <g2> {
          ?x <rel:member> ?c VALUES ?x { <p:3> } } }'

Runs one SPARQL query (SELECT / ASK / CONSTRUCT / DESCRIBE; the
supported grammar is documented in operators/sparql.py, which compiles
the text onto the operators/bgp.py functions) against a triples table
(parquet columns subj, pred, obj_value, plus graph for quad tables —
the `materialize_graph` output). Results stream to stdout as JSON lines
(at most --limit of them; a LIMIT/OFFSET in the text bounds the query
itself) or to parquet via --out; the LAST stdout line is always one
JSON summary (n_rows, elapsed seconds, columns, out) — the same exit
contract as jobs/curate.py. A query the parser or the BGP compiler
rejects exits 2 with the reason on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--triples", required=True,
                    help="triples parquet path (subj, pred, obj_value)")
    ap.add_argument("--sparql", required=True,
                    help="the SPARQL query text (see operators/sparql.py "
                         "for the supported subset)")
    ap.add_argument("--limit", type=int, default=20,
                    help="max rows printed to stdout")
    ap.add_argument("--out", default=None,
                    help="write full results as parquet instead of printing")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] instead of the submitted master")
    args = ap.parse_args(argv)

    from fcrepo3_rdf_extractor_spark.operators.sparql import sparql_query
    from fcrepo3_rdf_extractor_spark.session import job_session

    spark = job_session("query", args.local)
    t0 = time.perf_counter()
    try:
        result = sparql_query(spark.read.parquet(args.triples), args.sparql)
        if args.out:
            result.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
        else:
            rows = result.limit(args.limit).collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
            n = len(rows)
        print(json.dumps({
            "n_rows": n,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
            "columns": result.columns,
            "out": args.out,
        }))
        return 0
    except ValueError as e:
        # parse and compile-time BGP rejections (disconnected, unbound
        # filter, ...)
        print(f"error: {e}", file=sys.stderr)
        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
