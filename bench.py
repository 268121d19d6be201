#!/usr/bin/env python
"""Scaling and throughput protocols for local iteration.

The end-to-end benchmark is ``perfbench/run.py`` (declared in
BENCHMARK.json); this script keeps the protocols it has no counterpart
for. Each mode prints ONE JSON line:

  --throughput --cores N   one extraction-throughput run (synthesized
                      FOXML from ``orders`` through the full plan).
  --scaling           the extraction throughput run at two parallelism
                      levels (8 and 32 cores by default) in fresh
                      subprocesses (one JVM each); reports scaling
                      efficiency = (tps_hi / tps_lo) / (hi / lo).
  --curate            run the jobs/curate.py CLI end-to-end (exact dedup ->
                      near-dup clustering -> quality/lang -> token counts ->
                      write) on a synthesized corpus at the same two
                      parallelism levels and report docs/sec at each plus
                      scaling efficiency and the per-stage breakdown.
  --code-throughput / --code-scaling   the same two protocols for the
                      code KG: the full code_kg_plan (constants + defs +
                      imports + entity linking + calls + vendored +
                      dedup) over the synthesized source-contract table.

Timing protocol: each run is materialized with a `noop` write (full
execution, nothing collected to the driver) after one untimed pass that
pays whole-stage codegen; best-of-``--reps`` with the steal meter.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_python_workers(spark, cores: int) -> None:
    """Fork + warm one Python worker per core (pandas/pyarrow import and
    the worker daemon fork dominate first-task latency; a long-lived
    cluster's executors keep workers warm, so measuring cold forks would
    misstate steady-state throughput)."""
    import pandas as pd

    def touch(batches):
        for pdf in batches:
            yield pd.DataFrame({"x": [len(pdf)]})

    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        touch, "x long"
    ).write.format("noop").mode("overwrite").save()


def _sf_label(sf_dir: str) -> float | str:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return base


def _steal_jiffies() -> int:
    """Cumulative hypervisor steal time (jiffies) — co-tenant VMs take
    CPU from full-width stages specifically, so load average alone
    misses the interference that matters."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _snapshot_unique(source):
    """Enforce the snapshot-table contract the code-KG 'local' dedup
    mode requires — one row per (repo, path) — on the SYNTHESIZED bench
    corpus, whose doc_id->path mapping deliberately shares module files
    across many doc_ids (resolution targets). Deterministic min-struct
    winner (dropDuplicates would pick an arbitrary row per key and
    change the corpus content run-to-run). Runs at SETUP time, before
    the persisted source is counted — never inside a timed rep. The
    benched configuration is therefore the documented production shape
    for snapshot tables: dedup='local', no full-output exchange
    (CodeKgConfig.dedup; equivalence to the global mode is pytest-
    pinned on contract-valid corpora in test_code_kg.py)."""
    from fcrepo3_rdf_extractor_spark.operators.dedup import dedup_exact

    return dedup_exact(source, key=["repo", "path"])


def _bench_local_dir() -> str | None:
    """Shuffle/spill dir for bench runs: tmpfs when available. A single
    shared virtual disk caps shuffle bandwidth at the same absolute rate
    for every parallelism level (measured: it binds at 32 cores, not 8,
    deflating scaling); on a real cluster each node brings its own local
    SSDs, so per-core shuffle bandwidth is ~constant. tmpfs models that."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    return "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None


def run_throughput(sf_dir: str, cores: int, copies: int = 1,
                   reps: int = 3) -> dict:
    """One extraction-throughput measurement: synthesize FOXML from
    orders, run the full plan (parse -> graph -> skip-empty -> dedup),
    materialize with noop. The source is repartitioned to 4x cores so
    the measurement reflects UDF throughput, not the accident of the
    input's file count (at 100 TB, input splits provide this for free)."""
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.extractor import triples_only
    from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_plan
    from fcrepo3_rdf_extractor_spark.session import build_session
    from fcrepo3_rdf_extractor_spark.sources.source_table import (
        synthesize_foxml_from_orders,
    )

    local_dir = _bench_local_dir()
    extra = {"spark.local.dir": local_dir} if local_dir else {}
    if copies >= 8 and "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        # the persisted big-copies corpus (deserialized strings) needs
        # heap room in single-JVM local mode; the 8g default OOMs at 40x
        extra["spark.driver.memory"] = "48g"
    spark = build_session(f"bench-throughput-{cores}", cores=cores, extra_conf=extra)
    _warm_python_workers(spark, cores)
    source = synthesize_foxml_from_orders(spark, sf_dir, copies=copies).repartition(
        cores * 4
    )
    source = source.persist()
    n_objects = source.count()  # warmup + pin the synthesized input

    out = extract_plan(source, ExtractConfig(skip_empty=True, dedup=True))
    _materialize(out)  # untimed codegen-compile pass
    # best-of-3: this sandbox is a shared VM with bursty interference
    # (observed 15s..81s for the identical warm job); min is the honest
    # steady-state estimator
    steal0 = _steal_jiffies()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _materialize(out)
        times.append(round(time.perf_counter() - t0, 3))
    sec = min(times)
    steal_cpu_sec = round((_steal_jiffies() - steal0) / 100.0, 1)
    n_triples = triples_only(out).count()
    source.unpersist()
    spark.stop()
    return {
        "cores": cores,
        "sec": round(sec, 3),
        "times": times,
        "objects": n_objects,
        "triples": n_triples,
        "triples_per_sec": round(n_triples / sec, 1),
        "sf": _sf_label(sf_dir),
        "steal_cpu_sec": steal_cpu_sec,
    }


def run_code_throughput(sf_dir: str, cores: int, copies: int = 1,
                        reps: int = 3) -> dict:
    """One code-KG throughput measurement — the north-rule pipeline on
    the north-rule input: the source-contract table (repo, path,
    commit, lang, content) synthesized from the documents table
    (``copies``x replicated for scaling runs), through the FULL
    code_kg_plan (constants + definitions + imports + dependsOn
    entity linking + code:calls + vendored flags + output dedup),
    materialized with noop. Same protocol as :func:`run_throughput`:
    persisted source repartitioned to 4x cores, untimed codegen pass,
    best-of-``reps``, steal metered."""
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
        CodeKgConfig,
        code_kg_plan,
    )
    from fcrepo3_rdf_extractor_spark.queries import _src_files_df
    from fcrepo3_rdf_extractor_spark.session import build_session

    local_dir = _bench_local_dir()
    extra = {"spark.local.dir": local_dir} if local_dir else {}
    # NOTE: forcing small AQE advisory partitions (1m) was tried against
    # the reduce-coalescing artifact and measured NEUTRAL-to-negative at
    # --copies 12..40 (the dedup exchange is already 70-226 MB, well
    # above the 64 MB advisory); default AQE sizing stands. Run with
    # --copies >= 40 — below ~200k files the ~15-stage critical path's
    # fixed latency dominates the 8-core arm and understates scaling.
    spark = build_session(f"bench-code-{cores}", cores=cores, extra_conf=extra)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if copies > 1:
        docs = (
            docs.withColumn(
                "_c", F.explode(F.lit(list(range(copies))))
            )
            .withColumn("doc_id", F.col("doc_id") * copies + F.col("_c"))
            .drop("_c")
        )
    source = (
        _snapshot_unique(_src_files_df(docs, calls=True))
        .repartition(cores * 4)
        .persist()
    )
    n_files = source.count()

    cfg = CodeKgConfig(calls=True, vendored=True, dedup="local")
    out = code_kg_plan(source, cfg)
    _materialize(out)  # untimed codegen-compile pass
    steal0 = _steal_jiffies()
    times = []
    for _ in range(reps):
        # code_kg_plan persists its fused per-document state; clear it
        # and rebuild the plan so every timed rep pays the FULL
        # pipeline (content scan + cache write + assembly) — otherwise
        # rep 2+ would read the warm cache and time only the assembly.
        # clearCache also drops the identical-logical-plan entry the
        # cache manager would otherwise resurrect for the fresh plan.
        spark.catalog.clearCache()
        source.persist()  # clearCache dropped the input too; re-pin it
        source.count()
        fresh = code_kg_plan(source, cfg)
        t0 = time.perf_counter()
        _materialize(fresh)
        times.append(round(time.perf_counter() - t0, 3))
    sec = min(times)
    out = fresh
    steal_cpu_sec = round((_steal_jiffies() - steal0) / 100.0, 1)
    n_triples = out.count()
    source.unpersist()
    spark.stop()
    return {
        "cores": cores,
        "sec": round(sec, 3),
        "times": times,
        "files": n_files,
        "triples": n_triples,
        "triples_per_sec": round(n_triples / sec, 1),
        "sf": _sf_label(sf_dir),
        "steal_cpu_sec": steal_cpu_sec,
        # protocol tags: samples from before the local-dedup, uniqued-
        # corpus protocol carry neither key
        "dedup": "local",
        "corpus": "uniqued",
    }


def _throughput_subprocess(sf_dir: str, cores: int, copies: int,
                           reps: int, mode: str = "--throughput") -> dict:
    cmd = [sys.executable, os.path.abspath(__file__),
           mode, "--cores", str(cores), "--sf-dir", sf_dir,
           "--copies", str(copies), "--reps", str(reps)]
    if (os.cpu_count() or 0) >= cores:
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_scaling(sf_dir: str, lo: int, hi: int, copies: int = 1,
                interleave: int = 0, mode: str = "--throughput") -> dict:
    """Spawn a fresh interpreter+JVM per parallelism level (a shared JVM
    would reuse the first master setting) and compute efficiency.

    Each run is pinned to exactly ``cores`` physical CPUs with taskset:
    local[8] unpinned would let its 8 Python workers ride on cores the
    8 JVM threads aren't using — a "quarter-size cluster" quietly
    consuming up to 2x its share, which deflates measured scaling. A
    real 8-core executor host timeshares JVM and Python workers on the
    same 8 cores; the pinning reproduces that.

    ``interleave=N`` switches to the paired protocol for co-tenant
    hosts: N alternating single-timed-rep subprocesses PER ARM
    (lo, hi, lo, hi, ...), min per arm. The default protocol samples
    the two arms minutes apart, so an interference burst during one
    arm's whole window moves the ratio directly (measured: 0.73-0.80
    across invocations with near-zero steal metered, vs 0.85-0.89
    calm-window history); interleaving gives both arms N shots at the
    same sequence of environmental windows and the per-arm min is the
    same interference-free estimator best-of-3 already uses."""
    results = {}
    if interleave > 0:
        runs: dict[int, list[dict]] = {lo: [], hi: []}
        for _ in range(interleave):
            for cores in (lo, hi):
                runs[cores].append(
                    _throughput_subprocess(sf_dir, cores, copies, reps=1,
                                           mode=mode))
        for cores in (lo, hi):
            best = min(runs[cores], key=lambda r: r["sec"])
            best = dict(best)
            best["times"] = [r["sec"] for r in runs[cores]]
            # keep steal_cpu_sec a SCALAR (the winning rep's) like every
            # other emitter; the per-rep list goes under its own key so
            # the field's type doesn't depend on the protocol flag
            best["steal_cpu_secs"] = [r["steal_cpu_sec"] for r in runs[cores]]
            results[cores] = best
    else:
        for cores in (lo, hi):
            results[cores] = _throughput_subprocess(sf_dir, cores, copies,
                                                    reps=3, mode=mode)
    tps_lo = results[lo]["triples_per_sec"]
    tps_hi = results[hi]["triples_per_sec"]
    eff = round((tps_hi / tps_lo) / (hi / lo), 3)
    label = "code_kg" if mode == "--code-throughput" else "extract"
    return {
        "metric": ("code_scaling_efficiency"
                   if mode == "--code-throughput" else "scaling_efficiency"),
        "value": eff,
        "unit": "ratio",
        "queries": {f"{label}_local[{lo}]": results[lo]["sec"],
                    f"{label}_local[{hi}]": results[hi]["sec"]},
        "sf": _sf_label(sf_dir),
        "lo": results[lo],
        "hi": results[hi],
    }


def _synthesize_curate_corpus(sf_dir: str, copies: int, out_path: str) -> int:
    """Synthesize the curate-bench input: ``copies * n_base`` documents
    of ~100 words drawn from the base corpus's vocabulary by a per-doc
    hash, with PLANTED duplicate structure — 10%% of docs are true
    near-dups of their predecessor (one-token edit, shingle Jaccard
    ~0.94, verified and clustered), 5%% are half-overlaps (~0.33,
    LSH-candidate sometimes, rejected by exact-Jaccard verify), and the
    rest pairwise share no 3-gram shingles (hash-scrambled word order).

    Duplicate DENSITY is therefore CONSTANT as the corpus scales — the
    property a scaling measurement needs. The previous rotation-concat
    design concatenated whole base texts, so all ``copies`` variants of
    one base doc had mutual Jaccard ~0.33-0.5 and LSH candidate pairs
    grew QUADRATICALLY in ``copies`` (measured: 4x docs -> 11x near-dup
    stage wall) — a boilerplate-storm corpus, not a representative one;
    real pipelines bound that regime with ``max_bucket`` and route the
    degenerate keys to a separate pass. DuckDB, deterministic within a
    bench invocation; returns the row count."""
    import duckdb

    docs = f"{sf_dir}/documents.parquet"
    con = duckdb.connect()
    n = con.sql(f"SELECT count(*) FROM '{docs}'").fetchone()[0]
    total = n * copies
    con.sql(f"""
        COPY (
          WITH words AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS w
            FROM '{docs}'),
          vocab AS (
            SELECT list(w ORDER BY w) AS v, count(*) AS nv
            FROM (SELECT w FROM words WHERE length(w) > 0
                  ORDER BY w LIMIT 4000) t),
          base AS (
            SELECT *, row_number() OVER (ORDER BY doc_id) - 1 AS rn
            FROM '{docs}'),
          ids AS (
            SELECT range AS d,
                   CASE WHEN range % 20 IN (1, 11) THEN 'near'
                        WHEN range % 20 = 3 THEN 'half'
                        ELSE 'uniq' END AS cls
            FROM range({total})),
          toks AS (
            -- tok(seed, k): vocabulary word picked by a per-(doc, pos)
            -- hash; two seeds never share 3 consecutive picks, so
            -- unrelated docs are shingle-disjoint by construction
            SELECT d, cls,
                   list_transform(range(100), k -> v[1 + CAST(
                     hash(d * 1000003 + k) % nv AS INT)]) AS own,
                   list_transform(range(100), k -> v[1 + CAST(
                     hash((d - 1) * 1000003 + k) % nv AS INT)]) AS prev
            FROM ids CROSS JOIN vocab),
          texts AS (
            SELECT d,
                   CASE cls
                     WHEN 'near' THEN array_to_string(
                       ['ndup' || d] || prev[2:100], ' ')
                     WHEN 'half' THEN array_to_string(
                       prev[1:50] || own[51:100], ' ')
                     ELSE array_to_string(own, ' ')
                   END AS text
            FROM toks)
          SELECT t.d AS doc_id, t.text, b.lang, b.source,
                 length(t.text) AS n_chars
          FROM texts t JOIN base b ON b.rn = t.d % {n}
          ORDER BY t.d
        ) TO '{out_path}' (FORMAT PARQUET)
    """)
    con.close()
    return total


def run_curate_once(docs_path: str, cores: int, out_dir: str) -> dict:
    """One pinned, fresh-JVM run of the curate CLI; returns its summary
    JSON (which carries per-stage counts and wall seconds)."""
    cmd = [sys.executable, "jobs/curate.py", "--docs", docs_path,
           "--out", os.path.join(out_dir, f"curated-{cores}"),
           "--local", str(cores),
           "--quality-min", "0.3", "--neardup-threshold", "0.7",
           "--input-partitions", str(cores * 4)]
    if (os.cpu_count() or 0) >= cores:
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    env = dict(os.environ)
    local_dir = _bench_local_dir()
    if local_dir:
        env["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    steal0 = _steal_jiffies()
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True,
                          env=env, cwd=os.path.dirname(os.path.abspath(__file__)))
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["steal_cpu_sec"] = round((_steal_jiffies() - steal0) / 100.0, 1)
    return out


def run_curate_scaling(sf_dir: str, lo: int, hi: int, copies: int,
                       runs: int = 3) -> dict:
    """Curate-CLI scaling evidence: same synthesized input at both
    parallelism levels (taskset-pinned, fresh JVM each, tmpfs shuffle),
    best-of-``runs`` per level against neighbor interference. The
    per-stage seconds come from the job's own stage boundaries, so the
    breakdown excludes JVM startup but INCLUDES first-run codegen — the
    CLI is a cold-start batch job."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="curate-bench-")
    docs_path = os.path.join(tmp, "docs.parquet")
    n_docs = _synthesize_curate_corpus(sf_dir, copies, docs_path)
    results: dict[int, dict] = {}
    for cores in (lo, hi):
        best = None
        for _ in range(runs):
            s = run_curate_once(docs_path, cores, tmp)
            if best is None or s["stage_sec"]["total"] < best["stage_sec"]["total"]:
                best = s
        results[cores] = {
            "cores": cores,
            "sec": best["stage_sec"]["total"],
            "docs_per_sec": round(n_docs / best["stage_sec"]["total"], 1),
            "stage_sec": best["stage_sec"],
            "stages": best["stages"],
            "steal_cpu_sec": best["steal_cpu_sec"],
        }
    dps_lo = results[lo]["docs_per_sec"]
    dps_hi = results[hi]["docs_per_sec"]
    eff = round((dps_hi / dps_lo) / (hi / lo), 3)
    return {
        "metric": "curate_scaling_efficiency",
        "value": eff,
        "unit": "ratio",
        "queries": {f"curate_local[{lo}]": results[lo]["sec"],
                    f"curate_local[{hi}]": results[hi]["sec"]},
        "sf": _sf_label(sf_dir),
        "docs": n_docs,
        "lo": results[lo],
        "hi": results[hi],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--throughput", action="store_true")
    mode.add_argument("--scaling", action="store_true")
    mode.add_argument("--code-throughput", action="store_true",
                      help="single code-KG pipeline throughput run")
    mode.add_argument("--code-scaling", action="store_true",
                      help="code-KG pipeline at two parallelism levels")
    mode.add_argument("--curate", action="store_true")
    ap.add_argument("--curate-runs", type=int, default=3)
    ap.add_argument("--scale-lo", type=int, default=8)
    ap.add_argument("--scale-hi", type=int, default=32)
    ap.add_argument("--copies", type=int, default=1,
                    help="corpus multiplier for throughput/scaling runs")
    ap.add_argument("--reps", type=int, default=3,
                    help="timed reps per throughput invocation (min wins)")
    ap.add_argument("--interleave", type=int, default=0,
                    help="scaling: N alternating single-rep subprocesses "
                         "per arm instead of one 3-rep subprocess each")
    args = ap.parse_args()

    if args.throughput:
        out = run_throughput(args.sf_dir, args.cores, args.copies, args.reps)
    elif args.code_throughput:
        out = run_code_throughput(args.sf_dir, args.cores, args.copies,
                                  args.reps)
    elif args.scaling:
        out = run_scaling(args.sf_dir, args.scale_lo, args.scale_hi,
                          args.copies, args.interleave)
    elif args.code_scaling:
        out = run_scaling(args.sf_dir, args.scale_lo, args.scale_hi,
                          args.copies, args.interleave,
                          mode="--code-throughput")
    else:
        out = run_curate_scaling(args.sf_dir, args.scale_lo, args.scale_hi,
                                 args.copies, args.curate_runs)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
