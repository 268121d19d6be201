"""The four workloads: set-up, one run, its output check, and the prefix
ladder that attributes a run's time to the engine's layers.

A batch run is the job itself: ``main(argv)`` of ``jobs/extract.py``
(one-shot and ``--previous`` paths) or ``jobs/code_kg.py`` (one-shot
path), called in this process's warm session. ``kg_query`` runs
``sparql_query`` over a warm session. The ladder's lower rungs call the
engine's public functions in the order the job does; the engine is never
edited or instrumented.
"""

from __future__ import annotations

import importlib.util
import io
import json
import os
import random
import shutil
import time
from contextlib import nullcontext, redirect_stdout
from dataclasses import replace

import gen
from checks import QueryMix, nquads_fingerprint, spark_rows, triples_by_pred

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FOXML_OBJECTS = 2000   # distinct pids in snapshot A (foxml_bulk, foxml_refresh, kg_query)
CODE_FILES = 3000      # source files before vendored copies and snapshots (code_kg)
# --buckets for every write. The jobs' default of 256 over a ~50k-triple
# table writes 257 mostly tiny files, so the write and each read-back would
# measure file count; 16 keeps ~3k triples per file.
BUCKETS = 16
LOOKUPS_PER_RUN = 16   # DESCRIBE point lookups on the table a batch run wrote
SOURCE_SPLITS = 8      # parquet files per input table: one split per task slot


def noop(df) -> None:
    """Materialize every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


_JOBS: dict = {}


def run_job(spark, name: str, argv: list[str]) -> dict:
    """``main(argv)`` of ``jobs/<name>.py`` in this process: its session
    builder returns the running session, its closing ``spark.stop()`` is
    held back, and its JSON summary line is returned."""
    if name not in _JOBS:
        spec = importlib.util.spec_from_file_location(
            f"perfbench_job_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        _JOBS[name] = module
    argv = argv + ["--local", str(len(os.sched_getaffinity(0)))]
    out = io.StringIO()
    spark.stop = lambda: None
    try:
        with redirect_stdout(out):
            code = _JOBS[name].main(argv)
    finally:
        del spark.stop
    if code != 0:
        raise RuntimeError(f"jobs/{name}.py exited with {code}")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def write_rows(path: str, columns: list[str], rows: list[tuple]) -> None:
    """Write generated rows as a multi-file parquet table (pyarrow, no
    engine code), so a scan has one split per task slot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(rows) // SOURCE_SPLITS)
    for i in range(SOURCE_SPLITS):
        chunk = rows[i * step:(i + 1) * step]
        table = pa.table({c: [r[j] for r in chunk] for j, c in enumerate(columns)},
                         schema=pa.schema([(c, pa.string()) for c in columns]))
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"), compression="zstd")


SOURCE_COLUMNS = ["repo", "path", "commit", "lang", "content"]


class Workload:
    """Shared run loop pieces; subclasses define the job path."""

    name = ""
    # prefix ladder, in order; its last rung is the whole job (see spans.py)
    rungs: list[str] = []
    # untimed runs (passes of the mix for kg_query) after set-up: codegen,
    # Python workers, JIT. A fixed count starts every measurement at the
    # same point of warm-up; after one run, CPU per run still fell by a
    # third or more over the next runs
    warmup_runs = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, self.name)
        self.reference: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def lookup_subjects(self) -> list[str]:
        return []

    def after_run(self, k: int) -> list[tuple[float, list[str]]]:
        """Reads of the table run k just wrote: DESCRIBE point lookups,
        as (latency s, errors)."""
        from fcrepo3_rdf_extractor_spark.operators.sparql import sparql_query

        subjects = self.lookup_subjects()
        tbl = self.ctx.spark.read.parquet(self.path("out"))
        out = []
        for i in range(LOOKUPS_PER_RUN):
            subj = subjects[(k * LOOKUPS_PER_RUN + i) % len(subjects)]
            t0 = time.perf_counter()
            rows = sparql_query(tbl, f"DESCRIBE <{subj}>").collect()
            out.append((time.perf_counter() - t0,
                        [] if rows else [f"DESCRIBE <{subj}> returned no triples"]))
        return out

    def _check_table(self, table: tuple[int, int]) -> list[str]:
        ref = self.reference.setdefault("table", table)
        return [] if table == ref else [
            f"triple table fingerprint {table} differs from this seed's first run {ref}"]


class _Foxml(Workload):
    def _inputs(self) -> gen.FoxmlCorpus:
        corpus = gen.foxml_corpus(self.ctx.seed, FOXML_OBJECTS)
        write_rows(self.path("src"), SOURCE_COLUMNS, corpus.rows)
        write_rows(self.path("store"), ["blob_id", "content"], corpus.store)
        return corpus

    def lookup_subjects(self) -> list[str]:
        return [f"info:fedora/{p}" for p in self.corpus.sample_pids]

    def job(self, src: str, out: str, *extra: str, nquads: bool = True) -> dict:
        """``jobs/extract.py`` over input table ``src``, writing table
        ``out`` and (with ``nquads``) its N-Quads to ``out + "_nq"``."""
        argv = ["--source", self.path(src), "--out", self.path(out),
                "--ds-store", self.path("store"), "--buckets", str(BUCKETS),
                "--skip-empty-literals", *extra]
        if nquads:
            argv += ["--nquads-out", self.path(out + "_nq")]
        return run_job(self.ctx.spark, "extract", argv)

    def _check(self, summary: dict, table: tuple[int, int], out: str, manifest: dict) -> list[str]:
        errs = []
        for key, want in (("n_triples", manifest["triples"]),
                          ("n_objects", manifest["objects_with_triples"]),
                          ("errors_by_stage", manifest["errors_by_stage"])):
            if summary[key] != want:
                errs.append(f"{key}: got {summary[key]}, manifest {want}")
        fp = nquads_fingerprint(self.path(out + "_nq"))
        if fp[0] != manifest["triples"] or fp[1] != fp[0]:
            errs.append(f"N-Quads lines {fp[0]} (distinct {fp[1]}), manifest {manifest['triples']}")
        ref = self.reference.setdefault("nquads", fp)
        if fp != ref:
            errs.append(f"N-Quads fingerprint {fp} differs from {ref}")
        return errs + self._check_table(table)


class FoxmlBulk(_Foxml):
    """One-shot ``jobs/extract.py`` path."""

    name = "foxml_bulk"
    rungs = ["scan", "managed_join", "udf_stage", "filters", "dedup", "write",
             "report", "nquads"]

    def setup(self) -> None:
        self.corpus = self._inputs()
        self.runner = MixRunner(self.ctx, self.corpus, self.path("out"))

    def refresh_ladder(self) -> "FoxmlRefresh":
        """The incremental path over this corpus (snapshot B against the
        per-document table of A), for its identity-join layer."""
        refresh = FoxmlRefresh(self.ctx)
        refresh.dir, refresh.corpus = self.dir, self.corpus
        refresh.build_previous()
        return refresh

    def run(self, out: str = "out", nquads: bool = True) -> dict:
        return self.job("src", out, nquads=nquads)

    def check(self, summary: dict, table: tuple[int, int], out: str = "out") -> list[str]:
        m = self.corpus.manifest
        errs = self._check(summary, table, out, m)
        if table[0] != m["triples"] + m["errors"]:
            errs.append(f"table rows {table[0]}, manifest {m['triples']} + {m['errors']} errors")
        return errs

    def frames(self) -> dict:
        from fcrepo3_rdf_extractor_spark.operators.extractor import extract_triples
        from fcrepo3_rdf_extractor_spark.operators.filters import skip_empty_literals, with_graph
        from fcrepo3_rdf_extractor_spark.plans.pipeline import (
            ExtractConfig, attach_managed_content, dedup_mixed,
        )
        from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

        sp = self.ctx.spark
        source = read_source(sp, self.path("src"))
        managed = attach_managed_content(source, sp.read.parquet(self.path("store")))
        udf = extract_triples(managed)
        filtered = skip_empty_literals(with_graph(udf, ExtractConfig().graph))
        return {"scan": source, "managed_join": managed, "udf_stage": udf,
                "filters": filtered, "dedup": dedup_mixed(filtered)}

    def rung(self, name: str) -> dict | None:
        """Rung ``name``; the last one (the whole job) returns its summary."""
        if name == "write":
            self.run_write_only()
        elif name in ("report", "nquads"):
            return self.run("rung_out", nquads=name == "nquads")
        else:
            noop(self.frames()[name])
        return None

    def run_write_only(self) -> None:
        from fcrepo3_rdf_extractor_spark.plans.pipeline import (
            ExtractConfig, extract_plan, materialize_graph,
        )
        from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

        sp = self.ctx.spark
        extracted = extract_plan(read_source(sp, self.path("src")), ExtractConfig(),
                                 ds_store=sp.read.parquet(self.path("store")))
        materialize_graph(extracted, self.path("rung_out"), buckets=BUCKETS)

    def counts(self) -> dict:
        from pyspark.sql import functions as F

        f = self.frames()
        return {
            "managed_rows": f["managed_join"].filter(F.col("managed_content").isNotNull()).count(),
            "dedup_rows_in": f["filters"].count(),
            "dedup_rows_out": f["dedup"].count(),
            "changed_rows": 0, "reused_rows": 0,
        }


class FoxmlRefresh(_Foxml):
    """``jobs/extract.py --previous``: snapshot B refreshed against the
    per-document table of snapshot A."""

    name = "foxml_refresh"
    rungs = ["scan", "identity_join", "managed_join", "udf_stage", "filters",
             "reuse_union", "write", "report", "nquads"]

    def setup(self) -> None:
        self.corpus = self._inputs()
        self.build_previous()

    def build_previous(self) -> None:
        write_rows(self.path("src_b"), SOURCE_COLUMNS, self.corpus.rows_b)
        # the previous per-document table: a fresh --no-dedup run over A
        self.job("src", "prev", "--no-dedup", nquads=False)

    def oneshot_reference(self) -> None:
        """N-Quads of a one-shot extraction of snapshot B: the refresh
        output must equal it."""
        self.job("src_b", "oneshot_b")
        self.reference["nquads"] = nquads_fingerprint(self.path("oneshot_b_nq"))

    def run(self, out: str = "out", nquads: bool = True) -> dict:
        return self.job("src_b", out, "--previous", self.path("prev"), nquads=nquads)

    def check(self, summary: dict, table: tuple[int, int], out: str = "out") -> list[str]:
        return self._check(summary, table, out, self.corpus.manifest_b)

    def _plan(self):
        from fcrepo3_rdf_extractor_spark.plans.pipeline import ExtractConfig, extract_incremental
        from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

        sp = self.ctx.spark
        source = read_source(sp, self.path("src_b"))
        return source, extract_incremental(source, sp.read.parquet(self.path("prev")),
                                           ExtractConfig(),
                                           ds_store=sp.read.parquet(self.path("store")))

    def frames(self) -> dict:
        from fcrepo3_rdf_extractor_spark.operators.extractor import extract_triples
        from fcrepo3_rdf_extractor_spark.operators.filters import skip_empty_literals, with_graph
        from fcrepo3_rdf_extractor_spark.plans.pipeline import (
            ExtractConfig, attach_managed_content,
        )

        source, plan = self._plan()
        managed = attach_managed_content(plan.changed, self.ctx.spark.read.parquet(self.path("store")))
        udf = extract_triples(managed)
        return {"scan": source, "identity_join": plan.changed, "managed_join": managed,
                "udf_stage": udf,
                "filters": skip_empty_literals(with_graph(udf, ExtractConfig().graph)),
                "reuse_union": plan.state, "reused": plan.reused}

    def rung(self, name: str) -> dict | None:
        from fcrepo3_rdf_extractor_spark.plans.pipeline import dedup_mixed, materialize_graph

        if name == "write":
            _, plan = self._plan()
            materialize_graph(plan.state, self.path("rung_out"), buckets=BUCKETS)
        elif name in ("report", "nquads"):
            return self.run("rung_out", nquads=name == "nquads")
        elif name == "export_dedup":
            noop(dedup_mixed(self.ctx.spark.read.parquet(self.path("rung_out"))))
        else:
            noop(self.frames()[name])
        return None

    def counts(self) -> dict:
        from pyspark.sql import functions as F

        from fcrepo3_rdf_extractor_spark.plans.pipeline import dedup_mixed

        f = self.frames()
        stored = self.ctx.spark.read.parquet(self.path("out"))
        return {
            "managed_rows": f["managed_join"].filter(F.col("managed_content").isNotNull()).count(),
            "dedup_rows_in": stored.count(),
            "dedup_rows_out": dedup_mixed(stored).count(),
            "changed_rows": f["identity_join"].count(),
            "reused_rows": f["reused"].count(),
        }


class CodeKg(Workload):
    """One-shot ``jobs/code_kg.py`` path with ``--calls --vendored``."""

    name = "code_kg"
    rungs = ["scan", "code_state", "code_assembly", "dedup", "write", "report"]

    def config(self):
        from fcrepo3_rdf_extractor_spark.plans.code_pipeline import CodeKgConfig

        return CodeKgConfig(calls=True, vendored=True)

    def setup(self) -> None:
        self.corpus = gen.code_corpus(self.ctx.seed, CODE_FILES)
        write_rows(self.path("src"), SOURCE_COLUMNS, self.corpus.rows)

    def lookup_subjects(self) -> list[str]:
        return self.corpus.sample_subjects

    def run(self, out: str = "out") -> dict:
        summary = run_job(self.ctx.spark, "code_kg", [
            "--source", self.path("src"), "--out", self.path(out),
            "--calls", "--vendored", "--buckets", str(BUCKETS)])
        self.ctx.spark.catalog.clearCache()  # the plan persists its per-document state
        return summary

    def check(self, summary: dict, table: tuple[int, int], out: str = "out") -> list[str]:
        m = self.corpus.manifest
        want = m["triples_by_pred"]
        errs = []
        for key, pred in (("n_files", "code:sha256"), ("n_defines", "code:defines"),
                          ("n_imports", "code:imports"), ("n_calls", "code:calls"),
                          ("n_depends", "code:dependsOn")):
            if summary.get(key) != want.get(pred):
                errs.append(f"{key}: got {summary.get(key)}, manifest {want.get(pred)}")
        if summary["n_triples"] != m["triples"]:
            errs.append(f"n_triples: got {summary['n_triples']}, manifest {m['triples']}")
        got = triples_by_pred(self.path(out))
        if got != want:
            errs.append(f"table triples by predicate {got}, manifest {want}")
        if table[0] != m["triples"]:
            errs.append(f"table rows {table[0]}, manifest {m['triples']}")
        return errs + self._check_table(table)

    def _assembled(self, dedup: bool):
        from fcrepo3_rdf_extractor_spark.operators.dedup import TRIPLE_KEY, dedup_exact
        from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
            code_kg_from_state, code_kg_state,
        )
        from fcrepo3_rdf_extractor_spark.sources.source_table import read_source
        from pyspark.sql import functions as F

        cfg = self.config()
        # the same composition code_kg_plan uses: persisted state, then
        # assembly; its final dedup_exact is split out as its own rung
        state = code_kg_state(read_source(self.ctx.spark, self.path("src")), cfg).persist()
        ids = state.filter(F.col("pred") == "code:sha256").select(
            "repo", "path", "commit", "content_sha256")
        out = code_kg_from_state(state, ids, replace(cfg, dedup=False))
        return dedup_exact(out, key=TRIPLE_KEY) if dedup else out

    def rung(self, name: str) -> dict | None:
        from fcrepo3_rdf_extractor_spark.plans.code_pipeline import code_kg_plan, code_kg_state
        from fcrepo3_rdf_extractor_spark.plans.pipeline import materialize_graph
        from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

        if name == "report":
            return self.run("rung_out")
        sp = self.ctx.spark
        source = read_source(sp, self.path("src"))
        if name == "scan":
            noop(source)
        elif name == "code_state":
            noop(code_kg_state(source, self.config()))
        elif name in ("code_assembly", "dedup"):
            noop(self._assembled(dedup=name == "dedup"))
        else:
            materialize_graph(code_kg_plan(source, self.config()), self.path("rung_out"),
                              buckets=BUCKETS)
        sp.catalog.clearCache()
        return None

    def counts(self) -> dict:
        rows_in = self._assembled(dedup=False).count()
        rows_out = self._assembled(dedup=True).count()
        self.ctx.spark.catalog.clearCache()
        return {"managed_rows": 0, "dedup_rows_in": rows_in, "dedup_rows_out": rows_out,
                "changed_rows": 0, "reused_rows": 0}


class MixRunner:
    """The SPARQL mix over one triple table; every query is checked
    against its DuckDB twin over the same parquet files."""

    def __init__(self, ctx, corpus, table: str):
        self.ctx, self.table = ctx, table
        self.mix = QueryMix(random.Random(ctx.seed), corpus)
        self.twins: dict = {}
        self.tbl = None

    def reload(self) -> None:
        """Re-read the table (after a run rewrote it)."""
        self.tbl = self.ctx.spark.read.parquet(self.table)

    def query(self, k: int, tr=None) -> tuple[str, float, int, list[str]]:
        """Query k of the mix: (shape, latency s, result rows, errors)."""
        from fcrepo3_rdf_extractor_spark.operators.sparql import sparql_query

        tr = tr or nullcontext_tracer
        shape = QueryMix.SHAPES[k % len(QueryMix.SHAPES)]
        instance = k // len(QueryMix.SHAPES)
        text = self.mix.sparql(shape, instance)
        t0 = time.perf_counter()
        with tr.span(f"compile:{shape}"):
            df = sparql_query(self.tbl, text)
        with tr.span(f"exec:{shape}"):
            rows = df.collect()
        latency = time.perf_counter() - t0
        key = (shape, instance % len(self.mix.pids) if shape == "describe" else 0)
        if key not in self.twins:
            self.twins[key] = self.mix.twin(shape, instance, self.table)
        got = spark_rows(shape, rows)
        errs = [] if got == self.twins[key] else [
            f"{shape}: {len(got)} rows differ from the DuckDB twin's {len(self.twins[key])}"]
        return shape, latency, len(rows), errs


class KgQuery(Workload):
    """Closed loop, one client: the SPARQL mix over the ``foxml_bulk``
    output table in a warm session."""

    name = "kg_query"

    def setup(self) -> None:
        bulk = FoxmlBulk(self.ctx)
        bulk.dir = self.dir
        bulk.setup()
        bulk.run_write_only()  # the foxml_bulk table, written to rung_out
        self.corpus = bulk.corpus
        self.runner = MixRunner(self.ctx, self.corpus, self.path("rung_out"))
        self.runner.reload()


class _NullTracer:
    def span(self, name):
        return nullcontext()


nullcontext_tracer = _NullTracer()

WORKLOADS = {w.name: w for w in (FoxmlBulk, FoxmlRefresh, CodeKg, KgQuery)}
