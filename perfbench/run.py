#!/usr/bin/env python3
"""KG-construction benchmark: one command, four workloads.

    python3 perfbench/run.py --workload foxml_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; set-up builds them, starts a ``local[nproc]`` session and
warms it; then runs repeat for ``--seconds`` and every run's output is
checked. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ledger (a prefix ladder up to the whole job, see spans.py). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Everything the run writes stays under ``.perfbench_run/``
of the working directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 150          # stop starting new runs after this much wall time
# no traced round that would end (judged by the previous round's length)
# later than this after launch: a foxml_bulk round takes ~30 s on 4 cores
# and the counts and side ladders after the last round ~30 s more, and a
# traced run must end within 180 s on a slower host too
TRACE_LIMIT_S = 115
SETUP_REPS = 3              # set-up repetitions; setup_s reports their median
MIN_RUNS = 3                # batch runs per measurement, at least
MIN_PASSES = 3              # kg_query mix passes per measurement, at least
MIN_ROUNDS = 3              # traced ladder rounds, at least, within TRACE_LIMIT_S
TRACE_WARMUP_RUNS = 1       # one more untimed run before traced rounds: flatter JIT drift
SIDE_ROUNDS = 2             # rounds of foxml_bulk's SPARQL and identity-join side ladders


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Ctx:
    def __init__(self, spark, work: str, seed: int, sampler, watch):
        self.spark, self.work, self.seed = spark, work, seed
        self.sampler, self.watch = sampler, watch


# --------------------------------------------------------------------------
# environment and session
# --------------------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file the JVM, Python workers and temp files write inside
    the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, including spark-submit's launcher: temp files and perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(work: str):
    from fcrepo3_rdf_extractor_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    return build_session("perfbench", cores=cores, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.ui.retainedExecutions": "5000",
    })


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and every process it started, and
    wait for each to end."""
    from meters import process_tree

    from pyspark import SparkContext

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def environment(args) -> dict:
    import pyarrow
    import pyspark

    from meters import steal_s

    digest = hashlib.sha256()
    for sub in ("fcrepo3_rdf_extractor_spark", "jobs", "perfbench"):
        for dirpath, _, names in sorted(os.walk(os.path.join(ROOT, sub))):
            for name in sorted(names):
                if name.endswith(".py"):
                    with open(os.path.join(dirpath, name), "rb") as fh:
                        digest.update(fh.read())
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "git_commit": commit,
        "source_sha256": digest.hexdigest(), "steal_at_start_s": steal_s(),
        "load_avg": os.getloadavg(),
    }


# --------------------------------------------------------------------------
# untraced measurement: end-to-end metrics
# --------------------------------------------------------------------------


def measure_batch(wl, ctx, seconds: float, launched: float) -> dict:
    from checks import table_fingerprint
    from meters import Clock, dir_bytes

    rates, cpus, rss, bytes_per, latencies = [], [], [], [], []
    attempted = failed = 0
    start = time.perf_counter()
    while attempted < MIN_RUNS or time.perf_counter() - start < seconds:
        if attempted and time.perf_counter() - launched > HARD_LIMIT_S:
            break
        attempted += 1
        try:
            with Clock(os.getpid(), ctx.sampler) as clock:
                summary = wl.run()
            table = table_fingerprint(wl.path("out"))
            errs = wl.check(summary, table)
            reads = wl.after_run(attempted)
            errs += [e for _, read_errs in reads for e in read_errs]
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            errs = [traceback.format_exc()]
        if errs:
            failed += 1
            log(f"run {attempted} FAILED:", *errs)
            continue
        rates.append(summary["n_triples"] / clock.wall_s)
        cpus.append(clock.cpu_s)
        rss.append(clock.rss_mb)
        bytes_per.append(dir_bytes(wl.path("out"))[1] / table[0])
        latencies += [lat for lat, _ in reads]
        log(f"run {attempted}: {clock.wall_s:.3f} s wall, {clock.cpu_s:.2f} CPU-s, "
            f"{clock.rss_mb:.0f} MB, steal {clock.steal_s:.2f} s, "
            f"queries {' '.join(f'{lat * 1e3:.0f}' for lat, _ in reads)} ms")
    return {
        "attempted": attempted, "failed": failed,
        "metrics": {
            "triples_per_s": median(rates),
            "cpu_s": median(cpus),
            "peak_rss_mb": median(rss),
            "table_bytes_per_triple": median(bytes_per),
            "query_p50_ms": median(latencies) * 1e3,
            "query_p90_ms": p90(latencies) * 1e3,
        },
        "samples": {"runs": len(rates), "queries": len(latencies)},
        # the result line carries the medians; the worst run of each
        # (the highest percentile a few runs support) is kept here
        "worst": {"triples_per_s": min(rates, default=0.0), "cpu_s": max(cpus, default=0.0),
                  "peak_rss_mb": max(rss, default=0.0),
                  "query_max_ms": max(latencies, default=0.0) * 1e3},
    }


def measure_queries(wl, ctx, seconds: float, launched: float) -> dict:
    from checks import QueryMix, table_fingerprint
    from meters import Clock, dir_bytes

    latencies, cpus, rss = [], [], []
    rows_total = 0
    attempted = failed = k = 0
    start = time.perf_counter()
    while k < MIN_PASSES * len(QueryMix.SHAPES) or time.perf_counter() - start < seconds:
        if k and time.perf_counter() - launched > HARD_LIMIT_S:
            break
        with Clock(os.getpid(), ctx.sampler) as clock:
            for _ in QueryMix.SHAPES:
                attempted += 1
                try:
                    shape, latency, n_rows, errs = wl.runner.query(k)
                except Exception:  # noqa: BLE001 — a failed query is counted
                    errs = [traceback.format_exc()]
                k += 1
                if errs:
                    failed += 1
                    log(f"query {k} FAILED:", *errs)
                    continue
                latencies.append(latency)
                rows_total += n_rows
        cpus.append(clock.cpu_s)
        rss.append(clock.rss_mb)
        log(f"pass {k // len(QueryMix.SHAPES)}: {clock.wall_s:.3f} s, {clock.cpu_s:.2f} CPU-s, "
            f"steal {clock.steal_s:.2f} s")
    _, size = dir_bytes(wl.runner.table)
    table_rows = table_fingerprint(wl.runner.table)[0]
    return {
        "attempted": attempted, "failed": failed,
        "metrics": {
            "triples_per_s": rows_total / sum(latencies) if latencies else 0.0,
            "cpu_s": median(cpus),
            "peak_rss_mb": median(rss),
            "table_bytes_per_triple": size / table_rows,
            "query_p50_ms": median(latencies) * 1e3,
            "query_p90_ms": p90(latencies) * 1e3,
        },
        "samples": {"passes": len(cpus), "queries": len(latencies)},
        "worst": {"cpu_s": max(cpus, default=0.0), "peak_rss_mb": max(rss, default=0.0),
                  "query_max_ms": max(latencies, default=0.0) * 1e3},
    }


# --------------------------------------------------------------------------
# traced measurement: per-layer ledger
# --------------------------------------------------------------------------


def python_micro(seed: int) -> dict:
    """µs per object of the pure-Python extraction layers over
    a fixed seeded sample, in this process."""
    import gen

    from fcrepo3_rdf_extractor_spark import dc, rdfxml
    from fcrepo3_rdf_extractor_spark.extract import extract_object
    from fcrepo3_rdf_extractor_spark.foxml import FoxmlError, parse_foxml

    docs = [r[4] for r in gen.foxml_corpus(seed, 300).rows[:300]]
    parsed = []
    for content in docs:
        try:
            obj = parse_foxml(content)
        except FoxmlError:
            continue
        by_id = {d["id"]: d for d in obj["datastreams"]}
        pick = {}
        for dsid in ("DC", "RELS-EXT"):
            d = by_id.get(dsid)
            if d and d["control_group"] == "X" and d["versions"] and d["versions"][0]["inline_xml"] is not None:
                pick[dsid] = d["versions"][0]["inline_xml"]
        parsed.append((obj["pid"], pick))
    runs: dict[str, list[float]] = {k: [] for k in ("foxml", "dc", "rdfxml", "extract")}
    for _ in range(5):
        t = time.perf_counter()
        for content in docs:
            try:
                parse_foxml(content)
            except FoxmlError:
                pass
        runs["foxml"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for pid, pick in parsed:
            if "DC" in pick:
                dc.parse_dc(pick["DC"], "info:fedora/" + pid)
        runs["dc"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for pid, pick in parsed:
            if "RELS-EXT" in pick:
                rdfxml.parse_rdfxml(pick["RELS-EXT"], scope=pid + "|RELS-EXT")
        runs["rdfxml"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for content in docs:
            extract_object(content)
        runs["extract"].append(time.perf_counter() - t)
    us = {k: median(v) / len(docs) * 1e6 for k, v in runs.items()}
    return {
        "parse_foxml_us": us["foxml"], "parse_rdfxml_us": us["rdfxml"],
        "parse_dc_us": us["dc"], "extract_object_us": us["extract"],
        "emit_us": us["extract"] - us["foxml"] - us["rdfxml"] - us["dc"],
    }


class Tally:
    """Checked outputs of a traced measurement: every untraced run, every
    full-job rung and every query counts into ``attempted``/``failed``."""

    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            log(f"{what} FAILED:", *errs)


def trace_mix(runner, ctx, tracer, rounds: int, tally: Tally) -> dict:
    """Per-layer SPARQL metrics: compile and execute spans per query shape,
    and (first round) exchanges and scanned rows from the executed plans."""
    from checks import QueryMix

    shapes = QueryMix.SHAPES
    exchanges, scanned, results = 0.0, 0.0, 0
    k = 1000  # instances not used by the untraced passes
    runner.reload()
    for i in range(len(shapes)):  # warm: codegen of each shape's plan
        shape, _, _, errs = runner.query(k + i)
        tally.add(f"query {shape}", errs)
    k += len(shapes)
    for r in range(rounds):
        runner.reload()
        for _ in shapes:
            mark = ctx.watch.begin() if r == 0 else None
            shape, _, n_rows, errs = runner.query(k, tracer)
            tally.add(f"query {shape}", errs)
            k += 1
            if mark:
                got = ctx.watch.end(mark)
                exchanges += got["exchanges"]
                scanned += got["scan_rows"]
                results += n_rows
    compiles = [sp.seconds for sp in tracer.spans if sp.name.startswith("compile:")]
    return {
        "sparql_compile_ms": median(compiles) * 1e3,
        **{f"query_exec_ms.{s}": tracer.median(f"exec:{s}") * 1e3 for s in shapes},
        "query_exchanges": exchanges,
        "rows_scanned_per_result": scanned / max(results, 1),
    }


def trace_batch(wl, ctx, seconds: float, launched: float, tracer, tally: Tally) -> tuple[dict, dict]:
    from checks import table_fingerprint
    from meters import dir_bytes, gc_s
    from spans import ledger

    extras = ["export_dedup"] if wl.name == "foxml_refresh" else []
    walls: dict[int, float] = {}
    gcs, jobs = [], []
    watched: dict[str, dict] = {}
    for _ in range(TRACE_WARMUP_RUNS):
        wl.run()
    start = time.perf_counter()
    rounds, round_s = 0, 0.0
    while rounds < MIN_ROUNDS or time.perf_counter() - start < seconds:
        began = time.perf_counter()
        if rounds and began - launched + round_s > TRACE_LIMIT_S:
            break
        tracer.round = rounds
        passed: dict[str, float] = {}  # wall time of each run that passed its check

        def untraced() -> None:
            mark = ctx.watch.begin()
            g0, t0 = gc_s(ctx.spark), time.perf_counter()
            summary = wl.run()
            wall = time.perf_counter() - t0
            gcs.append(gc_s(ctx.spark) - g0)
            job = ctx.watch.end(mark)
            jobs.append(job["jobs"])
            watched.setdefault("job", job)
            errs = wl.check(summary, table_fingerprint(wl.path("out")))
            tally.add(f"round {rounds} untraced run", errs)
            if not errs:
                passed["untraced"] = wall

        def traced() -> None:
            top = wl.rungs[-1]
            for name in wl.rungs[:-1] + extras:
                mark = ctx.watch.begin() if name not in watched else None
                with tracer.span("rung:" + name):
                    wl.rung(name)
                if mark:
                    watched[name] = ctx.watch.end(mark)
            # the top rung is the whole job: its output is checked too
            with tracer.span("rung:" + top):
                summary = wl.rung(top)
            errs = wl.check(summary, table_fingerprint(wl.path("rung_out")), "rung_out")
            tally.add(f"round {rounds} traced run", errs)
            if not errs:
                passed["traced"] = tracer.spans[-1].seconds

        # alternate the order so drift within the process (JIT warm-up,
        # a neighbour's burst) does not land on one side of the ledger
        try:
            for step in (untraced, traced) if rounds % 2 == 0 else (traced, untraced):
                step()
        except Exception:  # noqa: BLE001 — a failed rung is counted, not fatal
            tally.add(f"round {rounds} ladder", [traceback.format_exc()])
        else:
            if len(passed) == 2:  # a round enters the ledger only if both runs passed
                walls[rounds] = passed["untraced"]
        rounds += 1
        round_s = time.perf_counter() - began
    run_s = median(list(walls.values()))
    entries = ledger(tracer, ["rung:" + r for r in wl.rungs], walls)
    entries = {k.removeprefix("rung:"): v for k, v in entries.items()}
    counts = wl.counts()

    def exch(name: str) -> float:
        return watched[name]["exchange_bytes"] if name in watched else 0.0

    def self_s(name: str) -> float:
        return entries.get(name, 0.0)

    udf = watched.get("udf_stage", {})
    out_files, out_bytes = dir_bytes(wl.path("out"))
    nq_bytes = dir_bytes(wl.path("out_nq"))[1] if "nquads" in wl.rungs else 0
    layer = {
        "gc_s": median(gcs),
        "scan_s": self_s("scan"), "scan_bytes": watched.get("scan", {}).get("scan_bytes", 0.0),
        "managed_join_s": self_s("managed_join"), "managed_rows": counts["managed_rows"],
        "udf_stage_s": self_s("udf_stage"),
        "py_rows_in": udf.get("py_rows_in", 0.0), "py_rows_out": udf.get("py_rows_out", 0.0),
        "py_bytes_in": udf.get("py_bytes_in", 0.0), "py_bytes_out": udf.get("py_bytes_out", 0.0),
        "filters_s": self_s("filters"),
        "dedup_rows_in": counts["dedup_rows_in"], "dedup_rows_out": counts["dedup_rows_out"],
        "spill_bytes": watched.get("job", {}).get("spill_bytes", 0.0),
        "write_s": self_s("write"),
        "files_written": out_files, "bytes_written": out_bytes,
        "nquads_s": self_s("nquads"), "nquads_bytes": nq_bytes,
        "report_s": self_s("report"),
        "spark_jobs": median(jobs),
        "identity_join_s": self_s("identity_join") + self_s("reuse_union"),
        "changed_rows": counts["changed_rows"], "reused_rows": counts["reused_rows"],
        "code_state_s": self_s("code_state"), "code_assembly_s": self_s("code_assembly"),
        "code_exchange_bytes": exch("code_assembly") - exch("code_state") if wl.name == "code_kg" else 0.0,
    }
    if wl.name == "foxml_refresh":
        layer["dedup_s"] = tracer.median("rung:export_dedup")
        layer["dedup_exchange_bytes"] = exch("export_dedup")
        layer["write_exchange_bytes"] = exch("write") - exch("reuse_union")
    else:
        layer["dedup_s"] = self_s("dedup")
        prev = "filters" if wl.name == "foxml_bulk" else "code_assembly"
        layer["dedup_exchange_bytes"] = exch("dedup") - exch(prev)
        layer["write_exchange_bytes"] = exch("write") - exch("dedup")
    layer["unattributed_s"] = entries.get("unattributed", 0.0)
    # the top rung is the traced run of the whole job
    top = tracer.median("rung:" + wl.rungs[-1])
    layer["trace_overhead"] = top / run_s - 1 if run_s else 0.0
    if wl.name == "foxml_bulk":
        # the layers of the paths this workload does not run as its job:
        # the SPARQL mix over the table it wrote, and the incremental
        # identity join over the same corpus
        layer.update(trace_mix(wl.runner, ctx, tracer, SIDE_ROUNDS, tally))
        refresh = wl.refresh_ladder()
        for _ in range(SIDE_ROUNDS):
            for name in ("scan", "identity_join"):
                with tracer.span("refresh:" + name):
                    refresh.rung(name)
        layer["identity_join_s"] = (tracer.median("refresh:identity_join")
                                    - tracer.median("refresh:scan"))
        f = refresh.frames()
        layer["changed_rows"] = f["identity_join"].count()
        layer["reused_rows"] = f["reused"].count()
    return layer, {"ledger": entries, "run_s": run_s, "rounds": rounds,
                   "rounds_in_ledger": len(walls)}


def trace_queries(wl, ctx, seconds: float, launched: float, tracer, tally: Tally) -> tuple[dict, dict]:
    from checks import QueryMix
    from meters import gc_s
    from workloads import noop

    shapes, runner = QueryMix.SHAPES, wl.runner
    passes, gcs, jobs = [], [], []
    watched_scan = None
    start = time.perf_counter()
    rounds = k = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - start < seconds:
        if rounds and time.perf_counter() - launched > HARD_LIMIT_S:
            break
        tracer.round = rounds
        g0, t0 = gc_s(ctx.spark), time.perf_counter()
        mark = ctx.watch.begin()
        for _ in shapes:
            shape, _, _, errs = runner.query(k)
            tally.add(f"query {shape}", errs)
            k += 1
        passes.append(time.perf_counter() - t0)
        gcs.append(gc_s(ctx.spark) - g0)
        jobs.append(ctx.watch.end(mark)["jobs"])
        with tracer.span("run"):
            for _ in shapes:
                shape, _, _, errs = runner.query(k, tracer)
                tally.add(f"traced query {shape}", errs)
                k += 1
        mark = ctx.watch.begin() if watched_scan is None else None
        with tracer.span("rung:scan"):
            noop(runner.tbl)
        if mark:
            watched_scan = ctx.watch.end(mark)
        rounds += 1
    run_s = median(passes)
    layer = trace_mix(runner, ctx, tracer, 1, tally)
    entries = {"sparql_compile": sum(tracer.median(f"compile:{s}") for s in shapes)}
    entries.update({f"exec:{s}": tracer.median(f"exec:{s}") for s in shapes})
    entries["unattributed"] = run_s - sum(entries.values())
    layer.update({
        "gc_s": median(gcs), "scan_s": tracer.median("rung:scan"),
        "scan_bytes": watched_scan["scan_bytes"] if watched_scan else 0.0,
        "spark_jobs": median(jobs),
        "unattributed_s": entries["unattributed"],
        "trace_overhead": tracer.median("run") / run_s - 1 if run_s else 0.0,
    })
    return layer, {"ledger": entries, "run_s": run_s, "rounds": rounds}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    launched = time.perf_counter()

    sys.path[:0] = [ROOT, HERE]
    try:
        import fcrepo3_rdf_extractor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"error: the engine is not importable from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    spec = load_spec()
    work = os.path.join(os.getcwd(), ".perfbench_run")
    prepare_env(work)

    from meters import RssSampler, SparkWatch, steal_s
    from spans import Tracer, format_ledger

    env = environment(args)
    log("environment:", json.dumps(env))
    steal0 = steal_s()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_start_s = time.perf_counter() - t0
    try:
        with RssSampler(os.getpid()) as sampler:
            ctx = Ctx(spark, work, args.seed, sampler, SparkWatch(spark))
            wl = WORKLOADS[args.workload](ctx)
            setups = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t)
            t = time.perf_counter()
            for i in range(wl.warmup_runs):
                if args.workload == "kg_query":
                    for k in range(len(wl.runner.mix.SHAPES)):
                        wl.runner.query(k)
                else:
                    wl.run()
                    wl.after_run(-1 - i)
            warmup_s = time.perf_counter() - t
            setup_s = session_start_s + median(setups) + warmup_s
            log(f"setup: session {session_start_s:.2f} s, inputs {' '.join(f'{x:.2f}' for x in setups)} s, "
                f"warm-up {warmup_s:.2f} s")
            if args.workload == "foxml_refresh":
                wl.oneshot_reference()

            if args.trace:
                tracer, tally = Tracer(), Tally()
                measure = trace_queries if args.workload == "kg_query" else trace_batch
                layer, info = measure(wl, ctx, args.seconds, launched, tracer, tally)
                layer.update(python_micro(args.seed))
                layer["session_start_s"] = session_start_s
                layer["steal_cpu_s"] = steal_s() - steal0
                layer["load_avg"] = os.getloadavg()[0]
                log(format_ledger(info["ledger"], info["run_s"]))
                # a layer this workload does not run reads 0
                metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                           for m in spec["per_layer"]}
                result = {"correct": tally.failed == 0, "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": metrics}
                record = {"env": env, "ledger": info, "result": result}
                tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
            else:
                measure = measure_queries if args.workload == "kg_query" else measure_batch
                got = measure(wl, ctx, args.seconds, launched)
                attempted, failed = got["attempted"], got["failed"]
                got["metrics"]["setup_s"] = setup_s
                got["metrics"]["ok_ratio"] = (attempted - failed) / attempted
                metrics = {m["name"]: {"value": float(got["metrics"][m["name"]]), "unit": m["unit"]}
                           for m in spec["end_to_end"]}
                result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}
                record = {"env": env, "samples": got["samples"], "worst": got["worst"],
                          "result": result}
                log("samples:", json.dumps(got["samples"]), "worst:", json.dumps(got["worst"]))
    finally:
        stop_session(spark)
    record["env"]["steal_at_end_s"] = steal_s()
    os.makedirs(os.path.join(work, "samples"), exist_ok=True)
    with open(os.path.join(work, "samples",
                           f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
