from __future__ import annotations

import functools
import importlib.util
import os
import pathlib
import sys
import urllib.parse

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests
# CLI-farm subprocesses inherit this env: the scenarios run 3-300 row
# corpora, so the 8g default driver heap is pure overcommit once several
# JVMs overlap (16 x 8g exceeded host RAM and showed up as subprocess
# timeouts, not OOMs)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


REFERENCE_RES = pathlib.Path("/root/reference/src/test/resources")
#: the reference's fixture store is the source wherever it exists; without
#: it, seeded stand-ins from perfbench/gen.py take its place
USE_REFERENCE = REFERENCE_RES.exists()
_FIXTURE_PIDS = ["ct:85", "ct:86", "ct:88", "ct:90", "si-user:10", "si:1020", "si:1119"]
STAND_IN_SEED = 1
_STAND_IN_COLLECTION = "si:fixtures"


@functools.cache
def _gen():
    """perfbench/gen.py, imported by file path (perfbench is no package)."""
    path = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "gen.py"
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


@functools.cache
def stand_in_objects() -> tuple:
    """Seven ``gen.FoxObject`` stand-ins for the reference objects, one per
    reference pid, kinds alternating rich/simple (rich first) from one
    ``_FoxmlBuilder(STAND_IN_SEED)``. Rich objects plant multi-version
    RELS-EXT in shuffled order, a literal RELS-EXT statement, RELS-INT and
    unconsumed MANAGED/EXTERNAL datastreams; every object has AUDIT and
    DC. ct:85's state is set to ``Active`` as in the reference's ct:85
    (FIXTURES.md §2). Each ``triples`` is the builder's count from the
    extraction rules (gen.py docstring), never the engine's output.

    The builder adds a non-DC element and a multiline DC literal at
    random (p=0.5 and 0.3 per object); seed 0 plants no non-DC element,
    seed 1 plants both, and test_stand_in_fixtures_follow_the_rules
    holds every case."""
    gen = _gen()

    class Builder(gen._FoxmlBuilder):
        def _props(self, pid, owner_empty, label=None):
            props, n = super()._props(pid, owner_empty, label)
            if pid == "ct:85":
                props["state"] = "Active"
            return props, n

    b = Builder(STAND_IN_SEED)
    return tuple(
        b.rich(pid, _STAND_IN_COLLECTION) if i % 2 == 0
        else b.simple(pid, _STAND_IN_COLLECTION)
        for i, pid in enumerate(_FIXTURE_PIDS)
    )


#: distinct triples of the fixture set after skip-empty: the sum of the
#: reference's 7 golden answer sets (47+35+76+47+34+54+72), else the
#: stand-ins' rules counts
FIXTURE_TRIPLES = 365 if USE_REFERENCE else sum(o.triples for o in stand_in_objects())


def fixture_source(spark):
    """The 7 fixture objects as a source table: repo ``sidora-sample``,
    commit ``fixture-commit-0``, the reference's blob keys
    (``info:fedora/ct:85`` ... ``info:fedora/si:1119``), one row each.
    Content is the reference's objectStore files (a data-only read of
    the read-only fixture store) where ``REFERENCE_RES`` exists, else
    ``stand_in_objects()``."""
    from fcrepo3_rdf_extractor_spark.sources.source_table import SOURCE_COLUMNS

    if USE_REFERENCE:
        contents = [
            (REFERENCE_RES / "objectStore"
             / urllib.parse.quote("info:fedora/" + pid, safe="")).read_text()
            for pid in _FIXTURE_PIDS
        ]
    else:
        contents = [o.content for o in stand_in_objects()]
    rows = [
        ("sidora-sample", "info:fedora/" + pid, "fixture-commit-0", "foxml", content)
        for pid, content in zip(_FIXTURE_PIDS, contents)
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in SOURCE_COLUMNS))


def simple_foxml() -> str:
    """The reference's ``simple-foxml.xml`` where it exists, else
    ``simple_foxml_stand_in()``."""
    if USE_REFERENCE:
        return (REFERENCE_RES / "simple-foxml.xml").read_text()
    return simple_foxml_stand_in()


def simple_foxml_stand_in() -> str:
    """A stand-in for ``simple-foxml.xml`` with the same features: inline
    DC with a non-DC element, AUDIT, a two-version RELS-EXT whose newest
    version holds a literal statement, and a MANAGED ``CRAZYDS`` that
    nothing consumes (``simple-foxml.xml:55-60``). It plants no empty
    literal, so its count does not depend on skip-empty."""
    gen = _gen()
    pid = "simple:1"
    props = {"state": "A", "label": "Simple stand-in", "owner": "fedoraAdmin",
             "created": "2016-03-01T10:00:00.000Z", "modified": "2023-03-01T10:00:00.000Z"}
    dc = [("title", "Simple stand-in"), ("identifier", pid),
          ("description", "First line\nsecond line")]

    def rels(stmts):
        return gen._rdf_xml([(f"info:fedora/{pid}", stmts)])

    model = ("fedora-model:hasModel", "info:fedora/si:genericCModel", False)
    dss = [
        gen.Datastream("DC", versions=[gen.Version(
            "DC.0", "2016-03-01T10:00:00.000Z", xml=gen._dc_xml(dc, extra_non_dc=True))]),
        gen.Datastream("AUDIT", versions=[gen.Version(
            "AUDIT.0", "2016-03-01T10:00:00.000Z",
            xml='<audit:auditTrail xmlns:audit="info:fedora/fedora-system:def/audit#"/>')]),
        gen.Datastream("RELS-EXT", versions=[
            gen.Version("RELS-EXT.1", "2017-01-01T00:00:00.000Z", "application/rdf+xml",
                        xml=rels([model, ("si:orginal_metadata", "TRUE", True)])),
            gen.Version("RELS-EXT.0", "2016-01-01T00:00:00.000Z", "application/rdf+xml",
                        xml=rels([model, ("rel:isMemberOfCollection",
                                          "info:fedora/stale:0", False)])),
        ]),
        gen.Datastream("CRAZYDS", "M", versions=[gen.Version(
            "CRAZYDS.0", "2016-03-01T10:00:00.000Z", "text/plain",
            location=f"{pid}+CRAZYDS+CRAZYDS.0")]),
    ]
    return gen._foxml(pid, props, dss)


#: triples of ``simple_foxml_stand_in()``, the rules sum
#: (ObjectProcessor.java:142-270): 6 object triples + 6 x 3 non-AUDIT
#: datastreams (DC, RELS-EXT, CRAZYDS) + 3 DC elements + 2 statements of
#: the newest RELS-EXT
SIMPLE_STAND_IN_TRIPLES = 6 + 6 * 3 + 3 + 2
#: triples of ``simple_foxml()`` without skip-empty (``simple.nt``)
SIMPLE_FOXML_TRIPLES = 33 if USE_REFERENCE else SIMPLE_STAND_IN_TRIPLES


@pytest.fixture(scope="session")
def spark():
    from fcrepo3_rdf_extractor_spark.session import build_session

    spark = build_session("tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


class _CliFarm:
    """Lazily-submitted CLI scenario farm. A scenario's subprocess chain
    is submitted the first time something asks for it — so a selective
    run (``pytest -k one_cli_test``) pays for exactly its own scenario,
    not all of them — and the session-start hook pre-submits everything only
    when the run collected enough CLI tests to amortize it. Subprocess
    concurrency is bounded globally by cli_scenarios._JVM_SLOTS, so
    pre-submitting the lot queues rather than thrashes."""

    def __init__(self, spark, base, pool):
        from cli_scenarios import SCENARIOS

        self._scenarios = SCENARIOS
        self._spark = spark
        self._base = base
        self._pool = pool
        self._futs = {}
        import threading

        self._lock = threading.Lock()

    def future(self, name):
        with self._lock:
            if name not in self._futs:
                fn = self._scenarios[name]
                self._futs[name] = self._pool.submit(
                    fn, self._spark, self._base / name
                )
            return self._futs[name]

    def submit_all(self):
        for name in self._scenarios:
            self.future(name)


@pytest.fixture(scope="session")
def cli_results(spark, tmp_path_factory):
    """CLI integration scenarios (tests/cli_scenarios.py), run once each
    and overlapped; tests assert on the returned artifacts. Each
    scenario spawns fresh interpreter+JVM subprocesses (~15-25 s
    apiece); sequentially they were ~7 min of suite wall, overlapped
    they cost about the longest single chain. A scenario that raises is
    stored as its exception and re-raised in every test that consumes
    it (via ``cli_art``), so one broken scenario can't hide another's
    result."""
    from concurrent.futures import ThreadPoolExecutor

    base = tmp_path_factory.mktemp("cli")
    pool = ThreadPoolExecutor(max_workers=8)
    farm = _CliFarm(spark, base, pool)
    yield farm
    pool.shutdown(wait=False, cancel_futures=True)


def cli_art(results: "_CliFarm", name: str) -> dict:
    """Block on one scenario's future (submitting it if nothing has yet)
    and return its artifacts — its failure, if any, raises here, in the
    consuming test. Other scenarios keep running in the background; a
    test only ever waits for its own."""
    return results.future(name).result()


def pytest_collection_modifyitems(session, config, items):
    config._cli_tests_collected = sum(
        "cli_results" in getattr(item, "fixturenames", ())
        for item in items
    )


@pytest.fixture(scope="session", autouse=True)
def _cli_farm_eager(request):
    """Pre-submit the whole farm at the FIRST test's setup when this run
    collected several CLI tests: the subprocesses then overlap the
    oracle sweep and the unit tests instead of starting when the
    (alphabetically late) CLI tests are reached. Selective runs (a few
    -k'd CLI tests, or none) skip the pre-submit and let cli_art submit
    on demand."""
    if getattr(request.config, "_cli_tests_collected", 0) >= 5:
        request.getfixturevalue("cli_results").submit_all()
    yield
