from __future__ import annotations

import os
import pathlib
import urllib.parse

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests
# CLI-farm subprocesses inherit this env: the scenarios run 3-300 row
# corpora, so the 8g default driver heap is pure overcommit once several
# JVMs overlap (16 x 8g exceeded host RAM and showed up as subprocess
# timeouts, not OOMs)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


REFERENCE_RES = pathlib.Path("/root/reference/src/test/resources")
_FIXTURE_PIDS = ["ct:85", "ct:86", "ct:88", "ct:90", "si-user:10", "si:1020", "si:1119"]


def fixture_source(spark):
    """The reference's 7 sample objects as a source table (data-only read
    of the read-only fixture store)."""
    from fcrepo3_rdf_extractor_spark.sources.source_table import SOURCE_COLUMNS

    rows = []
    for pid in _FIXTURE_PIDS:
        blob_key = "info:fedora/" + pid
        path = urllib.parse.quote(blob_key, safe="")
        content = (REFERENCE_RES / "objectStore" / path).read_text()
        rows.append(("sidora-sample", blob_key, "fixture-commit-0", "foxml", content))
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in SOURCE_COLUMNS))


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
    not all 11 — and the session-start hook pre-submits everything only
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
