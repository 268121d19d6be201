"""Regrowth pins: every ``operators/`` module must serve a program path,
every job takes its session from ``session.job_session``, every
plan-config field is read somewhere, and every oracle view is read.

Reach starts at every function of the jobs (``jobs/``), of the plan
and source modules, of the end-to-end benchmark (``perfbench/``),
at ``__spark_entry__.entry`` and at the KG queries (``kg_*``, ``src_*``,
``graph_*`` in ``queries.py``), and follows the names each reached
function uses, local imports included. The other registry queries,
``bench.py``, ``tools/`` and the tests are no roots, and no module is
exempt. These Spark-free scans fail when an operator module has no
reached function, when a job builds its own SparkSession, when a
config field is only set, or when ``tools/check_oracles.py`` registers
a table no oracle reads.
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "fcrepo3_rdf_extractor_spark"
ROOT_DIRS = ("jobs/", "perfbench/", *(f"{PKG}/{d}/" for d in ("plans", "sources")))

#: plan-config dataclasses whose every field must be read somewhere
CONFIGS = ("ExtractConfig", "CodeKgConfig")


def _module(rel: str) -> str:
    parts = pathlib.PurePosixPath(rel).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(rel: str, node: ast.AST) -> dict[str, str]:
    """name -> dotted target of every import under ``node``."""
    pkg = _module(rel).split(".")[: None if rel.endswith("__init__.py") else -1]
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            out |= {(a.asname or a.name).split(".")[0]: a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            base = ".".join(pkg[: len(pkg) - n.level + 1]) if n.level else ""
            src = ".".join(p for p in (base, n.module) if p)
            out |= {a.asname or a.name: f"{src}.{a.name}" for a in n.names}
    return out


def _graph() -> tuple[dict[str, set[str]], list[str]]:
    """unit -> units it uses; a unit is a module body ``m`` or a def ``m:f``."""
    files = {}
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT).as_posix()
        if not rel.startswith(("tests/", ".")):
            files[_module(rel)] = (rel, ast.parse(path.read_text()))

    def unit(target: str) -> str | None:
        mod, _, name = target.rpartition(".")
        return target if target in files else f"{mod}:{name}" if mod in files else None

    graph, roots = {}, [f"{PKG}.queries:{q}" for q in ("kg_", "src_", "graph_")]
    for mod, (rel, tree) in files.items():
        defs = [n for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))]
        body = ast.Module([n for n in tree.body if n not in defs], [])
        names = {n.name: f"{mod}.{n.name}" for n in defs} | _bindings(rel, body)
        for key, node in [(mod, body)] + [(f"{mod}:{n.name}", n) for n in defs]:
            bound = names | _bindings(rel, node)
            used = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
            targets = {bound[u] for u in used & bound.keys()} | set(_bindings(rel, node).values())
            graph[key] = {mod} | {u for u in map(unit, targets) if u}
            if rel.startswith(ROOT_DIRS) or key == "__spark_entry__:entry":
                roots.append(key)
    return graph, [r for r in graph for p in roots if r.startswith(p)]


def test_every_operator_module_is_reached_from_a_program_path():
    graph, todo = _graph()
    reached = set()
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo += graph.get(key, ())
    reached_mods = {k.split(":")[0] for k in reached}
    unreached = {
        p.stem
        for p in (ROOT / PKG / "operators").glob("*.py")
        if p.stem != "__init__" and f"{PKG}.operators.{p.stem}" not in reached_mods
    }
    assert not unreached, unreached


def test_jobs_take_their_session_from_job_session():
    """One session builder: a job that builds its own SparkSession forks
    the engine confs (``session.ENGINE_CONF``) again."""
    forks = [
        p.name for p in (ROOT / "jobs").glob("*.py")
        if "SparkSession.builder" in p.read_text()
    ]
    assert not forks, forks


def test_every_config_field_is_read():
    """A field of ``ExtractConfig`` / ``CodeKgConfig`` that the jobs set
    but no plan reads is a dead option. Each needs an ``<expr>.<field>``
    read in the package or ``jobs/``, outside its class body; a job's
    own ``args.<flag>`` does not count."""
    fields, reads = {}, set()
    for path in [*(ROOT / PKG).rglob("*.py"), *(ROOT / "jobs").glob("*.py")]:
        tree = ast.parse(path.read_text())
        inside = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.ClassDef) and n.name in CONFIGS:
                fields |= {
                    f"{n.name}.{a.target.id}": a.target.id
                    for a in n.body if isinstance(a, ast.AnnAssign)
                }
                inside |= {id(m) for m in ast.walk(n)}
        reads |= {
            n.attr for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
            and id(n) not in inside
            and not (isinstance(n.value, ast.Name) and n.value.id == "args")
        }
    unread = [k for k, f in fields.items() if f not in reads]
    assert fields and not unread, unread


def test_every_oracle_view_is_read():
    """``tools/check_oracles.py`` registers one DuckDB view per
    ``TABLES`` entry; a view no ``oracle_sql()`` text reads from is a
    table the registry no longer checks against."""
    sys.path.insert(0, str(ROOT))
    from fcrepo3_rdf_extractor_spark.queries import oracle_sql
    from tools.check_oracles import TABLES

    texts = list(oracle_sql().values())
    unread = [
        t for t in TABLES
        if not any(re.search(rf"\b(?:FROM|JOIN)\s+{t}\b", s, re.I) for s in texts)
    ]
    assert not unread, unread
