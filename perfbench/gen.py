"""Seeded input generators for the benchmark, with expected-count manifests.

Two corpora, both pure functions of ``(seed, size)``:

- ``foxml_corpus``: FOXML 1.1 blob rows ``(repo, path, commit, lang,
  content)`` plus the pre-fetched datastream store ``(blob_id, content)``
  for the MANAGED share, and snapshot B of the same repository (edits,
  deletions, additions) for the incremental refresh.
- ``code_corpus``: source-contract rows of small Python modules with
  resolvable and external imports, cross-file calls, vendored copies in
  other repos and duplicate snapshots under a second commit.

Every expected count in a manifest is derived from what the generator
planted and from the extraction rules (FIXTURES.md and
``ObjectProcessor.java:142-270``: six object triples, six triples per
non-AUDIT datastream using the newest version, one triple per non-empty
Dublin Core element, one per RELS-EXT/RELS-INT statement, empty literals
dropped, one error row per failed stage), never from the engine's output.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

REPO = "perfbench-fedora"
COMMIT_A = "c0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0"
COMMIT_B = "c0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0"
COMMIT_HOT = "c1%038d"  # hot objects are re-snapshotted under many commits

MODEL = "info:fedora/fedora-system:def/model#"
VIEW = "info:fedora/fedora-system:def/view#"
REL = "info:fedora/fedora-system:def/relations-external#"
SI = "http://oris.si.edu/2017/01/relations#"
COLLECTION_DEPTH = 3  # root + 4 + 16 collections
COLLECTION_FANOUT = 4


# --------------------------------------------------------------------------
# FOXML documents
# --------------------------------------------------------------------------


@dataclass
class Version:
    vid: str
    created: str
    mimetype: str = "text/xml"
    xml: str | None = None        # inline xmlContent child (X group)
    location: str | None = None   # contentLocation REF (M/E groups)


@dataclass
class Datastream:
    dsid: str
    group: str = "X"
    state: str = "A"
    versions: list[Version] = field(default_factory=list)


@dataclass
class FoxObject:
    """One planted object and the counts the extraction rules give it."""

    pid: str
    kind: str
    content: str
    triples: int                        # distinct triples after filters
    errors: dict[str, int]              # error stage -> error rows
    blobs: dict[str, str] = field(default_factory=dict)  # MANAGED store rows
    members_of: list[str] = field(default_factory=list)  # collection pids


def _iso(rng: random.Random, year: int = 2015) -> str:
    return "%04d-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
        year + rng.randrange(8), 1 + rng.randrange(12), 1 + rng.randrange(28),
        rng.randrange(24), rng.randrange(60), rng.randrange(60), rng.randrange(1000),
    )


def _esc(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _dc_xml(values: list[tuple[str, str]], extra_non_dc: bool) -> str:
    """oai_dc payload; ``values`` are (element, text) pairs."""
    body = "".join(f"<dc:{el}>{_esc(text)}</dc:{el}>" for el, text in values)
    if extra_non_dc:
        # a non-DC element must not yield a triple (DublinCoreContentHandlerTest:99)
        body += "<si:note xmlns:si=\"http://oris.si.edu/ns#\">ignored</si:note>"
    return (
        '<oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/">' + body + "</oai_dc:dc>"
    )


def _rdf_xml(about: list[tuple[str, list[tuple[str, str, bool]]]]) -> str:
    """RDF/XML with one rdf:Description per subject; statements are
    (qualified predicate, value, is_literal)."""
    out = [
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        f'xmlns:rel="{REL}" xmlns:fedora-model="{MODEL}" xmlns:si="{SI}">'
    ]
    for subj, stmts in about:
        out.append(f'<rdf:Description rdf:about="{subj}">')
        for pred, value, literal in stmts:
            if literal:
                out.append(f"<{pred}>{_esc(value)}</{pred}>")
            else:
                out.append(f'<{pred} rdf:resource="{value}"/>')
        out.append("</rdf:Description>")
    out.append("</rdf:RDF>")
    return "".join(out)


def _foxml(pid: str, props: dict[str, str | None], datastreams: list[Datastream]) -> str:
    out = [
        f'<?xml version="1.0" encoding="UTF-8"?>\n<foxml:digitalObject VERSION="1.1" PID="{pid}" '
        'xmlns:foxml="info:fedora/fedora-system:def/foxml#">',
        "<foxml:objectProperties>",
    ]
    names = {
        "state": MODEL + "state", "label": MODEL + "label",
        "owner": MODEL + "ownerId", "created": MODEL + "createdDate",
        "modified": VIEW + "lastModifiedDate",
    }
    for key, name in names.items():
        if props.get(key) is not None:
            out.append(f'<foxml:property NAME="{name}" VALUE="{_esc(props[key])}"/>')
    out.append("</foxml:objectProperties>")
    for ds in datastreams:
        out.append(
            f'<foxml:datastream ID="{ds.dsid}" STATE="{ds.state}" '
            f'CONTROL_GROUP="{ds.group}" VERSIONABLE="true">'
        )
        for v in ds.versions:
            out.append(
                f'<foxml:datastreamVersion ID="{v.vid}" LABEL="" CREATED="{v.created}" '
                f'MIMETYPE="{v.mimetype}">'
            )
            if v.location is not None:
                kind = "URL" if ds.group == "E" else "INTERNAL_ID"
                out.append(f'<foxml:contentLocation TYPE="{kind}" REF="{v.location}"/>')
            else:
                out.append(f"<foxml:xmlContent>{v.xml or ''}</foxml:xmlContent>")
            out.append("</foxml:datastreamVersion>")
        out.append("</foxml:datastream>")
    out.append("</foxml:digitalObject>")
    return "\n".join(out)


def _audit(rng: random.Random) -> Datastream:
    # AUDIT yields zero triples (ObjectProcessor.java:258)
    return Datastream("AUDIT", versions=[Version(
        "AUDIT.0", _iso(rng),
        xml='<audit:auditTrail xmlns:audit="info:fedora/fedora-system:def/audit#"/>',
    )])


class _FoxmlBuilder:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _props(self, pid: str, owner_empty: bool, label: str | None = None) -> tuple[dict, int]:
        rng = self.rng
        props = {
            "state": rng.choice(["A", "Active", "I", "D", "Deleted"]),
            "label": label or f"Label {pid} {rng.randrange(10**6)}",
            "owner": "" if owner_empty else f"owner{rng.randrange(50)}",
            "created": _iso(rng), "modified": _iso(rng, 2023),
        }
        # six object triples; an empty ownerId literal is dropped (F1)
        return props, 6 - (1 if owner_empty else 0)

    def _dc(self, pid: str, edited: bool = False) -> tuple[list[tuple[str, str]], int]:
        rng = self.rng
        values = [("title", f"Title of {pid}"), ("identifier", pid)]
        if rng.random() < 0.3:
            values.append(("description", f"First line {rng.randrange(999)}\nsecond line"))
        if rng.random() < 0.2:
            values.append(("subject", ""))  # empty literal: dropped (F1)
        if edited:
            values.append(("coverage", f"edited {rng.randrange(10**6)}"))
        return values, sum(1 for _, text in values if text)

    def simple(self, pid: str, collection: str | None, *, owner_empty: bool = False,
               edited: bool = False) -> FoxObject:
        """DC + AUDIT + RELS-EXT, inline XML."""
        rng = self.rng
        props, n = self._props(pid, owner_empty, f"Edited {pid}" if edited else None)
        dc_values, n_dc = self._dc(pid, edited)
        stmts = [("fedora-model:hasModel", "info:fedora/si:genericCModel", False)]
        if collection:
            stmts.append(("rel:isMemberOfCollection", f"info:fedora/{collection}", False))
        dss = [
            Datastream("DC", versions=[Version("DC.0", _iso(rng), xml=_dc_xml(dc_values, rng.random() < 0.5))]),
            _audit(rng),
            Datastream("RELS-EXT", versions=[Version(
                "RELS-EXT.0", _iso(rng), "application/rdf+xml",
                xml=_rdf_xml([(f"info:fedora/{pid}", stmts)]))]),
        ]
        n += 6 * 2 + n_dc + len(stmts)
        return FoxObject(pid, "simple", _foxml(pid, props, dss), n, {},
                         members_of=[collection] if collection else [])

    def rich(self, pid: str, collection: str) -> FoxObject:
        """Many datastreams, multi-version RELS-EXT (newest wins), a
        literal-valued RELS-EXT statement, RELS-INT, MANAGED and EXTERNAL
        binaries."""
        rng = self.rng
        props, n = self._props(pid, False)
        dc_values, n_dc = self._dc(pid)
        n_versions = 2 + rng.randrange(4)
        versions = []
        for k in range(n_versions):
            newest = k == n_versions - 1
            stmts = [("fedora-model:hasModel", "info:fedora/si:richCModel", False)]
            if newest:
                stmts += [
                    ("rel:isMemberOfCollection", f"info:fedora/{collection}", False),
                    ("si:orginal_metadata", "TRUE", True),
                ]
                n_rels = len(stmts)
            else:
                stmts.append(("rel:isMemberOfCollection", f"info:fedora/stale:{k}", False))
            versions.append(Version(
                f"RELS-EXT.{k}", "20%02d-01-01T00:00:00.000Z" % (10 + k),
                "application/rdf+xml", xml=_rdf_xml([(f"info:fedora/{pid}", stmts)])))
        rng.shuffle(versions)  # document order must not decide the newest
        rels_int = [
            (f"info:fedora/{pid}/OBJ", [("si:hasThumbnail", f"info:fedora/{pid}/TN", False),
                                        ("si:format", "image/tiff", True)]),
            (f"info:fedora/{pid}/TN", [("si:derivedFrom", f"info:fedora/{pid}/OBJ", False)]),
        ]
        dss = [
            Datastream("DC", versions=[Version("DC.0", _iso(rng), xml=_dc_xml(dc_values, False))]),
            _audit(rng),
            Datastream("RELS-EXT", versions=versions),
            Datastream("RELS-INT", versions=[Version(
                "RELS-INT.0", _iso(rng), "application/rdf+xml", xml=_rdf_xml(rels_int))]),
            Datastream("OBJ", "M", versions=[Version("OBJ.0", _iso(rng), "image/tiff",
                                                      location=f"{pid}+OBJ+OBJ.0")]),
            Datastream("TN", "M", versions=[Version("TN.0", _iso(rng), "image/jpeg",
                                                     location=f"{pid}+TN+TN.0")]),
            Datastream("FITS", "E", versions=[Version(
                "FITS.0", _iso(rng), location=f"http://fits.example.org/{pid}.xml")]),
        ]
        n_non_audit = len(dss) - 1
        n += 6 * n_non_audit + n_dc + n_rels + 3
        return FoxObject(pid, "rich", _foxml(pid, props, dss), n, {}, members_of=[collection])

    def managed(self, pid: str, collection: str, *, missing_blob: bool) -> FoxObject:
        """DC held as a MANAGED blob in the datastream store (newest of
        two versions); ``missing_blob`` plants a dc-stage error."""
        rng = self.rng
        props, n = self._props(pid, False)
        dc_values, n_dc = self._dc(pid)
        old_values = [("title", f"Superseded title of {pid}")]
        blob_new = f"info:fedora/{pid}/DC/DC.1"
        blob_old = f"info:fedora/{pid}/DC/DC.0"
        blobs = {blob_old: _dc_xml(old_values, False)}
        if not missing_blob:
            blobs[blob_new] = _dc_xml(dc_values, False)
        stmts = [("fedora-model:hasModel", "info:fedora/si:genericCModel", False),
                 ("rel:isMemberOfCollection", f"info:fedora/{collection}", False)]
        dss = [
            Datastream("DC", "M", versions=[
                Version("DC.1", "2021-06-01T00:00:00Z", location=f"{pid}+DC+DC.1"),
                Version("DC.0", "2019-06-01T00:00:00Z", location=f"{pid}+DC+DC.0"),
            ]),
            _audit(rng),
            Datastream("RELS-EXT", versions=[Version(
                "RELS-EXT.0", _iso(rng), "application/rdf+xml",
                xml=_rdf_xml([(f"info:fedora/{pid}", stmts)]))]),
        ]
        n += 6 * 2 + len(stmts) + (0 if missing_blob else n_dc)
        errors = {"dc": 1} if missing_blob else {}
        return FoxObject(pid, "managed", _foxml(pid, props, dss), n, errors, blobs,
                         members_of=[collection])

    def malformed(self, pid: str, stage: str, variant: int) -> FoxObject:
        """One planted failure per error stage."""
        rng = self.rng
        props, n = self._props(pid, False)
        dc_values, n_dc = self._dc(pid)
        dc = Datastream("DC", versions=[Version("DC.0", _iso(rng), xml=_dc_xml(dc_values, False))])
        stmts = [("fedora-model:hasModel", "info:fedora/si:genericCModel", False)]
        rels = Datastream("RELS-EXT", versions=[Version(
            "RELS-EXT.0", _iso(rng), "application/rdf+xml",
            xml=_rdf_xml([(f"info:fedora/{pid}", stmts)]))])
        if stage == "object":
            if variant == 0:    # truncated document: XML parse failure
                text = _foxml(pid, props, [dc, _audit(rng), rels])
                return FoxObject(pid, "bad_object", text[: len(text) // 2], 0, {"object": 1})
            if variant == 1:    # impossible state value
                props["state"] = "Q"
            else:               # missing createdDate property
                props["created"] = None
            return FoxObject(pid, "bad_object", _foxml(pid, props, [dc, _audit(rng), rels]),
                             0, {"object": 1})
        if stage == "dc":       # no DC datastream: consumed unconditionally
            return FoxObject(pid, "bad_dc", _foxml(pid, props, [_audit(rng), rels]),
                             n + 6 + len(stmts), {"dc": 1})
        if stage == "rels_ext":  # no RELS-EXT datastream
            return FoxObject(pid, "bad_rels_ext", _foxml(pid, props, [dc, _audit(rng)]),
                             n + 6 + n_dc, {"rels_ext": 1})
        # rels_int: present but with an empty xmlContent
        ri = Datastream("RELS-INT", versions=[Version("RELS-INT.0", _iso(rng), xml="")])
        return FoxObject(pid, "bad_rels_int", _foxml(pid, props, [dc, _audit(rng), rels, ri]),
                         n + 6 * 3 + n_dc + len(stmts), {"rels_int": 1})


def collection_pids() -> list[tuple[str, str | None]]:
    """The planted collection tree: (pid, parent pid) pairs, root first."""
    out: list[tuple[str, str | None]] = [("coll:0", None)]
    level = ["coll:0"]
    next_id = 1
    for _ in range(COLLECTION_DEPTH - 1):
        children = []
        for parent in level:
            for _ in range(COLLECTION_FANOUT):
                pid = f"coll:{next_id}"
                next_id += 1
                out.append((pid, parent))
                children.append(pid)
        level = children
    return out


@dataclass
class FoxmlCorpus:
    rows: list[tuple[str, str, str, str, str]]   # snapshot A source rows
    store: list[tuple[str, str]]                  # (blob_id, content)
    rows_b: list[tuple[str, str, str, str, str]]  # snapshot B source rows
    manifest: dict                                # expected counts for A
    manifest_b: dict                              # expected counts for B
    parents: dict[str, str]                       # collection -> parent
    members: dict[str, list[str]]                 # collection -> direct member pids
    sample_pids: list[str]                        # point-lookup subjects


def _manifest(objects: dict[str, FoxObject], rows: list[tuple], by_path: dict[str, FoxObject]) -> dict:
    errors: dict[str, int] = {}
    for row in rows:
        for stage, k in by_path[row[1]].errors.items():
            errors[stage] = errors.get(stage, 0) + k
    return {
        "source_rows": len(rows),
        "objects": len(objects),
        # after output dedup every triple keeps one witness row, and
        # distinct pids never share a triple (all subjects embed the pid)
        "objects_with_triples": sum(1 for o in objects.values() if o.triples),
        "triples": sum(o.triples for o in objects.values()),
        "errors_by_stage": dict(sorted(errors.items())),
        "errors": sum(errors.values()),
    }


def foxml_corpus(seed: int, n_objects: int) -> FoxmlCorpus:
    """Snapshot A (``n_objects`` distinct pids) and snapshot B.

    Mix: ~72% simple, 15% rich, 4% MANAGED DC (a quarter of them with a
    missing blob), 4% malformed across the four error stages, the
    collection tree, 10% of objects re-snapshotted under a second
    commit, and four hot objects re-snapshotted under 16 commits.
    Snapshot B edits ~5%, deletes ~1% and adds ~1% new objects, all
    among objects without duplicate snapshots, so B's expected counts
    follow from its own object set."""
    b = _FoxmlBuilder(seed)
    rng = b.rng
    colls = collection_pids()
    member_of = [pid for pid, _ in colls[1:]]  # any collection but the root
    objects: dict[str, FoxObject] = {}
    for pid, parent in colls:
        objects[pid] = b.simple(pid, parent)
    stages = ["object", "dc", "rels_ext", "rels_int"]
    n_regular = max(n_objects - len(colls), 40)
    for i in range(n_regular):
        pid = f"obj:{i}"
        coll = rng.choice(member_of)
        r = rng.random()
        if r < 0.04:
            objects[pid] = b.malformed(pid, stages[i % 4], (i // 4) % 3)
        elif r < 0.08:
            objects[pid] = b.managed(pid, coll, missing_blob=rng.random() < 0.25)
        elif r < 0.23:
            objects[pid] = b.rich(pid, coll)
        else:
            objects[pid] = b.simple(pid, coll, owner_empty=rng.random() < 0.05)

    def row(o: FoxObject, commit: str) -> tuple[str, str, str, str, str]:
        return (REPO, f"info:fedora/{o.pid}", commit, "foxml", o.content)

    rows = [row(o, COMMIT_A) for o in objects.values()]
    regular = [p for p in objects if p.startswith("obj:")]
    dup_pool = rng.sample(regular, max(1, len(regular) // 10))
    rows += [row(objects[p], COMMIT_B) for p in dup_pool]
    hot = dup_pool[:4]
    rows += [row(objects[p], COMMIT_HOT % k) for p in hot for k in range(16)]
    store = sorted({(k, v) for o in objects.values() for k, v in o.blobs.items()})
    by_path = {f"info:fedora/{o.pid}": o for o in objects.values()}

    # snapshot B: edits / deletes / adds among single-snapshot simple objects
    dup = set(dup_pool)
    singles = [p for p in regular if p not in dup and objects[p].kind == "simple"]
    victims = rng.sample(singles, max(2, len(regular) * 6 // 100))
    n_delete = max(1, len(regular) // 100)
    deleted, edited = set(victims[:n_delete]), victims[n_delete:]
    objects_b = {p: o for p, o in objects.items() if p not in deleted}
    edited_rows = {}
    for p in edited:
        members = objects[p].members_of
        objects_b[p] = b.simple(p, members[0] if members else None, edited=True)
        edited_rows[p] = row(objects_b[p], COMMIT_B)
    for i in range(max(1, len(regular) // 100)):
        pid = f"new:{i}"
        objects_b[pid] = b.simple(pid, rng.choice(member_of))
    rows_b = []
    for r in rows:
        pid = r[1][len("info:fedora/"):]
        if pid in deleted:
            continue
        rows_b.append(edited_rows.get(pid, r))
    rows_b += [row(objects_b[p], COMMIT_A) for p in objects_b if p.startswith("new:")]
    by_path_b = {f"info:fedora/{o.pid}": o for o in objects_b.values()}

    members: dict[str, list[str]] = {}
    for o in objects.values():
        for c in o.members_of:
            members.setdefault(c, []).append(o.pid)
    parents = {pid: parent for pid, parent in colls if parent}
    touched = set(victims)
    sample = rng.sample([p for p in regular if objects[p].triples and p not in touched], 8)
    return FoxmlCorpus(
        rows=rows, store=store, rows_b=rows_b,
        manifest=_manifest(objects, rows, by_path),
        manifest_b=_manifest(objects_b, rows_b, by_path_b),
        parents=parents, members=members, sample_pids=sample,
    )


# --------------------------------------------------------------------------
# Source-code corpus
# --------------------------------------------------------------------------

CODE_COMMIT = "d0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0a0"
CODE_COMMIT_2 = "d0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0"


@dataclass
class CodeFile:
    repo: str
    path: str
    defs: list[tuple[str, str]]   # (name, kind)
    imports: list[str]            # module names (distinct per file)
    calls: list[str]              # callee names (net mentions > 0)
    content: str


@dataclass
class CodeCorpus:
    rows: list[tuple[str, str, str, str, str]]
    manifest: dict
    sample_subjects: list[str]


def _code_file(repo: str, rid: int, i: int, n_files: int, rng: random.Random) -> CodeFile:
    n_defs = 1 + rng.randrange(3)
    fn = [f"f_{rid}_{i}_{k}" for k in range(n_defs)]
    cls = f"C_{rid}_{i}"
    imports, lines = [], [f'"""Module {i} of repo {rid}."""']
    for j in sorted(rng.sample(range(n_files), min(2, n_files))):
        if j != i:
            imports.append(f"mod_{j}")
            lines.append(f"import mod_{j}")
    ext = f"extlib_{rng.randrange(20)}"
    imports.append(ext)
    lines.append(f"from {ext} import thing")
    callees = sorted({f"f_{rid}_{rng.randrange(n_files)}_0" for _ in range(2)} - set(fn))
    calls_helper = rng.random() < 0.5  # undefined everywhere: no edge
    lines.append("")
    for k, name in enumerate(fn):
        body = " + ".join([f"{c}(x)" for c in callees] + (["helper(x)"] if calls_helper else []) or ["x"])
        lines += [f"def {name}(x):", f"    return {body}", ""]
    lines += [f"class {cls}(Base):", "    pass", ""]
    defs = [(n, "py_def") for n in fn] + [(cls, "py_class")]
    calls = callees + (["helper"] if calls_helper else [])
    return CodeFile(repo, f"pkg/mod_{i}.py", defs, imports, calls, "\n".join(lines) + "\n")


def code_corpus(seed: int, n_files: int, n_repos: int = 6) -> CodeCorpus:
    """``n_files`` modules over ``n_repos`` repos, plus vendored copies
    (10% of files copied into the next repo under ``vendor/``) and
    duplicate snapshots (10% of files again under a second commit).

    The manifest counts the distinct quads of the code-KG rules for
    ``CodeKgConfig(calls=True, vendored=True)`` (plans/code_pipeline.py):
    five constants per file, three quads per definition, one
    ``code:imports`` per module, one ``code:dependsOn`` per module
    (same-repo basename registry, min path wins, else ``ext:``), one
    ``code:calls`` per callee defined in the same repo (min defining
    path), and one ``code:vendored`` per file. It is evaluated over
    abstract quads built from the planted structure, not by scanning
    the text."""
    rng = random.Random(seed * 7919 + 17)
    per_repo = max(2, n_files // n_repos)
    files: list[tuple[CodeFile, str]] = []
    for r in range(n_repos):
        repo = f"org/repo{r}"
        for i in range(per_repo):
            files.append((_code_file(repo, r, i, per_repo, rng), CODE_COMMIT))
    originals = [f for f, _ in files]
    for f in rng.sample(originals, max(1, len(originals) // 10)):
        r = int(f.repo[len("org/repo"):])
        target = f"org/repo{(r + 1) % n_repos}"
        copy = CodeFile(target, "vendor/" + f.path.split("/")[-1], f.defs, f.imports,
                        f.calls, f.content)
        files.append((copy, CODE_COMMIT))
    for f in rng.sample(originals, max(1, len(originals) // 10)):
        files.append((f, CODE_COMMIT_2))

    def sha(text: str) -> str:
        return hashlib.sha256(text.encode("utf-8")).hexdigest()

    modules: dict[tuple[str, str], str] = {}   # (repo, basename) -> min path
    symbols: dict[tuple[str, str], str] = {}   # (repo, name) -> min path
    spread: dict[str, set[str]] = {}
    for f, _ in files:
        base = f.path.split("/")[-1].rsplit(".", 1)[0]
        key = (f.repo, base)
        modules[key] = min(modules.get(key, f.path), f.path)
        for name, _ in f.defs:
            symbols[(f.repo, name)] = min(symbols.get((f.repo, name), f.path), f.path)
        spread.setdefault(sha(f.content), set()).add(f.repo)
    quads: set[tuple[str, str, str]] = set()
    for f, commit in files:
        s = f"src:{f.repo}/{f.path}"
        h = sha(f.content)
        quads |= {(s, "code:repo", f.repo), (s, "code:path", f.path),
                  (s, "code:commit", commit), (s, "code:sha256", h), (s, "code:lang", "python")}
        for name, kind in f.defs:
            sym = f"sym:{f.repo}/{f.path}#{name}"
            quads |= {(s, "code:defines", sym), (sym, "code:name", name), (sym, "code:kind", kind)}
        for m in f.imports:
            quads.add((s, "code:imports", m))
            target = modules.get((f.repo, m.split(".")[0]))
            quads.add((s, "code:dependsOn", f"src:{f.repo}/{target}" if target else f"ext:{m}"))
        for c in f.calls:
            if (f.repo, c) in symbols:
                quads.add((s, "code:calls", f"sym:{f.repo}/{symbols[(f.repo, c)]}#{c}"))
        quads.add((s, "code:vendored", "true" if len(spread[h]) > 1 else "false"))
    by_pred: dict[str, int] = {}
    for _, p, _ in quads:
        by_pred[p] = by_pred.get(p, 0) + 1
    rows = [(f.repo, f.path, commit, "python", f.content) for f, commit in files]
    sample = [f"src:{f.repo}/{f.path}" for f in rng.sample(originals, 8)]
    return CodeCorpus(
        rows=rows,
        manifest={"source_rows": len(rows),
                  "files": len({(f.repo, f.path) for f, _ in files}),
                  "triples": len(quads), "triples_by_pred": dict(sorted(by_pred.items()))},
        sample_subjects=sample,
    )
