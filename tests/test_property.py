"""Property-based tests (hypothesis) for the parity-critical pure layer:
term escaping, N-Quads roundtrips, ISO-instant canonicalization, blob-id
minting. These guard exactly the byte-fidelity surfaces the golden
answers depend on (SURVEY.md §7.3 'hard parts')."""

from __future__ import annotations

from datetime import datetime, timezone

from hypothesis import example, given, settings
from hypothesis import strategies as st

from fcrepo3_rdf_extractor_spark.terms import (
    Triple,
    escape_literal,
    escape_uri,
    get_blob_id,
    iso_instant,
    iso_reformat,
    nquad_line,
    parse_instant,
    parse_nt_line,
    unescape_literal,
    unescape_uri,
)

# text incl. the escape-relevant characters and general unicode
_literal_text = st.text(
    alphabet=st.characters(blacklist_categories=["Cs"]), max_size=200
)


@given(_literal_text)
def test_escape_roundtrip(s):
    assert unescape_literal(escape_literal(s)) == s


@given(_literal_text)
def test_escaped_literal_is_single_line(s):
    esc = escape_literal(s)
    assert "\n" not in esc and "\r" not in esc and "\t" not in esc


# a well-formed-looking URI body, deliberately including the characters
# RELS-EXT can actually carry in a garbage rdf:resource: space, angle
# brackets, quotes, braces, backslash, backtick, controls, non-ASCII —
# the serializer must UCHAR-escape these into a legal IRIREF
_uri_scheme = st.from_regex(r"[a-z]{1,8}", fullmatch=True)
_uri_body = st.text(
    alphabet=st.characters(blacklist_categories=["Cs"]), max_size=40
)
_uri = st.builds(lambda s, b: f"{s}:{b}", _uri_scheme, _uri_body)


@given(_uri)
@example(">")
@example("a b<c>d\\e`f\"g{h}i|j^k\x00\x1f")
def test_escape_uri_roundtrip_and_legality(u):
    esc = escape_uri(u)
    # escaped form must be a legal IRIREF body: none of the illegal chars
    for ch in '<>"{}|^`' + "".join(chr(c) for c in range(0x21)):
        assert ch not in esc, repr(ch)
    assert unescape_uri(esc) == u


@given(_uri, _uri, _literal_text, st.booleans(),
       st.none() | _uri, st.none() | st.from_regex(r"[a-z]{2}", fullmatch=True))
@example(
    subj='a:0',
    pred='a:0',
    obj='>',
    is_lit=False,
    dt=None,
    lang=None,
)
def test_nquad_line_roundtrip(subj, pred, obj, is_lit, dt, lang):
    if not is_lit:
        dt = lang = None
    if lang is not None:
        dt = None
    t = Triple(subj, pred, obj, is_lit, dt, lang)
    parsed = parse_nt_line(nquad_line(t, "#g"))
    assert parsed == (subj, pred, obj, is_lit, dt, lang, "#g")


_instant = st.datetimes(
    min_value=datetime(1900, 1, 1), max_value=datetime(2200, 1, 1)
).map(lambda d: d.replace(tzinfo=timezone.utc))


@given(_instant)
def test_iso_instant_parse_roundtrip(dt):
    assert parse_instant(iso_instant(dt)) == dt


@given(_instant)
@settings(max_examples=200)
def test_iso_reformat_fast_path_matches_datetime_path(dt):
    """The string-surgery fast path must agree with the full
    parse+format path on every UTC lexical form."""
    lexical = iso_instant(dt)
    assert iso_reformat(lexical) == iso_instant(parse_instant(lexical))
    # and variants with explicit .000 / trailing zeros canonicalize the same
    noisy = lexical.replace("Z", ".000Z") if "." not in lexical else lexical
    assert iso_reformat(noisy) == lexical


@given(st.from_regex(r"[a-z]{1,8}:[A-Za-z0-9]{1,12}", fullmatch=True))
def test_blob_id_idempotent_for_objects(token):
    once = get_blob_id(token)
    assert once == get_blob_id(once)
    assert once.startswith("info:fedora/")


@given(st.from_regex(r"[a-z]{1,6}:[0-9]{1,6}", fullmatch=True),
       st.from_regex(r"[A-Za-z0-9 .~-]{1,12}", fullmatch=True),
       st.from_regex(r"[A-Za-z0-9 .~-]{1,12}", fullmatch=True))
def test_blob_id_datastream_tokens_reversible(ns, ds, dsv):
    """Datastream token minting percent-encodes reversibly
    (ObjectProcessor.java:309-341 contract)."""
    import urllib.parse

    blob_id = get_blob_id(f"{ns}+{ds}+{dsv}")
    prefix, rest = blob_id.split("info:fedora/", 1)
    got_ns, got_ds, got_dsv = rest.split("/")
    assert got_ns == ns
    assert urllib.parse.unquote_plus(got_ds) == ds
    assert urllib.parse.unquote_plus(got_dsv) == dsv


@given(st.text(max_size=40), st.text(max_size=40))
def test_skolemize_deterministic_and_scope_separated(scope, label):
    from fcrepo3_rdf_extractor_spark.terms import skolemize

    a = skolemize(scope, label)
    assert a == skolemize(scope, label)          # pure function
    assert skolemize(scope + "x", label) != a    # scope isolation
    assert a.startswith("urn:")                  # a real, stable URI


# http refs where urljoin is authoritative; our resolver must agree on
# every shape (segments, dot-segments, absolute paths, fragments, queries)
_ref = st.one_of(
    st.from_regex(r"([A-Za-z0-9]{1,6}/){0,3}[A-Za-z0-9]{0,6}", fullmatch=True),
    st.from_regex(r"/([A-Za-z0-9]{1,6}/){0,2}[A-Za-z0-9]{0,6}", fullmatch=True),
    st.from_regex(r"(\.\./){1,3}[A-Za-z0-9]{0,6}", fullmatch=True),
    # NB: refs ending in a bare '#' are excluded — urljoin NORMALIZES the
    # empty fragment away while RFC 3986 strict recomposition (and our
    # resolver) keeps it; both readings are defensible, ours is strict
    st.from_regex(r"[A-Za-z0-9]{0,6}#[A-Za-z0-9]{1,6}", fullmatch=True),
    st.from_regex(r"[A-Za-z0-9]{0,6}\?[A-Za-z0-9]{1,6}", fullmatch=True),
    st.just(""),
)
_base = st.from_regex(
    r"http://ex\.org(/[A-Za-z0-9]{1,6}){0,3}(\?[A-Za-z0-9]{1,6})?", fullmatch=True
)


@given(_base, _ref)
@settings(max_examples=300)
def test_resolve_uri_agrees_with_urljoin_on_http(base, ref):
    from urllib.parse import urljoin

    from fcrepo3_rdf_extractor_spark.rdfxml import resolve_uri

    assert resolve_uri(base, ref) == urljoin(base, ref), (base, ref)


# the E1 contract: extract_object NEVER raises — any garbage content
# becomes error rows (one bad row at 10^12 scale must not kill a task)
_garbage = st.one_of(
    st.text(max_size=300),
    st.text(alphabet="<>/\"'=& \nfoxml:digitalObjectdatastream", max_size=200),
    st.just(None),
    st.binary(max_size=50).map(lambda b: b.decode("latin-1")),
)


@given(_garbage)
@settings(max_examples=300)
def test_extract_object_never_raises(content):
    from fcrepo3_rdf_extractor_spark.extract import extract_object

    triples, errors = extract_object(content)
    assert isinstance(triples, list) and isinstance(errors, list)
    # garbage that yields no triples must yield at least one error
    if not triples:
        assert errors

