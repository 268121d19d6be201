"""Unit tests for the training-data pipeline operators: near-dup
detection finds planted duplicates, text analysis and multimodal
plumbing behave."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
    dedup_exact_docs,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signature,
    ngram_jaccard,
    simhash,
)
from fcrepo3_rdf_extractor_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
    resize_metadata,
    sample_frames,
)
from fcrepo3_rdf_extractor_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find some quiet rest").split()


def _docs(spark):
    texts = {
        0: " ".join(BASE),
        1: " ".join(BASE),                                   # exact dup of 0
        2: " ".join(BASE[:-1] + ["nap"]),                    # near dup of 0
        3: "completely different content about spark shuffles and parquet readers",
        4: "el perro corre por la casa de la abuela en el campo",
    }
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(texts.items())], "doc_id long, text string"
    )


def test_dedup_exact_docs(spark):
    out = {r.keep_doc_id: r.n_copies for r in dedup_exact_docs(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, min id kept
    assert sum(out.values()) == 5


def test_minhash_finds_planted_near_dups(spark):
    docs = _docs(spark)
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_signature_deterministic(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, minhash_signature(docs).collect()))
    b = sorted(map(tuple, minhash_signature(docs).collect()))
    assert a == b
    # identical docs -> identical signatures
    sig = {r.doc_id: tuple(r)[1:] for r in minhash_signature(docs).collect()}
    assert sig[0] == sig[1]


def test_lsh_bucket_bound_drops_degenerate_buckets(spark):
    # 50 identical docs -> one giant bucket; max_bucket=10 must drop it
    docs = spark.createDataFrame(
        [(i, "same same same words here") for i in range(50)], "doc_id long, text string"
    )
    sigs = minhash_signature(docs)
    assert minhash_lsh_candidates(sigs, max_bucket=10).count() == 0
    assert minhash_lsh_candidates(sigs, max_bucket=100).count() == 50 * 49 // 2


def test_minhash_incremental_matches_full_recompute(spark):
    """Two-wave fixture with planted old-old, new-old, and new-new
    near-dup pairs: previous-pairs ∪ incremental-pairs must equal the
    full recompute's pair set, with the new wave's signatures as the
    only new signature work."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        band_table,
        minhash_incremental_pairs,
        minhash_near_duplicates,
        minhash_signature,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    rows = [
        (0, base),                                  # old
        (1, base.replace("kappa", "kap")),          # old near-dup of 0
        (2, other),                                 # old, distinct
        (10, base.replace("sigma", "sig")),         # new near-dup of 0/1
        (11, other.replace("ten", "tenn")),         # new near-dup of 2
        (12, other.replace("ten", "tenn") + " x"),  # new near-dup of 11
        (13, "totally unrelated content here now"), # new singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old_docs = docs.filter("doc_id < 10")
    new_docs = docs.filter("doc_id >= 10")

    full = {(r.doc_a, r.doc_b)
            for r in minhash_near_duplicates(docs, threshold=0.4).collect()}
    prev = {(r.doc_a, r.doc_b)
            for r in minhash_near_duplicates(old_docs, threshold=0.4).collect()}
    old_bands = band_table(minhash_signature(old_docs, "text", 8))
    incr = {(r.doc_a, r.doc_b)
            for r in minhash_incremental_pairs(
                new_docs, old_bands, docs, threshold=0.4).collect()}
    assert prev | incr == full
    # incremental pairs all touch a new doc; old-old never recomputes
    assert all(a >= 10 or b >= 10 for a, b in incr)
    assert any(a < 10 <= b for a, b in incr)   # a planted new-old pair
    assert any(a >= 10 and b >= 10 for a, b in incr)  # and a new-new pair


def test_containment_incremental_matches_full_recompute(spark):
    """Containment twin of the MinHash wave test: planted old-old,
    new-old, and new-new contained fragments. previous-pairs ∪
    incremental-pairs must equal the full recompute — scores included —
    while the new wave probes the persisted (g, doc_id) index and only
    the wave re-shingles."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        containment_incremental_pairs,
        containment_index,
        containment_near_duplicates,
    )

    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    long_b = " ".join(f"one{i} two{i} three{i}" for i in range(12))
    rows = [
        (0, long_a),                                   # old host
        (1, " ".join(long_a.split()[:12])),            # old fragment of 0
        (2, long_b),                                   # old, distinct host
        (10, " ".join(long_a.split()[12:26])),         # new fragment of 0
        (11, " ".join(f"p{i} q{i} r{i}" for i in range(10))),  # new host
        (12, " ".join(f"p{i} q{i} r{i}" for i in range(10))[:40]),  # new frag of 11
        (13, "totally unrelated content here now"),    # new singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old_docs = docs.filter("doc_id < 10")
    new_docs = docs.filter("doc_id >= 10")

    def as_dict(df):
        return {(r.doc_a, r.doc_b): r.containment for r in df.collect()}

    full = as_dict(containment_near_duplicates(docs, threshold=0.8))
    prev = as_dict(containment_near_duplicates(old_docs, threshold=0.8))
    old_index = containment_index(old_docs)
    incr = as_dict(
        containment_incremental_pairs(new_docs, old_index, threshold=0.8)
    )
    assert {**prev, **incr} == full
    # incremental pairs all touch a new doc; old-old never recomputes
    assert all(a >= 10 or b >= 10 for a, b in incr)
    assert any(a < 10 <= b for a, b in incr)          # a planted new-old pair
    assert any(a >= 10 and b >= 10 for a, b in incr)  # and a new-new pair
    # a prebuilt wave index (what curate persists) gives the same answer
    incr2 = as_dict(
        containment_incremental_pairs(
            new_docs, old_index, threshold=0.8,
            new_index=containment_index(new_docs),
        )
    )
    assert incr2 == incr


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "doc_a long, doc_b long")
    j = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(pairs, docs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] == 0.0


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert out[0] == out[1]
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[3]).count("1")
    assert ham_near <= ham_far


def test_token_count_and_quality(spark):
    docs = _docs(spark)
    tc = {r.doc_id: r.n_tokens for r in token_count(docs).collect()}
    assert tc[0] == len(BASE)
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[0].quality == 1.0  # long, stopword-rich, sane word length
    assert 0 <= q[3].punct_ratio <= 1


def test_language_id(spark):
    out = {r.doc_id: r.pred_lang for r in language_id(_docs(spark)).collect()}
    assert out[0] == "en"
    assert out[4] == "es"


def test_fingerprint_whitespace_invariant(spark):
    docs = spark.createDataFrame(
        [(0, "a b  c"), (1, "A   b\tc"), (2, "a b d")], "doc_id long, text string"
    )
    fp = {r.doc_id: (r.content_fp, r.min_shingle_fp) for r in fingerprint(docs).collect()}
    assert fp[0] == fp[1]      # case/whitespace-normalized identity
    assert fp[0] != fp[2]


def test_multimodal_pipeline_fake_decode(spark):
    docs = _docs(spark)
    media = documents_as_media(docs)
    feats = extract_media_features(media, decode_stub="fake")
    rows = {r.media_id: r for r in feats.collect()}
    n = {r.media_id: r.n_bytes for r in media.collect()}
    for mid, r in rows.items():
        assert r.width == 64 + (n[mid] % 1024)
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 0.01
    plan = resize_metadata(feats).collect()
    assert all(min(p.out_width, p.out_height) == 224 for p in plan)
    frames = sample_frames(media, every_n=16, max_frames=8)
    per_doc = {r[0]: r[1] for r in frames.groupBy("media_id").count().collect()}
    assert all(1 <= c <= 8 for c in per_doc.values())


def test_multimodal_raise_stub(spark):
    media = documents_as_media(_docs(spark))
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_media_features(media, decode_stub="raise").collect()


def test_winnow_fingerprint_alignment_robust(spark):
    """Winnowing's point: an insertion shifts k-gram positions but most
    selected (window-min) hashes survive — unlike head-anchored hashes."""
    from fcrepo3_rdf_extractor_spark.operators.text import winnow_fingerprint

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    shifted = "PREFIX INSERTED " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    fps = {r.doc_id: set(r.fingerprints) for r in winnow_fingerprint(df).collect()}
    overlap = len(fps[1] & fps[2]) / len(fps[1] | fps[2])
    assert overlap > 0.7, overlap
    # and a genuinely different doc shares almost nothing
    other = spark.createDataFrame(
        [(3, "completely unrelated content about spark physical plans " * 5)],
        "doc_id long, text string",
    )
    fps3 = set(winnow_fingerprint(other).collect()[0].fingerprints)
    assert len(fps[1] & fps3) / len(fps[1] | fps3) < 0.05


def test_hll_sketch_distinct_error_bound(spark):
    """approx_count_distinct (HyperLogLog++): mergeable distributed
    sketch; rsd=0.02 must land within 5% of exact on every grouping."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    got = {
        r.l_returnflag: (r.approx, r.exact)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx"),
            F.countDistinct("l_orderkey").alias("exact"),
        )
        .collect()
    }
    assert got
    for flag, (approx, exact) in got.items():
        assert abs(approx - exact) / exact < 0.05, (flag, approx, exact)


def test_media_features_null_payload_survives(spark):
    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    docs = spark.createDataFrame(
        [(1, "real text", "en", "s", 9), (2, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    feats = {r.media_id: r for r in
             extract_media_features(documents_as_media(docs)).collect()}
    assert feats[1].width is not None
    assert feats[2].width is None and feats[2].feature is None


def test_vocab_token_count_greedy_longest_match(spark):
    """Greedy longest-match segmentation: the longest matching vocab
    piece wins at each position ('foobar' with {'foo','foob','ba','r'}
    -> foob+UNK(a)+r = 3, never foo+ba+r), unknown chars fall back to
    1-char UNK pieces, empty text counts 0, and whole-word vocab hits
    cost exactly 1."""
    from fcrepo3_rdf_extractor_spark.operators.text import vocab_token_count

    vocab = ["foo", "foob", "ba", "r", "hello"]
    docs = spark.createDataFrame(
        [
            (0, "foobar"),          # foob + a(UNK) + r = 3
            (1, "hello foobar"),    # 1 + 3 = 4
            (2, "zzz"),             # 3 UNK chars
            (3, ""),                # 0 pieces
            (4, "HELLO"),           # lowercased -> 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_vocab_tokens
           for r in vocab_token_count(docs, vocab).collect()}
    assert got == {0: 3, 1: 4, 2: 3, 3: 0, 4: 1}


def test_curate_vocab_file_switches_n_tokens(spark, cli_results):
    """--vocab-file makes curate's n_tokens the greedy piece count over
    the supplied vocabulary instead of the whitespace word count.
    (Scenario: cli_scenarios.curate_vocab_file, run on the session farm.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_vocab_file")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    assert r["summary"]["n_tokens"] == 6  # 2 words x (foob + UNK + r)
    got = spark.read.parquet(art["out"]).collect()
    assert got[0].n_tokens == 6


def test_media_dimensions_genuine_file_headers(spark):
    """The codec-free header parser must read dimensions from GENUINE
    file bytes — a real PNG (correct IHDR CRC), a GIF89a screen
    descriptor (little-endian!), and a JPEG whose SOF0 sits behind
    APP0+APP1+DQT segments so the marker walk is actually exercised —
    and yield NULL (not a task failure) on garbage and truncation."""
    import struct
    import zlib

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        media_dimensions,
    )

    def png(w, h):
        ihdr = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"

    def jpeg(w, h):
        app0 = (b"\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        app1 = b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\x00\x00\x00\x00"
        dqt = b"\xff\xdb" + struct.pack(">H", 5) + b"\x00\x01\x02"
        sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                + struct.pack(">HH", h, w)
                + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01")
        return b"\xff\xd8" + app0 + app1 + dqt + sof0 + b"\xff\xda..."

    rows = [
        (1, bytearray(png(640, 480))),
        (2, bytearray(gif(320, 200))),
        (3, bytearray(jpeg(1920, 1080))),
        (4, bytearray(b"not an image at all")),
        (5, bytearray(b"\x89PN")),  # truncated magic
        (6, bytearray(b"\xff\xd8\xff\xe0")),  # JPEG cut before any length
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: (r.format, r.width, r.height)
           for r in media_dimensions(df).collect()}
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("gif", 320, 200)
    assert got[3] == ("jpeg", 1920, 1080)
    assert got[4] == (None, None, None)
    assert got[5] == (None, None, None)
    assert got[6] == ("jpeg", None, None)


def test_media_dimensions_overflowing_fields_yield_null(spark):
    """A payload that passes the PNG magic but carries 0xFFFFFFFF in the
    width/height fields must yield NULL dims, not a task failure: a
    straight cast('int') of the conv() string raises CAST_OVERFLOW under
    ANSI mode (Spark 4 default), so one hostile row would kill a 100 TB
    metadata job."""
    import struct

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        media_dimensions,
    )

    evil_png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + b"\xff\xff\xff\xff" + struct.pack(">I", 480)
                + bytes([8, 6, 0, 0, 0]) + b"\x00\x00\x00\x00")
    evil_gif = b"GIF89a\xff\xff\xff\xff\xf7\x00\x00"  # 65535s: in range
    df = spark.createDataFrame(
        [(1, bytearray(evil_png)), (2, bytearray(evil_gif))],
        "media_id long, payload binary",
    )
    got = {r.media_id: (r.format, r.width, r.height)
           for r in media_dimensions(df).collect()}
    assert got[1] == ("png", None, 480)
    assert got[2] == ("gif", 65535, 65535)  # uint16 can't overflow int32


def test_documents_as_image_media_roundtrip(spark):
    """Synthesized headers are valid enough that the parser recovers
    exactly the planted (format, width, height) closed forms."""
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        documents_as_image_media,
        media_dimensions,
    )

    docs = spark.createDataFrame(
        [(i, "x" * (7 * i + 1)) for i in range(9)],
        "doc_id long, text string",
    )
    media = documents_as_image_media(docs)
    got = {r.media_id: r for r in media_dimensions(media).collect()}
    for i in range(9):
        fmt = ["png", "gif", "jpeg"][i % 3]
        assert got[i].format == fmt
        assert got[i].width == 1 + (7 * i + 1) % 1000
        assert got[i].height == 1 + i % 800


def test_connected_components_chain_and_singletons(spark):
    """A 5-node chain (diameter > 1 propagation round), a separate
    2-clique, and isolated vertices supplied via `vertices`."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                  "doc_id long")
    got = {r.id: r.cluster_id
           for r in connected_components(pairs, vertices=verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_star_cc_matches_propagation_on_random_graph(spark):
    """Both algorithms must produce identical labelings — exercised on a
    graph with chains, a clique, singletons, and a cross-link."""
    import random

    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 12)]            # chain 0..12
    edges += [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
    edges += [(12, 20)]                                    # bridge chain <-> clique
    edges += [(rng.randrange(30, 40), rng.randrange(30, 40)) for _ in range(8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    verts = spark.createDataFrame([(i,) for i in range(0, 45)], "doc_id long")
    prop = {r.id: r.cluster_id
            for r in connected_components(pairs, vertices=verts).collect()}
    star = {r.id: r.cluster_id
            for r in connected_components(
                pairs, vertices=verts, algorithm="star").collect()}
    assert prop == star


def test_star_cc_long_chain_converges_where_propagation_cannot(spark):
    """A 30-node chain has diameter 29: plain propagation advances one
    hop per round (raises within 5), while large-star/small-star folds
    the chain in O(log^2 n) rounds (~7 for this size, measured) and
    labels it correctly within the same budget of 10."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=5)
    got = {r.id: r.cluster_id
           for r in connected_components(chain, max_iter=10, algorithm="star").collect()}
    assert got == {i: 0 for i in range(31)}


def test_star_cc_empty_and_singletons(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    verts = spark.createDataFrame([(5,), (9,)], "doc_id long")
    got = {r.id: r.cluster_id
           for r in connected_components(pairs, vertices=verts, algorithm="star").collect()}
    assert got == {5: 5, 9: 9}


def test_shared_neighbor_pairs_bound_and_dedup(spark):
    """Hub h1 (3 members) enumerates its 3 pairs; hub h2 exceeds
    max_bucket and enumerates nothing; duplicate edges collapse before
    pairing."""
    from fcrepo3_rdf_extractor_spark.operators.graph import shared_neighbor_pairs

    edges = spark.createDataFrame(
        [("h1", "a"), ("h1", "b"), ("h1", "c"), ("h1", "a"),
         ("h2", "x"), ("h2", "y"), ("h2", "z"), ("h2", "w")],
        "hub string, member string",
    )
    got = {(r.hub, r.member_a, r.member_b)
           for r in shared_neighbor_pairs(edges, max_bucket=3).collect()}
    assert got == {("h1", "a", "b"), ("h1", "a", "c"), ("h1", "b", "c")}


def test_dedup_clusters_keep_is_min_id(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(7, 3), (3, 9)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in [3, 7, 9, 42]], "doc_id long")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in dedup_clusters(pairs, docs).collect()}
    assert rows == {3: (3, True), 7: (3, False), 9: (3, False), 42: (42, True)}


def test_tfidf_top_term_prefers_rare_term(spark):
    from fcrepo3_rdf_extractor_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common common zebra"), (2, "common common common"),
         (3, "common yak yak")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.term for r in tfidf_top_terms(docs, k=1).collect()}
    # 'common' appears in every doc -> idf 0; rare terms win where present
    assert got[1] == "zebra" and got[3] == "yak"
    # doc 2 has only zero-idf terms; deterministic pick still emitted
    assert got[2] == "common"


def test_deterministic_sample_stable_under_repartition(spark):
    from fcrepo3_rdf_extractor_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.3).collect()}
    b = {r.doc_id for r in
         deterministic_sample(df.repartition(17), "doc_id", 0.3).collect()}
    assert a == b                       # pure function of the key
    assert 0.25 < len(a) / 2000 < 0.35  # ~rate


def test_deterministic_sample_rate_edges(spark):
    from fcrepo3_rdf_extractor_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    assert deterministic_sample(df, "doc_id", 0.0).count() == 0
    assert deterministic_sample(df, "doc_id", 1.0).count() == 100


def test_stratified_sample_respects_per_stratum_rates(spark):
    from fcrepo3_rdf_extractor_spark.operators.sampling import stratified_sample

    rows = [(i, "keep_all" if i % 2 == 0 else "drop_all") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, key_col="doc_id", strata_col="source",
                            rates={"keep_all": 1.0, "drop_all": 0.0})
    got = [r.source for r in out.collect()]
    assert len(got) == 200 and set(got) == {"keep_all"}


def test_curate_job_end_to_end(spark, cli_results):
    """jobs/curate.py composes the training-data operators: exact dedup
    drops the identical copy, near-dup clustering drops the almost-
    identical copy, quality/language filters and deterministic sampling
    apply, and the summary JSON accounts for every stage.
    (Scenario: cli_scenarios.curate_end_to_end — doc 1 is an exact dup
    of 0, doc 2 a one-word near-dup, doc 3 fails quality, doc 4 Spanish.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_end_to_end")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    summary = r["summary"]
    assert summary["stages"]["input"] == 5
    assert summary["stages"]["after_exact_dedup"] == 4   # doc 1 dropped
    assert summary["stages"]["after_neardup"] == 3       # doc 2 dropped
    assert summary["stages"]["after_quality_lang"] == 2  # doc 3 dropped
    kept = {r_.doc_id for r_ in spark.read.parquet(art["out"]).collect()}
    assert kept == {0, 4}
    cols = set(spark.read.parquet(art["out"]).columns)
    assert {"pred_lang", "quality", "n_tokens"} <= cols


def test_curate_incremental_waves_match_one_shot(spark, cli_results):
    """Two append-only waves through ``--state`` must export EXACTLY the
    corpus a one-shot run over the concatenated input produces — same
    surviving doc_ids, same annotation values. Also pins the
    append-only contract: a wave reusing stored doc_ids is refused.
    (Scenario: cli_scenarios.curate_incremental_waves — sf0.001
    documents split 80/20 at doc_id 400.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_incremental_waves")
    assert art["full"]["rc"] == 0, art["full"]["stderr"][-2000:]
    assert art["w1"]["rc"] == 0, art["w1"]["stderr"][-2000:]
    assert art["w1"]["summary"]["wave"] == 0
    assert art["w2"]["rc"] == 0, art["w2"]["stderr"][-2000:]
    s2 = art["w2"]["summary"]
    assert s2["wave"] == 1 and s2["stages"]["wave_docs"] == 100

    cols = ["doc_id", "text", "quality", "pred_lang", "n_tokens"]
    got = {tuple(r_) for r_ in
           spark.read.parquet(art["outs"]["w2"]).select(*cols).collect()}
    want = {tuple(r_) for r_ in
            spark.read.parquet(art["outs"]["full"]).select(*cols).collect()}
    assert got == want and len(want) > 0

    # append-only violation: re-sending wave-1 ids must be refused
    bad = art["bad"]
    assert bad["rc"] != 0
    assert "append-only" in (bad["stderr"] + bad["stdout"])

    # line dedup is incompatible with incremental state
    bad2 = art["bad2"]
    assert bad2["rc"] == 2
    assert "incompatible" in bad2["stderr"]


def test_pack_shards_leaves_no_cache_behind(spark):
    """pack_shards is one lazy deterministic plan: materializing it must
    not add entries to the executor cache (the earlier formulation
    persisted its staging frame and never released it)."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import pack_shards

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(100)], "doc_id long, n_tokens long"
    )
    pack_shards(df, "n_tokens", budget=100, num_partitions=4).count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after == before


def test_pack_shards_explicit_sample_rate_matches_default(spark):
    """The boundary sample only balances buckets; it must never change
    cum_weight/shard values (boundaries cancel out of the prefix sum)."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, (i * 13) % 50 + 1) for i in range(150)], "doc_id long, n_tokens long"
    )
    a = {r.doc_id: (r.cum_weight, r.shard)
         for r in pack_shards(df, "n_tokens", 300, num_partitions=8).collect()}
    b = {r.doc_id: (r.cum_weight, r.shard)
         for r in pack_shards(df, "n_tokens", 300, num_partitions=8,
                              sample_rate=0.02).collect()}
    assert a == b


def test_sequence_pack_placement_reconstructs_stream(spark):
    """Placements must tile the concatenated stream exactly: starts are
    the exclusive prefix sum, windows cover [start, start+w-1], a doc
    crossing k boundaries reports n_splits == k, and zero-weight docs
    sit at their neighbor's start without underflowing seq_last."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import sequence_pack

    rows = [(0, 5), (1, 0), (2, 12), (3, 3), (4, 25), (5, 1)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r.doc_id: r for r in
           sequence_pack(df, "n_tokens", ctx_len=10, num_partitions=3).collect()}
    cum = 0
    for doc_id, w in rows:
        r = out[doc_id]
        assert r.start_token == cum
        assert r.seq_first == cum // 10
        assert r.offset_in_seq == cum % 10
        end_last = max(cum + w - 1, cum)
        assert r.seq_last == end_last // 10
        assert r.n_splits == r.seq_last - r.seq_first
        cum += w
    # doc 4 spans tokens 20..44 → windows 2,3,4 → 2 splits
    assert out[4].n_splits == 2
    # zero-weight doc 1 fits "inside" one window
    assert out[1].n_splits == 0


def test_curate_job_zero_survivors_reports_zero_tokens(cli_results):
    """sum() over an empty output is NULL; the summary must report 0.
    (Scenario: cli_scenarios.curate_zero_survivors — quality-min 99.)"""
    from conftest import cli_art

    r = cli_art(cli_results, "curate_zero_survivors")["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    assert r["summary"]["n_docs"] == 0
    assert r["summary"]["n_tokens"] == 0


def test_unigram_logprob_flags_rare_content(spark):
    from math import isclose, log

    from fcrepo3_rdf_extractor_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a a"), (1, "a a b")], "doc_id long, text string"
    )
    # corpus: a x5, b x1, total 6
    got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert isclose(got[0].logprob, round(3 * log(5 / 6), 4))
    assert isclose(got[1].logprob, round(2 * log(5 / 6) + log(1 / 6), 4))
    # the doc containing the rare token scores lower per token
    assert got[1].per_token_logprob < got[0].per_token_logprob


def test_connected_components_raises_on_non_convergence(spark):
    """Exceeding max_iter must raise, not silently return split
    clusters (partial labels would make the canonical pick wrong with
    no downstream signal)."""
    import pytest as _pytest

    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )  # diameter 7 > max_iter=2
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=2)


def test_pack_shards_prefix_sum_partition_invariant(spark):
    """The two-level prefix sum must equal the naive global cumsum
    regardless of partition count, and each shard's weight must respect
    the budget (no shard exceeds budget + its last row's weight)."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import pack_shards

    rows = [(i, (i * 37) % 90 + 10) for i in range(200)]  # weights 10..99
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    want_cum, run = {}, 0
    for i, w in rows:
        run += w
        want_cum[i] = run

    for parts in (1, 3, 16):
        out = {r.doc_id: (r.cum_weight, r.shard)
               for r in pack_shards(df, "n_tokens", budget=500,
                                    num_partitions=parts).collect()}
        assert {k: v[0] for k, v in out.items()} == want_cum, parts
        # shard id = floor(exclusive-cumsum / budget)
        for i, w in rows:
            assert out[i][1] == (want_cum[i] - w) // 500, (parts, i)


# --- pagerank ---------------------------------------------------------------


def _pagerank_reference(edges, n_iter=3, d=0.85):
    """Pure-Python PageRank with uniform dangling-mass redistribution."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, v in edges:
        out.setdefault(u, set()).add(v)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        mass = sum(rank[v] for v in nodes if v not in out)
        nxt = {}
        for v in nodes:
            contrib = sum(
                rank[u] / len(out[u]) for u in nodes if u in out and v in out[u]
            )
            nxt[v] = (1 - d) / n + d * (contrib + mass / n)
        rank = nxt
    return rank


def test_pagerank_matches_reference_with_dangling_nodes(spark):
    """Chain + fan + two dangling sinks: every structural case (multi
    out-degree, pure sink, node that is only ever a source)."""
    from fcrepo3_rdf_extractor_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("e", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, n_iter=3).collect()}
    want = _pagerank_reference(edges, n_iter=3)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_conserves_total_rank(spark):
    """Dangling redistribution must keep sum(rank) == 1 each round."""
    from fcrepo3_rdf_extractor_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 4):
        total = (
            pagerank(df, n_iter=it).agg(F.sum("rank").alias("s")).collect()[0].s
        )
        assert total == pytest.approx(1.0, abs=1e-12)


def test_dedup_lines_removes_corpus_boilerplate(spark):
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique alpha\nfooter text"),
            (2, "COOKIE BANNER\nunique beta\nfooter text"),
            (3, "unique gamma\nCOOKIE BANNER"),
            (4, "COOKIE BANNER\nfooter text"),  # all lines boilerplate
            (5, "solo line stays"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "unique alpha"
    assert out[2]["text"] == "unique beta"
    assert out[3]["text"] == "unique gamma"
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0
    assert out[4]["n_removed"] == 2
    assert out[5]["text"] == "solo line stays" and out[5]["n_removed"] == 0
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 2


def test_dedup_lines_preserves_order_and_duplicate_positions(spark):
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import dedup_lines

    # a line repeated WITHIN one doc but nowhere else is NOT banned
    # (min_docs counts distinct documents), and order is original
    docs = spark.createDataFrame(
        [(1, "z last\nz last\na first"), (2, "other doc")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "z last\nz last\na first"


def test_void_property_stats(spark):
    from fcrepo3_rdf_extractor_spark.operators.graph import void_property_stats

    triples = spark.createDataFrame(
        [
            ("s1", "p1", "o1", False),
            ("s1", "p1", "o2", False),
            ("s2", "p1", "o1", False),
            ("s1", "p2", "lit", True),
        ],
        ["subj", "pred", "obj_value", "obj_is_literal"],
    )
    out = {r["pred"]: r for r in void_property_stats(triples).collect()}
    assert out["p1"]["n_triples"] == 3
    assert out["p1"]["n_subjects"] == 2
    assert out["p1"]["n_objects"] == 2
    assert out["p1"]["n_literal_objects"] == 0
    assert out["p2"]["n_triples"] == 1 and out["p2"]["n_literal_objects"] == 1


def test_connected_components_evaluates_pair_pipeline_once(spark):
    """The propagation path mirrors pairs into a bidirected edge list; a
    union of two references to an un-checkpointed plan evaluates it
    twice (the filter/union gotcha). Pin the fix: an accumulator inside
    a mapInPandas pair source must count each pair exactly once."""
    from fcrepo3_rdf_extractor_spark.operators.graph import connected_components

    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"])

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    pairs = base.mapInPandas(counted, schema="doc_a long, doc_b long")
    out = connected_components(pairs)
    assert {(r["id"], r["cluster_id"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
    }
    assert acc.value == 3

def test_curate_job_line_dedup_and_pii_stages(spark, cli_results):
    """Opt-in curate stages: --dedup-lines-min-docs strips the corpus-
    wide boilerplate line from every doc, --pii-redact replaces
    emails/phones with placeholders and totals n_pii in the summary.
    (Scenario: cli_scenarios.curate_line_dedup_pii — a shared COOKIE
    banner line + one email + one phone number planted.)"""
    from conftest import cli_art

    header = "COOKIE CONSENT BANNER TEXT"
    art = cli_art(cli_results, "curate_line_dedup_pii")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    summary = r["summary"]
    assert summary["stages"]["after_line_dedup"] == 3
    assert "after_pii_redact" in summary["stage_sec"]
    assert summary["n_pii_redacted"] == 2
    got = {row.doc_id: row for row in spark.read.parquet(art["out"]).collect()}
    assert set(got) == {0, 1}  # doc 2 fails quality after header strip
    for row in got.values():
        assert header not in row.text
    assert "<EMAIL>" in got[0].text and "alice@example.com" not in got[0].text
    assert "<PHONE>" in got[1].text
    assert got[0].n_pii == 1 and got[1].n_pii == 1

def test_mixture_rates_closed_loop(spark):
    """The solved rates, applied through stratified_sample, land the
    kept weight near the budget: heavy strata are rate-limited to
    budget*share, light strata keep everything (rate 1.0)."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import (
        mixture_rates,
        stratified_sample,
    )
    from pyspark.sql import functions as F

    rows = [(i, "heavy", 100) for i in range(300)] + [
        (1000 + i, "light", 100) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    # uniform shares over 2 strata, budget 4000 => share*budget = 2000:
    # heavy (30000) -> rate 2000/30000, light (1000) -> rate 1.0
    rates = {r.source: r.rate for r in
             mixture_rates(df, "source", "w", budget=4000.0).collect()}
    assert rates["light"] == 1.0
    assert abs(rates["heavy"] - 2000.0 / 30000.0) < 1e-6
    # a stratum missing from an explicit shares dict must surface with
    # rate 0.0, never be dropped (a dropped stratum falls through to the
    # caller's default_rate and silently blows the budget)
    explicit = {r.source: r.rate for r in
                mixture_rates(df, "source", "w", budget=4000.0,
                              shares={"heavy": 1.0}).collect()}
    assert explicit["heavy"] == round(min(1.0, 4000.0 / 30000.0), 6)
    assert explicit["light"] == 0.0
    kept = stratified_sample(df, key_col="doc_id", strata_col="source",
                             rates=rates)
    got = kept.groupBy("source").agg(F.sum("w").alias("w")).collect()
    by_src = {r.source: r.w for r in got}
    assert by_src["light"] == 1000  # rate 1.0 keeps everything
    # md5-threshold sampling is exact-in-expectation; 300 docs at rate
    # 1/15 -> expect ~20 docs (2000 weight), allow generous slack
    assert 500 <= by_src.get("heavy", 0) <= 4000
    # overshooting / negative shares are rejected up front — a dict
    # summing past 1.0 would silently exceed the token budget
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum"):
        mixture_rates(df, "source", "w", budget=4000.0,
                      shares={"heavy": 0.8, "light": 0.3})
    with _pytest.raises(ValueError, match="non-negative"):
        mixture_rates(df, "source", "w", budget=4000.0,
                      shares={"heavy": -0.1})


def test_curate_containment_stage_drops_fragment(spark, cli_results):
    """--containment-threshold drops a fragment embedded verbatim in a
    longer document — a pair whose symmetric Jaccard (~0.5) sits below
    the near-dup threshold, so ONLY the containment stage catches it;
    the longer original survives.
    (Scenario: cli_scenarios.curate_containment_fragment — doc 1 is the
    first 30 words of doc 0: containment 1.0, Jaccard ~0.48.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_containment_fragment")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    summary = r["summary"]
    assert summary["stages"]["after_neardup"] == 3       # Jaccard too low
    assert summary["stages"]["after_containment"] == 2   # fragment dropped
    kept = {row.doc_id for row in spark.read.parquet(art["out"]).collect()}
    assert kept == {0, 2}


def test_curate_containment_waves_match_one_shot(spark, cli_results):
    """--containment-threshold through two ``--state`` waves must export
    EXACTLY what a one-shot run over the concatenated corpus produces:
    planted old-old, new-old, and new-new contained fragments all drop,
    their hosts survive, and only the wave's documents are re-shingled
    (cindex/cpairs state). Enabling the flag mid-stream (stored waves
    without an index) is refused.
    (Scenario: cli_scenarios.curate_containment_waves.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_containment_waves")
    assert art["full"]["rc"] == 0, art["full"]["stderr"][-2000:]
    assert art["w1"]["rc"] == 0, art["w1"]["stderr"][-2000:]
    assert art["w2"]["rc"] == 0, art["w2"]["stderr"][-2000:]
    s2 = art["w2"]["summary"]
    assert s2["wave"] == 1 and s2["stages"]["wave_cpairs"] >= 2

    cols = ["doc_id", "text", "quality", "pred_lang", "n_tokens"]
    got = {tuple(r_) for r_ in
           spark.read.parquet(art["outs"]["w2"]).select(*cols).collect()}
    want = {tuple(r_) for r_ in
            spark.read.parquet(art["outs"]["full"]).select(*cols).collect()}
    assert got == want
    assert {t[0] for t in got} == {0, 2, 11, 13}   # every fragment dropped

    # mid-stream enabling: a state built WITHOUT the flag has no cindex
    assert art["mid_w1"]["rc"] == 0, art["mid_w1"]["stderr"][-2000:]
    assert art["mid_w2"]["rc"] != 0
    assert "cindex" in (art["mid_w2"]["stderr"] + art["mid_w2"]["stdout"])


def test_dedup_substrings_keep_first(spark):
    """A 6-token span planted in two documents (and twice in one of
    them) survives ONLY at its first occurrence — (min doc_id, min pos)
    — and every other occurrence loses exactly its covered tokens;
    untouched documents and documents shorter than k pass through
    whole. Jaccard between the planted docs is far below any usable
    near-dup threshold, so this is the modality only substring dedup
    catches."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_substrings,
    )

    span = "the quick brown fox jumps high"          # 6 tokens
    d0 = f"alpha beta {span} gamma delta"            # first occurrence (pos 2)
    d1 = f"one two three four {span} five {span}"    # two later occurrences
    d2 = "totally unrelated words here only once appearing"
    d3 = "short doc"                                  # < k tokens
    df = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in dedup_substrings(df, k=6).collect()}
    assert got[0].text == d0 and got[0].n_removed == 0
    # d1: both span occurrences removed (neither is the canonical one);
    # the removal also covers bridging 6-grams that straddle span
    # boundaries only if THEY repeat — here they don't, so exactly the
    # two spans' tokens go
    assert got[1].text == "one two three four five"
    assert got[1].n_removed == 12 and got[1].n_kept == 5
    assert got[2].text == d2 and got[2].n_removed == 0
    assert got[3].text == d3 and got[3].n_kept == 2


def test_dedup_substrings_remove_all(spark):
    """keep_first=False removes EVERY occurrence of a duplicated span,
    including the canonical first one."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        dedup_substrings,
    )

    span = "a b c d"
    df = spark.createDataFrame(
        [(0, f"x {span} y"), (1, f"p q {span}")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           dedup_substrings(df, k=4, keep_first=False).collect()}
    assert got[0].text == "x y" and got[0].n_removed == 4
    assert got[1].text == "p q" and got[1].n_removed == 4


def test_curate_substring_dedup_stage(spark, cli_results):
    """--dedup-substrings-k removes a repeated span from the later
    document, rewrites its text, keeps n_chars honest, and drops docs
    that became empty.
    (Scenario: cli_scenarios.curate_substring_stage — a 10-token span
    planted in docs 0/1; doc 2 IS the span so it empties out.)"""
    from conftest import cli_art

    span = " ".join(f"s{i}" for i in range(10))
    art = cli_art(cli_results, "curate_substring_stage")
    r = art["run"]
    assert r["rc"] == 0, r["stderr"][-2000:]
    assert r["summary"]["stages"]["after_substring_dedup"] == 2
    kept = {row.doc_id: row for row in spark.read.parquet(art["out"]).collect()}
    assert set(kept) == {0, 1}
    assert kept[0].text == f"aaa bbb {span} ccc"
    assert kept[1].text == "ddd eee fff"
    assert kept[1].n_chars == len("ddd eee fff")


def test_curate_cc_algorithm_choice_logged(spark, cli_results):
    """The clustering-algorithm pick (auto -> propagation below the
    edge threshold; forced star respected) is logged in the summary
    JSON next to the verified pair count, and both algorithms keep the
    same survivors.
    (Scenario: cli_scenarios.curate_cc_algorithm_choice — two arms over
    the same 3-doc corpus with one planted near-dup pair.)"""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_cc_algorithm_choice")

    def unpack(arm):
        r = arm["run"]
        assert r["rc"] == 0, r["stderr"][-2000:]
        kept = {row.doc_id for row in spark.read.parquet(arm["out"]).collect()}
        return r["summary"], kept

    s_auto, kept_auto = unpack(art["auto"])
    assert s_auto["cc_algorithm"] == "propagation"  # 1 pair << threshold
    assert s_auto["n_neardup_pairs"] == 1
    s_star, kept_star = unpack(art["star"])
    assert s_star["cc_algorithm"] == "star"
    assert kept_auto == kept_star == {0, 2}  # near-dup of 0 dropped


def test_curate_substring_dedup_rejected_with_state(cli_results):
    """Substring dedup rewrites text corpus-wide; the CLI must refuse
    the incremental-state combination.
    (Scenario: cli_scenarios.curate_substring_rejected_with_state.)"""
    from conftest import cli_art

    r = cli_art(cli_results, "curate_substring_rejected_with_state")["run"]
    assert r["rc"] == 2
    assert "substrings" in r["stderr"]


def test_triangle_participation_known_graph(spark):
    """K4 plus a pendant edge: every K4 vertex sits in C(3,2)=3
    triangles, the pendant vertex in none (and is absent from the
    output). Duplicate/reversed input pairs must not double-count."""
    from fcrepo3_rdf_extractor_spark.operators.graph import triangle_participation

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs = k4 + [(3, 9), (1, 0), (2, 1)]  # pendant + reversed dups
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.id: r.n_triangles for r in triangle_participation(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_leakage_safe_split_no_pair_straddles(spark):
    """Every near-dup pair lands on ONE side (the invariant per-doc hash
    splits violate), singletons get their own cluster, and the split is
    a pure function of the data — identical under repartitioning."""
    from fcrepo3_rdf_extractor_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (10, 11)], "doc_a long, doc_b long"
    )
    out = leakage_safe_split(docs, pairs, test_rate=0.5).collect()
    side = {r.doc_id: r.split for r in out}
    cid = {r.doc_id: r.cluster_id for r in out}
    assert len(side) == 40
    for a, b in [(0, 1), (1, 2), (5, 6), (10, 11)]:
        assert side[a] == side[b] and cid[a] == cid[b]
    assert cid[0] == cid[2] == 0           # chain merges into one cluster
    assert {"train", "test"} == set(side.values())  # rate 0.5 hits both
    again = {r.doc_id: r.split
             for r in leakage_safe_split(
                 docs.repartition(7), pairs.repartition(3), test_rate=0.5
             ).collect()}
    assert again == side


def test_code_quality_signals_flags_and_keeps(spark):
    """Structural code filters: a minified one-liner (max line length),
    a number table (alphabetic-word fraction), an auto-generated header,
    an encoded blob (alnum is fine but lines/alpha fail), and a normal
    multi-line source file that passes everything."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        code_quality_signals,
    )

    good = "def add(a, b):\n    return a + b\n\nprint(add(2, 3))"
    minified = "var x=" + "a" * 2000 + ";"
    numbers = "1 2 3 4 5 6 7 8\n9 10 11 12 13 14"
    autogen = "# auto-generated file\ndef f():\n    return 1"
    rows = [(0, good), (1, minified), (2, numbers), (3, autogen)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in code_quality_signals(df).collect()}
    assert got[0].keep and not got[0].autogen
    assert got[0].n_lines == 4 and got[0].max_line_len == 16
    assert not got[1].keep and got[1].max_line_len > 1000
    assert not got[2].keep and got[2].alpha_word_frac == 0.0
    assert not got[3].keep and got[3].autogen


def test_code_quality_signals_is_single_projection(spark):
    """The filter battery must stay one narrow codegen projection: no
    exchange, no Python stage, and the line/token arrays staged once
    (CollapseProject would otherwise re-run the splits per signal)."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        code_quality_signals,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = code_quality_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # one split for lines, one for tokens — not one per signal column
    assert plan.count("split(") <= 2, plan.count("split(")


def test_fileset_near_duplicates_fork_and_boilerplate(spark):
    """Repo fork detection: an exact mirror scores 1.0, a 3/4 fork
    scores 0.6 (3 shared / 5 union), unrelated repos don't pair, and a
    hash present in EVERY repo (vendored boilerplate) is excluded by
    max_df from both numerator and sizes."""
    from fcrepo3_rdf_extractor_spark.operators.dedup_approx import (
        fileset_near_duplicates,
    )

    rows = []
    for i in range(4):
        rows.append(("rA", f"h{i}"))          # base repo: h0..h3
        rows.append(("rM", f"h{i}"))          # exact mirror
    rows += [("rF", "h0"), ("rF", "h1"), ("rF", "h2"), ("rF", "hX")]  # fork
    rows += [("rZ", "z0"), ("rZ", "z1")]      # unrelated
    for repo in ("rA", "rM", "rF", "rZ"):
        rows.append((repo, "BOILER"))         # shared by all 4 repos
    files = spark.createDataFrame(rows, "repo string, file_md5 string")

    got = {(r.repo_a, r.repo_b): r.jaccard
           for r in fileset_near_duplicates(
               files, threshold=0.5, max_df=3).collect()}
    # BOILER (df=4 > 3) is dropped everywhere: sizes are 4/4/4/2
    assert got[("rA", "rM")] == 1.0
    assert got[("rF", "rM")] == 0.6 and got[("rA", "rF")] == 0.6
    assert all("rZ" not in pair for pair in got)

    # without the df bound, BOILER inflates every pairing
    loose = {(r.repo_a, r.repo_b): r.jaccard
             for r in fileset_near_duplicates(
                 files, threshold=0.0, max_df=100).collect()}
    assert ("rA", "rZ") in loose  # boilerplate-only overlap now pairs


def test_dsir_importance_prefers_target_like_docs(spark):
    """DSIR: documents drawn from the target vocabulary must outscore
    off-target documents in per-token log weight, and a target doc's
    weight must be positive (its buckets are denser under the target
    distribution than under the mixed raw one)."""
    from pyspark.sql import functions as F

    from fcrepo3_rdf_extractor_spark.operators.text import dsir_importance

    tgt_text = "alpha beta gamma delta alpha beta gamma delta"
    off_text = "uno dos tres cuatro uno dos tres cuatro"
    rows = ([(i, tgt_text, "en") for i in range(10)]
            + [(100 + i, off_text, "es") for i in range(10)]
            + [(200, "alpha beta gamma delta", "und"),   # target-like
               (201, "uno dos tres cuatro", "und")])     # off-target
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in
           dsir_importance(df, F.col("lang") == "en").collect()}
    assert got[200].per_token_log_weight > got[201].per_token_log_weight
    assert got[200].log_weight > 0 > got[201].log_weight
    assert got[200].n_tokens == 4


def test_curate_code_filter_stage(spark, cli_results):
    """--code-filter drops the long-line and autogen docs the quality
    filter passes; without the flag all three quality-passing docs
    survive and no after_code_filter stage is reported."""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_code_filter")
    w, wo = art["with"], art["without"]
    assert w["rc"] == 0 and wo["rc"] == 0, (w["stderr"], wo["stderr"])
    assert w["summary"]["stages"]["after_quality_lang"] == 3
    assert w["summary"]["stages"]["after_code_filter"] == 1
    assert w["summary"]["n_docs"] == 1
    assert "after_code_filter" not in wo["summary"]["stages"]
    assert wo["summary"]["n_docs"] == 3


def test_perplexity_buckets_terciles(spark):
    """Head/middle/tail split: bucket sizes are ceil-tercile balanced,
    the head bucket holds the HIGHEST per-token logprobs (most
    predictable text — repeated common tokens), and every doc is
    bucketed exactly once."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        perplexity_buckets,
    )

    rows = ([(i, "common common common common") for i in range(3)]
            + [(10 + i, f"common word{i} mixed tokens here") for i in range(3)]
            + [(20 + i, f"rare{i} unique{i} single{i} shot{i}") for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in perplexity_buckets(df).collect()}
    assert len(got) == 9
    from collections import Counter
    sizes = Counter(r.bucket for r in got.values())
    assert sizes == {"tail": 3, "middle": 3, "head": 3}
    assert all(got[i].bucket == "head" for i in range(3))
    assert all(got[20 + i].bucket == "tail" for i in range(3))


def test_bloom_build_matches_python_reference(spark):
    """The driver-held word array must equal a pure-Python md5 Bloom
    build over the same grams (same 4-hex-char probe windows, 32-bit
    words in longs) — pins the Spark-side shift/pow/bit_or arithmetic
    the DuckDB oracle mirrors."""
    import hashlib

    from fcrepo3_rdf_extractor_spark.operators.text import (
        BLOOM_WORDS,
        bloom_build,
    )

    grams = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"]
    bench = spark.createDataFrame([(g,) for g in grams], "gram string")
    got = bloom_build(bench)
    want = [0] * BLOOM_WORDS
    for g in grams:
        h = hashlib.md5(g.encode()).hexdigest()
        for i in range(3):
            p = int(h[4 * i : 4 * i + 4], 16)
            want[p >> 5] |= 1 << (p & 31)
    assert got == want


def test_bloom_contamination_no_false_negatives_and_joinfree(spark):
    """Every gram in the filter must be reported hit (Bloom admits
    false positives, never false negatives), docs sharing no grams with
    the benchmark stay unflagged at this density, and the probe stage
    is a pure projection: no Join/Exchange/explode anywhere in the
    probe plan (the filter rides as a constant-folded literal)."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        bloom_build,
        bloom_contamination,
        shingles_of,
        tokens_col,
    )

    docs = _docs(spark)
    bench = (
        docs.filter(F.col("doc_id") == 0)
        .select(tokens_col(F.col("text")).alias("_w"))
        .select(F.explode(shingles_of(F.col("_w"), 3)).alias("gram"))
        .distinct()
    )
    words = bloom_build(bench)
    out = {
        r.doc_id: r
        for r in bloom_contamination(docs, words, k=3, threshold=0.5).collect()
    }
    # docs 0 and 1 are the benchmark text verbatim: every gram hits
    assert out[0].n_bloom_hits == out[0].n_grams
    assert out[1].flagged == 1
    # near-dup doc 2 shares all but the trailing grams
    assert 0 < out[2].n_bloom_hits < out[2].n_grams
    # disjoint docs: no hits at this density (fp rate ~1e-12 for n=~20)
    assert out[3].n_bloom_hits == 0 and out[4].n_bloom_hits == 0

    plan = bloom_contamination(docs, words, k=3)._sc._jvm.PythonSQLUtils.explainString(
        bloom_contamination(docs, words, k=3)._jdf.queryExecution(), "formatted"
    )
    for bad in ("Join", "Exchange", "Generate"):
        assert bad not in plan, f"probe plan must not contain {bad}:\n{plan}"


def test_source_quota_exact_cap_matches_naive_rank(spark):
    """The two-level bucketed rank must keep EXACTLY the same rows as
    the naive one-window-per-stratum md5 rank (the oracle's statement),
    the cap must be exact on an oversized stratum and inert on a small
    one, and the data-sized row_number window must be partitioned by
    (stratum, bucket) — never the stratum alone (hot-domain skew)."""
    import hashlib

    from fcrepo3_rdf_extractor_spark.operators.sampling import source_quota

    rows = [(i, "hot") for i in range(200)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_quota(df, key_col="doc_id", strata_col="source", n_max=50)
    got = {(r.doc_id, r.source) for r in out.collect()}

    def slot(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:8]

    want_hot = set(sorted(range(200), key=lambda i: (slot(i), i))[:50])
    assert got == {(i, "hot") for i in want_hot} | {(1000 + i, "small") for i in range(3)}

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    rn_lines = [l for l in plan.splitlines() if "row_number()" in l]
    assert rn_lines and all("_b" in l for l in rn_lines), (
        f"row_number window must include the bucket column:\n{plan}"
    )


def test_badwords_filter_counts_and_plan(spark):
    """Token-level hits: distinct-term vs occurrence counts diverge on
    repeats; substring containment ('slowly') must NOT match; and the
    whole operator is one join-free, shuffle-free projection."""
    from fcrepo3_rdf_extractor_spark.operators.text import badwords_filter

    df = spark.createDataFrame(
        [
            (1, "slow slow broken fast"),
            (2, "slowly unbroken fast"),
            (3, "clean text here"),
        ],
        "doc_id long, text string",
    )
    out = badwords_filter(df, ["slow", "broken"])
    got = {r.doc_id: r for r in out.collect()}
    assert (got[1].n_bad_terms, got[1].n_bad_tokens, got[1].keep) == (2, 3, 0)
    assert (got[2].n_bad_terms, got[2].n_bad_tokens, got[2].keep) == (0, 0, 1)
    assert (got[3].n_bad_terms, got[3].n_bad_tokens, got[3].keep) == (0, 0, 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_snapshot_diff_statuses(spark):
    """added/removed/changed decode from the digest-compared full-outer
    join; unchanged rows are dropped by default and kept on request."""
    from fcrepo3_rdf_extractor_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}
    full = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, include_unchanged=True).collect()
    }
    assert full[2] == "unchanged" and len(full) == 4


def test_bigram_logprob_order_sensitivity(spark):
    """The bigram model must separate documents the unigram model scores
    identically: same bag of words, different order -> the order the
    corpus repeats scores strictly higher. Short docs (<2 tokens) come
    back with n_bigrams=0 and NULL logprob."""
    from fcrepo3_rdf_extractor_spark.operators.text import bigram_logprob

    rows = [(i, "the quick brown fox") for i in range(5)] + [
        (100, "fox brown quick the"),
        (101, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert len(got) == 7
    assert got[0].per_token_logprob > got[100].per_token_logprob
    assert got[101].n_bigrams == 0 and got[101].logprob is None
    # every in-order doc scores identically (same positions, same counts)
    assert len({got[i].logprob for i in range(5)}) == 1


def test_kcore_known_graph(spark):
    """Triangle {1,2,3} with a chain 3-4-5 and a pendant 6-1: the 2-core
    is exactly the triangle (chain + pendant peel away, and peeling 4
    must cascade to 5 — two rounds). A 4-clique's 3-core keeps all four
    vertices at degree 3; its 4-core is empty."""
    from fcrepo3_rdf_extractor_spark.operators.graph import kcore

    tri_chain = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (1, 6)],
        "doc_a long, doc_b long",
    )
    got = {r.id: r.core_degree for r in kcore(tri_chain, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "doc_a long, doc_b long",
    )
    got3 = {r.id: r.core_degree for r in kcore(clique, k=3).collect()}
    assert got3 == {0: 3, 1: 3, 2: 3, 3: 3}
    assert kcore(clique, k=4).count() == 0


def test_transitive_closure_shortest_depths(spark):
    """Diamond 1->2->4, 1->3->4, plus shortcut 1->4: depth(1,4) must be
    the SHORTEST (1, via the shortcut), and a cycle drains instead of
    looping."""
    from fcrepo3_rdf_extractor_spark.operators.graph import transitive_closure

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4), (4, 5)],
        "src long, dst long",
    )
    got = {(r.src, r.dst): r.depth for r in transitive_closure(e).collect()}
    assert got[(1, 4)] == 1
    assert got[(1, 5)] == 2
    assert got[(2, 5)] == 2 and got[(2, 4)] == 1
    assert len(got) == 9  # 1->{2,3,4,5}, 2->{4,5}, 3->{4,5}, 4->5

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    gc = {(r.src, r.dst): r.depth for r in transitive_closure(cyc).collect()}
    # every ordered pair incl. self via the cycle
    assert gc[(1, 1)] == 3 and gc[(1, 3)] == 2 and len(gc) == 9


def test_bpe_train_matches_python_reference(spark):
    """The wrapped-symbol literal-replace merge application must equal
    canonical (Sennrich) per-word left-to-right non-overlapping merging
    — including the run-of-repeats case ('aaaaaa' -> aa aa aa, where a
    naive space-delimited replace diverges) — and the learned merge
    sequence must match a pure-Python trainer with the same
    (count DESC, lhs, rhs) tiebreak."""
    from collections import Counter

    from fcrepo3_rdf_extractor_spark.operators.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "aaaaaa aaaa aa",
        "wide wider widest wide",
        "low new wide aaaaaa",
    ]

    def py_bpe(texts, n_merges):
        words = Counter()
        for t in texts:
            for w in t.lower().split():
                words[tuple(w)] += 1
        merges = []
        for rank in range(1, n_merges + 1):
            pairs = Counter()
            for sym, n in words.items():
                for a, b in zip(sym, sym[1:]):
                    pairs[(a, b)] += n
            if not pairs:
                break
            # count DESC, then lexicographic (lhs, rhs) ASC
            (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, l, r, cnt))
            out = Counter()
            for sym, n in words.items():
                new, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        new.append(l + r)
                        i += 2
                    else:
                        new.append(sym[i])
                        i += 1
                out[tuple(new)] += n
            words = out
        return merges

    expected = py_bpe(texts, 6)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.rank, r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(df, n_merges=6).orderBy("rank").collect()
    ]
    assert got == expected


def test_curate_delta_against(spark, cli_results):
    """--delta-against restricts the curate input to the CDC delta:
    of 4 docs in the new snapshot, only the changed one and the added
    one enter the pipeline (removed docs simply don't appear)."""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_delta_against")
    assert art["run"]["rc"] == 0, art["run"]["stderr"][-2000:]
    s = art["run"]["summary"]
    assert s["stages"]["input"] == 2
    import pyspark.sql.functions as F

    kept = spark.read.parquet(art["out"])
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == [2, 4]


def test_bpe_token_count_matches_python_apply(spark):
    """Counting under trained merges must equal applying canonical BPE
    merges per word in Python and summing the pieces — and the whole
    count must be one join-free, shuffle-free projection."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        bpe_token_count,
        bpe_train,
    )

    texts = ["low lower lowest", "new newer lowest low", "aaaaaa aa low"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train(df, n_merges=3).orderBy("rank").collect()
    ]

    def apply(word):
        sym = list(word)
        for l, r in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return len(sym)

    expected = {
        i: sum(apply(w) for w in t.lower().split()) for i, t in enumerate(texts)
    }
    out = bpe_token_count(df, merges)
    got = {r.doc_id: r.n_tokens for r in out.collect()}
    assert got == expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_license_detect_precedence_and_plan(spark):
    """SPDX beats phrases (a GPL-phrased file with an MIT SPDX tag is
    MIT); unknown -> NULL + permissive 0; and the operator is one
    join-free, shuffle-free projection."""
    from fcrepo3_rdf_extractor_spark.operators.text import license_detect

    rows = [
        (1, "// SPDX-License-Identifier: MIT\nGNU General Public License"),
        (2, "Permission is hereby granted, free of charge"),
        (3, "Licensed under the Apache License, Version 2.0 (the License)"),
        (4, "This file is released under the GNU General Public License v3"),
        (5, "Redistribution and use in source and binary forms, with or"),
        (6, "def main(): pass"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = license_detect(df)
    got = {r.doc_id: (r.license, r.permissive) for r in out.collect()}
    assert got == {
        1: ("MIT", 1),
        2: ("MIT", 1),
        3: ("Apache-2.0", 1),
        4: ("GPL-3.0-only", 0),
        5: ("BSD-3-Clause", 1),
        6: (None, 0),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_curate_license_filter(spark, cli_results):
    """The license gate keeps the SPDX-MIT and Apache-phrase docs and
    drops GPL and unlicensed ones, with its own stage boundary in the
    summary."""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_license_filter")
    assert art["run"]["rc"] == 0, art["run"]["stderr"][-2000:]
    s = art["run"]["summary"]
    assert s["stages"]["after_license_filter"] == 2
    kept = spark.read.parquet(art["out"])
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == [0, 1]


def test_contamination_closure_propagates_across_cluster(spark):
    """A flag on one member flags the whole component; isolated docs
    keep their own flag only."""
    from fcrepo3_rdf_extractor_spark.operators.graph import (
        contamination_closure,
    )

    flags = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 0), (4, 0), (5, 0)],
        "doc_id long, contaminated int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.contaminated, r.cluster_contaminated)
        for r in contamination_closure(flags, pairs).collect()
    }
    assert got == {
        1: (1, 1), 2: (0, 1), 3: (0, 1),  # closure of the flagged doc
        4: (0, 0), 5: (0, 0),             # clean component stays clean
    }


def test_ppm_decode_real_bytes_and_error_isolation(spark):
    """decode_ppm parses a hand-built golden P6 (with a header comment)
    to exact channel means; malformed and non-PPM payloads come back as
    NULL rows, not task failures."""
    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        decode_ppm,
        extract_ppm_features,
    )

    # 2x1 image: red pixel (255,0,0), mid pixel (10,20,30)
    golden = b"P6\n# comment\n2 1\n255\n" + bytes([255, 0, 0, 10, 20, 30])
    w, h, maxval, raster = decode_ppm(golden)
    assert (w, h, maxval) == (2, 1, 255) and len(raster) == 6

    media = spark.createDataFrame(
        [(1, golden), (2, b"not an image"), (3, b"P6\n2 1\n255\n\x00")],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in extract_ppm_features(media).collect()}
    assert (got[1].width, got[1].height) == (2, 1)
    assert (got[1].mean_r, got[1].mean_g, got[1].mean_b) == (132.5, 10.0, 15.0)
    assert got[2].width is None and got[3].width is None  # isolated, not fatal


def test_curate_delta_against_rejected_with_state(tmp_path):
    """--delta-against + --state is refused: changed docs keep their ids,
    violating the wave contract's append-only requirement."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    r = subprocess.run(
        [_sys.executable, "jobs/curate.py", "--docs", "x", "--out", "y",
         "--state", str(tmp_path / "st"), "--delta-against", "z",
         "--local", "2"],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert r.returncode == 2
    assert "incompatible with --state" in r.stderr


def test_code_clone_key_type2_semantics(spark):
    """Renamed identifiers + changed literals + different comments =
    SAME key; changed structure (operator, call shape) = different key."""
    from fcrepo3_rdf_extractor_spark.operators.text import code_clone_key

    a = "def total(xs):\n    # sum them\n    return sum(xs) + 1\n"
    b = "def acc(items):\n    /* other note */\n    return sum(items) + 42\n"
    c = "def total(xs):\n    return sum(xs) * 1\n"   # * not + -> structure
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.clone_key, r.clone_group_size)
           for r in code_clone_key(df).collect()}
    assert got[1][0] == got[2][0] and got[1][1] == 2
    assert got[3][0] != got[1][0] and got[3][1] == 1


def test_shuffle_rank_dense_and_decorrelated(spark):
    """Ranks are a dense 0..n-1 permutation equal to the naive global
    (md5, key) sort, and the order is not the key order (the point of
    shuffling)."""
    import hashlib

    from fcrepo3_rdf_extractor_spark.operators.sampling import shuffle_rank

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    got = {r.doc_id: r.shuffle_rank for r in shuffle_rank(df).collect()}
    assert sorted(got.values()) == list(range(200))
    naive = sorted(
        range(200),
        key=lambda k: (hashlib.md5(str(k).encode()).hexdigest()[:8], k),
    )
    assert got == {k: i for i, k in enumerate(naive)}
    assert [k for k, _ in sorted(got.items(), key=lambda kv: kv[1])] != list(
        range(200)
    )


def test_bpe_token_count_udf_arm_matches_jvm_chain(spark):
    """The large-vocabulary pandas-UDF arm must count exactly what the
    constant-folded JVM replace chain counts for trained merges (the
    documented precondition), across repeats, singletons, and the
    run-of-'a's case."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        bpe_token_count,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "aaaaaa aaaa aa",
        "solo",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train(df, n_merges=6).orderBy("rank").collect()
    ]
    jvm = {r.doc_id: r.n_tokens
           for r in bpe_token_count(df, merges).collect()}
    udf = {r.doc_id: r.n_tokens
           for r in bpe_token_count(df, merges, max_jvm_merges=0).collect()}
    assert jvm == udf and udf[4] == 0


def test_ppm_zero_pixel_and_snapshot_null_text(spark):
    """A valid-header zero-pixel P6 yields a NULL feature row (never
    NaN means); snapshot_diff classifies a present-but-NULL-text doc by
    row presence, not digest nullness (NULL->NULL = unchanged,
    real->NULL = changed)."""
    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        extract_ppm_features,
    )
    from fcrepo3_rdf_extractor_spark.operators.snapshot import snapshot_diff

    media = spark.createDataFrame(
        [(1, b"P6\n0 0\n255\n")], "media_id long, payload binary"
    )
    row = extract_ppm_features(media).collect()[0]
    assert row.width is None and row.mean_r is None

    old = spark.createDataFrame(
        [(1, None), (2, "hello"), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, include_unchanged=True).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged"}


def test_chunk_windows_semantics(spark):
    """Overlapping windows with a shorter tail; a short doc yields one
    chunk; chunk ids deterministic."""
    from fcrepo3_rdf_extractor_spark.operators.text import chunk_windows

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "only three words")],
        "doc_id long, text string",
    )
    got = sorted(
        chunk_windows(docs, window=6, stride=4).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    d1 = [r for r in got if r.doc_id == 1]
    # starts 0,4,8 over 10 tokens: 6,6,2 tokens
    assert [(r.chunk_idx, r.start_token, r.n_tokens) for r in d1] == [
        (0, 0, 6), (1, 4, 6), (2, 8, 2)]
    assert d1[0].chunk_text == "t0 t1 t2 t3 t4 t5"
    assert d1[1].chunk_text.startswith("t4 t5")  # overlap of 2
    assert d1[2].chunk_text == "t8 t9"
    assert d1[0].chunk_id == "1#0" and d1[2].chunk_id == "1#2"
    d2 = [r for r in got if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="stride"):
        chunk_windows(docs, window=4, stride=5)


def test_code_import_triples_kinds(spark):
    """Import-graph extraction: each pattern kind fires on its own
    statement shape, all from ONE content scan; edges compose with the
    BGP compiler like any other triples."""
    from fcrepo3_rdf_extractor_spark.operators.bgp import bgp_query
    from fcrepo3_rdf_extractor_spark.operators.text import code_import_triples

    files = spark.createDataFrame(
        [
            ("r1", "a.py", "import os.path\nfrom collections import deque\nx=1"),
            ("r1", "b.c", '#include <stdio.h>\n#include "local.h"\nint main(){}'),
            ("r2", "c.js", "const x = require('lodash')\nimport {y} from 'react'"),
            ("r2", "d.txt", "no imports here at all"),
        ],
        "repo string, path string, content string",
    )
    got = code_import_triples(files)
    rows = {(r.subj, r.obj_value, r.kind) for r in got.collect()}
    assert rows == {
        ("src:r1/a.py", "os.path", "py_import"),
        ("src:r1/a.py", "collections", "py_from"),
        ("src:r1/b.c", "stdio.h", "c_include"),
        ("src:r1/b.c", "local.h", "c_include"),
        ("src:r2/c.js", "lodash", "js_require"),
        ("src:r2/c.js", "react", "js_import"),
    }
    # the edges are BGP-queryable triples: which files import lodash?
    hits = bgp_query(
        got.select("subj", "pred", "obj_value"),
        [("?f", "code:imports", "lodash")],
        select=["f"],
    ).collect()
    assert [r.f for r in hits] == ["src:r2/c.js"]


def test_code_def_triples_kinds(spark):
    """Definition extraction: each language pattern captures the defined
    name from its own statement shape; files defining nothing emit
    nothing; all patterns evaluate in ONE content scan."""
    from fcrepo3_rdf_extractor_spark.operators.code import code_def_triples

    files = spark.createDataFrame(
        [
            ("r1", "a.py", "def top(x):\n    pass\nclass Widget:\n  def m(self):..."),
            ("r1", "b.go", "func Handler(w int) {}\nfunc helper() {}"),
            ("r2", "c.rs", "fn main() {\n    let x = 1;\n}\npub fn util() {}"),
            ("r2", "d.js", "function render(props) {}\nconst f = () => 1"),
            ("r2", "e.txt", "nothing defined here"),
        ],
        "repo string, path string, content string",
    )
    rows = {
        (r.subj, r.obj_value, r.kind) for r in code_def_triples(files).collect()
    }
    assert rows == {
        ("src:r1/a.py", "top", "py_def"),
        ("src:r1/a.py", "m", "py_def"),
        ("src:r1/a.py", "Widget", "py_class"),
        ("src:r1/b.go", "Handler", "go_func"),
        ("src:r1/b.go", "helper", "go_func"),
        ("src:r2/c.rs", "main", "rust_fn"),
        ("src:r2/d.js", "render", "js_function"),
    }
    assert all(r.pred == "code:defines" for r in code_def_triples(files).collect())


def test_resolve_import_edges_linking(spark):
    """Entity linking: an import resolves to the same-repo file whose
    basename registers the module (top-level package rule for dotted
    Python modules, extension-stripped basename for path-shaped
    includes); unresolvable imports become ext: nodes; a basename
    collision resolves to the lexicographically smallest path; repos
    never cross-link."""
    from fcrepo3_rdf_extractor_spark.operators.code import resolve_import_edges

    files = spark.createDataFrame(
        [
            ("r1", "app.py", "import util\nimport os.path\nfrom pkg.sub import x"),
            ("r1", "util.py", "def helper(x): ..."),
            ("r1", "pkg.py", "VERSION = 1"),
            ("r1", "lib/util.py", "def shadowed(): ..."),   # collision: min path wins
            ("r2", "main.c", '#include "util.h"\n#include <stdio.h>'),
            ("r2", "util.h", "#define X 1"),
            ("r2", "util.py", "unused = True"),             # r2's util: no crossover to r1
        ],
        "repo string, path string, content string",
    )
    got = {
        (r.subj, r.obj_value, r.resolved)
        for r in resolve_import_edges(files).collect()
    }
    assert ("src:r1/app.py", "src:r1/lib/util.py", True) in got   # min("lib/util.py","util.py")
    assert ("src:r1/app.py", "ext:os.path", False) in got          # no os.py in repo
    assert ("src:r1/app.py", "src:r1/pkg.py", True) in got         # pkg.sub -> top-level pkg
    # C includes: util.h resolves in-repo, stdio.h is external (no stdio file),
    # and BOTH util.h and util.py register "util" in r2 — min path util.h wins
    assert ("src:r2/main.c", "src:r2/util.h", True) in got
    assert ("src:r2/main.c", "ext:stdio.h", False) in got
    assert not any(s.startswith("src:r1") and "r2" in o for (s, o, _) in got)


def test_vendored_file_stats(spark):
    """Vendored detection: a hash appearing in >1 repo marks every copy
    vendored (including within the repos that share it); repo-unique
    content — even duplicated WITHIN one repo — does not count."""
    from fcrepo3_rdf_extractor_spark.operators.code import vendored_file_stats

    files = spark.createDataFrame(
        [
            ("r1", "vendor/lib.js", "SHARED BLOB"),
            ("r2", "third_party/lib.js", "SHARED BLOB"),
            ("r1", "a.py", "unique to r1"),
            ("r2", "b.py", "intra-dup"),
            ("r2", "c.py", "intra-dup"),   # duplicated inside r2 only: NOT vendored
            ("r3", "solo.py", "all alone"),
        ],
        "repo string, path string, content string",
    )
    stats = {r.repo: r for r in vendored_file_stats(files).collect()}
    assert (stats["r1"].n_files, stats["r1"].n_vendored) == (2, 1)
    assert (stats["r2"].n_files, stats["r2"].n_vendored) == (3, 1)
    assert (stats["r3"].n_files, stats["r3"].n_vendored) == (1, 0)
    assert stats["r1"].vendored_frac == 0.5


def test_bm25_topk_ranking(spark):
    """BM25: term-frequency saturation and length normalization rank a
    short on-topic doc above a long one; docs without query terms are
    absent; the top-k plans as TakeOrderedAndProject."""
    import math

    from fcrepo3_rdf_extractor_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join join"),                      # short, tf=2
            (2, "spark join " + "filler " * 20),         # long, tf=1
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["join"], k=10)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    got = out.collect()
    assert [r.doc_id for r in got] == [1, 2]
    # hand-check doc 1: N=3, df('join')=2, len=3, avgdl=(3+22+3)/3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    avgdl = (3 + 22 + 3) / 3
    s1 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / avgdl))
    assert abs(got[0].score - round(s1, 4)) < 1e-9

    import pytest as _pytest
    with _pytest.raises(ValueError, match="query term"):
        bm25_topk(docs, [])


def test_bm25_indexed_equals_streaming_and_probe_plan(spark, tmp_path):
    """The materialized index serves the SAME results as the streaming
    scorer (row-identical on the real documents table), the incremental
    update replaces re-ingested docs instead of duplicating them, and
    the probe plan never re-reads the corpus: its only scan is the
    index parquet, with the query-term IN-list pushed down."""
    from fcrepo3_rdf_extractor_spark.operators.text import (
        bm25_index,
        bm25_index_update,
        bm25_topk,
        bm25_topk_indexed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["hash", "join", "vector"]
    want = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    idx_path = str(tmp_path / "bm25_index")
    bm25_index(docs).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    got = bm25_topk_indexed(idx, terms, k=10)
    assert [tuple(r) for r in got.collect()] == want

    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("text" not in l for l in scans), scans  # no corpus re-scan
    assert "PushedFilters" in plan and "In(term" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    # incremental update: re-ingesting changed docs REPLACES their rows
    from pyspark.sql import functions as F

    changed = docs.filter(F.col("doc_id") < 5).withColumn(
        "text", F.lit("hash hash vector")
    )
    idx2 = bm25_index_update(idx, changed)
    rebuilt = bm25_index(
        docs.filter(F.col("doc_id") >= 5).unionByName(changed)
    )
    q2 = [tuple(r) for r in bm25_topk_indexed(idx2, terms, k=10).collect()]
    want2 = [tuple(r) for r in bm25_topk_indexed(rebuilt, terms, k=10).collect()]
    assert q2 == want2


def test_distinct_token_stats_hll_error_gate(spark):
    """Measured HLL++ error vs exact on a real corpus slice: every
    per-source approx distinct count within 3x the requested rsd, and
    the two arms agree on n_tokens exactly."""
    from fcrepo3_rdf_extractor_spark.operators.text import distinct_token_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {r.source: r for r in distinct_token_stats(docs).collect()}
    approx = {
        r.source: r
        for r in distinct_token_stats(docs, approx=True, rsd=0.05).collect()
    }
    assert set(exact) == set(approx) and len(exact) >= 2
    for src, e in exact.items():
        a = approx[src]
        assert a.n_tokens == e.n_tokens
        rel = abs(a.n_distinct_terms - e.n_distinct_terms) / e.n_distinct_terms
        assert rel <= 0.15, (src, e.n_distinct_terms, a.n_distinct_terms)


def test_curate_chunk_out_cli(spark, cli_results):
    """curate --chunk-out: chunk table matches chunk_windows over the
    curated output; wave mode refuses the flag."""
    import json as _json

    from conftest import cli_art

    art = cli_art(cli_results, "curate_chunk_out")
    run = art["run"]
    assert run["rc"] == 0, run["stderr"][-2000:]
    summary = _json.loads(run["stdout"].strip().splitlines()[-1])
    # doc 0: 10 tokens -> starts 0,4,8 = 3 chunks; doc 1: 1 chunk
    assert summary["n_chunks"] == 4
    got = {
        (r.doc_id, r.chunk_idx, r.n_tokens)
        for r in spark.read.parquet(art["chunks"]).collect()
    }
    assert got == {(0, 0, 6), (0, 1, 6), (0, 2, 2), (1, 0, 2)}
    refused = art["refused"]
    assert refused["rc"] == 2 and "--chunk-out is incompatible" in refused["stderr"]


def test_curate_substring_compaction_equals_oneshot(spark, cli_results):
    """Waves + export-layer --compact-substrings produce the same
    per-doc rewritten text as a one-shot run with --dedup-substrings-k
    (filters neutralized); a wave with the flag is refused with a
    pointer to the compaction path."""
    from conftest import cli_art

    art = cli_art(cli_results, "curate_substring_compaction")
    for key in ("full", "w1", "w2", "comp"):
        assert art[key]["rc"] == 0, (key, art[key]["stderr"][-2000:])
    refused = art["refused"]
    assert refused["rc"] == 2
    assert "--compact-substrings" in refused["stderr"]
    assert art["comp"]["summary"]["mode"] == "compact_substrings"

    want = {
        r.doc_id: r.text
        for r in spark.read.parquet(art["out_full"]).collect()
    }
    got = {
        r.doc_id: r.text
        for r in spark.read.parquet(art["out_comp"]).collect()
    }
    assert got == want
    # the planted duplicate span was actually removed from doc 1
    assert "alpha beta gamma" not in got[1] and "alpha beta gamma" in got[0]


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by one bridge edge: synchronous
    min-tie-break LPA settles each triangle onto one label, and the
    two communities stay distinct (the bridge is outvoted 2:1 on both
    sides). Self-loops are dropped; an isolated node is not returned
    (documented — it has no neighbors to vote)."""
    from fcrepo3_rdf_extractor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"),
         ("c", "d"),          # bridge
         ("a", "a"),          # self-loop: dropped
         ],
        "src string, dst string",
    )
    got = {r.node: r.label for r in label_propagation(edges, n_rounds=3).collect()}
    assert set(got) == {"a", "b", "c", "d", "e", "f"}
    left = {got["a"], got["b"], got["c"]}
    right = {got["d"], got["e"], got["f"]}
    assert len(left) == 1 and len(right) == 1 and left != right

    # deterministic: a second run returns the identical assignment
    again = {r.node: r.label for r in label_propagation(edges, n_rounds=3).collect()}
    assert got == again


def test_png_decode_roundtrip_all_filters():
    """decode_png inverts encode_png for every supported colortype,
    with filter_mode='cycle' forcing all five scanline filters — a
    wrong or faked unfilter branch cannot round-trip. Malformed
    payloads (signature, CRC, truncation, palette) raise ValueError."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for w, h, ch in [(4, 3, 3), (7, 6, 1), (5, 5, 4), (3, 9, 2), (1, 1, 3)]:
        pix = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
        got = decode_png(encode_png(w, h, pix, channels=ch))
        assert got == (w, h, ch, pix)

    ok = encode_png(4, 3, bytes(36))
    corrupted = bytearray(ok)
    corrupted[20] ^= 0xFF  # inside IHDR data -> CRC mismatch
    for bad, msg in [
        (b"JFIF....", "not a PNG"),
        (bytes(corrupted), "CRC mismatch"),
        (ok[:-16], "truncated|missing"),
    ]:
        with pytest.raises(ValueError, match=msg):
            decode_png(bad)


def test_png_features_and_error_isolation(spark):
    """extract_png_features over a mixed frame: valid PNGs reduce to
    exact channel means; a non-PNG payload yields a NULL feature row
    (E1-style error isolation), never a task failure."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        encode_png,
        extract_png_features,
    )

    pix = np.arange(24, dtype=np.uint8).tobytes()  # 4x2 RGB, means exact
    rows = [
        (1, bytearray(encode_png(4, 2, pix, channels=3))),
        (2, bytearray(b"not an image")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in extract_png_features(media).collect()}
    px = np.frombuffer(pix, dtype=np.uint8).reshape(-1, 3)
    assert got[1].width == 4 and got[1].height == 2
    assert got[1].mean_r == round(float(px[:, 0].mean()), 6)
    assert got[1].mean_b == round(float(px[:, 2].mean()), 6)
    assert got[2].width is None and got[2].mean_g is None


def _gif_reference_compress(data: bytes, mcs: int) -> bytes:
    """Reference GIF-convention LZW compressor (growing dictionary,
    early-change width bump) — test-only, to prove the decoder's
    general path, which the fixed-width fixture encoder never
    exercises."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, mcs + 1
    codes = [(clear, mcs + 1)]
    s = b""
    for ch in data:
        sc = s + bytes([ch])
        if sc in table:
            s = sc
            continue
        codes.append((table[s], width))
        if next_code < 4096:
            table[sc] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        s = bytes([ch])
    codes.append((table[s], width))
    codes.append((eoi, width))
    acc = nbits = 0
    out = bytearray()
    for code, wdt in codes:
        acc |= code << nbits
        nbits += wdt
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_decode_roundtrip_and_real_lzw():
    """decode_gif inverts the fixture encoder (palette applied), and
    the LZW core decodes genuine growing-dictionary streams from a
    reference compressor — width bumps to 12 bits, KwKwK, repetitive
    data. Malformed inputs raise ValueError."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        _gif_lzw_decode,
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    j = np.arange(256, dtype=np.int64)
    pal = (
        np.stack([j, (2 * j) % 256, (3 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    for w, h in [(4, 3), (20, 17), (1, 1)]:
        idx = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        got = decode_gif(encode_gif(w, h, idx, pal))
        assert got == (w, h, 3, b"".join(pal[i * 3 : i * 3 + 3] for i in idx))

    for n, mcs in [(50, 2), (4000, 8), (300, 4)]:
        data = bytes(rng.integers(0, 1 << mcs, size=n, dtype=np.uint8))
        assert _gif_lzw_decode(_gif_reference_compress(data, mcs), mcs, n) == data
    rep = b"abcabcabcaabbccabcabc" * 200
    assert _gif_lzw_decode(_gif_reference_compress(rep, 8), 8, len(rep)) == rep

    ok = encode_gif(4, 3, bytes(12), pal)
    for bad, msg in [
        (b"PNG12345", "not a GIF"),
        (ok[:-30], "GIF|truncated"),  # cut removes the image block entirely
        # clear the global-color-table flag: palette bytes misread as blocks
        (ok[:10] + bytes([0x40]) + ok[11:],
         "unknown GIF block|no color table|no image"),
    ]:
        with pytest.raises(ValueError, match=msg):
            decode_gif(bad)


def test_gif_features_error_isolation(spark):
    """extract_gif_features: valid payloads reduce to exact means; a
    non-GIF payload yields a NULL feature row, never a task failure."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        encode_gif,
        extract_gif_features,
    )

    j = np.arange(256, dtype=np.int64)
    pal = (
        np.stack([j, (2 * j) % 256, (3 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    idx = np.arange(12, dtype=np.uint8)
    rows = [
        (1, bytearray(encode_gif(4, 3, idx.tobytes(), pal))),
        (2, bytearray(b"GIF89a truncated nonsense")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in extract_gif_features(media).collect()}
    assert got[1].width == 4 and got[1].height == 3
    assert got[1].mean_r == round(float(idx.mean()), 6)
    assert got[1].mean_g == round(float(((2 * idx.astype(int)) % 256).mean()), 6)
    assert got[2].width is None and got[2].mean_b is None


def test_gif_interlaced_roundtrip():
    """GIF89a appendix E interlacing: the four-pass row order written
    by the encoder is inverted by the decoder — interlaced and plain
    encodings of the same pixels decode identically."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(5)
    j = np.arange(256, dtype=np.int64)
    pal = (
        np.stack([j, (2 * j) % 256, (3 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    for w, h in [(4, 3), (20, 17), (1, 1), (8, 9), (3, 16)]:
        idx = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        plain = decode_gif(encode_gif(w, h, idx, pal))
        inter = decode_gif(encode_gif(w, h, idx, pal, interlace=True))
        assert plain == inter == (
            w, h, 3, b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
        )


def test_png_adam7_roundtrip():
    """Adam7 interlacing (PNG §8.2): seven independently-filtered
    sub-images, scattered back onto the pass grid — interlaced and
    sequential encodings of the same pixels decode identically across
    all colortypes, including dimensions where late passes are empty."""
    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(9)
    for w, h, ch in [(4, 3, 3), (7, 6, 1), (5, 5, 4), (3, 9, 2),
                     (1, 1, 3), (16, 16, 3), (9, 2, 1)]:
        pix = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
        plain = decode_png(encode_png(w, h, pix, channels=ch))
        inter = decode_png(
            encode_png(w, h, pix, channels=ch, interlace=True)
        )
        assert plain == inter == (w, h, ch, pix)


def test_png_palette_decode():
    """Colortype 3 (palette) PNG: 1 index byte per pixel unfiltered
    like greyscale, then mapped through PLTE to RGB on return — the
    full 8-bit PNG colortype surface. A palette image missing its PLTE
    chunk raises."""
    import zlib

    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
    )

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    rng = np.random.default_rng(2)
    w, h = 6, 5
    idx = rng.integers(0, 256, size=w * h, dtype=np.uint8)
    j = np.arange(256, dtype=np.int64)
    pal = (
        np.stack([j, (5 * j) % 256, (11 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    raw = b"".join(
        b"\x00" + idx[r * w : (r + 1) * w].tobytes() for r in range(h)
    )
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    )
    png = (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    exp = b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
    assert decode_png(png) == (w, h, 3, exp)

    no_plte = (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(no_plte)


def test_png_16bit_decode_high_byte():
    """16-bit PNG: filters unfilter at the true bytes-per-pixel (2*ch,
    PNG §9), then samples reduce to their big-endian high byte — the
    standard 16->8 depth reduction for feature extraction. Exercises
    None and Up filters over hand-built raw scanlines."""
    import zlib

    import numpy as np

    from fcrepo3_rdf_extractor_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
    )

    def chunk(c, d):
        return (
            len(d).to_bytes(4, "big") + c + d
            + zlib.crc32(c + d).to_bytes(4, "big")
        )

    rng = np.random.default_rng(4)
    w, h, ch = 5, 4, 3
    samples = rng.integers(0, 65536, size=w * h * ch, dtype=np.uint16)
    be = samples.astype(">u2").tobytes()
    rowbytes = w * ch * 2
    rows = [be[r * rowbytes : (r + 1) * rowbytes] for r in range(h)]
    raw = bytearray()
    for r, row in enumerate(rows):
        if r % 2 == 0:
            raw += b"\x00" + row
        else:
            prev = np.frombuffer(rows[r - 1], np.uint8).astype(int)
            cur = np.frombuffer(row, np.uint8).astype(int)
            raw += b"\x02" + ((cur - prev) & 0xFF).astype(np.uint8).tobytes()
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    )
    png = (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    exp = (samples >> 8).astype(np.uint8).tobytes()
    assert decode_png(png) == (w, h, ch, exp)

    # sub-byte depths stay a clear rejection
    bad_ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([4, 0, 0, 0, 0])
    )
    bad = (
        _PNG_SIG + chunk(b"IHDR", bad_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported bit depth"):
        decode_png(bad)
