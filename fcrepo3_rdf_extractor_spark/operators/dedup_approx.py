"""Near-duplicate detection for training-data pipelines: exact-hash,
MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- signatures (minhash/simhash/fingerprints) are computed scan-side with
  pure column expressions — no shuffle, no Python
- candidate generation shuffles only (band_key, doc_id) pairs — a tiny
  projection of the corpus — and joins within LSH buckets, never all-pairs
- verification (exact Jaccard) runs only on candidate pairs
- hot buckets (boilerplate-heavy corpora) are bounded by ``max_bucket``:
  oversized buckets are dropped with a logged count rather than letting
  one degenerate key quadratically dominate the stage (the skew defense
  for self-joins; AQE skew-join splits handle the milder cases)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import shingles_of, tokens_col


def dedup_exact_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on md5(text): one surviving doc_id (min) per group.
    groupBy gives map-side partial aggregation; identical boilerplate
    documents collapse before the shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").cast("long").alias("n_copies"))
    )


# --- MinHash --------------------------------------------------------------


def minhash_signature(
    df: DataFrame, text_col: str = "text", num_hashes: int = 8
) -> DataFrame:
    """Per-document MinHash signature: h_i = min over shingles of
    md5(i || '|' || shingle). String-min over hex digests is a valid
    min-hash (any total order over a family of independent hashes);
    md5 keeps the oracle portable. Scan-side only — no shuffle.

    Tokens and shingles are staged as projection columns so the shingle
    array is computed once per row, not once per signature column (the
    inline form re-evaluated the tokenizing split O(n*k) times per
    signature — a 25x slowdown measured at 500 docs)."""
    staged = df.select("doc_id", tokens_col(F.col(text_col)).alias("_w"))
    staged = staged.select("doc_id", shingles_of(F.col("_w")).alias("_sh"))
    sh = F.col("_sh")

    def seeded(i: int):
        # NB: must be a ONE-argument lambda — a two-parameter lambda would
        # be interpreted by transform() as (element, index)
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sig = [
        F.array_min(F.transform(sh, seeded(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return staged.select("doc_id", *sig)


def band_table(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Explode MinHash signatures into the LSH band table
    (doc_id, band_id, band_key) — three narrow columns, the persisted
    index an incremental pipeline probes new documents against (see
    minhash_incremental_pairs). Scan-side only: no shuffle."""
    hash_cols = [c for c in signatures.columns if c.startswith("h")]
    assert len(hash_cols) >= bands * rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("|", *[F.col(hash_cols[b * rows_per_band + r])
                               for r in range(rows_per_band)]).alias("band_key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_key")


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: signature -> ``bands`` band keys; documents sharing any
    band key become a candidate pair. Output: (doc_a, doc_b) with
    doc_a < doc_b, distinct across bands.

    The band table is (band_id, band_key, doc_id) — three narrow columns —
    so the shuffle is tiny relative to the corpus. Buckets larger than
    ``max_bucket`` are dropped (degenerate boilerplate keys would retain
    O(n^2) pairs; real pipelines route them to a separate clustering
    pass)."""
    exploded = band_table(signatures, bands, rows_per_band)

    # bucket-size bound as a window count on the SAME key the self-join
    # shuffles on: within each lineage the window's exchange doubles as
    # the join-side exchange (no extra shuffle between them) — the
    # agg+join formulation shuffled the exploded table three times
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key")
    bounded = (
        exploded.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    left = bounded.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
    right = bounded.select("band_id", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def shingle_table(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document DISTINCT word-k-gram shingle sets — the verify-side
    input of exact-Jaccard. Callers running a full near-dup pass over a
    large corpus should ``.persist()`` this (and release it after the
    pass): the verify join references it on BOTH pair sides, and
    self-join sides do not share exchanges, so an un-cached shingle
    table is tokenized twice (measured: ~25%% of the whole near-dup
    stage's executor time at 80k docs)."""
    return docs.select(
        "doc_id", tokens_col(F.col(text_col)).alias("_w")
    ).select("doc_id", F.array_distinct(shingles_of(F.col("_w"), k)).alias("sh"))


def ngram_jaccard_shingled(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs over a prebuilt (ideally
    persisted) :func:`shingle_table`."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "doc_a", "doc_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Exact word-k-gram Jaccard for candidate pairs (the verify stage
    after LSH). Shingle sets are recomputed scan-side and joined twice
    (the pairs side is small by construction); long-lived multi-action
    callers should persist :func:`shingle_table` and use
    :func:`ngram_jaccard_shingled` instead."""
    return ngram_jaccard_shingled(pairs, shingle_table(docs, text_col, k))


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    cache_signatures: bool = False,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature -> banded candidates
    -> exact-Jaccard verify -> threshold.

    cache_signatures persists the signature table (doc_id + num_hashes
    hex digests, ~300 B/doc) for callers that reuse it across several
    downstream pipelines. It is OFF for a single pass: the self-join's
    two sides each re-evaluate the signature columns (exchange reuse
    does not canonicalize across the aliased sides — verified on Spark
    4.1), but that re-evaluation is pure scan-side column math, and an
    A/B at sf0.1 measured the eager persist *slower* (7.3 s vs 4.2 s)
    because it forces synchronous materialization ahead of a plan that
    otherwise pipelines. Persist only pays when the upstream is
    expensive (e.g. a Python UDF — see
    queries.kg_graph_shared_collection_pairs)."""
    sigs = minhash_signature(docs, text_col, num_hashes)
    if cache_signatures:
        sigs = sigs.persist()
    cands = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=num_hashes // bands)
    verified = ngram_jaccard(cands, docs, text_col)
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_incremental_candidates(
    new_bands: DataFrame,
    old_bands: DataFrame,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs TOUCHING AT LEAST ONE NEW document: the new wave's
    band rows equi-join the persisted band table of the existing corpus
    — new-new and new-old pairs flow out; old-old pairs never recompute
    (they are already in the previous run's pair state). ``new_bands``
    and ``old_bands`` must cover disjoint doc_id sets and be built with
    the same signature/banding parameters.

    The ``max_bucket`` bound is counted over the UNION bucket (old + new
    members), so a bucket this wave drops is exactly a bucket the full
    recompute over the combined corpus would drop. For buckets that
    never cross ``max_bucket`` across waves (the overwhelmingly common
    case), previous-pairs ∪ incremental-pairs EQUALS the full-recompute
    pair set. A bucket that crosses the bound mid-history diverges in
    one bounded way: pairs admitted while it was small persist in the
    state, while a from-scratch recompute would drop the whole bucket —
    monotone-admission semantics, which is the stable choice for a
    production pipeline (a wave arriving never silently un-deduplicates
    documents already clustered). Output is canonical (doc_a < doc_b)
    and distinct."""
    from pyspark.sql import Window

    tagged = new_bands.select(
        "doc_id", "band_id", "band_key", F.lit(True).alias("_new")
    ).union(
        old_bands.select("doc_id", "band_id", "band_key", F.lit(False).alias("_new"))
    )
    w = Window.partitionBy("band_id", "band_key")
    bounded = (
        tagged.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    probe = bounded.filter(F.col("_new")).select(
        "band_id", "band_key", F.col("doc_id").alias("_a")
    )
    build = bounded.select("band_id", "band_key", F.col("doc_id").alias("_b"))
    return (
        probe.join(build, ["band_id", "band_key"])
        .filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("doc_a"),
            F.greatest("_a", "_b").alias("doc_b"),
        )
        .distinct()
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    old_bands: DataFrame,
    all_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Verified near-dup pairs introduced by a NEW wave of documents,
    probing the PERSISTED band table of the existing corpus — the
    incremental refresh path: signatures are computed only for the new
    wave (the expensive per-document stage never re-runs over the
    corpus), candidates equi-join the band index, and exact-Jaccard
    verification touches only candidate documents' text via
    ``all_docs``. ``previous_pairs ∪ this`` equals a full
    ``minhash_near_duplicates`` over the combined corpus (same
    parameters), so downstream clustering stays exact."""
    new_bands = band_table(
        minhash_signature(new_docs, text_col, num_hashes),
        bands=bands, rows_per_band=num_hashes // bands,
    )
    cands = minhash_incremental_candidates(new_bands, old_bands, max_bucket)
    verified = ngram_jaccard(cands, all_docs, text_col)
    return verified.filter(F.col("jaccard") >= threshold)


# --- SimHash ----------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens. Bit j of the signature is the
    majority vote of bit j across token hashes; we read bit j as "is the
    j-th hex digit of md5(token) >= 8" (the top bit of each hex digit),
    which caps bits at 32 and keeps the construction portable to any SQL
    engine. Hamming-close signatures => similar token multisets."""
    assert bits <= 32
    df = df.select(
        "doc_id", F.array_distinct(tokens_col(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")  # staged: referenced once per bit below
    n = F.size(toks)
    hexdigits = list("89abcdef")

    def bit_test(j: int):
        # one-argument lambda on purpose (see minhash_signature note)
        return lambda t: F.substring(F.md5(t), j + 1, 1).isin(hexdigits)

    bit_cols = []
    for j in range(bits):
        ones = F.size(F.filter(toks, bit_test(j)))
        bit_cols.append(F.when(ones * 2 > n, F.lit(1 << j)).otherwise(F.lit(0)))
    sig = sum(bit_cols)
    return df.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 16,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_bucket: int = 10000,
) -> DataFrame:
    """SimHash near-dup via banded LSH over signature chunks.

    The signature is split into ``bits / band_bits`` disjoint bit-bands;
    documents sharing ANY band value become candidates (for
    bits=16/band_bits=8 that is exactly "same high byte OR same low
    byte"). Crucially the OR is expressed by EXPLODING one row per band
    and equi-joining on (band_id, band_key) — an OR of equalities in a
    join condition cannot hash-partition and planner-degrades to
    BroadcastNestedLoopJoin, O(n^2) compares at scale (pinned against in
    tests/test_plans.py). Buckets over ``max_bucket`` are dropped via a
    window count riding the join's own shuffle, same skew policy as
    minhash_lsh_candidates. Hamming distance verifies candidates."""
    assert bits % band_bits == 0
    sigs = simhash(docs, text_col, bits)
    mask = (1 << band_bits) - 1
    bands = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask)).alias("band_key"),
        )
        for b in range(bits // band_bits)
    ]
    exploded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_key")

    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key")
    bounded = (
        exploded.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    a = bounded.select("band_id", "band_key",
                       F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    b = bounded.select("band_id", "band_key",
                       F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    pairs = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- corpus-level line dedup ---------------------------------------------


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """C4/CCNet-style corpus-level line deduplication: drop from EVERY
    document any line that occurs verbatim in at least ``min_docs``
    distinct documents (boilerplate headers, cookie banners, license
    blocks), and reassemble the survivors in original order. Returns
    (doc_id, text, n_kept, n_removed); a fully-boilerplate document
    comes back with empty text, not dropped — the caller decides.

    Scale shape: lines are (doc_id, pos, line) rows from ONE posexplode.
    The banned set is groupBy(line, doc_id) -> groupBy(line) — Spark's
    own two-level rewrite of count(DISTINCT doc_id), both levels with
    map-side partial combine, so a boilerplate line occurring 10^9 times
    collapses per input partition before it ever shuffles. Removal is a
    left_anti join on the line value: the banned side holds one row per
    banned line (bounded by the number of DISTINCT repeated lines, far
    below corpus line count); hot-line skew on the probe side is an AQE
    skew-join split, not a correctness hazard. Reassembly sorts each
    document's surviving (pos, line) structs inside a single groupBy —
    per-document state only, no global sort.
    """
    lines = df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    )
    banned = (
        lines.groupBy("line", "doc_id")
        .agg(F.lit(1))
        .groupBy("line")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(banned, "line", "left_anti")
    totals = lines.groupBy("doc_id").agg(F.count("*").cast("long").alias("_n_lines"))
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("_text"),
        F.count("*").cast("long").alias("_n_kept"),
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# --- containment near-dup --------------------------------------------------


def containment_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Containment near-dup: ``|A∩B| / min(|A|,|B|)`` over distinct word
    k-gram shingle sets — the asymmetric complement of MinHash/Jaccard.
    A 1-page document embedded verbatim in a 100-page one has Jaccard
    ~0.01 (invisible to any usable symmetric threshold, and to MinHash
    banding whose collision probability tracks symmetric Jaccard), but
    containment 1.0. This is the operator that catches quote-inflated /
    concatenation-built near-dups in a training corpus.

    Scale shape (100 TB):
    - candidates come from a shingle inverted index, (md5(shingle),
      doc_id) — two narrow columns, one exchange
    - the pair blow-up of a shared shingle with document frequency df is
      df^2, so the skew guard bounds df directly: shingles occurring in
      more than ``max_df`` documents are corpus boilerplate and are
      dropped BEFORE the self-join (same policy as
      :func:`minhash_lsh_candidates`'s ``max_bucket``), via a window
      count on the join's own shuffle key — no extra exchange
    - the intersection size is ``groupBy(pair).count()`` on the join
      output (map-side combine), never materialized shingle arrays on
      the pair rows; set sizes join back from a doc-count-sized table.
    - numerator AND denominator see the same df-bounded shingle
      universe: sizes are counted over the bounded index, not the raw
      shingle sets. Counting raw sizes against a bounded intersection
      systematically under-scores quote-inflated fragments whose
      shingles are mostly corpus boilerplate — exactly the documents
      this operator exists to catch. The metric is therefore true
      containment OVER THE BOUNDED UNIVERSE (shingles with df>max_df
      carry no signal about any specific pair anyway).

    md5 keeps the shingle key portable to the DuckDB oracle; a
    production build would use xxhash64 (8-byte keys, same plan).
    """
    from pyspark.sql import Window

    # localCheckpoint the frame referenced from multiple join sides
    # (self-join sides and the two size lookups share no exchanges — an
    # un-staged plan re-ran tokenize/shingle/md5 up to 8x per query and
    # the inverted-index window shuffle twice; same staging discipline
    # as connected_components / dedup_clusters)
    inv = containment_index(docs, text_col, k)
    bounded = (
        inv.withColumn("_df", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        .localCheckpoint()
    )
    # sizes over the SAME bounded universe as the intersection (one
    # map-side-combined groupBy over the checkpointed index — cheaper
    # than the raw size(sh) it replaces, which needed its own staging)
    sizes = bounded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = bounded.select("g", F.col("doc_id").alias("doc_a"))
    b = bounded.select("g", F.col("doc_id").alias("doc_b"))
    common = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_n_common")
                / F.greatest(F.least("_na", "_nb"), F.lit(1)),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# --- substring-level exact dedup (repeated-span removal) --------------------


def dedup_substrings(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    keep_first: bool = True,
) -> DataFrame:
    """Substring-level exact deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr semantics at token granularity): any span of ``k``
    consecutive tokens that occurs more than once corpus-wide — within
    one document or across documents — is removed everywhere except its
    first occurrence (``keep_first=True``; ``False`` removes every
    occurrence, the stricter variant). This is the mid-granularity
    modality between whole-document dedup (``dedup_exact_docs``) and
    line dedup (``dedup_lines``): memorized licence blocks, quoted
    paragraphs, and templated boilerplate that neither whole-doc hashing
    nor line hashing catches.

    Returns (doc_id, text, n_kept, n_removed) for EVERY input document;
    ``text`` is the surviving tokens of the normalized token stream
    (lowercased, single-spaced — the universe the spans are defined
    over), in original order. Documents shorter than ``k`` tokens pass
    through whole.

    Scale shape (100 TB):
    - the span table is one row per k-gram OCCURRENCE — (doc_id, pos,
      md5(gram)) — built scan-side from a staged token array; a
      suffix array (the reference algorithm's structure) is a global
      sorted order and does not distribute, but the k-gram occurrence
      table IS its Spark-native equivalent for fixed k
    - duplicated spans come from ONE groupBy(g) with map-side partial
      combine (a licence block occurring 10^9 times collapses per input
      partition before it shuffles); the canonical occurrence rides the
      same aggregate as ``min(struct(doc_id, pos))`` — no frankenrows,
      no second shuffle
    - removal joins gram occurrences to the duplicated-span table on the
      gram hash (the dup side holds one row per DISTINCT duplicated
      span, far below corpus gram count; a hot span on the probe side is
      an AQE skew-join split), then explodes each removed occurrence to
      its k covered token positions — never a row-local O(len^2)
      all-pairs compare
    - reassembly is the :func:`dedup_lines` pattern: per-document
      array_sort inside a single groupBy, no global sort.

    md5 keeps the span key portable to the DuckDB oracle; production
    would use xxhash64 (8-byte keys, same plan).
    """
    # stage the token arrays AND the gram-occurrence table: toks feeds
    # three consumers (grams, token rows, totals) and grams feeds two
    # join sides (the dup aggregate and the removal probe) — self-join
    # sides share no exchanges, so un-staged lineage re-runs split()
    # 3x and the md5-per-gram projection 2x
    toks = docs.select(
        "doc_id", tokens_col(F.col(text_col)).alias("_w")
    ).localCheckpoint()
    grams = (
        toks.filter(F.size("_w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - k),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.md5(
                            F.array_join(F.slice("_w", i + 1, k), " ")
                        ).alias("g"),
                    ),
                )
            ).alias("_o"),
        )
        .select("doc_id", F.col("_o.pos").alias("pos"), F.col("_o.g").alias("g"))
        .localCheckpoint()
    )
    dup = (
        grams.groupBy("g")
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct("doc_id", "pos")).alias("_keep"),
        )
        .filter(F.col("_n") >= 2)
        .select("g", "_keep")
    )
    removed_occ = grams.join(dup, "g")
    if keep_first:
        removed_occ = removed_occ.filter(
            ~(
                (F.col("doc_id") == F.col("_keep.doc_id"))
                & (F.col("pos") == F.col("_keep.pos"))
            )
        )
    covered = removed_occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("pos"),
    ).distinct()
    tok = toks.select("doc_id", F.posexplode("_w").alias("pos", "tok"))
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    totals = toks.select("doc_id", F.size("_w").cast("long").alias("_n_tok"))
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("_text"),
        F.count("*").cast("long").alias("_n_kept"),
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_tok") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def containment_index(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """The containment inverted index — (g, doc_id), g = md5(word
    k-gram shingle) — i.e. the PERSISTED STATE an incremental pipeline
    keeps per document wave, exactly as the LSH band table is the
    persisted state of the MinHash path. Scan-side only (tokenize →
    shingle → md5 → explode); the document-frequency bound is NOT baked
    in here because it must be evaluated over the UNION of all waves'
    rows (:func:`containment_incremental_pairs`)."""
    sh = shingle_table(docs, text_col, k)
    return sh.select(
        "doc_id", F.explode("sh").alias("_g")
    ).select("doc_id", F.md5("_g").alias("g"))


def containment_incremental_pairs(
    new_docs: DataFrame,
    old_index: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    max_df: int = 1000,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Containment pairs introduced by a NEW wave, probing the persisted
    :func:`containment_index` of the existing corpus — the incremental
    twin of :func:`minhash_incremental_pairs` for the asymmetric
    modality. The expensive per-document stage (tokenize / shingle /
    md5) runs ONLY on the new wave; old documents contribute through
    their stored (g, doc_id) rows. new-new and new-old pairs flow out;
    old-old pairs never recompute.

    Semantics match a full :func:`containment_near_duplicates` over the
    combined corpus for every pair touching a new document: the df
    bound AND the bounded set sizes are evaluated over the UNION index,
    exactly what the full run would see. The one divergence mode —
    shared with the MinHash path's monotone-admission rule — is OLD-OLD
    pairs whose stored scores were computed before a later wave pushed
    a shingle past ``max_df`` (a full recompute would re-score them
    over the shrunken universe); a wave never silently re-scores pairs
    already admitted. Wave-equals-one-shot equality below that bound is
    pytest-enforced.

    Scale shape: the union-df window shuffles only the two-narrow-column
    index (not the corpus); a production deployment additionally keeps
    the per-g df aggregate as state and maintains it with per-wave
    deltas, turning the window into a broadcast-checked filter — same
    plan downstream.

    ``new_index``: a prebuilt :func:`containment_index` of the new wave
    (e.g. the one a stateful pipeline just wrote to its state dir) —
    skips re-shingling the wave a second time."""
    from pyspark.sql import Window

    if new_index is None:
        new_index = containment_index(new_docs, text_col, k)
    tagged = new_index.select(
        "g", "doc_id", F.lit(True).alias("_new")
    ).union(old_index.select("g", "doc_id", F.lit(False).alias("_new")))
    bounded = (
        tagged.withColumn("_df", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        .localCheckpoint()
    )
    sizes = bounded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    probe = bounded.filter(F.col("_new")).select("g", F.col("doc_id").alias("_a"))
    build = bounded.select(
        "g", F.col("doc_id").alias("_b"), F.col("_new").alias("_bn")
    )
    # each shared shingle must contribute exactly once per pair: for
    # new-new keep only the _a < _b orientation (both sides are in the
    # probe); a new-old pair exists in one orientation only
    common = (
        probe.join(build, "g")
        .filter(
            (F.col("_a") < F.col("_b"))
            | (~F.col("_bn") & (F.col("_a") != F.col("_b")))
        )
        .select(
            F.least("_a", "_b").alias("doc_a"),
            F.greatest("_a", "_b").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_n_common")
                / F.greatest(F.least("_na", "_nb"), F.lit(1)),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# --- repo-level (file-set) near-dup -----------------------------------------


def fileset_near_duplicates(
    files: DataFrame,
    key_col: str = "repo",
    item_col: str = "file_md5",
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Container-level near-dup over SETS OF ITEM HASHES — the fork /
    mirror detector for a source-code corpus: two repositories sharing
    most of their files' content hashes are one codebase, and per-file
    dedup alone won't tell you (each file pair dedups independently;
    nothing says "these 10^4 files travel together"). Jaccard over the
    distinct item-hash sets: |A∩B| / |A∪B|.

    Scale shape (10^12 files, 10^8 repos) — same df-bounded
    inverted-index discipline as :func:`containment_near_duplicates`:
    - the (item_md5, key) index is two narrow columns, one exchange
    - an item shared by df containers yields df^2 pair rows, so items in
      more than ``max_df`` containers (vendored boilerplate, empty
      files, license texts) are dropped BEFORE the self-join via a
      window count riding the join's own shuffle key — both the
      numerator and the set sizes then see the same bounded universe
    - intersections are groupBy(pair).count() with map-side combine;
      set sizes join back from a container-count-sized table.
    Pairs are canonical ``{key}_a < {key}_b``."""
    from pyspark.sql import Window

    idx = files.select(
        F.col(key_col).alias("k"), F.col(item_col).alias("g")
    ).distinct()
    bounded = (
        idx.withColumn("_df", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        .localCheckpoint()  # referenced from 4 join sides (see containment)
    )
    sizes = bounded.groupBy("k").agg(F.count("*").alias("n"))
    a = bounded.select("g", F.col("k").alias(f"{key_col}_a"))
    b = bounded.select("g", F.col("k").alias(f"{key_col}_b"))
    common = (
        a.join(b, "g")
        .filter(F.col(f"{key_col}_a") < F.col(f"{key_col}_b"))
        .groupBy(f"{key_col}_a", f"{key_col}_b")
        .agg(F.count("*").alias("_c"))
    )
    na = sizes.select(F.col("k").alias(f"{key_col}_a"), F.col("n").alias("_na"))
    nb = sizes.select(F.col("k").alias(f"{key_col}_b"), F.col("n").alias("_nb"))
    return (
        common.join(na, f"{key_col}_a")
        .join(nb, f"{key_col}_b")
        .select(
            f"{key_col}_a",
            f"{key_col}_b",
            F.round(
                F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
