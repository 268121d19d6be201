"""Text-analysis operators for training-data pipelines: tokenization,
shingling, language-ID, quality scoring, token counting, fingerprinting.

All pure ``pyspark.sql.functions`` column expressions — JVM-side,
whole-stage-codegen'd, no Python per row — EXCEPT
:func:`vocab_token_count`, whose greedy longest-match loop has no
closed column form and runs as the documented Arrow-batched Pandas UDF.
Each has a DuckDB-mirrorable formulation (see queries.py) so
correctness is oracle-checked, and each streams embarrassingly parallel
over document partitions (no shuffle).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / shingling


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles_of(words: Column, k: int = 3) -> Column:
    """Word k-gram shingles from a *materialized* token-array column;
    fewer than k words yield one shingle = the whole (normalized) text.

    ``words`` must be a bound column (an attribute from a previous
    projection), NOT an inline ``tokens_col(...)`` expression: Catalyst
    inlines non-attribute subexpressions once per reference, and each
    gram references the token array k times — an inline split() would be
    re-evaluated O(n*k) times per row (measured 25x slowdown at 500
    docs). CollapseProject keeps the staging projection intact because
    the alias is non-cheap and referenced more than once."""
    n = F.size(words)

    def gram(i: Column) -> Column:
        parts = [F.element_at(words, i + off) for off in range(k)]
        return F.concat_ws(" ", *parts)

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
    ).otherwise(F.array(F.concat_ws(" ", words)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate (characters
    / 3.8 is the classic ~bytes-per-token heuristic, kept integral and
    deterministic as ceil(chars/4))."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(tokens_col(t)).cast("long").alias("n_tokens"),
        F.ceil(F.length(t) / 4).cast("long").alias("n_subword_est"),
    )


def winnow_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 8, window: int = 16
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.'s rolling-hash
    scheme): hash every character k-gram, slide a ``window`` over the
    hash sequence, keep each window's minimum — near-identical documents
    share most selected hashes regardless of alignment. All scan-side
    column expressions over staged arrays; the fingerprint set is the
    distinct selected hashes."""
    t = F.lower(F.trim(F.col(text_col)))
    staged = df.select("doc_id", t.alias("_t"))
    n = F.length(F.col("_t"))
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.substring(F.col("_t"), i.cast("int"), k)),
        ),
    ).otherwise(F.array(F.md5(F.col("_t"))))
    staged = staged.select("doc_id", grams.alias("_h"))
    m = F.size(F.col("_h"))
    selected = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - (window - 1)),
            lambda i: F.array_min(F.slice(F.col("_h"), i.cast("int"), window)),
        ),
    ).otherwise(F.array(F.array_min(F.col("_h"))))
    return staged.select(
        "doc_id",
        F.array_sort(F.array_distinct(selected)).alias("fingerprints"),
    )


def chunk_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/RAG preparation
    step: every document splits into windows of ``window`` tokens
    starting every ``stride`` tokens (overlap = window - stride), each
    chunk independently addressable by a deterministic
    ``chunk_id = doc_id#idx``; unlike :func:`..sampling.sequence_pack`
    (which places docs into a CONCATENATED global token stream) chunking
    is per-document, so it needs no prefix sum — pure scan-side column
    arithmetic: stage the token array once (CollapseProject keeps the
    non-cheap alias), explode a ``sequence(0, n-1, stride)`` of start
    offsets, slice per start. No shuffle, no Python, no UDF; a 100 TB
    corpus chunks at scan speed and the output is already partitioned
    like its input (write bucketed by chunk_id hash for the ANN side).

    The final window may be shorter than ``window`` (the tail); a
    document shorter than one window yields exactly one chunk. Output:
    (id_col, chunk_idx, chunk_id, start_token, n_tokens, chunk_text).
    """
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    staged = df.select(id_col, tokens_col(F.col(text_col)).alias("_toks"))
    exploded = staged.select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
        ).alias("_start"),
    )
    chunked = exploded.select(
        id_col,
        "_start",
        F.slice(F.col("_toks"), F.col("_start") + 1, window).alias("_chunk"),
    )
    idx = (F.col("_start") / stride).cast("bigint")
    return chunked.select(
        id_col,
        idx.alias("chunk_idx"),
        F.concat_ws("#", F.col(id_col), idx).alias("chunk_id"),
        F.col("_start").cast("bigint").alias("start_token"),
        F.size("_chunk").cast("bigint").alias("n_tokens"),
        F.array_join(F.col("_chunk"), " ").alias("chunk_text"),
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram log-likelihood under the corpus's own
    unigram distribution: sum over tokens of ln(count(term)/total) — the
    classic LM-based quality signal (gibberish and boilerplate-outlier
    documents score far from the per-token mean). Two aggregations: term
    counts (vocabulary-sized, broadcast back) and the per-document sum;
    the corpus shuffles once, on (doc_id, term)."""
    toks = df.select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("term_n"))
    # total tokens derived from the vocabulary aggregate — summing the
    # term counts is a vocabulary-sized scan, not a third full pass over
    # the exploded corpus
    total = counts.agg(F.sum("term_n").alias("total_n"))
    return (
        toks.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum(F.log(F.col("term_n") / F.col("total_n"))), 4)
            .alias("logprob"),
            F.round(
                F.sum(F.log(F.col("term_n") / F.col("total_n"))) / F.count("*"), 6
            ).alias("per_token_logprob"),
        )
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text", k: int = 1) -> DataFrame:
    """Per-document top-k terms by tf-idf (idf = ln(N/df), the classic
    unsmoothed form). Shape at scale: one explode + two hash aggregations
    (term counts shuffle on (doc_id, term); document frequencies shuffle
    on term — the df table is vocabulary-sized, broadcastable) + a
    per-document window top-k. Ties break on the rounded score, then
    term order, so the pick is engine-independent."""
    from pyspark.sql import Window

    toks = df.select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# language identification (marker-token heuristic)

#: marker substrings per language; counting is done with the
#: replace-length trick so any SQL engine reproduces it exactly
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
    "zh": ["的", "是", "了"],
}


def _count_marker(text: Column, marker: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(marker)))) / len(marker)


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(_count_marker(padded, m) for m in markers).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def with_language(
    df: DataFrame, text_col: str = "text", keep_scores: bool = False
) -> DataFrame:
    """ALL input columns + ``pred_lang`` (argmax of marker counts, ties
    broken by language code order, 'und' when no marker hits) — a pure
    per-row projection, so it is stream-safe and adds NO join: the
    in-place form batch curate and the streaming curate front share.
    Scores are staged as columns so each replace-chain evaluates once
    per row, not once per downstream reference. The input must not
    already carry ``score_<lang>`` / ``pred_lang`` columns."""
    scores = lang_scores(F.col(text_col))
    langs = sorted(scores)  # deterministic tie order
    staged = df.select(
        "*", *[scores[lang].alias(f"score_{lang}") for lang in langs]
    )
    col = {lang: F.col(f"score_{lang}") for lang in langs}
    best_score = F.greatest(*[col[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earliest alphabetical wins ties
        pred = F.when((col[lang] > 0) & (col[lang] == best_score), F.lit(lang)).otherwise(pred)
    out = list(df.columns)
    if keep_scores:
        out += [f"score_{lang}" for lang in langs]
    return staged.select(*out, pred.alias("pred_lang"))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic n-gram/marker language ID (narrow projection:
    doc_id, per-language scores, pred_lang). See :func:`with_language`
    for the in-place variant."""
    return with_language(
        df.select("doc_id", text_col), text_col, keep_scores=True
    ).drop(text_col)


# ---------------------------------------------------------------------------
# quality scoring

STOPWORDS = [" the ", " a ", " an ", " and ", " or ", " of ", " to ", " in "]


def with_quality(
    df: DataFrame, text_col: str = "text", full: bool = False
) -> DataFrame:
    """ALL input columns + ``quality`` (blended length / stopword-ratio /
    word-shape score in [0,1]; ``full=True`` adds the individual feature
    columns, whose names must then not collide with the input's). A pure
    per-row projection — stream-safe, join-free: the in-place form batch
    curate and the streaming curate front share."""
    t = F.col(text_col)
    staged = df.select("*", F.size(tokens_col(t)).alias("_n_words"))
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    n_chars = F.length(t)
    n_words = F.col("_n_words")  # staged: referenced 3x below
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?'\"()\[\]{}]", ""))
    n_stop = sum(_count_marker(padded, w) for w in STOPWORDS)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(n_stop / F.greatest(n_words, F.lit(1)), 4)
    mean_word_len = F.round(
        F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(n_words, F.lit(1)), 4
    )
    length_ok = (n_chars >= 20) & (n_chars <= 100000)
    score = F.round(
        (F.when(length_ok, 0.4).otherwise(0.0))
        + F.when(stop_ratio > 0.01, 0.3).otherwise(0.0)
        + F.when((mean_word_len >= 2) & (mean_word_len <= 12), 0.3).otherwise(0.0),
        4,
    )
    features = []
    if full:
        features = [
            n_chars.cast("long").alias("n_chars"),
            n_words.cast("long").alias("n_words"),
            punct_ratio.alias("punct_ratio"),
            stop_ratio.alias("stopword_ratio"),
            mean_word_len.alias("mean_word_len"),
        ]
    return staged.select(*df.columns, *features, score.alias("quality"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features with a
    single blended score in [0,1] (narrow projection). Pure arithmetic,
    oracle-mirrorable. See :func:`with_quality` for the in-place variant."""
    return with_quality(
        df.select("doc_id", text_col), text_col, full=True
    ).drop(text_col)


# ---------------------------------------------------------------------------
# fingerprinting


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text (exact
    identity) + the minimum shingle hash (robust 'winnowing-style' content
    anchor — equal for documents sharing their rarest shingle)."""
    staged = df.select("doc_id", tokens_col(F.col(text_col)).alias("_w"))
    return staged.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.col("_w"))).alias("content_fp"),
        F.array_min(F.transform(shingles_of(F.col("_w")), F.md5)).alias(
            "min_shingle_fp"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (space-bounded membership at corpus scale)

#: Bloom geometry: positions are 16-bit (4 md5 hex chars each), the
#: filter is 2^16 bits packed into 2048 32-bit words held in BIGINTs
#: (32-bit words so `1 << bit` never touches the sign bit in either
#: engine). Fixed geometry keeps the md5→position arithmetic exactly
#: mirrorable in the DuckDB oracle; a production build would scale m
#: with the eval-set size (the plan shape is unchanged — only the
#: word-array length grows).
BLOOM_WORDS = 2048
_BLOOM_PROBES = 3


def bloom_probe_positions(gram: Column, n_hashes: int = _BLOOM_PROBES) -> Column:
    """``n_hashes`` probe positions in [0, 2^16) from non-overlapping
    4-hex-char windows of ``md5(gram)`` — one hash evaluation feeding
    k probes (the standard Kirsch-Mitzenmacher-style derivation, here
    even simpler: disjoint bit windows of one digest are independent).
    """
    h = F.md5(gram)
    return F.array(
        *[
            F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("long")
            for i in range(n_hashes)
        ]
    )


def bloom_build(benchmark: DataFrame, gram_col: str = "gram") -> list[int]:
    """Build the Bloom filter over an eval set's grams and return it as
    a driver-held list of ``BLOOM_WORDS`` ints (16 KB — metadata, same
    discipline as the k-means centroids / PQ codebooks collects). One
    partial-agg shuffle over the (small) benchmark gram table: explode
    probe positions, group by 32-bit word index, ``bit_or`` the bit
    masks. ``2^bit`` via ``pow`` stays exact (doubles are exact to
    2^53; bits are < 32)."""
    rows = (
        benchmark.select(
            F.explode(bloom_probe_positions(F.col(gram_col))).alias("p")
        )
        .select(
            F.shiftright("p", 5).alias("w"),
            F.pow(F.lit(2.0), F.col("p").bitwiseAND(F.lit(31)))
            .cast("long")
            .alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = [0] * BLOOM_WORDS
    for r in rows:
        words[r.w] = r.bits
    return words


def bloom_contamination(
    df: DataFrame,
    bloom_words: list[int],
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination against a Bloom filter instead of the
    exact gram table: per-document fraction of distinct word k-grams
    whose ``_BLOOM_PROBES`` probe bits are ALL set. This is the 100 TB
    shape for decontamination when the eval-gram table itself is too
    large to broadcast as strings (multi-benchmark suites run to 10^8+
    grams ≈ tens of GB of text, but always fit a fixed-size bitmap):
    the filter rides into every task as a CONSTANT-FOLDED literal array
    (16 KB), so probing is a pure projection — no join, no shuffle, no
    explode. An explode -> broadcast semi-join on the exact gram table
    stays the exact path when the eval set is broadcastable.

    False-positive rate at the test geometry (n benchmark grams, m =
    2^16 bits, k = 3 probes) is (1 - e^(-3n/65536))^3 — ~0.9% at
    n = 5000. Positives are DETERMINISTIC (pure md5 arithmetic), so the
    DuckDB oracle reproduces them bit-for-bit: flagged counts include
    the same false positives in both engines.

    Per-gram cost: md5 is evaluated once per probe inside the
    higher-order lambda (HOFs inline non-attribute subexpressions);
    3 md5s of a short string is cheaper than staging an exploded
    position table through a shuffle. The HOF projection is
    CodegenFallback (interpreted) per the repo-wide note — the scan
    stage below it still codegens."""
    flt = F.lit(bloom_words)

    def _hit(g: Column) -> Column:
        def probe(i: int) -> Column:
            p = F.conv(F.substring(F.md5(g), 1 + 4 * i, 4), 16, 10).cast(
                "long"
            )
            bits = F.element_at(flt, (F.shiftright(p, 5) + 1).cast("int"))
            mask = F.pow(F.lit(2.0), p.bitwiseAND(F.lit(31))).cast("long")
            return bits.bitwiseAND(mask) != 0

        out = probe(0)
        for i in range(1, _BLOOM_PROBES):
            out = out & probe(i)
        return out

    staged = df.select("doc_id", tokens_col(F.col(text_col)).alias("_w"))
    grams = staged.select(
        "doc_id", F.array_distinct(shingles_of(F.col("_w"), k)).alias("_g")
    )
    n_hits = F.size(F.filter("_g", _hit))
    return grams.select(
        "doc_id",
        F.size("_g").cast("long").alias("n_grams"),
        n_hits.cast("long").alias("n_bloom_hits"),
        F.round(n_hits / F.size("_g"), 4).alias("bloom_frac"),
        (F.round(n_hits / F.size("_g"), 4) >= threshold)
        .cast("int")
        .alias("flagged"),
    )


# ---------------------------------------------------------------------------
# PII redaction

#: Java-regex AND RE2 compatible (no lookarounds, no backrefs) so the
#: DuckDB oracle runs the byte-identical pattern.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _pii_exprs(t: Column):
    """(redacted, n_emails, n_phones, n_ips) expressions over ``t``."""
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return (
        red,
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long"),
        F.regexp_count(t, F.lit(PII_IP_RE)).cast("long"),
    )


def pii_redact_inplace(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub for training corpora: replace emails / phone numbers /
    IPv4 addresses in ``text_col`` with typed placeholders IN PLACE (all
    other columns carried through) and append one total ``n_pii`` count.
    Pure projection — no join, no shuffle — which is the form a curation
    pipeline wants: joining a (doc_id, redacted) table back to the
    corpus would shuffle the full text column on doc_id for no reason.

    Counts are taken on the ORIGINAL text per pattern independently;
    redaction applies email -> ip -> phone so earlier placeholders (no
    digits) cannot create later matches."""
    t = F.col(text_col)
    red, n_email, n_phone, n_ip = _pii_exprs(t)
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others,
        red.alias(text_col),
        (n_email + n_phone + n_ip).cast("long").alias("n_pii"),
    )


# --- vocab-aware token counting ---------------------------------------------


def load_vocab(spark, path: str) -> list[str]:
    """Load a tokenizer vocabulary (one piece per line, e.g. a
    SentencePiece/BPE vocab export) for :func:`vocab_token_count`.
    Vocabularies are ~10^4-10^5 entries — driver-held and shipped to
    workers inside the UDF closure (the broadcast-dimension pattern)."""
    return sorted(
        {r.value for r in spark.read.text(path).collect() if r.value}
    )


def vocab_token_count(
    df: DataFrame, vocab: list[str], text_col: str = "text"
) -> DataFrame:
    """TRUE vocab-aware token count: greedy longest-match segmentation
    of each whitespace word against a real vocabulary — the number a
    token-budget pipeline actually bills, where ``token_count``'s
    chars/4 is only an estimate. At each position the
    longest vocab piece matching a prefix of the remaining word is
    consumed; if none matches, one character is consumed as an UNK
    piece (equivalent to byte-fallback vocabularies). Empty words
    contribute nothing.

    Greedy longest-match is an inherently sequential per-word loop —
    not expressible in closed-form column ops — so this is the
    documented Arrow-batched Pandas-UDF slow path (the one place the
    task brief allows Python: built-ins genuinely can't express it).
    The vocab rides the UDF closure as a frozenset + per-length probe
    order (O(len * max_piece_len) membership tests per word); the stage
    is embarrassingly parallel, no shuffle. The DuckDB oracle replays
    the identical greedy recurrence as a recursive CTE over the same
    vocab table."""
    from pyspark.sql.functions import pandas_udf

    pieces = frozenset(p for p in vocab if p)
    max_len = max((len(p) for p in pieces), default=1)

    @pandas_udf("long")
    def count_pieces(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"\s+")

        def one(text):
            if text is None:
                return None
            total = 0
            for word in ws.split(text.strip().lower()):
                pos, n = 0, len(word)
                while pos < n:
                    step = 1
                    for ln in range(min(max_len, n - pos), 0, -1):
                        if word[pos:pos + ln] in pieces:
                            step = ln
                            break
                    pos += step
                    total += 1
            return total

        return texts.map(one)

    return df.select(
        "doc_id", count_pieces(F.col(text_col)).alias("n_vocab_tokens")
    )


# --- code-corpus quality filters ---------------------------------------------

AUTOGEN_MARKERS = ["auto-generated", "do not edit", "generated by"]


def _code_signal_cols(
    text_col: str,
    max_line_len: int,
    max_avg_line_len: float,
    min_alnum_frac: float,
    min_alpha_word_frac: float,
) -> dict[str, Column]:
    """The shared signal/verdict expressions over STAGED ``_lines`` /
    ``_w`` array columns (callers must project them first — referenced
    more than once, CollapseProject would otherwise re-split per
    reference). Single home of the threshold semantics, used by both the
    narrow signal table and the in-place curate filter."""
    t = F.col(text_col)
    n_lines = F.size("_lines")
    maxl = F.array_max(F.transform("_lines", lambda x: F.length(x)))
    # mean line length from lengths, not the array: total chars minus
    # the (n_lines - 1) newlines, over n_lines
    avg = F.round((F.length(t) - (n_lines - F.lit(1))) / n_lines, 4)
    alnum = F.round(
        F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
        / F.greatest(F.length(t), F.lit(1)),
        4,
    )
    # tokens_col lowercases, so the letter class is [a-z]
    alpha = F.round(
        F.size(F.filter("_w", lambda x: x.rlike("[a-z]")))
        / F.greatest(F.size("_w"), F.lit(1)),
        4,
    )
    low = F.lower(t)
    autogen = F.lit(False)
    for m in AUTOGEN_MARKERS:
        autogen = autogen | low.contains(m)
    keep = (
        (maxl <= max_line_len)
        & (avg <= max_avg_line_len)
        & (alnum >= min_alnum_frac)
        & (alpha >= min_alpha_word_frac)
        & ~autogen
    )
    return {
        "n_lines": n_lines.cast("long"),
        "max_line_len": maxl.cast("long"),
        "avg_line_len": avg,
        "alnum_frac": alnum,
        "alpha_word_frac": alpha,
        "autogen": autogen,
        "keep": keep,
    }


def _stage_code_arrays(df: DataFrame, text_col: str, *keep_cols: str) -> DataFrame:
    t = F.col(text_col)
    return df.select(
        *keep_cols,
        F.split(t, "\n", -1).alias("_lines"),
        tokens_col(t).alias("_w"),
    )


def code_quality_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_line_len: int = 1000,
    max_avg_line_len: float = 100.0,
    min_alnum_frac: float = 0.25,
    min_alpha_word_frac: float = 0.5,
) -> DataFrame:
    """The Stack / StarCoder-style structural filters for a source-code
    corpus (Kocetkov et al. 2022 §3.1, Li et al. 2023 §3): maximum and
    mean line length (minified / data-blob files), alphanumeric
    character fraction (binary-ish and encoded-data payloads),
    alphabetic-word fraction (tables of numbers), and an auto-generated
    marker scan — plus the combined ``keep`` verdict under the given
    thresholds. These are the filters a repo-scale (10^12-file) corpus
    runs over the ``content`` column of the source contract table
    before any tokenization.

    Scale shape: a single narrow per-row projection — no shuffle, no
    join, no Python; every signal is a codegen string op. The line and
    token arrays are staged as projection columns. See
    :func:`with_code_filter` for the in-place curate form."""
    staged = _stage_code_arrays(df, text_col, id_col, text_col)
    sig = _code_signal_cols(
        text_col, max_line_len, max_avg_line_len,
        min_alnum_frac, min_alpha_word_frac,
    )
    return staged.select(
        id_col, *[c.alias(name) for name, c in sig.items()]
    )


def with_code_filter(
    df: DataFrame,
    text_col: str = "text",
    max_line_len: int = 1000,
    max_avg_line_len: float = 100.0,
    min_alnum_frac: float = 0.25,
    min_alpha_word_frac: float = 0.5,
) -> DataFrame:
    """ALL input columns + ``code_keep`` (the combined structural-filter
    verdict of :func:`code_quality_signals`) — the in-place, join-free
    form the curate stages use, same pattern as :func:`with_quality`.
    The input must not already carry ``_lines`` / ``_w`` / ``code_keep``
    columns."""
    staged = _stage_code_arrays(df, text_col, "*")
    keep = _code_signal_cols(
        text_col, max_line_len, max_avg_line_len,
        min_alnum_frac, min_alpha_word_frac,
    )["keep"]
    return staged.select(*df.columns, keep.alias("code_keep"))


# --- DSIR importance weights -------------------------------------------------


def dsir_importance(
    df: DataFrame,
    target_filter,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by how much more likely its hashed unigram
    features are under a TARGET distribution than under the raw-corpus
    distribution — log w(x) = sum over tokens of ln(p_target(g) /
    p_raw(g)), g = a hashed feature bucket. Documents with the highest
    weights are the ones to keep when you want "more like the target"
    (e.g. more like wikipedia, or more like ``lang='en'``) without
    training a classifier.

    ``target_filter``: a boolean Column selecting the target example
    rows from ``df`` itself (the paper's target set is external; a
    same-table filter keeps the query oracle-able without extra
    fixtures — the math is identical).

    Buckets are the first two hex chars of md5(token) (256 buckets,
    string-keyed — portable to the SQL twin with no int conversion);
    both distributions get add-1 smoothing over the full bucket space,
    so unseen buckets stay finite.

    Scale shape (100 TB): both bucket-count tables are METADATA
    (n_buckets rows) — they broadcast; the corpus explodes once and
    aggregates per doc_id with map-side combine. One real shuffle."""
    def bucketed(frame: DataFrame, *cols: str) -> DataFrame:
        # explode must be a top-level generator; hash the token after
        return frame.select(
            *cols, F.explode(tokens_col(F.col(text_col))).alias("_tok")
        ).select(*cols, F.substring(F.md5("_tok"), 1, 2).alias("g"))

    toks = bucketed(df, "doc_id")
    target_toks = bucketed(df.filter(target_filter))
    raw_counts = toks.groupBy("g").agg(F.count("*").alias("raw_n"))
    tgt_counts = target_toks.groupBy("g").agg(F.count("*").alias("tgt_n"))
    raw_total = raw_counts.agg(F.sum("raw_n").alias("raw_total"))
    tgt_total = tgt_counts.agg(F.sum("tgt_n").alias("tgt_total"))
    k = F.lit(n_buckets)
    log_ratio = F.log(
        (F.coalesce(F.col("tgt_n"), F.lit(0)) + 1)
        / (F.col("tgt_total") + k)
    ) - F.log(
        (F.coalesce(F.col("raw_n"), F.lit(0)) + 1)
        / (F.col("raw_total") + k)
    )
    return (
        toks.join(F.broadcast(raw_counts), "g", "left")
        .join(F.broadcast(tgt_counts), "g", "left")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum(log_ratio), 4).alias("log_weight"),
            F.round(F.sum(log_ratio) / F.count("*"), 6)
            .alias("per_token_log_weight"),
        )
    )


# --- CCNet-style perplexity buckets ------------------------------------------


def perplexity_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    every document with the corpus's own unigram LM
    (:func:`unigram_logprob` — higher per-token logprob = more
    predictable text) and split the corpus into head / middle / tail
    TERCILES of that score. CCNet keeps head+middle for training and
    uses the split as its data-mixing knob; :func:`mixture_rates`
    consumes exactly this kind of stratum column.

    Threshold discipline: the tercile cut points are ORDER STATISTICS —
    actual data values (the ceil(n/3)-th and ceil(2n/3)-th smallest
    rounded scores, ties broken by doc_id) — never interpolated
    quantiles. Interpolation blends two values in engine-specific fp
    order, and a document sitting exactly on a blended threshold could
    bucket differently across engines; comparing against a value the
    data actually contains cannot diverge. At 10^12 documents the two
    TakeOrdered passes become `approx_percentile` (the thresholds stop
    needing to be exact once buckets are only a mixing knob); at oracle
    scale exactness is the point.

    Buckets: score <= t1 -> 'tail', <= t2 -> 'middle', else 'head'."""
    # four actions read this plan (count, two kth collects, the
    # returned frame) — materialize once or the explode+join scoring
    # re-runs per action
    lp = unigram_logprob(df, text_col).select(
        "doc_id", "per_token_logprob"
    ).localCheckpoint()
    n = lp.count()
    k1, k2 = -(-n // 3), -(-2 * n // 3)  # ceil
    ordered = lp.orderBy("per_token_logprob", "doc_id")

    def kth(k: int) -> float:
        row = (
            ordered.limit(k)
            .agg(F.max("per_token_logprob").alias("v"))
            .collect()[0]
        )
        return row.v

    t1, t2 = kth(k1), kth(k2)
    return lp.select(
        "doc_id",
        "per_token_logprob",
        F.when(F.col("per_token_logprob") <= t1, "tail")
        .when(F.col("per_token_logprob") <= t2, "middle")
        .otherwise("head")
        .alias("bucket"),
    )


def badwords_filter(
    df: DataFrame,
    badwords: list[str],
    text_col: str = "text",
) -> DataFrame:
    """C4-style blocklist filtering (Raffel et al. 2020 §2.2: "removed
    any page that contained any word on the 'List of Dirty, Naughty …'
    list"): per document, the number of token-level blocklist hits and a
    ``keep`` verdict (zero hits). The list here is caller-supplied —
    production pipelines ship language-specific lists; tests use a small
    deterministic one.

    Scale shape: a blocklist is kilobytes, so it is folded into the plan
    as a LITERAL array — the hit count is ``array_intersect`` /
    ``array_distinct`` arithmetic inside one narrow codegen projection:
    no explode, no join, no shuffle, the same constant-folding
    discipline as the Bloom filter (`bloom_contamination`). Token-level
    matching (not substring) avoids the Scunthorpe failure mode of
    regex blocklists. For a list too large to inline (100k+ multi-word
    entries), an explode -> broadcast left_semi join is the drop-in
    alternative; the projection form wins while the list fits a literal.

    Hit counting is over DISTINCT tokens (``array_intersect`` is a set
    op) plus a total occurrence count via ``filter``: both ride the same
    staged token array, evaluated once (CollapseProject keeps the
    staging projection because ``_w`` is non-cheap and referenced
    twice)."""
    if not badwords:
        raise ValueError("empty blocklist: an empty literal array has no "
                         "element type and every document would trivially "
                         "pass — pass the real list")
    lits = F.array(*[F.lit(w) for w in sorted(set(w.lower() for w in badwords))])
    staged = df.select(
        "doc_id", tokens_col(F.col(text_col)).alias("_w")
    )
    n_hits = F.size(F.filter("_w", lambda t: F.array_contains(lits, t)))
    return staged.select(
        "doc_id",
        F.size(F.array_intersect(F.array_distinct("_w"), lits))
        .cast("long")
        .alias("n_bad_terms"),
        n_hits.cast("long").alias("n_bad_tokens"),
        (n_hits == 0).cast("int").alias("keep"),
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", lam: float = 0.8
) -> DataFrame:
    """Per-document interpolated-bigram log-likelihood under the
    corpus's own counts: sum over positions i>=2 of
    ln(lam * c(w_{i-1} w_i)/c(w_{i-1}) + (1-lam) * c(w_i)/total) — the
    conditional-LM upgrade of :func:`unigram_logprob` (a document of
    frequent words in an order the corpus never uses now scores low;
    the unigram model is blind to order). Interpolation with the
    unigram term means unseen bigrams degrade instead of zeroing, with
    no out-of-vocabulary special case: every token the corpus contains
    has a unigram count by construction.

    Scale shape: the corpus explodes once into (doc_id, prev, cur)
    position rows (shingles over the staged token array); bigram and
    unigram count tables are VOCABULARY-sized aggregates that broadcast
    back onto the position rows, so the corpus itself shuffles once —
    on doc_id for the final per-document sum. Documents shorter than 2
    tokens contribute zero positions and come back with
    ``n_bigrams = 0`` and NULL logprob (scoring an empty product as 0.0
    would rank them above every real document)."""
    staged = df.select("doc_id", tokens_col(F.col(text_col)).alias("_w"))
    pos = staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - 1),
                    lambda i: F.struct(
                        F.element_at("_w", i).alias("prev"),
                        F.element_at("_w", i + F.lit(1)).alias("cur"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        ).alias("bg"),
    ).select("doc_id", "bg.prev", "bg.cur")
    uni = (
        staged.select(F.explode("_w").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("term_n"))
    )
    total = uni.agg(F.sum("term_n").alias("total_n"))
    big = pos.groupBy("prev", "cur").agg(F.count("*").alias("bi_n"))
    p = (
        F.lit(lam) * (F.col("bi_n") / F.col("prev_n"))
        + F.lit(1.0 - lam) * (F.col("cur_n") / F.col("total_n"))
    )
    scored = (
        pos.join(F.broadcast(big), ["prev", "cur"])
        .join(
            F.broadcast(uni.select(F.col("term").alias("prev"), F.col("term_n").alias("prev_n"))),
            "prev",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("cur"), F.col("term_n").alias("cur_n"))),
            "cur",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.log(p)), 4).alias("logprob"),
            F.round(F.sum(F.log(p)) / F.count("*"), 6).alias("per_token_logprob"),
        )
    )
    return (
        staged.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "logprob",
            "per_token_logprob",
        )
    )


def _bpe_encode(word: Column) -> Column:
    """Word -> wrapped-symbol string: 'the' -> '(t)(h)(e)'. Wrapping
    every symbol in its own delimiters makes canonical BPE merge
    application expressible as ONE literal replace: replacing
    '(a)(b)' with '(ab)' is left-to-right, non-overlapping, and can
    never consume a neighboring symbol's boundary or match inside a
    longer symbol — exactly the per-word scan Sennrich's reference
    implementation performs, as a codegen string op."""
    return F.regexp_replace(word, r"(.)", r"($1)")


def _bpe_symbols(enc: Column) -> Column:
    """Wrapped-symbol string back to the symbol array."""
    return F.split(enc.substr(F.lit(2), F.length(enc) - F.lit(2)), r"\)\(")


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn BPE merges from the corpus (Sennrich et al. 2016): start
    from characters, repeatedly merge the most frequent adjacent symbol
    pair. Returns the merge table ``(rank, lhs, rhs, pair_count)`` —
    rank 1 is the first merge learned. Ties break deterministically on
    (count DESC, lhs ASC, rhs ASC); words containing parentheses are
    excluded (they would collide with the wrapped-symbol encoding — a
    production build picks non-printing delimiters).

    Completes the tokenizer story: :func:`vocab_token_count` counts
    against a GIVEN vocabulary, and this trains the vocabulary itself.

    Scale shape — the key fact about BPE training is that after ONE
    corpus aggregation it is a vocabulary-sized problem: the corpus
    explodes to tokens exactly once (groupBy word -> counts), and every
    training round operates on the word-count table (10^5-10^7 rows at
    web scale), weighted by the counts. Each round = one pair-count
    partial aggregation + a 1-row argmax collect (a bounded driver
    loop) + one literal-replace
    projection; per-round state is localCheckpoint-ed so the plan never
    grows with the merge count. No Python ever touches row data."""
    words = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .filter(~F.col("word").contains("(") & ~F.col("word").contains(")"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(_bpe_encode(F.col("word")).alias("enc"), "n")
        .localCheckpoint()
    )
    spark = df.sparkSession
    merges = []
    for rank in range(1, n_merges + 1):
        sy = words.select(_bpe_symbols(F.col("enc")).alias("sy"), "n")
        pairs = (
            sy.filter(F.size("sy") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("sy") - 1),
                        lambda i: F.struct(
                            F.element_at("sy", i).alias("lhs"),
                            F.element_at("sy", i + F.lit(1)).alias("rhs"),
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("n").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.desc("pair_count"), F.asc("lhs"), F.asc("rhs")
        ).limit(1).collect()
        if not best:
            break
        b = best[0]
        merges.append((rank, b.lhs, b.rhs, int(b.pair_count)))
        words = words.select(
            F.replace(
                F.col("enc"),
                F.lit(f"({b.lhs})({b.rhs})"),
                F.lit(f"({b.lhs}{b.rhs})"),
            ).alias("enc"),
            "n",
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count bigint"
    )


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    max_jvm_merges: int = 64,
) -> DataFrame:
    """Count TRUE BPE tokens per document under a trained merge list
    (rank order — e.g. ``bpe_train(...).collect()``): every word is
    wrapped-symbol encoded, the merges are applied in order as literal
    replaces, and the token count is simply the number of '(' symbol
    wrappers left. The billable number :func:`vocab_token_count`
    approximates (greedy longest-match ignores merge ORDER; canonical
    BPE does not).

    Scale shape — two implementations behind one semantic, dispatched
    on merge-list size (``max_jvm_merges``, default 64):

    - small lists constant-fold into ONE codegen projection — a chain
      of k literal replaces over the per-document encoded string, then
      two length() calls. No join, no shuffle, no Python. Words are
      joined with a space the merges can never cross (pairs are counted
      within words at training time, so no merge contains a space).
    - production vocabularies (k ~ 32000) exceed what an expression
      chain should hold (analyzer cost grows with k and codegen methods
      hit JVM limits) — there the same canonical per-word merge loop
      runs in an Arrow-batched pandas UDF with the merge list held once
      in the closure as a rank dict, applying the classic
      lowest-rank-pair-first algorithm per word with per-batch word
      memoization (corpora repeat words; each distinct word is merged
      once per batch). Equality of the two paths is pytest-enforced.

    Precondition (holds for any list ``bpe_train`` produces): each
    merge's components must be buildable only from EARLIER merges —
    true of trained lists by construction, since a pair can only be
    counted after its parts exist. Under it, sequential-per-merge
    application (the JVM chain) and lowest-rank-first iteration (the
    UDF, the Sennrich/HF algorithm) provably coincide; a hand-written
    list violating it (e.g. rank-0 ('ab','c') before rank-1 ('a','b'))
    can diverge between the arms."""
    if len(merges) > max_jvm_merges:
        return _bpe_token_count_udf(df, merges, text_col)
    toks = tokens_col(F.col(text_col))
    clean = F.filter(
        toks,
        lambda w: (F.length(w) > 0)
        & ~w.contains("(")
        & ~w.contains(")"),
    )
    enc = F.array_join(
        F.transform(clean, lambda w: F.regexp_replace(w, r"(.)", r"($1)")),
        " ",
    )
    for lhs, rhs in merges:
        enc = F.replace(enc, F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})"))
    n = F.length(enc) - F.length(F.replace(enc, F.lit("("), F.lit("")))
    return df.select("doc_id", n.cast("long").alias("n_tokens"))


def _bpe_token_count_udf(
    df: DataFrame, merges: list[tuple[str, str]], text_col: str
) -> DataFrame:
    """The large-vocabulary arm of :func:`bpe_token_count`: canonical
    per-word BPE with the merge-rank dict in the closure. Lowest-rank
    pair merged first (the tokenizer-standard priority application —
    equivalent to applying merges in rank order sequentially), words
    memoized per batch. Arrow-batched mapInPandas; one Python stage, no
    shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def count_word(word: str, cache: dict) -> int:
        hit = cache.get(word)
        if hit is not None:
            return hit
        sym = list(word)
        while len(sym) > 1:
            best, best_rank = None, None
            for j in range(len(sym) - 1):
                r = ranks.get((sym[j], sym[j + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = j, r
            if best is None:
                break
            l, r_ = merges[best_rank]
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r_:
                    out.append(l + r_)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        cache[word] = len(sym)
        return len(sym)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cache: dict = {}
            counts = []
            for text in pdf[text_col]:
                n = 0
                for w in (text or "").strip().lower().split():
                    if w and "(" not in w and ")" not in w:
                        n += count_word(w, cache)
                counts.append(n)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": counts}
            )

    import pyspark.sql.types as T

    return df.select("doc_id", text_col).mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_tokens", T.LongType()),
            ]
        ),
    )


#: Detection order matters: an explicit SPDX tag always wins; phrase
#: heuristics follow in a fixed order so a file quoting several license
#: names classifies deterministically.
_PERMISSIVE = ("MIT", "Apache-2.0", "BSD-3-Clause", "ISC", "Unlicense")


def license_detect(df: DataFrame, text_col: str = "text") -> DataFrame:
    """License detection for code corpora (The Stack / StarCoder
    pipelines keep only permissive-licensed files): per document, the
    detected license id and a ``permissive`` verdict. An explicit
    ``SPDX-License-Identifier:`` tag is authoritative; otherwise a
    fixed-order chain of header-phrase heuristics (MIT's "permission is
    hereby granted", Apache's name+version, GPL, BSD's redistribution
    clause). Unknown -> NULL license, permissive = 0 (the pipelines'
    conservative default: no license, no training).

    One narrow codegen projection — staged lowered text, one
    regexp_extract + a CASE chain of contains() tests; no explode, no
    join, no shuffle. The phrase list is deliberately small and
    documented: production detection (askalono, go-license-detector)
    ranks against full license TEXTS; this is the cheap high-precision
    header pass those tools also run first."""
    return with_license(df, text_col).select("doc_id", "license", "permissive")


def with_license(df: DataFrame, text_col: str = "text") -> DataFrame:
    """In-place form of :func:`license_detect`: every input column plus
    ``license`` and ``permissive`` — the join-free annotate-then-filter
    shape the curate CLI's stages use (same discipline as
    :func:`with_quality` / :func:`with_code_filter`)."""
    spdx = F.regexp_extract(
        F.col(text_col), r"SPDX-License-Identifier:\s*([A-Za-z0-9.+\-]+)", 1
    )
    staged = df.select(
        "*",
        F.lower(F.col(text_col)).alias("_t"),
        F.when(spdx != "", spdx).alias("_spdx"),
    )
    t = F.col("_t")
    lic = F.coalesce(
        F.col("_spdx"),
        F.when(t.contains("permission is hereby granted"), "MIT")
        .when(
            t.contains("apache license") & t.contains("version 2.0"),
            "Apache-2.0",
        )
        .when(t.contains("gnu general public license"), "GPL-3.0-only")
        .when(
            t.contains("redistribution and use in source and binary forms"),
            "BSD-3-Clause",
        ),
    )
    return staged.select(
        *df.columns,
        lic.alias("license"),
        F.when(lic.isin(*_PERMISSIVE), 1).otherwise(0).cast("int").alias(
            "permissive"
        ),
    )


def clone_key_expr(text_col: str = "text") -> F.Column:
    """The type-2 clone-key normalization as a reusable column
    expression (md5 over comment-stripped, identifier/literal-abstracted,
    whitespace-collapsed text) — shared by :func:`code_clone_key` and
    the code-KG pipeline's ``code:cloneKey`` annotation triple."""
    t = F.col(text_col)
    t = F.regexp_replace(t, r"(?s)/\*.*?\*/", " ")      # block comments
    t = F.regexp_replace(t, r"(?m)(//|#)[^\n]*", " ")   # line comments
    t = F.regexp_replace(t, r"[A-Za-z_][A-Za-z0-9_]*", "v")  # identifiers
    t = F.regexp_replace(t, r"[0-9]+(\.[0-9]+)?", "0")  # numeric literals
    t = F.trim(F.regexp_replace(t, r"\s+", " "))        # whitespace
    return F.md5(t)


def code_clone_key(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Type-2 code-clone detection key (Roy & Cordy's taxonomy: clones
    identical up to identifier names, literal values, comments, and
    whitespace): strip comments, abstract every identifier to ``v`` and
    every numeric literal to ``0``, collapse whitespace, and hash the
    result. Documents sharing a ``clone_key`` are type-2 exact clones —
    the renamed-copy modality whole-text exact dedup misses and MinHash
    only catches above its similarity threshold.

    Normalization is deliberately lookaround-free (RE2-compatible, so
    the DuckDB oracle replays it byte-for-byte): keywords abstract along
    with identifiers, the standard trade for a single-regex-pass
    normalizer; structure (operators, punctuation, nesting) is what
    survives, which is exactly what type-2 similarity is defined over.

    One codegen projection per document plus one count aggregation on
    the key (map-side combine) joined back broadcast-free on the key
    itself. Returns (doc_id, clone_key, clone_group_size)."""
    keyed = df.select("doc_id", clone_key_expr(text_col).alias("clone_key"))
    sizes = keyed.groupBy("clone_key").agg(
        F.count("*").cast("long").alias("clone_group_size")
    )
    return keyed.join(sizes, "clone_key").select(
        "doc_id", "clone_key", "clone_group_size"
    )


#: (kind, regex-with-one-capture) import/include/require statement shapes.
#: RE2-compatible (no lookaround) so the DuckDB oracle replays them
#: byte-for-byte; (?m) anchors ^ at line starts in both engines.
IMPORT_PATTERNS: list[tuple[str, str]] = [
    ("py_import", r"(?m)^\s*import\s+([A-Za-z_][A-Za-z0-9_.]*)"),
    ("py_from", r"(?m)^\s*from\s+([A-Za-z_][A-Za-z0-9_.]*)\s+import"),
    ("c_include", r"(?m)^\s*#include\s+[<\"]([^>\"]+)[>\"]"),
    ("js_require", r"require\(\s*['\"]([^'\"]+)['\"]\s*\)"),
    ("js_import", r"(?m)^\s*import\s+[^\n]*\s+from\s+['\"]([^'\"]+)['\"]"),
]


def code_import_triples(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """KG construction over source code: extract the IMPORT GRAPH from
    file contents as (subj = src:<repo>/<path>, pred = code:imports,
    obj_value = module, kind) triples — the dependency edges that turn a
    code corpus into a queryable knowledge graph (feed them to the BGP
    compiler, transitive_closure for reachability, pagerank for module
    centrality, connected_components for package clustering).

    One-pass extraction: ALL patterns evaluate inside a single
    projection — per pattern a ``regexp_extract_all`` over the content,
    tagged with its kind via ``transform``, flattened and exploded ONCE
    — so a 100 TB content scan happens once, not once per language (a
    filter+union per pattern would re-read the scan per branch). No
    shuffle, no Python; files with no imports simply emit nothing.
    Patterns are deliberately language-agnostic (a Python file never
    contains ``#include`` at a line start, and a cross-match tags its
    true kind), so no per-row language dispatch is needed.
    """
    c = F.col(content_col)

    def tagged(kind: str, rx: str):
        # NB: the lambda must take exactly ONE parameter — a two-arg
        # transform() lambda means (element, index), so a default-arg
        # closure trick would silently bind the kind to the index
        return F.transform(
            F.regexp_extract_all(c, F.lit(rx), 1),
            lambda m: F.struct(F.lit(kind).alias("kind"), m.alias("module")),
        )

    entries = F.flatten(
        F.array(*[tagged(kind, rx) for kind, rx in IMPORT_PATTERNS])
    )
    exploded = files.select(
        F.col(repo_col).alias("_repo"),
        F.col(path_col).alias("_path"),
        F.explode(entries).alias("_e"),
    )
    return exploded.select(
        F.concat(F.lit("src:"), F.col("_repo"), F.lit("/"), F.col("_path")).alias(
            "subj"
        ),
        F.lit("code:imports").alias("pred"),
        F.col("_e.module").alias("obj_value"),
        F.col("_e.kind").alias("kind"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 lexical retrieval (Robertson-Sparck Jones, the Lucene idf
    variant): score every document against a bag of query terms and
    return the top k — with :func:`chunk_windows` upstream, the classic
    RAG lexical-retrieval pair.

    Scale shape: the exploded corpus filters to the QUERY TERMS first —
    an ``isin`` over driver-held literals, so the (doc, term) stream
    entering the tf aggregation is query-sized, not corpus-sized. Corpus
    stats (N, avgdl) are ONE row crossJoined broadcast (the
    documented-fine scalar BNLJ); per-term document frequencies are a
    ≤|query|-row broadcast join. Scores round to 4 decimals BEFORE the
    ranking so the float sum's last ulp can never reorder engines, and
    ties break on doc_id; the final top-k is a TakeOrderedAndProject,
    never a global sort. Documents containing no query term emit no row.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    staged = df.select("doc_id", tokens_col(F.col(text_col)).alias("_toks"))
    lens = staged.select(
        "doc_id", F.size("_toks").cast("double").alias("_len"), "_toks"
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("_len").alias("_avgdl"),
    )
    hits = lens.select(
        "doc_id", "_len", F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(query_terms))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("_tf"),
        F.max("_len").alias("_len"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * F.col("_tf")
            * (k1 + 1.0)
            / (
                F.col("_tf")
                + k1 * (1.0 - b + b * F.col("_len") / F.col("_avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def bm25_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialized BM25 inverted index: ONE table holding both row
    kinds the scorer needs (the one-table-is-the-whole-state discipline
    of the code-KG state and the containment index,
    dedup_approx.build_containment_index):

    - posting rows ``(term, doc_id, tf, dl)`` — per distinct
      (document, term), term frequency and the document's token length
    - doc rows ``(term = NULL, doc_id, tf = NULL, dl)`` — one per
      document, INCLUDING zero-token documents, so corpus stats
      (N, avgdl) are recoverable from the index alone

    :func:`bm25_topk` re-streams the corpus per query set —
    tokenizing 100 TB again for every retrieval batch. Materialize this
    table once (parquet; at scale sort/bucket it by ``term`` so the
    probe's IN-list prunes row groups) and serve every later query from
    :func:`bm25_topk_indexed`. Construction is one tokenize pass + one
    map-side-combined (doc, term) count — the same cost as a single
    bm25_topk call."""
    staged = df.select(
        "doc_id", tokens_col(F.col(text_col)).alias("_toks")
    )
    lens = staged.select(
        "doc_id", F.size("_toks").cast("double").alias("dl"), "_toks"
    )
    posts = (
        lens.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("double").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .select("term", "doc_id", "tf", "dl")
    )
    docrows = lens.select(
        F.lit(None).cast("string").alias("term"),
        "doc_id",
        F.lit(None).cast("double").alias("tf"),
        "dl",
    )
    return posts.unionByName(docrows)


def bm25_index_update(
    index: DataFrame, new_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental index refresh (the wave path): re-tokenize ONLY
    ``new_docs``, drop any stale rows for re-ingested doc_ids
    (left_anti on the narrow id set), and append the fresh rows —
    old-old never recomputes, the same shape as the LSH band-index and
    containment-index refreshes."""
    fresh = bm25_index(new_docs, text_col)
    ids = new_docs.select("doc_id").distinct()
    return index.join(ids, "doc_id", "left_anti").unionByName(fresh)


def bm25_topk_indexed(
    index: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served from a materialized :func:`bm25_index` — no
    corpus scan, no tokenization: corpus stats come from the index's
    doc rows (one tiny aggregate), document frequencies and term
    frequencies from the posting rows filtered to the query terms (an
    IN-list over driver-held literals that pushes down to the index
    scan, so a term-sorted parquet index reads only the query's row
    groups). Scoring math, rounding-before-ranking, and the doc_id
    tiebreak are identical to :func:`bm25_topk` — the two are
    pytest-pinned row-identical."""
    if not query_terms:
        raise ValueError("bm25_topk_indexed needs at least one query term")
    stats = index.filter(F.col("term").isNull()).agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("dl").alias("_avgdl"),
    )
    tf = index.filter(F.col("term").isin(query_terms)).select(
        "doc_id", "term", F.col("tf").alias("_tf"), F.col("dl").alias("_len")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * F.col("_tf")
            * (k1 + 1.0)
            / (
                F.col("_tf")
                + k1 * (1.0 - b + b * F.col("_len") / F.col("_avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def distinct_token_stats(
    df: DataFrame,
    approx: bool = False,
    rsd: float = 0.05,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group vocabulary statistics: total tokens and DISTINCT terms
    per ``by`` group. ``approx=False`` computes the exact distinct count
    (Spark's two-phase distinct aggregate — partial distinct before the
    exchange); ``approx=True`` switches to ``approx_count_distinct``
    (HyperLogLog++), the 10^12-token path: HLL registers are
    FIXED-SIZE and MERGEABLE, so the partial aggregation combines
    map-side like any sum and the shuffle carries kilobytes per group
    regardless of vocabulary size — an exact distinct at that scale
    shuffles every (group, term) pair. ``rsd`` is the target relative
    standard deviation; the error gate in tests/test_training_ops.py
    MEASURES the deviation vs exact on the test corpus (the same
    measured-not-guessed basis as the ANN recall gates). The approx arm
    is deterministic for a fixed input (HLL hashing has no RNG) but is
    engine-specific, so only the exact arm carries a DuckDB oracle —
    the registered query uses exact; approx is the documented scale
    switch."""
    toks = df.select(
        F.col(by), F.explode(tokens_col(F.col(text_col))).alias("term")
    )
    distinct_agg = (
        F.approx_count_distinct("term", rsd) if approx
        else F.count_distinct("term")
    )
    return toks.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        distinct_agg.cast("long").alias("n_distinct_terms"),
    )
