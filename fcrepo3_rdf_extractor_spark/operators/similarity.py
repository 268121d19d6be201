"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  The dot product is a JVM-side ``zip_with``+``aggregate`` fold in
  DOUBLE (sequential, so bit-identical to any engine folding the same
  list left-to-right); no UDF.
- ``lsh_topk``: the scale path — sign-bit LSH restricts the scan to the
  query's bucket (probing neighbors at increasing Hamming radius widens
  recall). At 10^9+ vectors the bucketed table is what you materialize,
  bucket id as a partition column => partition pruning turns top-k into
  a handful-of-partitions scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def sign_bucket_col(emb: Column, sign_bits: int = 4) -> Column:
    """Deterministic LSH bucket: concatenated sign bits of the leading
    dimensions (a fixed axis-aligned hyperplane family)."""
    return F.concat_ws(
        "", *[(F.element_at(emb, i + 1) > 0).cast("int").cast("string")
              for i in range(sign_bits)]
    )


def _query_vector(emb: DataFrame, query_id: int) -> DataFrame:
    return F.broadcast(
        emb.filter(F.col("vec_id") == query_id).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )


def brute_force_topk(emb: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine to the query vector (itself excluded).
    Broadcast of the single query row; ordering tiebreaks on vec_id so
    results are total-ordered and reproducible. TakeOrderedAndProject —
    no full sort materialization."""
    q = _query_vector(emb, query_id)
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("q_emb")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def lsh_topk(emb: DataFrame, query_id: int, k: int = 10, sign_bits: int = 4) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign bucket.
    The bucket predicate prunes the scan before any scoring work.

    Recall bound (random-hyperplane LSH analysis, which axis-aligned
    sign bits approximate for roughly isotropic embeddings): a neighbor
    at angle theta from the query agrees with one sign bit w.p.
    ``1 - theta/pi``, so it shares the full b-bit bucket w.p.
    ``(1 - theta/pi)^b`` — e.g. ~0.54 for cosine 0.9 (theta~0.45 rad)
    at b=4, decaying fast for weaker matches. Radius-1 multi-probe
    (:func:`lsh_topk_multiprobe`) adds every single-bit-disagreement
    case: recall rises to ``p^b + b*p^(b-1)*(1-p)`` (~0.90 for the same
    example) at ``(1+b)/2^b`` of the scan."""
    # single-bucket probing IS multi-probe at radius 0 — one scoring
    # pipeline to keep byte-aligned with the oracles, not two
    return lsh_topk_multiprobe(emb, query_id, k, sign_bits, radius=0)


def lsh_topk_multiprobe(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    sign_bits: int = 4,
    radius: int = 1,
) -> DataFrame:
    """Multi-probe LSH top-k: score the query's own sign bucket PLUS
    every bucket within Hamming distance ``radius`` of it (radius 1 =
    ``sign_bits`` one-bit flips). Single-bucket probing has a hard
    recall ceiling — a true neighbor on the other side of one
    hyperplane is invisible; radius-1 probing recovers exactly those,
    multiplying the scanned fraction by ``1 + sign_bits`` (still
    ``(1+b)/2^b`` of the corpus). The probe set is a handful of bucket
    ids broadcast against the bucketed table, so at scale this is a
    partition-pruned scan of 1+b partitions, not a shuffle."""
    assert radius in (0, 1), "only radius 0/1 probing implemented"
    q = _query_vector(emb, query_id).withColumn(
        "q_bucket", sign_bucket_col(F.col("q_emb"), sign_bits)
    )
    probe_tbl = q.select(
        "q_id", "q_emb",
        F.explode(F.array(*_probe_buckets(sign_bits, radius))).alias("bucket"),
    )
    bucketed = emb.withColumn("bucket", sign_bucket_col(F.col("embedding"), sign_bits))
    scored = (
        bucketed.join(F.broadcast(probe_tbl), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("q_emb")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def _probe_buckets(sign_bits: int, radius: int) -> list[Column]:
    """The probe-bucket expressions over a ``q_bucket`` column: the
    bucket itself plus (radius >= 1) every single-bit flip. Row-wise
    column math, so the list serves a 1-row query frame
    (:func:`lsh_topk_multiprobe`)."""
    probes = [F.col("q_bucket")]
    if radius >= 1:
        for i in range(sign_bits):
            flipped = F.when(
                F.substring("q_bucket", i + 1, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1"))
            probes.append(
                F.concat(
                    F.substring("q_bucket", 1, i),
                    flipped,
                    F.substring("q_bucket", i + 2, sign_bits),
                )
            )
    return probes


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: probe the query's ``nprobe`` nearest centroids and
    brute-force only the vectors assigned to them. At scale the
    assignment table is precomputed and partitioned by centroid_id, so
    the candidate fetch is partition-pruned to nprobe partitions; here
    the assignment is computed inline for self-containedness."""
    assign = ivf_assign(emb, centroids).select("vec_id", "centroid_id")
    q = _query_vector(emb, query_id)
    probe = (
        F.broadcast(centroids)
        .crossJoin(q)
        .select(
            "centroid_id",
            cosine_col(F.col("centroid"), F.col("q_emb")).alias("_qc"),
        )
        .orderBy(F.col("_qc").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    cands = assign.join(F.broadcast(probe), "centroid_id").select("vec_id")
    scored = (
        emb.join(cands, "vec_id")
        .crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("q_emb")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (broadcast the centroid table, argmin over cosine). ``centroids`` has
    (centroid_id, centroid) columns. At scale, write the output
    partitioned by centroid_id; queries then scan nprobe partitions."""
    c = F.broadcast(centroids)
    scored = emb.crossJoin(c).select(
        "vec_id", "centroid_id",
        cosine_col(F.col("embedding"), F.col("centroid")).alias("cos"),
    )
    # argmin per vector as min(struct(-cos, centroid_id, cos)): the
    # aggregate combines MAP-SIDE before the one vec_id shuffle and
    # needs no per-partition sort — a row_number window over
    # partitionBy(vec_id) shuffles ALL k candidate rows per vector and
    # sorts each partition, measurably worse at 10^9 vectors x k
    # centroids. Tie-break matches the window formulation: highest cos,
    # then smallest centroid_id (struct comparison is field-order
    # lexicographic; min(struct(...)) keeps fields from ONE row — the
    # min-per-column frankenrow trap dedup.py documents).
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-F.col("cos")).alias("_neg_cos"),
                F.col("centroid_id").alias("centroid_id"),
                F.col("cos").alias("cos"),
            )
        ).alias("_w")
    )
    return best.select(
        "vec_id",
        F.col("_w.centroid_id").alias("centroid_id"),
        F.round("_w.cos", 6).alias("cosine"),
    )


def _lloyd_cents(
    emb: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    metric: str,
) -> list[list[float]]:
    """Fixed-iteration Lloyd's core shared by :func:`kmeans_train` and
    :func:`pq_train_codebooks`; returns the trained centroids as a
    driver-held list (k*dim doubles — metadata-sized). ``metric`` is
    ``"cosine"`` (argmax cosine, the IVF trainer) or ``"l2"`` (argmin
    squared L2, the PQ subspace trainer — Jegou et al. 2011 trains
    codebooks on L2 in each subspace, NOT cosine). Both break ties
    toward the lowest centroid id."""
    import math

    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"need {k} seed vectors, found {len(rows)}")
    cents: list[list[float]] = [[float(x) for x in r[1]] for r in rows]
    dim = len(cents[0])
    vec = F.col(vec_col)

    for _ in range(n_iter):
        if metric == "cosine":
            norms = []
            for c in cents:
                s = 0.0
                for v in c:  # left-assoc, mirrors the SQL twin's + chain
                    s = s + v * v
                norms.append(math.sqrt(s))
            best = F.least(
                *[
                    F.struct(
                        (
                            -(
                                dot_col(vec, F.array(*[F.lit(v) for v in c]))
                                / (norm_col(vec) * F.lit(norms[j]))
                            )
                        ).alias("negcos"),
                        F.lit(j).alias("cid"),
                    )
                    for j, c in enumerate(cents)
                ]
            )
        elif metric == "l2":
            best = F.least(
                *[
                    F.struct(
                        _pq_sqdist(vec, c).alias("d"),
                        F.lit(j).alias("cid"),
                    )
                    for j, c in enumerate(cents)
                ]
            )
        else:
            raise ValueError(f"unknown metric {metric!r}")
        means = (
            emb.select(best["cid"].alias("_cid"), vec.alias("_v"))
            .groupBy("_cid")
            .agg(
                *[
                    F.avg(F.element_at(F.col("_v"), i + 1).cast("double")).alias(f"d{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        got = {r["_cid"]: [r[f"d{i}"] for i in range(dim)] for r in means}
        cents = [got.get(j, cents[j]) for j in range(len(cents))]
    return cents


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Distributed Lloyd's k-means — the centroid TRAINER the IVF index
    (``ivf_assign``/``ivf_topk``) takes as input (``metric="cosine"``),
    and, through :func:`pq_train_codebooks`, the per-subspace PQ
    codebook trainer (``metric="l2"``).

    Deterministic by construction, so the whole training run is
    cross-engine checkable: init = the ``k`` lowest-id vectors, assignment
    ties break toward the lowest centroid id, and the iteration count
    is FIXED (at 100 TB you budget rounds, you don't convergence-poll).

    Scale shape, per iteration — two jobs, one exchange:
    - centroids live on the DRIVER as k*dim doubles and enter the plan
      as fold-able literals (the Spark MLlib KMeans pattern): the
      assignment is a pure codegen projection — per-centroid cosine
      against a literal array, argmin via ``least(struct(-cos, cid))``
      — NO join, NO broadcast table, NO window sort.
    - new centroids come from ONE ``groupBy(cid)`` with ``dim``
      per-dimension ``avg`` columns: map-side partial aggregation,
      k*dim doubles per partition, no posexplode row blowup. The
      collect is k rows (metadata-sized).
    Empty clusters keep their previous centroid (same rule in the SQL
    twin via LEFT JOIN + coalesce). Returns (centroid_id, centroid) —
    exactly the table ``ivf_topk`` probes.

    Reference scope note: the reference engine has no ANN/clustering
    surface; this is part of the mandated training-data extension
    (SURVEY.md §2.2), designed Spark-first.
    """
    cents = _lloyd_cents(emb, k, n_iter, id_col, vec_col, metric)
    return emb.sparkSession.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        schema="centroid_id int, centroid array<double>",
    )


# --- product quantization -------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Seed PQ codebooks: subspace ``s``'s codewords are the s-th
    subvectors of the ``ksub`` lowest-id vectors — the FIXED-codebook
    variant that pins the encode/search machinery in closed form (its
    oracle needs no training unroll). Production codebooks come from
    :func:`pq_train_codebooks` (per-subspace L2 k-means), whose quality
    is measured by :func:`pq_recall`; encode/search are identical for
    either. The collect is metadata-sized: ksub rows. Returns
    ``books[s][c]`` = list of ``dim/m`` floats."""
    rows = (
        emb.filter(F.col(id_col) < ksub)
        .orderBy(id_col)
        .select(id_col, vec_col)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"need {ksub} seed vectors, found {len(rows)}")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [[float(x) for x in r[vec_col][s * d:(s + 1) * d]] for r in rows]
        for s in range(m)
    ]


def _pq_subspace_cols(emb: DataFrame, m: int, d: int, vec_col: str) -> DataFrame:
    """Stage the m subvector slices as projection columns — each slice
    is referenced once per codeword below, and Catalyst re-inlines
    non-attribute subexpressions per reference (the tokenizer lesson)."""
    return emb.select(
        "*",
        *[F.slice(vec_col, s * d + 1, d).alias(f"_sub{s}") for s in range(m)],
    )


def _pq_sqdist(sub_col, codeword: list[float]):
    """Squared L2 distance between a staged subvector column and a
    literal codeword, as a SEQUENTIAL left-to-right fold in double —
    bit-identical to the unrolled ``(t1 + t2) + t3 ...`` chain the
    DuckDB oracle states (fp addition is not associative; a different
    fold order could flip an argmin tie)."""
    w = F.array(*[F.lit(float(x)) for x in codeword])
    terms = F.zip_with(
        sub_col, w,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: each vector becomes m small codes
    (vec_id, c0..c{m-1}), code s = argmin over subspace s's codewords of
    squared L2 distance (ties toward the lower codeword id). 64-dim
    float vectors (256 B) compress to m bytes — the representation that
    makes billion-scale ANN fit in memory (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Scale shape: codebooks are DRIVER-HELD literals folded into a pure
    JVM projection (the kmeans_train pattern) — no join, no broadcast
    table, no shuffle, no Python. The scan + subspace-slice stage is
    whole-stage-codegen'd; the m * ksub distance folds use higher-order
    functions (aggregate/zip_with), which are CodegenFallback in Spark
    4.1 — interpreted expression eval, still JVM-side row-at-a-time
    over the codegen'd scan (plan-pinned in tests/test_plans.py)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    staged = _pq_subspace_cols(emb, m, d, vec_col)
    codes = []
    for s, book in enumerate(codebooks):
        cands = [
            F.struct(
                _pq_sqdist(F.col(f"_sub{s}"), w).alias("d"),
                F.lit(c).alias("c"),
            )
            for c, w in enumerate(book)
        ]
        codes.append(F.least(*cands).getField("c").cast("int").alias(f"c{s}"))
    return staged.select(id_col, *codes)


def pq_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): the query's distance table
    dt[s][c] = ||q_s - codeword||^2 is computed once (driver-side, m*ksub
    doubles, same fold order as the encode path), then every vector's
    approximate distance is m literal-array lookups + (m-1) adds over
    its CODES — the full-precision corpus vectors are never touched at
    search time. One codegen scan + TakeOrderedAndProject; no join.

    The driver-side query fetch is a 1-row collect (metadata-sized);
    at scale the encoded table is what's materialized and scanned."""
    encoded = pq_encode(emb, codebooks, id_col, vec_col)
    adist = _adc_distance_col(
        _adc_table(emb, codebooks, query_id, id_col, vec_col)
    )
    return (
        encoded.filter(F.col(id_col) != query_id)
        .select(id_col, F.round(adist, 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _adc_rows(qv: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """ADC distance table dt[s][c] = ||q_s - codeword||^2 for one query
    vector, computed driver-side (m*ksub doubles) in python float64 with
    the SAME op and fold order as :func:`_pq_sqdist` and the SQL chain:
    acc = ((0.0 + t1) + t2) + ... where t = (q_i - w_i) * (q_i - w_i)
    in double. The single home of that fold-order contract — both the
    per-query search path (:func:`_adc_table`) and the recall panel
    (:func:`pq_recall`) build their tables here, so a fold change can't
    silently diverge one of them from the oracle."""
    d = len(codebooks[0][0])
    dt = []
    for s, book in enumerate(codebooks):
        row = []
        for w in book:
            acc = 0.0
            for i in range(d):
                t = (qv[s * d + i] - w[i]) * (qv[s * d + i] - w[i])
                acc = acc + t
            row.append(acc)
        dt.append(row)
    return dt


def _adc_table(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """One query's ADC distance table (see :func:`_adc_rows`). The query
    fetch is a 1-row collect (metadata-sized)."""
    q = emb.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not q:
        raise ValueError(f"query vector {query_id} not found")
    return _adc_rows([float(x) for x in q[0][0]], codebooks)


def _adc_distance_col(dt: list[list[float]]) -> Column:
    """Approximate distance over code columns c0..c{m-1}: m literal-array
    lookups + (m-1) adds — a pure JVM projection."""
    adist = None
    for s, row in enumerate(dt):
        dts = F.array(*[F.lit(v) for v in row])
        term = F.element_at(dts, F.col(f"c{s}") + 1)
        adist = term if adist is None else adist + term
    return adist


def ivfpq_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (IVFADC, Jegou et al. 2011 §IV): the production
    billion-scale ANN architecture — coarse quantization prunes the
    corpus to the query's ``nprobe`` nearest centroids' vectors, then
    the PQ asymmetric distance ranks ONLY those candidates from their
    m-byte codes. Composes :func:`ivf_assign` (partition pruning) with
    :func:`pq_topk`'s ADC machinery (shared, not duplicated).

    Scale shape: the centroid table is METADATA (kc * dim doubles), so —
    like the PQ codebooks — it is driver-held and folded into literal
    expressions: assignment is a pure argmin PROJECTION (no broadcast
    table, no join, no groupBy — the first cut of this operator built
    candidates via ivf_assign + semi-join, which planned a corpus-wide
    SortMergeJoin LeftSemi), the probe pick is an nprobe-row driver
    action on the same broadcast ranking the plain IVF path uses, and
    candidate restriction is a literal ``isin`` FILTER on the assigned
    centroid. The whole search is therefore one scan -> project ->
    filter -> TakeOrderedAndProject with ZERO joins (plan-pinned); on
    the materialized layout — the encoded (vec_id, c0..c{m-1}) table
    written partitioned by centroid_id — that filter IS partition
    pruning, and no full-precision vector is touched at search time."""
    q = _query_vector(emb, query_id)
    probe_rows = (
        F.broadcast(centroids)
        .crossJoin(q)
        .select(
            "centroid_id",
            cosine_col(F.col("centroid"), F.col("q_emb")).alias("_qc"),
        )
        .orderBy(F.col("_qc").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
        .collect()
    )
    probe_ids = [r["centroid_id"] for r in probe_rows]
    cents = [
        (r["centroid_id"], [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    ]
    # literal argmin: same tie order as ivf_assign's min(struct(-cos,
    # centroid_id)) — highest cosine, then smallest centroid id
    cands = [
        F.struct(
            (-cosine_col(
                F.col(vec_col), F.array(*[F.lit(x) for x in c])
            )).alias("n"),
            F.lit(cid).alias("cid"),
        )
        for cid, c in cents
    ]
    assigned_cid = F.least(*cands).getField("cid")
    pruned = emb.filter(assigned_cid.isin(probe_ids))
    encoded = pq_encode(pruned, codebooks, id_col, vec_col)
    adist = _adc_distance_col(
        _adc_table(emb, codebooks, query_id, id_col, vec_col)
    )
    return (
        encoded.filter(F.col(id_col) != query_id)
        .select(id_col, F.round(adist, 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """TRAINED PQ codebooks: per-subspace Lloyd's k-means on squared L2
    (Jegou et al. 2011 §III — each subquantizer minimizes in-subspace
    L2 distortion; cosine is the wrong objective inside a subspace).
    Init/tie/fixed-iteration rules are :func:`kmeans_train`'s, so the
    whole training run stays deterministic and cross-engine checkable.

    Scale shape: m * n_iter narrow jobs, each ONE codegen argmin
    projection over a staged subvector slice + ONE partial-agg groupBy
    (d avg columns); every collect is ksub rows. Production practice
    (the FAISS pattern) trains on a bounded sample of the corpus —
    pass ``emb.filter(col(id_col) < sample_n)`` — then encodes the full
    corpus with the resulting driver-held literal books."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("empty embedding table")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    staged = _pq_subspace_cols(emb, m, d, vec_col)
    return [
        _lloyd_cents(
            staged.select(id_col, F.col(f"_sub{s}").alias("_sub")),
            ksub, n_iter, id_col, "_sub", "l2",
        )
        for s in range(m)
    ]


def pq_recall(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """Recall@k of trained-codebook PQ asymmetric-distance search
    against exact (full-precision) squared-L2 brute force, per query,
    over a panel of query vectors (``vec_id < n_queries``) — the PQ arm
    of the ANN quality gate (:func:`ivf_recall` is the IVF arm). You
    don't pick m/ksub/n_iter by feel; you measure what fraction of the
    true top-k the codes keep.

    Scale shape: an EVALUATION harness (sampled corpus + panel) — the
    exact arm is the expensive one by design. The panel's per-query
    distance tables are driver-computed literals (n_queries * m * ksub
    doubles) broadcast as one tiny table; the approx arm touches only
    the encoded codes. Both arms rank on the raw (unrounded) distance
    with a vec_id tie-break — one deterministic total order."""
    from pyspark.sql import Window

    books = pq_train_codebooks(emb, m=m, ksub=ksub, n_iter=n_iter)
    spark = emb.sparkSession

    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    panel_rows = []
    for r in q_rows:
        dt = _adc_rows([float(x) for x in r[1]], books)
        panel_rows.append((int(r[0]), [v for row in dt for v in row]))
    dt_panel = F.broadcast(
        spark.createDataFrame(panel_rows, "query_id long, dt array<double>")
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )

    def topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "vec_id")
        )

    encoded = pq_encode(emb, books)
    adist = None
    for s in range(m):
        term = F.element_at(F.col("dt"), F.col(f"c{s}") + F.lit(s * ksub + 1))
        adist = term if adist is None else adist + term
    approx = topk(
        encoded.crossJoin(dt_panel)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adist.alias("dist"))
    )

    panel_raw = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    panel_vecs = F.broadcast(panel_raw)
    sq = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("q_emb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    exact = topk(
        emb.crossJoin(panel_vecs)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sq.alias("dist"))
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    # right-side hint: a left-side broadcast hint on a
    # left-outer join is dropped with a planner warning
    return (
        panel_raw.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def ivf_recall(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    kc: int = 4,
    n_iter: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of IVF search (trained coarse centroids, ``nprobe``
    probed lists) against exact cosine brute force, per panel query —
    the IVF arm of the ANN quality gate. The measured basis for
    choosing kc/nprobe: recall rises with nprobe at linear candidate
    cost, and this is the curve you read it off.

    Scale shape: evaluation harness like :func:`pq_recall`; the
    centroid table and per-query probe lists are broadcast
    (metadata-sized), the candidate fetch is the assignment join that
    partition-prunes at scale, and both arms rank by the same
    deterministic (cosine desc, vec_id) order."""
    from pyspark.sql import Window

    centroids = kmeans_train(emb, k=kc, n_iter=n_iter, metric="cosine")
    assign = ivf_assign(emb, centroids).select("vec_id", "centroid_id")
    panel_raw = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    panel = F.broadcast(panel_raw)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_qc").desc(), F.col("centroid_id").asc()
    )
    probe = (
        centroids.crossJoin(panel)
        .select(
            "query_id", "centroid_id",
            cosine_col(F.col("centroid"), F.col("q_emb")).alias("_qc"),
        )
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )

    def topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "vec_id")
        )

    approx = topk(
        assign.join(F.broadcast(probe), "centroid_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(panel, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            cosine_col(F.col("embedding"), F.col("q_emb")).alias("cosine"),
        )
    )
    exact = topk(
        emb.crossJoin(panel)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            cosine_col(F.col("embedding"), F.col("q_emb")).alias("cosine"),
        )
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    # right-side hint: a left-side broadcast hint on a
    # left-outer join is dropped with a planner warning
    return (
        panel_raw.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): merge
    several retrieval rankings into one by summing ``1 / (k_rrf + rank)``
    per item — the standard hybrid-retrieval combiner (BM25 lexical arm
    + dense ANN arm), robust because it uses only RANKS, never the
    incomparable raw scores.

    Every input must already be a TOP-K LIST — (id_col, score_col),
    bounded, metadata-sized — which is what the retrieval operators
    (:func:`..text.bm25_topk`, :func:`brute_force_topk`, the LSH/IVF/PQ
    arms) return. The per-arm rank is a row_number over an unpartitioned
    window: on a k-sized list that is one task over k rows by
    construction, NOT a corpus-wide serial sort — do not feed unbounded
    rankings. Ranks order by (score desc, id) — scores from those
    operators are pre-rounded, so rank is engine-stable; fused scores
    round to 6 before the final top-k (one bounded aggregation).
    """
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = []
    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    for r in rankings:
        ranked = r.select(
            F.col(id_col), F.row_number().over(w).alias("_rank")
        )
        contribs.append(
            ranked.select(
                id_col, (1.0 / (k_rrf + F.col("_rank"))).alias("_c")
            )
        )
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return (
        allc.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )
