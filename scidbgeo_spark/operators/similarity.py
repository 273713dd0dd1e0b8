"""Similarity search over the embeddings table (graft surface).

- brute-force cosine top-k (the exactness baseline): JVM-side
  ``zip_with`` + sequential ``aggregate`` dot products (bitwise equal to
  the DuckDB oracle's per-index sum), window top-k per query;
- LSH-bucketed ANN (the scale path): deterministic random-hyperplane
  signs -> bucket equi-join -> exact rerank of candidates only;
- embedding near-dup pairs: LSH candidates verified at a cosine
  threshold.

At 10^12 rows the brute-force path is a broadcast of the (small) query
side across a single scan — no shuffle of the corpus; the LSH path
shuffles only (bucket, id) pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

DIM = 64
N_PLANES = 5  # hyperplanes per table (bucket = 5-bit sign pattern)
N_TABLES = 8  # independent tables; candidate = shares any table's bucket


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (index ascending) — matches
    DuckDB's streaming SUM over a generate_series join bitwise."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine_of(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """dot / (|a|*|b|), NULL when either vector has zero norm (cosine
    undefined): DuckDB's x/0 yields NULL while Spark's ANSI mode throws
    DIVIDE_BY_ZERO — the guard pins the NULL semantics both agree on, so
    one failed-encoder zero vector cannot kill a whole ANN query.  NULL
    similarities rank last under the DESC ordering in both engines."""
    den = norm_a * norm_b
    return F.when(den > 0, dot / den)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (NULL on a zero norm)."""
    return _cosine_of(_dot(a, b), _norm(a), _norm(b))


def ann_bruteforce_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    (self included at rank 1).  Output (q_id, vec_id, rank).

    The corpus side fans out to session parallelism when the scan
    under-partitions (single-file parquet serialized the whole
    n_vectors x n_queries cosine sweep onto one core — guide §2.5).

    Norms are projected ONCE PER ROW below the join instead of being
    re-folded inside cosine() per (vector, query) pair: the naive form
    runs three zip_with+aggregate array folds per pair (dot, |a|, |b|),
    so each corpus vector's norm was recomputed n_queries times and the
    transient product arrays dominated memory traffic (guide §1.2
    per-task work).  sqrt of the same index-ascending fold is the same
    double and the den = |q|*|v| operand order is preserved, so
    similarities stay bitwise identical to cosine() (and the oracle)."""
    from scidbgeo_spark.plans.fanout import fan_out

    emb = fan_out(emb, "vec_id").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nv")
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("nv").alias("nq"),
    )
    sim = _cosine_of(_dot(F.col("qe"), F.col("embedding")), F.col("nq"), F.col("nv"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def _plane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (no RNG: integer-hash
    arithmetic), identical across runs/parallelism."""
    return [(((j * 1009 + d * 2027 + 13) * 2654435761) % 2001) / 1000.0 - 1.0 for d in range(DIM)]


def lsh_buckets(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, table, bucket): for each of N_TABLES independent tables,
    the sign pattern of its N_PLANES hyperplane projections.  Multi-table
    LSH: two vectors are candidates if any table agrees — the standard
    recall/candidate-count dial."""
    tables = []
    for t in range(N_TABLES):
        bucket = F.lit(0).cast("long")
        for j in range(N_PLANES):
            plane = F.array(*[F.lit(v) for v in _plane(t * N_PLANES + j)])
            proj = _dot(F.col(vec_col), plane)
            bucket = bucket + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
        tables.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    return emb.select("vec_id", F.explode(F.array(*tables)).alias("tb")).select(
        "vec_id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def ann_lsh_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates share any LSH table bucket with the
    query; exact cosine rerank on candidates only.  Recall measured in
    tests against ann_bruteforce_topk."""
    b = lsh_buckets(emb)
    qb = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "table", "bucket"
    )
    cand_ids = (
        b.join(F.broadcast(qb), ["table", "bucket"])
        .select("q_id", "vec_id")
        .distinct()
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cand = cand_ids.join(emb, "vec_id").join(F.broadcast(q), "q_id")
    sim = cosine(F.col("qe"), F.col("embedding"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        cand.select("q_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


IVF_CENTROID_MOD = 50  # deterministic 'training sample': every 50th vector
IVF_NPROBE = 3


def ivf_assign(emb: DataFrame, centroids: DataFrame, rank_limit: int = 1) -> DataFrame:
    """(vec_id, centroid_id[, crank]): nearest-centroid assignment by
    cosine (broadcast centroid table — the IVF coarse quantizer)."""
    c = centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    sim = cosine(F.col("ce"), F.col("embedding"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.col("centroid_id"))
    return (
        emb.crossJoin(F.broadcast(c))
        .select("vec_id", "embedding", "centroid_id", sim.alias("csim"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= rank_limit)
    )


def ann_ivf_topk(emb: DataFrame, n_queries: int = 8, k: int = 5, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-style ANN: vectors are bucketed by nearest centroid (inverted
    lists); a query probes its nprobe closest centroids and reranks only
    those lists exactly.  Centroids are a deterministic data sample (every
    IVF_CENTROID_MOD-th vector) — no RNG, so assignments are stable across
    runs/parallelism.  At scale the lists are the shuffle partitioning:
    the probe join moves only (centroid, query) pairs."""
    centroids = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0)
    lists = ivf_assign(emb, centroids, rank_limit=1).select(
        "vec_id", "embedding", "centroid_id"
    )
    queries = emb.filter(F.col("vec_id") < n_queries)
    probes = ivf_assign(queries, centroids, rank_limit=nprobe).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), "centroid_id"
    )
    cand = lists.join(F.broadcast(probes), "centroid_id")
    sim = cosine(F.col("qe"), F.col("embedding"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        cand.select("q_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def embedding_corpus_with_dups(emb: DataFrame) -> DataFrame:
    """embeddings + exact copies for vec_id % 5 == 0 (id + 10000) — the
    deterministic near-dup fixture (oracle mirrors it).  Fails fast if the
    id offset would collide with a real vec_id (one pushdown probe)."""
    if not emb.filter(F.col("vec_id") >= 10000).isEmpty():
        raise ValueError(
            "embedding_corpus_with_dups id-offset collision: vec_id >= 10000 "
            "exists; raise the injection offset"
        )
    dups = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return emb.select("vec_id", "embedding").unionAll(dups)


EMB_BUCKET_CAP = 200  # LSH buckets larger than this are skipped per table


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.99, bucket_cap: int = EMB_BUCKET_CAP
) -> DataFrame:
    """Near-duplicate vector pairs at a cosine threshold: LSH-bucket
    candidate join (identical vectors always share a bucket), exact
    verify.  Output (a, b) with a < b.

    Hot-bucket cap (same shape as dedup.minhash_dup_pairs): a clump of m
    near-identical embeddings (boilerplate pages, zero vectors) lands in
    one bucket per table and would emit m^2 candidate rows; buckets larger
    than ``bucket_cap`` are dropped PER TABLE.  The cap is part of the
    operator's semantics — the DuckDB oracle applies the identical
    QUALIFY — and because the N_TABLES tables partition the corpus
    independently, a genuine near-dup pair survives unless it is capped in
    every table (verified against brute force on the fixtures, where the
    capped output is identical)."""
    corpus = embedding_corpus_with_dups(emb)
    bk = lsh_buckets(corpus)
    bw = Window.partitionBy("table", "bucket")
    capped = bk.withColumn("bsz", F.count("*").over(bw)).filter(
        F.col("bsz") <= bucket_cap
    )
    cand = (
        capped.alias("l")
        .join(
            capped.alias("r"),
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
        .distinct()
    )
    ea = corpus.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = corpus.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine(F.col("ea"), F.col("eb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("a", "b")
    )


# ---- k-means (fixed-iteration Lloyd, deterministic) ---------------------
# The iterative-algorithm pattern at 100 TB: each Lloyd round is one
# broadcast (centroids, K rows) + one dimension-parallel integer-sum
# shuffle ((cluster, dim) keys — 64K cells regardless of corpus size).
# Embeddings are scaled to integers (floor(x * 1e6)) so the per-cluster
# sums are EXACT and order-free: the assignment after any number of
# rounds is bit-stable across partitionings/cluster sizes, which is what
# makes the result testable against a sequential oracle at all.
KMEANS_K = 8
KMEANS_SCALE = 1_000_000


def _scaled(emb: DataFrame) -> DataFrame:
    sv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * KMEANS_SCALE)
    )
    return emb.select("vec_id", sv.alias("sv"))


def _assign_int(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest integer-centroid by exact squared distance (bigint sums;
    max |diff|^2 * dim ~ 1e15 << 2^63).  Ties break on centroid id."""
    dist = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "sv", F.col("cid"), dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sv", F.col("cid").alias("cluster"))
    )


def _assign_frac(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest rational-centroid (sum/count as double): the per-dim mean
    is ONE division from exact integer sums, and the distance is the
    sequential index-ascending double fold — bitwise equal to the
    oracle's list_reduce, independent of partitioning."""
    dist = F.aggregate(
        F.zip_with(
            "sv", "cv", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", F.col("cid"), dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster"))
    )


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """(cid, cv: array<double>) — per-cluster per-dimension means from
    EXACT bigint sums: posexplode -> (cluster, dim) integer-sum shuffle
    (map-side combine; 64K cells max) -> one division per dim."""
    sums = (
        assigned.select("cluster", F.posexplode("sv").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    return (
        sums.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                lambda t: t["s"].cast("double") / t["n"].cast("double"),
            ).alias("cv")
        )
        .select(F.col("cluster").alias("cid"), "cv")
    )


def kmeans_assign(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Two deterministic Lloyd rounds over the embeddings table:
    init centroids = the first k vectors (a data pick, no RNG), round 1
    assigns by exact integer distance, round 2 reassigns against the
    updated rational centroids.  Output (vec_id, cluster).

    Unlike MLlib's KMeans (RNG init + double accumulation ordered by
    partition), every arithmetic step here is either exact integers or
    a fixed-order fold, so the same input gives the same assignment at
    any parallelism — and the DuckDB oracle reproduces it bitwise."""
    e = _scaled(emb)
    c0 = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    a1 = _assign_int(e, c0)
    c1 = _mean_centroids(a1)
    return _assign_frac(e, c1)


# ---- scalar-quantized (int8) ANN ----------------------------------------
# The memory-scale move for 10^12-vector search: 64 float32 dims become
# 64 bytes (4x smaller scan, integer SIMD distances).  Quantization is
# per-dimension min/max scalar (the FAISS SQ8 scheme): q_i =
# clamp(floor((x_i - min_i) * 255 / (max_i - min_i)), 0, 255).  The
# dim-stats pass is one 64-cell aggregate; everything downstream is
# exact integer distance algebra, so the DuckDB twin matches bitwise
# and ranking ties are broken deterministically by vec_id.
SQ8_LEVELS = 255


def _sq8_stats(emb: DataFrame) -> DataFrame:
    """One-row (mins, maxs) double arrays over the corpus — the
    codebook.  64 cells regardless of corpus size; broadcast to the
    quantizers."""
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min("x").cast("double").alias("mn"),
            F.max("x").cast("double").alias("mx"),
        )
    )
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda t: t["mn"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda t: t["mx"]
        ).alias("maxs"),
    )


def _sq8_quantize(emb: DataFrame, stats: DataFrame) -> DataFrame:
    """(vec_id, q: array<long> of 0..255) — constant dims (range 0)
    quantize to 0 rather than dividing by zero (ANSI-safe, oracle
    NULL-free)."""
    def _q(i: Column) -> Column:
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at("mins", i)
        rng = F.element_at("maxs", i) - mn
        raw = F.floor((x - mn) * SQ8_LEVELS / rng)
        return F.when(
            rng > 0, F.least(F.greatest(raw, F.lit(0)), F.lit(SQ8_LEVELS))
        ).otherwise(0)

    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.lit(DIM)), _q).alias("q"),
    )


def ann_sq8_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Top-k neighbors by exact integer L2 over SQ8 codes (q_id, vec_id,
    rank) — the quantized analog of ann_bruteforce_topk: one corpus scan
    against a broadcast query side, distances <= 64 * 255^2 stay tiny
    longs."""
    stats = _sq8_stats(emb)
    qz = _sq8_quantize(emb, stats)
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qq")
    )
    dist = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        qz.crossJoin(F.broadcast(queries))
        .select("q_id", "vec_id", dist.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


# ---- product quantization (PQ / ADC) ------------------------------------
PQ_M = 2  # subspaces (DIM/PQ_M dims each)
PQ_K = 8  # codewords per subspace codebook


def _subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, q): every vector's PQ_M scaled subvectors from ONE
    corpus scan — posexplode over the in-row slice array, so the
    subspace split never multiplies scans (a per-subspace unionAll
    would read the 100 TB corpus PQ_M times)."""
    sub = DIM // PQ_M
    return _scaled(emb).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("sv", m * sub + 1, sub) for m in range(PQ_M)])
        ).alias("m", "q"),
    )


def _pq_codebooks(emb: DataFrame) -> DataFrame:
    """(m, cid, cv): per-subspace codebooks from the first PQ_K vectors'
    scaled subvectors — the deterministic data-pick init (codebook
    TRAINING is kmeans_assign's demonstrated job; PQ here exercises the
    encode + ADC machinery, which is what runs at corpus scale)."""
    return _subvectors(emb).filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("q").alias("cv")
    )


def pq_encode(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest codeword per subspace by exact integer
    L2 (ties -> smaller cid).  One corpus scan x a broadcast of
    PQ_M * PQ_K tiny codewords; 100 TB shape: 8 bytes of code replace
    512 bytes of vector in everything downstream."""
    allsub = _subvectors(emb)
    dist = F.aggregate(
        F.zip_with("q", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "cid")
    return (
        allsub.join(F.broadcast(_pq_codebooks(emb)), "m")
        .select("vec_id", "m", "cid", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cid").alias("code"))
    )


def ann_pq_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Top-k by PQ asymmetric distance (ADC): dist(q, v) = sum over
    subspaces of L2(q_sub, codeword[v.code]) — (q_id, vec_id, rank).

    Scale shape: the ADC lookup table (n_queries x PQ_M x PQ_K exact
    integer distances) is tiny and broadcasts; the corpus side joins by
    its CODE — the raw vectors never re-enter the query, so the scan
    payload is PQ_M ints per vector.  All-integer arithmetic -> the
    DuckDB twin is bitwise."""
    codes = pq_encode(emb)
    qs = _subvectors(emb).filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "m", "q"
    )
    adist = F.aggregate(
        F.zip_with("q", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    lut = qs.join(F.broadcast(_pq_codebooks(emb)), "m").select(
        "q_id", "m", "cid", adist.alias("d")
    )
    joined = codes.alias("c").join(
        F.broadcast(lut).alias("l"),
        (F.col("c.m") == F.col("l.m")) & (F.col("c.code") == F.col("l.cid")),
    )
    per = joined.groupBy("q_id", "vec_id").agg(F.sum("d").alias("dist"))
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def cluster_quality(emb: DataFrame) -> DataFrame:
    """Per-cluster QUALITY diagnostics for the deterministic k-means
    assignment — the signal that tells a curation pipeline whether its
    embedding clusters are tight enough to trust for mixing/dedup
    decisions: (cluster, n, ssq, wcss_num, msd) where wcss (within-
    cluster sum of squares around the EXACT rational centroid s/n)
    uses the algebraic identity sum||x - s/n||^2 = ssq - ||s||^2/n,
    kept exact as wcss_num = n*ssq - ||s||^2 over denominator n, and
    msd = wcss_num div n^2 is the floor mean squared distance.  The
    n*ssq and ||s||^2 products pass int64 at corpus scale, so both run
    in decimal(38,0) (HUGEINT in the oracle) — same discipline as
    zonal variance.

    Scale shape: one cluster-keyed scalar aggregate (map-side
    combinable) + one (cluster, dim)-keyed sum for the centroid vector
    (k x 64 cells regardless of corpus size) — the corpus is scanned
    once past the assignment; nothing collects."""
    assign = kmeans_assign(emb)
    e = _scaled(emb)
    m = assign.join(e, "vec_id")
    s2 = F.aggregate(
        F.transform("sv", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    per = (
        m.select("cluster", s2.alias("s2"))
        .groupBy("cluster")
        .agg(F.count("*").alias("n"), F.sum("s2").alias("ssq"))
    )
    snorm = (
        m.select("cluster", F.posexplode("sv").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"))
        .select(
            "cluster",
            (
                F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
            ).alias("s2d"),
        )
        .groupBy("cluster")
        .agg(F.sum("s2d").alias("snorm2"))
    )
    return per.join(snorm, "cluster").select(
        "cluster",
        "n",
        "ssq",
        # exact in decimal(38,0); DOUBLE only at the output boundary
        # (same integer -> same double on both engines — the zonal_var
        # exactness precedent)
        F.expr(
            "CAST(CAST(n AS DECIMAL(19,0)) * ssq - snorm2 AS DOUBLE)"
        ).alias("wcss_num"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(19,0)) * ssq - snorm2)"
            " DIV (CAST(n AS DECIMAL(19,0)) * n) AS BIGINT)"
        ).alias("msd"),
    )


def centroid_separation(emb: DataFrame) -> DataFrame:
    """Pairwise SEPARATION between k-means cluster centroids — the
    between-cluster half of the diagnostic pair (cluster_quality is the
    within-cluster half; their ratio is the Davies-Bouldin view): one
    row per unordered cluster pair with the exact squared distance
    between the RATIONAL centroids s_a/n_a and s_b/n_b, computed as
    sum_d (s_a[d]*n_b - s_b[d]*n_a)^2 / (n_a*n_b)^2 — integer numerator
    (decimal(38,0); HUGEINT twin), one double division at the boundary.
    Output (cluster_a, cluster_b, d2).

    Scale shape: everything past the assignment operates on the
    k x dim centroid-sum table (constant size) — the corpus is touched
    once by the (cluster, dim) sum, map-side combinable."""
    assign = kmeans_assign(emb)
    e = _scaled(emb)
    m = assign.join(e, "vec_id")
    dims = (
        m.select("cluster", F.posexplode("sv").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"))
    )
    ns = m.groupBy("cluster").agg(F.count("*").alias("n"))
    da = dims.join(ns, "cluster").select(
        F.col("cluster").alias("ca"), "dim",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    db = dims.join(ns, "cluster").select(
        F.col("cluster").alias("cb"), "dim",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    j = da.join(db, "dim").filter(F.col("ca") < F.col("cb"))
    # r6 (ADVICE r5): the cross products must widen BEFORE multiplying —
    # sa ~ n*1e6 (KMEANS_SCALE), so sa*nb overflows int64 once a cluster
    # holds ~3e6 vectors (Spark would wrap silently where the oracle's
    # HUGEINT raises).  decimal(19,0) factors give a decimal(38,0)
    # product, the cluster_quality / trajectory_simplify discipline.
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    diff = dec("sa") * dec("nb") - dec("sb") * dec("na")
    # the square re-narrows to decimal(19,0) factors so the product stays
    # a representable decimal(38,0): a |diff| beyond 19 digits now fails
    # LOUDLY (cast overflow), matching the oracle's HUGEINT raise instead
    # of the old silent int64 wrap
    term = diff.cast("decimal(19,0)") * diff.cast("decimal(19,0)")
    per = j.groupBy("ca", "cb").agg(
        F.sum(term).alias("num"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    # denominator in decimal too: (na*nb)^2 overflows int64 at ~55k
    # vectors per cluster pair
    den = (dec("na") * dec("nb")) * (dec("na") * dec("nb"))
    return per.select(
        F.col("ca").alias("cluster_a"),
        F.col("cb").alias("cluster_b"),
        (F.col("num").cast("double") / den.cast("double")).alias("d2"),
    )
