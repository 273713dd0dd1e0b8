"""Deduplication operators for the web-page corpus (graft surface):
exact (hash groupBy), MinHash + LSH band buckets, SimHash, and
n-gram-Jaccard verification.

All signatures are computed JVM-side with higher-order array functions
over word shingles; the hash is the portable md5-prefix bigint
(text.md5_int) so the DuckDB oracle reproduces every signature exactly.

The driver's documents table has no duplicates, so queries run over a
deterministic dup-injected corpus (``dup_corpus``) built identically in
Spark and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scidbgeo_spark.operators.text import md5_int

P = 2147483647  # 2^31 - 1
SHINGLE_K = 3
N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# deterministic affine hash family: h_j(x) = (A[j] * x + B[j]) % P
A = [2 * j + 1 for j in range(N_HASHES)]
B = [(j * j * 7919 + 17) % P for j in range(N_HASHES)]


def _guarded_doc_id(ctx: str, offset: int = 0) -> Column:
    """doc_id (+offset) with the id-offset collision guard INLINED into
    the plan: any doc_id >= 100000 raises during execution.  Replaces the
    former eager ``isEmpty`` probe — same fail-fast guarantee (a violating
    row cannot contribute to any result: the branch it feeds raises
    first), but zero extra Spark jobs per call (the probe cost one
    filtered scan action per corpus construction; r6 guide §1/§5: no
    driver-side actions on the query path)."""
    checked = F.when(F.col("doc_id") < 100000, F.col("doc_id")).otherwise(
        F.raise_error(
            F.lit(
                f"{ctx} id-offset collision: documents has doc_id >= 100000; "
                "raise the injection offsets"
            )
        ).cast("long")
    )
    return (checked + offset) if offset else checked


def dup_corpus(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """documents + injected duplicates: exact copies (doc_id % 11 == 0,
    id + 200000) and near-duplicates with a prefix mutation
    (doc_id % 7 == 0, id + 100000).

    The injected ids collide with real ids iff any doc_id >= 100000; that
    would silently corrupt pair semantics on BOTH engines (consistent but
    meaningless), so the base branch carries an in-plan guard
    (``_guarded_doc_id``) that raises on the first violating row — every
    input row flows through the base branch, so coverage equals the old
    eager probe without its extra per-call Spark job.

    ``extra_cols`` appends passthrough columns from ``docs`` to the base
    branch (NULL on the injected branches) so callers that need them
    (e.g. corpus_freeze's ``lang``) skip a join back against ``docs``."""
    extras = list(extra_cols)
    types = dict(docs.dtypes)
    nulls = [F.lit(None).cast(types[c]).alias(c) for c in extras]
    base = docs.select(
        _guarded_doc_id("dup_corpus").alias("doc_id"), "text", *extras
    )
    near = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("mutated "), "text").alias("text"),
            *nulls,
        )
    )
    exact = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select((F.col("doc_id") + 200000).alias("doc_id"), "text", *nulls)
    )
    return base.unionAll(near).unionAll(exact)


def url_normalize(url) -> "F.Column":
    """Crawl-side URL canonicalization: lowercase, strip scheme, strip a
    leading www., drop the fragment, strip one trailing slash.  Pure
    JVM regexp chain (identical patterns run on DuckDB's RE2 — no
    lookarounds), so the oracle twin is exact."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"#.*$", "")
    return F.regexp_replace(u, r"/$", "")


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL dedup: one row per CANONICAL url with the kept (minimum) id
    and copy count — the crawl-curation step that collapses
    http/https/www/trailing-slash/fragment variants of the same page
    before any content hashing runs.  Hash-partitioned groupBy on the
    normalized url: scale-safe (map-side partials, no skew beyond the
    url distribution itself)."""
    return (
        df.select(F.col(id_col), url_normalize(F.col(url_col)).alias("url_norm"))
        .groupBy("url_norm")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("url_norm", "keep_id", "n_copies")
    )


def url_dedup_latest(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id", ts_col: str = "warc_ts"
) -> DataFrame:
    """Crawl-FRESHNESS url dedup: one row per canonical url keeping the
    NEWEST capture (max_by on the capture timestamp) instead of the
    minimum id — re-crawls supersede stale snapshots, the policy a
    rolling Common-Crawl-style ingest actually wants.  Same single
    hash-partitioned groupBy as url_dedup; max_by/max/count all combine
    map-side.  Callers must guarantee ``ts_col`` is tie-free per
    canonical url (or accept engine-dependent tie-breaks)."""
    return (
        df.select(
            F.col(id_col), F.col(ts_col), url_normalize(F.col(url_col)).alias("url_norm")
        )
        .groupBy("url_norm")
        .agg(
            F.expr(f"max_by({id_col}, {ts_col})").alias("keep_id"),
            F.max(ts_col).alias("latest_ts"),
            F.count("*").alias("n_captures"),
        )
    )


def dedup_exact(corpus: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    kept (minimum) id and the group size.

    The key is ENGINE-INTERNAL (only keep_id / n_copies leave the
    operator; the oracle's ``GROUP BY md5(text)`` is likewise just a
    grouping key for text equality), so it is the native
    ``(xxhash64(text), length(text))`` pair instead of md5 — same groups
    for equal texts, ~10x less hashing CPU on the full corpus scan.
    Collision bound: texts of different lengths never share a key, and
    two distinct texts of equal length share one with probability
    2^-64, so the expected number of wrongly merged pairs is at most
    sum_L n_L^2 / 2^65 over the n_L texts of each length L (<= n^2/2^65).
    The incremental-dedup digests (``dedup_incremental`` and friends)
    keep md5: there the hash IS the persisted frozen-corpus contract."""
    return (
        corpus.select(
            F.col("doc_id"),
            F.xxhash64("text").alias("h"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("h", "n_chars")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def shingles_col(text: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles as an array column (JVM-side)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(t, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    return F.array_distinct(sh)


def hashed_shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, hs64): distinct shingles reduced to 60-bit md5-prefix
    hashes, computed ONCE per document.  Every downstream consumer
    (signatures, simhash, Jaccard verify) reads this array instead of
    re-hashing strings — and the verify join ships 8-byte longs, not
    shingle strings.  Jaccard over the 60-bit hashes equals Jaccard over
    the strings absent a collision (~n^2/2^61); the oracle uses the same
    hashes, so results agree bitwise regardless."""
    hs = F.transform(shingles_col("text"), md5_int)
    return corpus.select("doc_id", hs.alias("hs64"))


def _affine_min(j: int) -> Column:
    return F.array_min(
        F.transform(F.col("hs"), lambda h: (h * A[j] + B[j]) % P)
    ).alias(f"mh_{j}")


def _signatures_from_hashes(sh: DataFrame) -> DataFrame:
    """Signature columns from a (doc_id, hs64) frame.  The mod-P shingle
    hashes are materialized in a preceding select (a projection barrier:
    the 16-way-referenced alias survives CollapseProject), then the 16
    affine minima read the shared array — without it Catalyst inlines the
    hash tree into every signature column (16x the hashing work)."""
    hsP = F.transform(F.col("hs64"), lambda h: h % P)
    return sh.select("doc_id", hsP.alias("hs")).select(
        "doc_id", *[_affine_min(j) for j in range(N_HASHES)]
    )


def minhash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_15): per-document MinHash signature over word
    shingles — fully JVM-side, oracle-reproducible."""
    return _signatures_from_hashes(hashed_shingles(corpus))


def minhash_bands(corpus: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): LSH banding of the signature — documents
    sharing a (band, bucket) are near-dup candidates.  bucket combines the
    band's rows with the same affine family."""
    return _bands_from_signatures(minhash_signatures(corpus))


def _bands_from_signatures(sig: DataFrame) -> DataFrame:
    rows_per_band = N_HASHES // N_BANDS
    bands = []
    for b in range(N_BANDS):
        acc = F.lit(0).cast("long")
        for r in range(rows_per_band):
            acc = (acc * 1000003 + F.col(f"mh_{b * rows_per_band + r}")) % P
        bands.append(F.struct(F.lit(b).alias("band"), acc.alias("bucket")))
    return (
        sig.select("doc_id", F.explode(F.array(*bands)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


BUCKET_CAP = 200  # LSH buckets larger than this are skipped (boilerplate)


def minhash_dup_pairs(
    corpus: DataFrame, threshold: float = 0.5, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs: LSH candidates (shared band bucket) verified by
    exact shingle-set Jaccard >= threshold over the 60-bit shingle hashes.
    The candidate join shuffles only (doc_id, bucket) pairs; the verify
    join carries hash arrays (8-byte longs) for candidates only — the
    standard MinHash+LSH scale shape.

    Hot-bucket cap: a bucket of m near-identical documents yields m^2
    candidates, so buckets larger than ``bucket_cap`` are dropped (web
    boilerplate at scale).  The cap is part of the operator's semantics —
    the DuckDB oracle applies the identical QUALIFY — and is far above any
    fixture bucket size, so fixture output equals the uncapped run.

    The shingle-hash pass runs ONCE: ``sh`` is pinned behind an explicit
    repartition on doc_id, so the banding branch and both verify-join
    sides consume the same reused shuffle exchange instead of re-hashing
    the corpus (Spark only reuses *exchanges*, not bare projections)."""
    sh = hashed_shingles(corpus).repartition("doc_id")
    bands = _bands_from_signatures(_signatures_from_hashes(sh))
    bw = Window.partitionBy("band", "bucket")
    capped = bands.withColumn("bsz", F.count("*").over(bw)).filter(
        F.col("bsz") <= bucket_cap
    )
    left = capped.alias("l")
    right = capped.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    j = (
        cand.join(sh.select(F.col("doc_id").alias("a"), F.col("hs64").alias("sha")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("hs64").alias("shb")), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        j.select("a", "b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_drop_ids(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """PAIRWISE near-duplicate DROP set: the higher doc_id of every
    minhash near-dup pair.  Always MinHash+LSH (bucketed, never
    all-pairs); the exploded ngram_jaccard_pairs self-join is a
    verification baseline only and must never sit on a curation path
    (pinned by tests/test_text_dedup.py::
    test_corpus_curation_never_uses_ngram_selfjoin).  For curation,
    prefer :func:`cluster_drop_ids`: the pairwise b-drop misses
    transitively-connected docs that only ever appear on the a-side
    (pairs (2,9),(3,9): b-drop keeps BOTH 2 and 3 although 3~9~2)."""
    return (
        minhash_dup_pairs(corpus, threshold)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )


def cluster_drop_ids(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """CLUSTER-CANONICAL near-dup DROP set — THE production curation
    route: every doc that is not its connected component's minimum
    (one canonical survivor per transitive near-dup cluster).  Catches
    the chains the pairwise b-drop misses; superset of
    :func:`near_dup_drop_ids` by construction."""
    cl = dedup_clusters(corpus, threshold)
    return cl.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")


def dedup_clusters(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_id, cluster): connected components over the verified MinHash
    near-dup pair graph; cluster = MIN doc_id in the component — the
    canonical representative a curation pipeline keeps (transitive
    closure, so A~B and B~C land in ONE cluster even when A~C itself
    missed the Jaccard bar).  Docs in no pair are their own singleton
    cluster.

    Scale shape: the pair graph is pair-scale (a small fraction of the
    corpus), and component resolution reuses the regions label-graph
    engine — edge relaxation + pointer jumping, O(log diameter) rounds,
    one emptiness boolean to the driver per round, never a collected
    edge list."""
    from scidbgeo_spark.operators.regions import resolve_roots

    pairs = minhash_dup_pairs(corpus, threshold).select(
        F.col("a").alias("la"), F.col("b").alias("lb")
    )
    roots = resolve_roots(pairs).withColumnRenamed("l", "doc_id")
    return corpus.select("doc_id").join(roots, "doc_id", "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("cluster")
    )


NGRAM_DF_CAP = 500  # shingles present in more docs than this are dropped


def ngram_jaccard_pairs(
    corpus: DataFrame, threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """Exhaustive candidate generation by shared shingle (no MinHash
    approximation): explode distinct shingle hashes, self-join, exact
    Jaccard.  BASELINE / VERIFICATION ONLY — the f^2 exploded self-join
    makes it ~8x the cost of the LSH path even df-capped, so it must
    never be the production near-dup route at scale; curation pipelines
    go through :func:`near_dup_drop_ids` (MinHash+LSH).

    Document-frequency cap: a natural-language hot shingle appearing in f
    documents contributes f^2 join rows, so shingles with df > ``df_cap``
    are excluded from candidate generation (NOT from the Jaccard itself).
    A pair sharing ONLY ultra-common shingles can no longer become a
    candidate — at any realistic threshold such a pair is far below it
    anyway, and the oracle applies the identical cap."""
    sh = hashed_shingles(corpus).withColumnRenamed("hs64", "sh")
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    rare = ex.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") <= df_cap)
    exr = ex.join(rare.select("s"), "s")
    pairs = (
        exr.alias("l")
        .join(exr.alias("r"), (F.col("l.s") == F.col("r.s")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("n_shared_rare"))
        .select("a", "b")
    )
    j = (
        pairs.join(sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        j.select("a", "b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_recall(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """In-engine quality gauge for the MinHash+LSH near-dup path: one
    row (n_exact, n_recovered, recall) — the fraction of the exact
    df-capped ngram-Jaccard baseline's pairs that ``minhash_dup_pairs``
    recovers at the same threshold.  The near-dup family ships caps
    (BUCKET_CAP, NGRAM_DF_CAP) as part of its semantics; this gauge is
    the signal that the capped LSH route still finds the pairs the
    exact baseline finds (the ANN family's ``ann_lsh_recall`` shape,
    applied to text).  Deterministic counts, single exact division —
    the DuckDB twin is bitwise.  Baseline cost caveat: the exact side
    is the f^2 exploded self-join, so the gauge is an AUDIT query (run
    on samples at scale), never a curation-path dependency."""
    exact = ngram_jaccard_pairs(corpus, threshold).select("a", "b")
    approx = minhash_dup_pairs(corpus, threshold).select(
        "a", "b", F.lit(1).alias("hit")
    )
    j = exact.join(approx, ["a", "b"], "left")
    n_ex = F.count(F.lit(1))
    # guard the closing division: an empty baseline (no pairs clear the
    # threshold) must yield recall NULL, matching DuckDB's 0/0 -> NULL —
    # unguarded, Spark 4's ANSI mode throws DIVIDE_BY_ZERO instead
    return j.agg(
        n_ex.alias("n_exact"),
        F.count("hit").alias("n_recovered"),
        F.when(n_ex > 0, F.count("hit") / n_ex).alias("recall"),
    )


SIMHASH_BITS = 16
SIMHASH_BLOCKS = 4  # hamming <= BLOCKS-1 guarantees one equal block
SIM_MAX_HAMMING = SIMHASH_BLOCKS - 1  # pigeonhole completeness bound
SIM_BUCKET_CAP = 500  # block buckets larger than this are skipped


def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over shingle hashes: bit i of the fingerprint is the sign
    of sum(+1/-1 votes of bit i across shingles).  JVM-side; 16 bits keeps
    the oracle SQL tractable (the semantics are bit-count-agnostic).

    The mod-P hash array is materialized in a preceding select (same
    projection barrier as minhash_signatures) so the 16 bit-vote
    ``aggregate`` columns share ONE md5 pass instead of Catalyst inlining
    the shingle-hash tree into each."""

    def _vote(i: int):
        return lambda a, h: a + (F.shiftright(h, i) % 2) * 2 - 1

    acc = F.lit(0).cast("long")
    for i in range(bits):
        vote = F.aggregate(F.col("hs"), F.lit(0).cast("long"), _vote(i))
        acc = acc + F.when(vote > 0, F.lit(2**i)).otherwise(F.lit(0))
    hsP = F.transform(F.col("hs64"), lambda h: h % P)
    return (
        hashed_shingles(corpus)
        .select("doc_id", hsP.alias("hs"))
        .select("doc_id", acc.alias("simhash"))
    )


def simhash_dup_pairs(
    corpus: DataFrame,
    max_hamming: int = SIM_MAX_HAMMING,
    bucket_cap: int = SIM_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup PAIRS via block banding (the Google-style dedup
    path): split the fingerprint into SIMHASH_BLOCKS blocks — two
    fingerprints within Hamming distance SIMHASH_BLOCKS-1 must agree on
    at least one whole block (pigeonhole), so an equi-join per block
    yields a complete candidate set for ``max_hamming <= BLOCKS-1``;
    exact ``bit_count(xor)`` verifies.  Output (a, b, hamming), a < b.

    Scale notes: at production scale the fingerprint is 64-bit with
    16-bit blocks (65k buckets/block); the 16-bit/4-bit parameters here
    keep the DuckDB oracle tractable while the PLAN — band, bucket join,
    verify-on-candidates, hot-bucket cap mirrored in the oracle — is the
    scale shape.  A block bucket larger than ``bucket_cap`` (saturated
    boilerplate) is dropped per block, like minhash_dup_pairs."""
    fp = simhash(corpus)
    bits = SIMHASH_BITS // SIMHASH_BLOCKS
    blocks = [
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftright("simhash", b * bits).bitwiseAND(F.lit((1 << bits) - 1)).alias("bv"),
        )
        for b in range(SIMHASH_BLOCKS)
    ]
    ex = fp.select(
        "doc_id", "simhash", F.explode(F.array(*blocks)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    bw = Window.partitionBy("blk", "bv")
    capped = ex.withColumn("bsz", F.count("*").over(bw)).filter(F.col("bsz") <= bucket_cap)
    cand = (
        capped.alias("l")
        .join(
            capped.alias("r"),
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---- exact-substring (duplicated n-gram span) dedup ---------------------
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") remove every substring that occurs twice anywhere in the
# corpus.  The suffix-array construction is single-machine; the
# distributed equivalent is positional n-gram hashing: a token position
# is "covered" iff some duplicated n-gram (count > 1 corpus-wide,
# within-doc repeats included) starts within n-1 tokens of it — exactly
# the positions a length->=n duplicated substring would cover.
DUPSPAN_N = 8

# SimHash quality-gauge Jaccard threshold: shared by simhash_recall /
# simhash_precision and PINNED by their oracle twins' literal 0.5 (the
# oracle SQL text is frozen; change requires a new oracle) — kept as a
# module constant instead of a per-call parameter so engine and oracle
# cannot drift (r6, ADVICE r5).
SIMHASH_GAUGE_T = 0.5


def dup_span_dedup(corpus: DataFrame, n: int = DUPSPAN_N) -> DataFrame:
    """Per-document duplicated-span audit + removal: (doc_id, n_tokens,
    n_dup_grams, n_covered, frac_covered, kept_fp) where kept_fp is the
    md5 fingerprint of the document with every covered token removed
    (an exact copy of another document collapses to md5('')).

    Scale shape: positional n-gram hashes are 8-byte longs keyed by hash
    (raw text never rides the gram shuffles).  The dup set comes from a
    map-side-combined groupBy — NOT a per-hash window, which would
    materialize web-scale boilerplate grams ("all rights reserved ...")
    as single giant partitions — so only partial counts shuffle, and the
    resulting dup-hash set (corpus dup mass, not corpus size) feeds the
    probe join where AQE broadcasts it; grams are re-hashed rather than
    cached (CPU beats materializing a corpus-sized intermediate).
    Duplicated start positions then collapse to ONE array row per
    affected document, and coverage, span removal, and the kept-text
    fingerprint are all per-row array algebra from there — no positional
    explode, no (doc_id, pos) anti-join shuffle.  No driver actions, no
    Python UDFs.

    r6: the gram hash is ENGINE-INTERNAL (only counts and the kept-text
    md5 fingerprint ever leave the operator — no hash value appears in
    the output or the oracle's), so gram EQUALITY is the only contract
    and the hash is xxhash64 instead of the md5-hex-conv chain: same
    single-pass equality semantics (collisions ~n^2/2^64, far below the
    md5-prefix path's own 2^-60 exposure), one native JVM hash call per
    gram instead of digest + hex + substring + base-conversion (guide
    §1.2 per-task work).  The corpus fans out to session parallelism
    before hashing when the scan under-partitions (single-file parquet:
    3 scan tasks carried 100% of the gram hashing at sf0.1 — guide
    §2.5)."""
    from scidbgeo_spark.plans.fanout import fan_out

    corpus = fan_out(corpus, "doc_id")
    toks = F.split(F.col("text"), " ")
    t = corpus.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )

    # hash BEFORE exploding (transform over start positions) so the token
    # array is never duplicated across exploded rows
    def _gram(s: Column) -> Column:
        return F.struct(
            s.alias("s"),
            F.xxhash64(F.array_join(F.slice(F.col("toks"), s, n), " ")).alias("h"),
        )

    grams = (
        t.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - n + 1), _gram
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.s").alias("s"), F.col("g.h").alias("h"))
    )
    dup_h = grams.groupBy("h").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") > 1
    ).select("h")
    # one row per affected doc: the sorted duplicated-gram start offsets
    starts = (
        grams.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("starts"))
    )

    st = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    covered = F.array_distinct(
        F.flatten(F.transform(st, lambda s: F.sequence(s, s + (n - 1))))
    )
    # kept token positions via one hash-set difference (array_except is
    # O(n_tokens + n_covered) and preserves left order) instead of the
    # r5 per-token array_contains scan (O(n_tokens * n_covered) — for a
    # fully-covered doc that was quadratic in document length)
    kept_idx = F.array_except(
        F.sequence(F.lit(1), F.col("n_tokens")), F.col("covered")
    )
    kept_fp = F.md5(
        F.array_join(
            F.transform(F.col("kept_idx"), lambda i: F.element_at("toks", i)),
            " ",
        )
    )
    ncov = F.size("covered").cast("long")
    return (
        t.join(starts, "doc_id", "left")
        .withColumn("covered", covered)
        .withColumn("kept_idx", kept_idx)
        .select(
            "doc_id",
            "n_tokens",
            F.size(st).cast("long").alias("n_dup_grams"),
            ncov.alias("n_covered"),
            # n_tokens >= 1 always (split('') == ['']); the guard keeps
            # ANSI division safe on degenerate inputs and, untriggered,
            # cannot diverge from the oracle's bare division
            F.when(F.col("n_tokens") > 0, ncov / F.col("n_tokens"))
            .alias("frac_covered"),
            kept_fp.alias("kept_fp"),
        )
    )


# ---- incremental (cross-corpus) dedup + Bloom prefilter -----------------
# A rolling crawl never re-deduplicates the whole corpus: each new batch
# is checked against the FROZEN corpus (reference parity: SciDBGeo's
# insert-into-existing-array flow re-loads only the new chunk,
# SciDBLoad.py:1-60; here the "array" is the frozen hash set).

# Bloom geometry: 63 usable bits per 64-bit word (DuckDB's BIGINT <<
# throws on shift 63; Spark wraps — bits 0..62 behave identically in
# both engines, so the oracle mirrors the bitmap bitwise).
BLOOM_WORDS = 1024
BLOOM_BITS_PER_WORD = 63
BLOOM_M = BLOOM_WORDS * BLOOM_BITS_PER_WORD  # 64,512 positions
BLOOM_K = 3


def incremental_dedup(frozen: DataFrame, batch: DataFrame) -> DataFrame:
    """Cross-corpus exact dedup for a rolling crawl: keep batch docs
    whose content hash appears neither in the FROZEN corpus nor earlier
    in the batch itself (min doc_id wins within the batch).

    Scale shape: both sides reduce to 16-byte digests before anything
    shuffles (column pruning takes the frozen scan down to one hashed
    column); the left-anti join and the min-id groupBy hash-partition on
    the digest with map-side partials.  At 100 TB the frozen side is
    petabyte-scale text but terabyte-scale digests — and the probe that
    avoids shuffling even those every batch is ``bloom_prefilter``."""
    fh = frozen.select(F.md5("text").alias("h")).distinct()
    bh = batch.select("doc_id", F.md5("text").alias("h"))
    return (
        bh.join(fh, "h", "left_anti")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_batch_copies"))
        .select("keep_id", "n_batch_copies")
    )


def _bloom_positions(text: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """k Bloom bit positions for a document digest, by double hashing:
    pos_i = (h1 + i*h2) mod m over the 60-bit md5-prefix digest.  Pure
    nonnegative integer arithmetic (max intermediate < 3m << 2^63 for
    any m below 2^60), so the DuckDB twin is bitwise-identical."""
    h64 = md5_int(text)
    h1 = h64 % m
    h2 = (F.shiftright(h64, 16) % m).bitwiseOR(F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: (h1 + i * h2) % m,
    )


def bloom_build(frozen: DataFrame, words: int = BLOOM_WORDS, k: int = BLOOM_K) -> DataFrame:
    """Distributed Bloom-filter build over the frozen corpus: explode
    each digest's k bit positions, then ONE map-side-combined bit_or
    aggregate into (word, bits) — at most BLOOM_WORDS rows regardless of
    corpus size.  This is the runtime-filter pattern Spark applies to
    joins internally, expressed as data: the bitmap is a broadcastable
    summary of an arbitrarily large build side."""
    pos = frozen.select(
        F.explode(
            _bloom_positions(F.col("text"), words * BLOOM_BITS_PER_WORD, k)
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word"),
            F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_BITS_PER_WORD} AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_prefilter(
    frozen: DataFrame,
    batch: DataFrame,
    words: int = BLOOM_WORDS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per-batch-doc Bloom probe against the frozen corpus: (doc_id,
    maybe_seen, seen) where maybe_seen is the Bloom verdict (all k bits
    set) and seen is ground truth (exact digest anti-join) — so the
    false-positive surface is visible in the result itself
    (maybe_seen AND NOT seen).

    Scale shape: the bitmap is <= BLOOM_WORDS rows — broadcast to the
    probe join, so the batch NEVER shuffles: explode k positions per
    doc, broadcast-join the bitmap on word, bool_and the bit tests back
    per doc (map-side partials on the doc_id agg).  Only docs that pass
    the Bloom gate need the exact digest join against the frozen set;
    at a web-scale false-positive budget that turns an
    every-batch-full-shuffle into a bitmap broadcast plus a small
    residual join."""
    probes = batch.select(
        "doc_id",
        F.explode(
            _bloom_positions(F.col("text"), words * BLOOM_BITS_PER_WORD, k)
        ).alias("pos"),
    ).select(
        "doc_id",
        (F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word"),
        F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_BITS_PER_WORD} AS INT))").alias("bit"),
    )
    bitmap = bloom_build(frozen, words, k)
    maybe = (
        probes.join(F.broadcast(bitmap), "word", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bit")) != 0).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.bool_and("hit").alias("maybe_seen"))
    )
    fh = frozen.select(F.md5("text").alias("h")).distinct()
    truth = batch.select("doc_id", F.md5("text").alias("h")).join(
        fh.withColumn("seen_", F.lit(True)), "h", "left"
    ).select("doc_id", F.coalesce(F.col("seen_"), F.lit(False)).alias("seen"))
    return maybe.join(truth, "doc_id").select("doc_id", "maybe_seen", "seen")


def crawl_batch(docs: DataFrame) -> DataFrame:
    """Deterministic "next crawl batch" against the frozen documents
    table (the incremental-dedup twin of ``dup_corpus``): near-mutants
    (id%7, prefix mutation), exact re-crawls of frozen pages (id%11),
    and genuinely new pages (id%5) of which the id%10 half is captured
    twice — so the batch exercises frozen-hits, batch-internal dups, and
    novel content at once.  Same id-offset collision guard as
    dup_corpus, inlined per branch (only rows that reach a branch can
    collide here — the batch has no base branch — so guarding each
    branch's source id covers exactly the collision-capable rows with
    zero extra Spark jobs)."""
    d = docs.select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        _guarded_doc_id("crawl_batch", 100000).alias("doc_id"),
        F.concat(F.lit("mutated "), "text").alias("text"),
    )
    recrawl = d.filter(F.col("doc_id") % 11 == 0).select(
        _guarded_doc_id("crawl_batch", 200000).alias("doc_id"), "text"
    )
    fresh = d.filter(F.col("doc_id") % 5 == 0).select(
        _guarded_doc_id("crawl_batch", 300000).alias("doc_id"),
        F.concat(F.lit("fresh "), "text").alias("text"),
    )
    fresh2 = d.filter(F.col("doc_id") % 10 == 0).select(
        _guarded_doc_id("crawl_batch", 400000).alias("doc_id"),
        F.concat(F.lit("fresh "), "text").alias("text"),
    )
    return near.unionAll(recrawl).unionAll(fresh).unionAll(fresh2)


# ---- HyperLogLog distinct-count sketch ----------------------------------
# Cardinality estimation for web-scale corpora (how many distinct
# shingles/pages does this crawl actually contain?) without a
# count-distinct shuffle: the register table is <= HLL_M rows regardless
# of input size, built by ONE map-side-combined max aggregate.  Spark's
# own approx_count_distinct is the same sketch but its estimate is not
# reproducible across engines; this one is pinned to an exact DuckDB
# twin bit for bit.  Only the RAW harmonic-mean estimator is emitted:
# the small-range linear-counting branch needs ln(), and ln is NOT
# bit-portable (measured: 82/1024 of the possible ln(m/V) values differ
# in the last ulp between the JVM and libm) — so callers must keep the
# sketch in its valid regime, ndv >= 2.5 * HLL_M.
HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
# md5_int is 60 bits: HLL_P register bits + 50 hashed bits for the rank
_HLL_W_BITS = 60 - HLL_P
# DOUBLE casts matter: bare 0.7213 parses as DECIMAL in BOTH engines,
# whose division-scale rules differ (1e-9 relative divergence seen)
HLL_ALPHA_EXPR = (
    "CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE)"
    f" / {HLL_M})"
)  # alpha_m, m >= 128


def hll_registers(values: Column) -> "tuple[Column, Column]":
    """(register, rank) for a value column: register = low p bits of the
    60-bit digest, rank = leading-zero count of the remaining 50 bits
    + 1 (via binary-string length — identical in Spark and DuckDB,
    including the w=0 -> all-zeros case)."""
    h = md5_int(values)
    reg = h % HLL_M
    w = F.shiftright(h, HLL_P)
    rank = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return reg, rank


def hll_shingle_ndv(corpus: DataFrame) -> DataFrame:
    """Corpus vocabulary cardinality: HLL over the distinct 3-word
    shingles (tens of thousands at any real scale — comfortably above
    the 2.5m raw-estimator floor; see module comment on why the
    linear-counting branch is deliberately absent)."""
    vals = corpus.select(F.explode(shingles_col("text")).alias("v"))
    return hll_ndv(vals, "v")


def hll_ndv(corpus: DataFrame, col: str = "text") -> DataFrame:
    """One-row gauge: (n_registers_hit, hll_estimate, true_ndv).

    Z is folded over registers in ascending-register order (exact powers
    of two), so the estimate is bit-reproducible at any parallelism; the
    RAW harmonic-mean estimator is reported (valid for ndv >= 2.5m —
    callers pick an input in that regime), true_ndv rides alongside so
    the sketch error is visible in-result.  At 100 TB true_ndv is the
    expensive column — drop it and the whole query is one scan + a
    1024-row aggregate."""
    reg, rank = hll_registers(F.col(col))
    regs = (
        corpus.select(reg.alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("r"))
    )
    packed = regs.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("reg", "r"))), lambda t: t["r"]
        ).alias("rr"),
        F.count("*").alias("n_hit"),
    )
    # Z scaled by 2^51 stays EXACT integer (terms 2^(51-r), r in [1,51];
    # worst case 1024 * 2^51 ~ 2.3e18 < 2^63) — engine pow() ulp noise
    # ("power(2.0,-r)" diverged from Java's Math.pow at 1e-9 relative)
    # never enters; ONE double division then matches bitwise everywhere.
    zs = F.expr(
        f"aggregate(rr, 0L, (acc, r) -> acc + shiftleft(1L, {_HLL_W_BITS + 1} - r))"
    ) + (F.lit(HLL_M) - F.col("n_hit")) * F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    z = zs / F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    est = F.expr(HLL_ALPHA_EXPR) * HLL_M * HLL_M / z
    truth = corpus.agg(F.countDistinct(col).alias("true_ndv"))
    return (
        packed.select(F.col("n_hit").cast("long").alias("n_registers_hit"), est.alias("hll_estimate"))
        .crossJoin(truth)
    )


def crawl_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """URL-level diff between two crawl snapshots: one row per canonical
    url with status 'added' (new crawl only), 'removed' (old only),
    'changed' (both, content fingerprint differs) or 'unchanged' — the
    what-moved audit a rolling recrawl publishes next to each snapshot.
    Inputs carry (doc_id, url, text) with one capture per canonical url
    (run url_dedup_latest first otherwise).

    Scale shape: each side reduces map-side to (url_norm, id, md5) —
    raw text never reaches the join — then ONE full-outer sort-merge
    join on the canonical url; status is codegen CASE arithmetic.  No
    skew beyond the url distribution itself, no driver actions."""
    o = old.select(
        url_normalize(F.col("url")).alias("url_norm"),
        F.col("doc_id").alias("old_id"),
        F.md5("text").alias("old_fp"),
    )
    n = new.select(
        url_normalize(F.col("url")).alias("url_norm"),
        F.col("doc_id").alias("new_id"),
        F.md5("text").alias("new_fp"),
    )
    status = (
        F.when(F.col("old_id").isNull(), F.lit("added"))
        .when(F.col("new_id").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    # absent sides surface as -1, not NULL: a nullable id column decays
    # to NaN floats in Arrow/pandas consumers, which no value-hash can
    # compare stably
    return o.join(n, "url_norm", "full_outer").select(
        "url_norm",
        status.alias("status"),
        F.coalesce("old_id", F.lit(-1)).alias("old_id"),
        F.coalesce("new_id", F.lit(-1)).alias("new_id"),
    )


def cluster_survivors(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """QUALITY-AWARE survivor selection per near-dup cluster: instead of
    the min-doc_id canonical (cluster_drop_ids), keep the LONGEST
    member (ties -> smallest doc_id) — the "keep the most complete
    copy" rule real curation pipelines apply when near-dups differ by
    truncation or chrome.  Output one row per cluster:
    (cluster, keep_id, keep_chars, n_members).

    Scale shape: dedup_clusters' pair-scale component resolution, one
    probe join back to (doc_id, length) — lengths ride as longs, text
    never re-shuffles — and a map-side-combinable struct-max argmax
    (the band_argmax trick), so ties stay deterministic on any
    cluster."""
    cl = dedup_clusters(corpus, threshold)
    sized = cl.join(
        corpus.select("doc_id", F.length("text").cast("long").alias("len")),
        "doc_id",
    )
    best = F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("nd")))
    return (
        sized.groupBy("cluster")
        .agg(F.count("*").alias("n_members"), best.alias("b"))
        .select(
            "cluster",
            (-F.col("b.nd")).alias("keep_id"),
            F.col("b.len").alias("keep_chars"),
            "n_members",
        )
    )


def simhash_recall(corpus: DataFrame) -> DataFrame:
    """In-engine quality gauge for the SimHash block-banding path — the
    :func:`minhash_recall` shape applied to the OTHER near-dup family:
    one row (n_exact, n_recovered, recall), the fraction of the exact
    df-capped ngram-Jaccard baseline's pairs (at SIMHASH_GAUGE_T) that
    ``simhash_dup_pairs`` recovers at its default Hamming bound.
    SimHash bounds Hamming distance, not Jaccard, so recall < 1 is the
    expected, *measured* trade-off — this gauge is what makes the
    trade-off a number instead of a hope.  Deterministic counts, one
    exact division; DuckDB twin is bitwise.  Like minhash_recall, the
    exact side is the f^2 exploded self-join: an AUDIT query to run on
    samples at scale, never a curation-path dependency.

    r6 (ADVICE r5): the former ``threshold`` parameter is gone — the
    DuckDB oracle twin hardcodes the 0.5 literal, so a non-default call
    silently stopped matching it; the shared module constant
    SIMHASH_GAUGE_T is now the single knob (oracle text pins 0.5)."""
    exact = ngram_jaccard_pairs(corpus, SIMHASH_GAUGE_T).select("a", "b")
    approx = simhash_dup_pairs(corpus).select(
        "a", "b", F.lit(1).alias("hit")
    )
    j = exact.join(approx, ["a", "b"], "left")
    n_ex = F.count(F.lit(1))
    return j.agg(
        n_ex.alias("n_exact"),
        F.count("hit").alias("n_recovered"),
        F.when(n_ex > 0, F.count("hit") / n_ex).alias("recall"),
    )


def simhash_precision(corpus: DataFrame) -> DataFrame:
    """PRECISION gauge for the SimHash banding path — the other half of
    :func:`simhash_recall`: of the pairs the Hamming-bound route emits,
    what fraction is truly near-duplicate by exact shingle Jaccard >=
    ``threshold``?  (MinHash needs no such gauge: minhash_dup_pairs
    Jaccard-verifies every candidate, so its precision is 1 by
    construction; SimHash verifies only the fingerprint distance, so
    its false-positive rate is a real, measurable trade-off.)  One row
    (n_pairs, n_true, precision); deterministic counts + one exact
    division, DuckDB-bitwise.  Threshold: the shared SIMHASH_GAUGE_T
    module constant (r6, ADVICE r5 — see simhash_recall)."""
    pairs = simhash_dup_pairs(corpus).select("a", "b")
    sh = hashed_shingles(corpus).withColumnRenamed("hs64", "sh")
    j = (
        pairs.join(sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    scored = j.select(
        ((inter / union) >= SIMHASH_GAUGE_T).cast("long").alias("hit")
    )
    n = F.count(F.lit(1))
    return scored.agg(
        n.alias("n_pairs"),
        F.sum("hit").alias("n_true"),
        # "prec" not "precision": reserved word in ANSI SQL / DuckDB
        F.when(n > 0, F.sum("hit") / n).alias("prec"),
    )


def hll_by_source(docs: DataFrame) -> DataFrame:
    """HLL MERGEABILITY in action — the property that makes sketches the
    distributed answer: per-source shingle-NDV sketches plus an 'ALL'
    row whose registers are the register-wise MAX of the per-source
    sketches.  Merging sketches this way provably equals sketching the
    union stream directly (max of maxes), so the ALL estimate is
    bit-identical to :func:`hll_shingle_ndv`'s global run — a pytest
    pins exactly that.  Output (source, n_registers_hit, hll_estimate).

    Scale shape: ONE (source, reg)-keyed max aggregate over the
    shingle stream (map-side combinable; output bounded by
    n_sources x 1024 regardless of corpus), then constant-size register
    algebra.  This is the rollup shape every multi-tenant NDV dashboard
    runs: sketch once per partition key, merge upward for free."""
    vals = docs.select(
        "source", F.explode(shingles_col("text")).alias("v")
    )
    reg, rank = hll_registers(F.col("v"))
    regs = (
        vals.select("source", reg.alias("reg"), rank.alias("rank"))
        .groupBy("source", "reg")
        .agg(F.max("rank").alias("r"))
    )
    merged = (
        regs.groupBy("reg")
        .agg(F.max("r").alias("r"))
        .select(F.lit("ALL").alias("source"), "reg", "r")
    )
    packed = (
        regs.unionByName(merged)
        .groupBy("source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("reg", "r"))),
                lambda t: t["r"],
            ).alias("rr"),
            F.count("*").alias("n_hit"),
        )
    )
    zs = F.expr(
        f"aggregate(rr, 0L, (acc, r) -> acc + shiftleft(1L, {_HLL_W_BITS + 1} - r))"
    ) + (F.lit(HLL_M) - F.col("n_hit")) * F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    z = zs / F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    est = F.expr(HLL_ALPHA_EXPR) * HLL_M * HLL_M / z
    return packed.select(
        "source",
        F.col("n_hit").cast("long").alias("n_registers_hit"),
        est.alias("hll_estimate"),
    )
