"""Deduplication operators for training-data pipelines, designed for the
100 TB case: everything is expressed as shuffles on short keys (hashes),
never on document bodies; candidate generation is LSH-bucketed so the
pairwise-verification join is per-bucket, not all-pairs.

Operators:
  * exact duplicates        — hash-groupBy on content (or normalized content)
  * MinHash + LSH           — shingle → minhash signature → banded bucket
                              join → jaccard-verified near-dup pairs
  * SimHash                 — 64-bit sign-aggregated token hashes, hamming
                              candidates via band buckets
  * n-gram jaccard          — exact similarity on candidate pairs

All hot-path hashing uses built-in ``xxhash64`` (JVM, whole-stage codegen);
no Python crosses the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators._pin import pin


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for SQL-text interpolation so names
    needing quoting (dots, spaces, hyphens) parse as one identifier —
    matching what the Column-algebra paths resolve.  The single home of
    this logic; the similarity-module fast paths import it too."""
    return "`" + name.replace("`", "``") + "`"


def normalize_text(col):
    """Lowercase + collapse whitespace: the usual pre-dedup normalizer."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _plan_has_shuffle(df: DataFrame) -> bool:
    """True when ``df``'s physical plan contains a shuffle Exchange.

    r13 (ADVICE r12): probing ``df.rdd.getNumPartitions()`` on a plan
    that contains exchanges MATERIALIZES its AQE query stages — an
    eager extra execution the real run does not reuse.  The plan-string
    check costs one driver-side planning pass (no job).  Word-bounded
    so ``BroadcastExchange`` (which leaves row partitioning unchanged)
    does not count."""
    import re

    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # pragma: no cover - py4j surface drift
        return True  # conservative: skip the probe rather than risk a job
    return re.search(r"\bExchange\b", plan) is not None


def _spread_input(df: DataFrame, *cols: str, pin: bool = False) -> DataFrame:
    """Repartition a narrow projection up to the cluster's parallelism when
    the source arrives in fewer splits (a single small parquet file reads
    as ONE partition, which would serialize all shingle/hash CPU work onto
    one core).  No-op — no exchange added — when the source already has
    enough splits, i.e. always at real corpus scale.

    The partition probe runs only on shuffle-free plans (scans, pinned
    frames): a post-shuffle frame is already at cluster parallelism, and
    probing it via ``.rdd`` would eagerly materialize its query stages
    (ADVICE r12).

    ``pin=True`` also pins the spread projection (``_pin.pin``), ONLY
    when a spread actually occurred.  Why: predicate pushdown substitutes
    projected aliases into filters and pushes them through Project AND
    Repartition nodes, so a filter on a derived column (quality score,
    gopher flags) re-evaluates the whole fold BELOW the spread exchange —
    single-threaded on a 1-split source (profiled: a 1-task 1.4 s CPU
    stage under curation_pipeline_stats while 31 cores idled).  Pinning
    turns the spread into an ExistingRDD scan: pushed filters land on the
    parallel materialized blocks, and multiple plan consumers (dedup
    keyed/keepers, the pipeline's three legs) read the blocks instead of
    re-scanning the source."""
    sel = df.select(*cols)
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _plan_has_shuffle(sel) and sel.rdd.getNumPartitions() < target:
        sel = sel.repartition(target)
        if pin:
            # the keyword shadows the module-level ``pin``
            from graphdb_for_drones_spark.operators._pin import pin as pin_df

            sel = pin_df(sel)
    return sel


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: returns one row per duplicated
    content value with the keeper (min id) and the group size.

    At scale: the groupBy shuffles 8-byte hashes + ids only — the text
    column is dropped before the exchange."""
    h = F.xxhash64(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct (normalized) content."""
    h = F.xxhash64(normalize_text(F.col(text_col)))
    w_keep = df.withColumn("__h", h)
    keepers = w_keep.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return w_keep.join(keepers, ["__h", id_col], "left_semi").drop("__h")


def shingles(col, n: int = 3):
    """Word n-gram shingle array (JVM-side): split → sliding window.

    Window combine is the zip-over-shifted-slices fold (as
    ``_shingle_hashes_from``), NOT an index transform: slicing under a
    lambda-bound index re-evaluates the whole words expression
    (normalize + split + filter) once PER GRAM — the element_at-in-
    lambda trap, measured ~4× on the md5 minhash entry.  The slices sit
    outside lambda bodies, so words is evaluated ~2n+1 times per row
    total."""
    words = F.filter(F.split(normalize_text(col), " "), lambda w: w != F.lit(""))
    m = F.size(words) - n + 1

    def win(j):
        return F.slice(words, j + 1, m)

    acc = win(n - 1)
    for j in range(n - 2, -1, -1):
        acc = F.zip_with(win(j), acc, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(
        acc
    )


def shingle_hash_array(col, n: int = 3):
    """Word n-gram shingle HASHES (array<long>) without materializing
    shingle strings: hash each word once, then fold the n word-hashes of
    each window with nested ``xxhash64(a, b)`` via ``zip_with`` over
    shifted slices.  Everything stays in whole-stage codegen and the
    word-hash array is computed once (subexpression elimination applies —
    the slices sit OUTSIDE lambda bodies; an ``element_at``-in-lambda
    formulation re-evaluates the array per element, measured 10×
    slower, and shingle-string building is ~5× slower).

    The hash family differs from ``xxhash64(shingle string)``; set
    semantics (jaccard, minhash, posting lists) only need a stable
    injective-ish family, so consumers are drop-in.  Docs with fewer than
    ``n`` words get one whole-text shingle, as ``shingles`` does."""
    words = F.filter(F.split(normalize_text(col), " "), lambda w: w != F.lit(""))
    wh = F.transform(words, lambda w: F.xxhash64(w))
    return _shingle_hashes_from(words, wh, n)


def _wide_gram_hashes(wh, n: int, stage=None):
    """Shared n>8 staged-doubling gram combine — the ONE definition of
    the wide-gram hash family, so it is a function of ``n`` alone no
    matter which builder emits it (``shingle_hash_array`` nests the
    expressions; ``with_shingle_hashes`` pins each level as a named
    column via ``stage`` for lambda-CSE).  Recurrence: gram-hash arrays
    for power-of-two widths by doubling (g2k[i] = xxhash64(gk[i],
    gk[i+k])); width n combines the largest power p with itself at
    offset n−p.  ``stage(expr, name)`` must return an expression that
    evaluates to ``expr`` (identity by default)."""
    if stage is None:
        stage = lambda e, _name: e
    p = 1
    while p * 2 < n:
        p *= 2
    cur, k = wh, 1
    while k < p:
        # m2 can go negative on short docs: clamp the slice length; the
        # short-doc fallback never reads these rows' grams
        m2 = F.greatest(F.size(wh) - F.lit(2 * k - 1), F.lit(0))
        g = F.zip_with(
            F.slice(cur, 1, m2),
            F.slice(cur, k + 1, m2),
            lambda a, b: F.xxhash64(a, b),
        )
        k *= 2
        cur = stage(g, f"__g{k}")
    m_n = F.greatest(F.size(wh) - F.lit(n - 1), F.lit(0))
    return F.zip_with(
        F.slice(cur, 1, m_n),
        F.slice(cur, n - p + 1, m_n),
        lambda a, b: F.xxhash64(a, b),
    )


def _shingle_hashes_from(words, wh, n: int):
    """Window-fold shingle hashes given words + word-hash expressions.
    Pass COLUMN references for multi-use plans (``with_shingle_hashes``):
    subexpression elimination skips lambda-bearing subtrees, so inline
    ``words``/``wh`` expressions are re-evaluated at every reference
    below (n slices + 2 sizes + the short-doc fallback).

    n > 8 emits the SAME staged-doubling family as
    ``with_shingle_hashes`` (``_wide_gram_hashes``, nested inline here)
    so the shingle-hash family is a function of ``n`` alone across both
    builders — a consumer joining the two builders' outputs, or a
    persisted index re-opened against freshly hashed probes, meets the
    identical family at every n.  For wide grams prefer
    ``with_shingle_hashes`` (staged named columns): the nested inline
    form re-evaluates lambda-bearing levels per reference."""
    if n > 8:
        comb = _wide_gram_hashes(wh, n)
        return F.when(
            F.size(wh) < n, F.array(F.xxhash64(F.concat_ws(" ", words)))
        ).otherwise(comb)
    m = F.size(wh) - n + 1  # shingle count when the doc has >= n words

    def win(j):  # j-th shifted slice, exactly m elements
        return F.slice(wh, j + 1, m)

    acc = win(n - 1)
    for j in range(n - 2, -1, -1):
        acc = F.zip_with(win(j), acc, lambda a, b: F.xxhash64(a, b))
    return F.when(
        F.size(wh) < n, F.array(F.xxhash64(F.concat_ws(" ", words)))
    ).otherwise(acc)


def with_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "hashes",
    keep: tuple = (),
):
    """Shingle-hash projection STAGED behind column boundaries — the
    fast path every pipeline consumer uses.  Three selects: words →
    word-hashes → shingle fold, so the normalize/split/hash work runs
    exactly once per row no matter how many times downstream references
    the arrays (the round-5 lambda-CSE lesson: Spark eliminates no
    common subexpression that contains a lambda, and the window fold
    references the word-hash array ~2n+1 times).  ``CollapseProject``
    keeps the boundaries (non-cheap exprs, multiply referenced).

    Returns ``df`` narrowed to ``keep`` + ``out_col``.

    WIDE grams (n > 8) fold in LOG depth: gram-hash arrays for
    power-of-two widths are staged as named columns by doubling
    (g2k[i] = xxhash64(gk[i], gk[i+k])), and width n combines the
    largest power p with itself at offset n−p.  The linear chain
    builds an (n−1)-deep nested zip_with tree whose per-ACTION
    analysis/codegen cost dominates at 13-gram width (measured ~3.3 s
    driver-side vs 0.8 s at n=3 on identical rows); the staged
    doubling is ⌈log2 n⌉ shallow levels.  The wide-gram family is the
    SHARED ``_wide_gram_hashes`` recurrence — ``shingle_hash_array``
    emits the identical family at n > 8 (nested, unstaged), so the
    shingle-hash family is a function of ``n`` alone regardless of
    builder; every n ≤ 8 consumer keeps the original chain
    bit-for-bit."""
    keep = list(keep)
    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda w: w != F.lit("")
    )
    staged = df.select(*keep, words.alias("__w")).select(
        *keep,
        "__w",
        F.transform(F.col("__w"), lambda w: F.xxhash64(w)).alias("__wh"),
    )
    if n > 8:
        cur = staged

        def stage(expr, name):
            # pin the level as a named column (CSE skips lambda-bearing
            # subtrees); the recurrence itself lives in _wide_gram_hashes
            nonlocal cur
            cur = cur.select(*keep, "__w", "__wh", expr.alias(name))
            return F.col(name)

        comb = _wide_gram_hashes(F.col("__wh"), n, stage=stage)
        sh = F.when(
            F.size(F.col("__wh")) < n,
            F.array(F.xxhash64(F.concat_ws(" ", F.col("__w")))),
        ).otherwise(comb)
        return cur.select(*keep, sh.alias(out_col))
    sh = _shingle_hashes_from(F.col("__w"), F.col("__wh"), n)
    return staged.select(*keep, sh.alias(out_col))


def minhash_signature_from_hashes(hash_col, num_hashes: int = 32):
    """MinHash signature over a precomputed shingle-hash array: each
    8-byte hash re-hashes per permutation (``xxhash64(h, j)``) and an
    aggregate folds the element-wise minimum in ONE pass.  All codegen."""
    per_shingle = F.transform(
        hash_col,
        lambda h: F.array(*[F.xxhash64(h, F.lit(j)) for j in range(num_hashes)]),
    )
    max_long = (1 << 63) - 1
    init = F.array(*[F.lit(max_long).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, h: F.zip_with(acc, h, lambda x, y: F.least(x, y)),
    )


def minhash_signature(shingle_col, num_hashes: int = 32):
    """MinHash signature: for permutation j, min over shingles of a
    j-seeded hash.  Array<long> of length num_hashes.

    Two cost levers, both measured on the documents corpus:

    * single pass over the shingles — each shingle expands to its
      ``num_hashes`` permutation hashes once and an aggregate folds an
      element-wise minimum (vs num_hashes × array_min re-scans, ~3×);
    * the variable-length shingle STRING is hashed exactly once;
      permutations j re-hash the resulting 8-byte long
      (``xxhash64(base, j)``), not the string.  String hashing dominates
      signature cost at 32 permutations (~5× on long documents).
    All codegen — no Python on the row path."""
    base = F.transform(shingle_col, lambda s: F.xxhash64(s))
    per_shingle = F.transform(
        base,
        lambda h: F.array(*[F.xxhash64(h, F.lit(j)) for j in range(num_hashes)]),
    )
    max_long = (1 << 63) - 1
    init = F.array(*[F.lit(max_long).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, h: F.zip_with(acc, h, lambda x, y: F.least(x, y)),
    )


def pairs_from_sorted_ids(ids_col):
    """All ordered pairs (a < b by position) from a sorted array, as an
    array<struct<id_a,id_b>> — the posting-list pair enumeration of a
    bucket/inverted index, generated map-side with zero join.  Elements
    may themselves be structs (e.g. (id, set_size)); pair fields keep the
    element type.

    Caller must guarantee ``size(ids) >= 2`` (filter the bucket list
    first): ``sequence`` would run backwards on a singleton."""
    n = F.size(ids_col)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(ids_col, i + 1, n),
                lambda b: F.struct(
                    F.element_at(ids_col, i).alias("id_a"), b.alias("id_b")
                ),
            ),
        )
    )


# posting lists at or below this size enumerate their C(d,2) pairs as one
# map-side array; above it, a single array would hold C(d,2) structs
# (d=8,000 → 32M ≈ heap-killing in one task), so hot lists stream
# through a per-key self-join instead
HOT_POSTING_SIZE = 1024

# simhash buckets beyond THIS size abandon even the streamed C(d,2)
# self-join for one level of complement-bit sub-banding (see
# simhash_candidate_pairs): below it the streamed join's constant
# factors win, beyond it the quadratic term does
SUBBAND_POSTING_SIZE = 8192


def posting_pairs(
    posting: DataFrame, key_cols: list[str], keep_keys: bool = False
) -> DataFrame:
    """Posting lists (key_cols…, ids: sorted array, size ≥ 2) → one row
    per ordered pair (id_a, id_b) per list — skew-adaptively.
    ``keep_keys=True`` carries the posting key columns on each pair row
    (for callers that dedupe by key ownership instead of a distinct).

    Lists up to ``HOT_POSTING_SIZE`` enumerate pairs map-side from the
    array (``pairs_from_sorted_ids`` — zero join, one exchange total).
    Hotter lists re-explode and self-join on the posting key: the
    sort-merge join STREAMS the C(d,2) output through downstream partial
    aggregation instead of materializing it as a single in-task array —
    the difference between "slow but finishes" and an executor OOM when
    a boilerplate shingle appears in 100k documents.  Pair orientation
    (element order ascending) is identical on both paths.

    Duplicate pairs across lists are preserved; callers count or
    ``dropDuplicates`` as their semantics require."""
    # r12 (guide §2 — partition for the work, not the bytes): callers
    # pin the posting table, and AQE coalesces that exchange to
    # byte-balanced partitions — but this operator's output is the
    # C(d,2) EXPANSION of its input, so byte-sizing leaves most of the
    # cluster idle in the heaviest stage (profiled: 12.5M-pair
    # enumeration on 8 of 32 cores; spreading halved the stage wall).
    # No-op whenever the posting table already has >= cluster
    # parallelism partitions — always true at real corpus scale.  The
    # probe is guarded to shuffle-free plans (callers pin the posting
    # table, so the common case is an ExistingRDD scan): probing an
    # unpinned aggregate via .rdd would eagerly materialize its AQE
    # stages (ADVICE r12), and a post-shuffle frame is already at
    # cluster parallelism anyway.
    sc = posting.sparkSession.sparkContext
    if (
        not _plan_has_shuffle(posting)
        and posting.rdd.getNumPartitions() < sc.defaultParallelism
    ):
        posting = posting.repartition(sc.defaultParallelism)
    out_cols = [*key_cols, "id_a", "id_b"] if keep_keys else ["id_a", "id_b"]
    small = posting.filter(F.size("ids") <= HOT_POSTING_SIZE)
    hot = posting.filter(F.size("ids") > HOT_POSTING_SIZE)
    small_pairs = small.select(
        *key_cols, F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p")
    ).select(*key_cols, "p.id_a", "p.id_b").select(*out_cols)
    ex = hot.select(*key_cols, F.explode("ids").alias("v"))
    left = ex.select(*key_cols, F.col("v").alias("id_a")).alias("l")
    right = ex.select(*key_cols, F.col("v").alias("id_b")).alias("r")
    # null-SAFE key equality (<=> plans as a sort-merge equi-join key
    # same as =): the small path's groupBy keeps NULL-keyed groups, so
    # a NULL group that crosses HOT_POSTING_SIZE must keep its pairs
    # too rather than silently losing them to null-unsafe `=`
    cond = None
    for k in key_cols:
        c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = c if cond is None else (cond & c)
    hot_pairs = (
        left.join(right, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*[F.col(f"l.{k}") for k in key_cols], "id_a", "id_b")
        .select(*out_cols)
    )
    return small_pairs.unionByName(hot_pairs)


def _bucket_pairs(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(id, key...) → distinct candidate pairs (id_a, id_b) sharing a key.

    One exchange on the bucket key builds the posting lists; pairs are
    enumerated skew-adaptively (``posting_pairs``) — map-side from each
    list for normal buckets (vs the classic inverted-index SELF-JOIN,
    which shuffles the index twice and materializes the join hash
    relation; measured ~2× on the documents corpus), streamed through a
    per-key join for degenerate hot buckets.  A bucket of d docs still
    yields O(d²) pairs — that blowup is inherent to the candidate
    semantics; cost knobs (``max_df``, band width) belong to the
    callers."""
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = pin(buckets)
    return posting_pairs(buckets, key_cols).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH: candidates from banded
    signature buckets, verified with exact shingle-set jaccard.

    Plan shape at scale: one narrow projection computes (id, signature,
    shingle-hash set); band buckets shuffle only (band, band_hash, id);
    candidate pairs are enumerated per bucket posting list (no
    self-join); exact jaccard joins the hash sets onto the (small)
    candidate set — the raw text never reaches a shuffle.  The two
    consumers (banding, verification) recompute the projection from the
    same reused exchange rather than caching it: columnar caching of
    array columns measured ~20× slower than the recompute."""
    rows_per_band = num_hashes // bands
    base = with_shingle_hashes(
        _spread_input(df, id_col, text_col).select(
            F.col(id_col).alias("id"), F.col(text_col)
        ),
        text_col,
        shingle_n,
        out_col="__sh",
        keep=("id",),
    ).select(
        "id",
        F.array_distinct(F.col("__sh")).alias("shingle_hashes"),
        minhash_signature_from_hashes(F.col("__sh"), num_hashes).alias("sig"),
    )

    banded = base.select(
        F.col("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.band_hash")

    cand = _bucket_pairs(banded, ["band", "band_hash"])
    sets = base.select("id", "shingle_hashes")
    pairs = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("shingle_hashes").alias("sh_a")
        ),
        "id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("shingle_hashes").alias("sh_b")
        ),
        "id_b",
    )

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# modulus of the md5-seeded universal hash family: the Mersenne prime
# 2^31 − 1, so (a·x + b) stays under 2^62 for 31-bit x and the whole
# derivation is exact signed-64 arithmetic in ANY SQL engine
MD5_MINHASH_PRIME = 2147483647


def md5_universal_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) for the md5-seeded universal hash family
    h_j(x) = (a_j·x + b_j) mod (2^31 − 1).  Shared with the SQL oracle
    generator so both engines derive the identical permutations."""
    p = MD5_MINHASH_PRIME
    a = [((j * 2654435761 + 1) % p) or 1 for j in range(num_hashes)]
    b = [(j * 40503 * 65537 + 17) % p for j in range(num_hashes)]
    return a, b


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over an ENGINE-NEUTRAL hash family —
    every step is reproducible in any SQL engine, so the WHOLE pipeline
    (signatures, band buckets, candidates, verification) is oracle-
    checkable.  The xxhash64 variant (``minhash_lsh_pairs``) is the
    production path.

    Hash family (round 9 — was num_hashes md5s per SHINGLE, the
    catalog's most expensive sf1 entry at 26 s): ONE md5 per shingle
    seeds x = int(hex[0:15]) mod 2^31, and permutation j is the
    universal hash (a_j·x + b_j) mod (2^31 − 1) with fixed coefficients
    (``md5_universal_coeffs``) — integer-exact on both engines, 16×
    less digest work, same collision math (min over a universal family
    is a textbook MinHash).  Verification jaccard runs over the HASHED
    shingle sets (both engines hash identically, so set equality is
    preserved modulo identical md5 collisions): candidate pairs join
    ``array<long>`` instead of ~50-char shingle-string arrays.

    Same plan shape as the fast variant: bucket posting lists → map-side
    pair enumeration → exact-jaccard verification join.  The hashed-set
    base is pinned: banding + both verification legs are three plan
    consumers (the r9 posting-table lesson)."""
    if num_hashes % bands:
        # the SQL twin bands by j // rows_per_band — a remainder would
        # give it an extra partial band the engine silently drops,
        # diverging the two pipelines
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    p = MD5_MINHASH_PRIME
    a_c, b_c = md5_universal_coeffs(num_hashes)
    sh_arr = F.array_distinct(shingles(F.col(text_col), shingle_n))
    base = pin(
        _spread_input(df, id_col, text_col)
        .select(F.col(id_col).alias("id"), sh_arr.alias("sh"))
        .select(
            "id",
            F.array_distinct(
                F.transform(
                    F.col("sh"),
                    lambda s: F.pmod(
                        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                            "long"
                        ),
                        F.lit(2**31),
                    ),
                )
            ).alias("xs"),
        )
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("xs"),
                    lambda x: (F.lit(a_c[j]) * x + F.lit(b_c[j])) % F.lit(p),
                )
            )
            for j in range(num_hashes)
        ]
    )
    banded = (
        base.select("id", sig.alias("__sig"))
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    F.transform(
                                        F.slice(
                                            F.col("__sig"),
                                            b * rows_per_band + 1,
                                            rows_per_band,
                                        ),
                                        lambda v: v.cast("string"),
                                    ),
                                )
                            ).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", "bb.band", "bb.band_hash")
    )
    cand = _bucket_pairs(banded, ["band", "band_hash"])
    sets = base
    pairs = cand.join(
        sets.select(F.col("id").alias("id_a"), F.col("xs").alias("xs_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("xs").alias("xs_b")), "id_b")
    inter = F.size(F.array_intersect("xs_a", "xs_b"))
    jac = inter / (F.size("xs_a") + F.size("xs_b") - inter)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram jaccard via shingle inverted index: explode distinct
    shingle hashes, self-join on shingle (the inverted-index join), count
    common shingles per pair, compute |A∩B| / (|A|+|B|−|A∩B|).

    Unlike the LSH path this is exact, and still never all-pairs: only
    pairs sharing ≥1 shingle meet in the join.

    ``max_df`` drops shingles occurring in more than that many documents
    BEFORE the join — a shingle in d docs contributes O(d²) candidate
    pairs, so hot shingles dominate cost at corpus scale.  Jaccard is
    then over the filtered shingle sets (an explicit semantic change,
    which is why it's a parameter and not a default)."""
    sh = with_shingle_hashes(
        _spread_input(df, id_col, text_col).select(
            F.col(id_col).alias("id"), F.col(text_col)
        ),
        text_col,
        shingle_n,
        out_col="__sh",
        keep=("id",),
    ).select("id", F.array_distinct(F.col("__sh")).alias("hashes"))
    if prefix_filter and max_df is None:
        # THREE consumers read the shingle projection on this branch
        # (the inverted index and both verification legs), and nothing
        # below shares an exchange — unpinned, the corpus is scanned
        # and re-shingled once per consumer (the simhash posting-bucket
        # lesson, r8).  Pin it once; on clusters without a checkpoint
        # dir `pin` is an identity and the plan degrades to exactly the
        # old shape.  The counting path below has exactly one consumer
        # of the projection, so it stays unpinned.
        sh = pin(sh)
    inv = sh.select("id", F.size("hashes").alias("n"), F.explode("hashes").alias("h"))
    if prefix_filter and max_df is None:
        # PPJoin-style prefix filtering, EXACT result: under a global
        # shingle order (ascending document frequency, hash tiebreak) two
        # sets with jaccard >= t must both index a shared shingle within
        # their first |X| - ceil(t*|X|) + 1 entries.  Indexing only those
        # prefixes drops each doc's most frequent shingles — exactly the
        # d² candidate-blowup offenders — while the verification join
        # still computes jaccard over the FULL sets.
        from pyspark.sql.window import Window

        sets = sh
        # document frequency as a COUNT window, not groupBy+join-back:
        # the join-back branch re-scans and re-shingles the corpus
        # (pruning defeats ReuseExchange — see the max_df branch below)
        ranked = inv.withColumn(
            "dfc", F.count(F.lit(1)).over(Window.partitionBy("h"))
        ).withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("dfc", "h")
            ),
        )
        prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        pruned = ranked.filter(F.col("rn") <= prefix_len).select("id", "h")
        posting = (
            pruned.groupBy("h")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        # posting_pairs has THREE plan consumers of the posting table
        # (the small-list leg + both sides of the hot-list self-join),
        # and ReuseExchange dedups only the shuffle below the aggregate
        # — unpinned, the two-window + collect_list pipeline executed 3×
        # (visible as three copies in the executed plan; the simhash
        # posting-bucket tax, r8).  Candidate-pruning filters measured
        # as a NEGATIVE result here (PERF.md round 9): at t=0.1 the
        # PPJoin size-ratio and suffix-count bounds prune <2% of
        # candidates — prefix slack ceil(t·n)−1 per side already covers
        # the required overlap at these set sizes.
        posting = pin(posting)
        cand = posting_pairs(posting, ["h"]).dropDuplicates(["id_a", "id_b"])
        pairs = cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("hashes").alias("ha")),
            "id_a",
        ).join(
            sets.select(F.col("id").alias("id_b"), F.col("hashes").alias("hb")),
            "id_b",
        )
        inter = F.size(F.array_intersect("ha", "hb"))
        jac = inter / (F.size("ha") + F.size("hb") - inter)
        return (
            pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if max_df is not None:
        # post-filter set sizes differ from size(hashes): recount per
        # doc.  Both the cap and the recount are unbounded COUNT windows
        # over one lineage — the groupBy + join-back form re-scans and
        # re-shingles the corpus per branch (pruning defeats
        # ReuseExchange), and the counters+anti-join alternative (which
        # keeps hot rows off the wire) measured slower still on both
        # corpus shapes because the extra shingle pass costs more than
        # shuffling the boilerplate rows once (PERF.md).  Window buffers
        # spill rather than OOM on a hot key.
        from pyspark.sql.window import Window

        inv = (
            inv.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("h"))
            )
            .filter(F.col("__df") <= max_df)
            .drop("__df", "n")
            .withColumn(
                "n", F.count(F.lit(1)).over(Window.partitionBy("id"))
            )
        )

    # posting lists per shingle → skew-adaptive pair enumeration → count
    # common shingles per pair.  vs the classic inverted-index self-join:
    # one exchange of (h, id) instead of two and no join build for normal
    # shingles; degenerate hot shingles stream through a per-key join
    # (posting_pairs) so no task materializes a C(df,2) array.  The
    # per-doc set size rides INSIDE the posting-list struct, so the
    # jaccard denominator needs no size join at all and the base
    # projection is consumed exactly once (no second shingle
    # computation).
    posting = (
        inv.select(F.struct("id", "n").alias("s"), "h")
        .groupBy("h")
        .agg(F.sort_array(F.collect_list("s")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # pinned for posting_pairs' three plan consumers (small leg + both
    # hot self-join sides) — same re-aggregation tax as the prefix
    # branch above, measured in the executed plan as three copies of
    # the explode + collect_list pipeline
    posting = pin(posting)
    common = (
        posting_pairs(posting, ["h"])
        .groupBy(
            F.col("id_a.id").alias("id_a"),
            F.col("id_a.n").alias("na"),
            F.col("id_b.id").alias("id_b"),
            F.col("id_b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return common.withColumn("jaccard", jac).filter(
        F.col("jaccard") >= threshold
    ).select("id_a", "id_b", "jaccard")


def word_hashes_xx(col):
    """Per-word xxhash64 array for SimHash voting."""
    words = F.filter(F.split(normalize_text(col), " "), lambda w: w != F.lit(""))
    return F.transform(words, lambda w: F.xxhash64(w))


def word_hashes_md5(col):
    """Per-word 60-bit md5-derived hash array (engine-neutral twin)."""
    words = F.filter(F.split(normalize_text(col), " "), lambda w: w != F.lit(""))
    return F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )


def simhash_from_hashes(hashes, bits: int = 64):
    """SimHash bit voting over a word-hash array: each bit votes ±1,
    majority sign per bit packs back into a long.  Bit masks are
    Python-side literals (disjoint masks, summed == OR'd).

    IMPORTANT: pass a materialized COLUMN, not the hashing expression —
    the ``bits`` filter passes each reference ``hashes``, and Spark's
    subexpression elimination skips lambda-bearing subtrees, so an
    inline transform would re-hash every word once per bit (measured:
    the md5 fingerprint projection alone ~60× the necessary work).
    ``simhash_pairs``/``simhash_pairs_md5`` stage the array behind a
    projection boundary, which ``CollapseProject`` keeps (non-cheap
    expression, referenced ``bits`` times).

    Pass the staged column's NAME (a ``str``) for the fast path: the
    64-term vote is then built as ONE SQL string (one py4j call instead
    of ~1000 — the pq_encode lesson) and uses ``if()`` + a flat sum
    instead of the per-term ``when().cast()`` chain, whose 64 nested
    casts codegen'd ~6× slower (measured 3.8 → 0.6 s on the sf0.01
    fingerprint projection; bit-identical results either way)."""
    if isinstance(hashes, str):
        name = quote_ident(hashes)
        terms = []
        for b in range(bits):
            # shiftleft(1L, 63) wraps to the long min value — exactly
            # the two's-complement mask the Column path uses
            m = f"shiftleft(1L, {b})"
            terms.append(
                f"if(size(filter({name}, h -> (h & {m}) <> 0)) * 2"
                f" > size({name}), {m}, 0L)"
            )
        return F.expr("cast(0 as bigint) + " + " + ".join(terms))
    n = F.size(hashes)

    def bit_set(m):
        # closure factory (not a 2-param lambda: Spark would bind the
        # element index to the second parameter)
        return lambda h: h.bitwiseAND(F.lit(m)) != 0

    total = F.lit(0).cast("long")
    for b in range(bits):
        # two's complement: bit 63's mask is the long min value
        m = (1 << b) if b < 63 else -(1 << 63)
        set_count = F.size(F.filter(hashes, bit_set(m)))
        total = total + F.when(set_count * 2 > n, F.lit(m)).otherwise(
            F.lit(0)
        ).cast("long")
    return total


def simhash_md5_from_hashes(hashes, bits: int = 60):
    """Bit voting for the md5 hash family (shift-and-test per bit; 60
    bits keeps every intermediate in signed-64 range on any engine).
    Same staging contract — and same ``str``-name SQL fast path — as
    ``simhash_from_hashes``."""
    if isinstance(hashes, str):
        name = quote_ident(hashes)
        terms = []
        for b in range(bits):
            terms.append(
                f"if(size(filter({name}, h ->"
                f" (shiftrightunsigned(h, {b}) & 1) = 1)) * 2"
                f" > size({name}), shiftleft(1L, {b}), 0L)"
            )
        return F.expr("cast(0 as bigint) + " + " + ".join(terms))
    n = F.size(hashes)

    def bit_set(b):
        return lambda h: F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1

    total = F.lit(0).cast("long")
    for b in range(bits):
        set_count = F.size(F.filter(hashes, bit_set(b)))
        total = total + F.when(set_count * 2 > n, F.lit(1 << b)).otherwise(
            F.lit(0)
        ).cast("long")
    return total


def simhash(col, bits: int = 64):
    """64-bit SimHash computed JVM-side as ONE expression — convenient
    for ad-hoc use; the pair pipelines stage the word-hash array first
    (see ``simhash_from_hashes`` for why)."""
    return simhash_from_hashes(word_hashes_xx(col), bits)


def simhash_md5(col, bits: int = 60):
    """Engine-neutral SimHash: per-word 60-bit hash parsed from the first
    15 hex chars of md5, majority vote per bit, packed back into a long.
    Integer-exact and reproducible in plain SQL — the oracle twin of
    ``simhash`` (whose xxhash64 stays the production path)."""
    return simhash_md5_from_hashes(word_hashes_md5(col), bits)


def band_layout(bits: int, bands: int) -> list[tuple[int, int]]:
    """(shift_offset, width) per band, covering all ``bits`` bits with
    widths as even as possible (the first ``bits % bands`` bands carry the
    extra bit).  Shared with the SQL oracle generator so both engines band
    identically."""
    base, extra = divmod(bits, bands)
    layout, off = [], 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        layout.append((off, w))
        off += w
    return layout


def resolve_bands(
    max_hamming: int, bands: int | None, allow_partial_recall: bool = False
) -> int:
    """Enforce the pigeonhole contract: ``bands`` chunks guarantee that a
    pair within hamming distance < bands shares >=1 chunk, so full recall
    at ``max_hamming`` needs bands > max_hamming.  ``bands=None``
    auto-derives the minimum sound value; an explicit under-provisioned
    bands raises unless the caller opts into partial recall."""
    if bands is None:
        return max_hamming + 1
    if max_hamming >= bands and not allow_partial_recall:
        raise ValueError(
            f"bands={bands} guarantees candidate recall only for hamming <"
            f" {bands}, but max_hamming={max_hamming}: pairs at distance"
            f" {bands}..{max_hamming} would be silently dropped unless they"
            " happen to share a chunk.  Pass bands=None to auto-derive, a"
            " larger bands, or allow_partial_recall=True."
        )
    return bands


def _fp_chunks(fp_df: DataFrame, bits: int, bands: int) -> DataFrame:
    """(id, fp) → one row per (id, band, chunk) under ``band_layout``."""
    return fp_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("chunk"),
                    )
                    for b, (off, w) in enumerate(band_layout(bits, bands))
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.chunk")


def _complement_subchunks(
    bits: int, layout: list[tuple[int, int]], b: int, n_sub: int
) -> list[list[tuple[int, int]]]:
    """Split the bits OUTSIDE band ``b`` into ``n_sub`` near-even
    sub-chunks; each sub-chunk is a list of (start, width) bit pieces
    (at most two — a sub-chunk can straddle the excluded band)."""
    off, w = layout[b]
    comp = [(s, e) for s, e in ((0, off), (off + w, bits)) if e > s]
    total = bits - w
    base, extra = divmod(total, n_sub)
    out: list[list[tuple[int, int]]] = []
    seg_i, seg_pos = 0, comp[0][0]
    for j in range(n_sub):
        need = base + (1 if j < extra else 0)
        pieces: list[tuple[int, int]] = []
        while need > 0:
            s, e = comp[seg_i]
            take = min(e - seg_pos, need)
            pieces.append((seg_pos, take))
            seg_pos += take
            need -= take
            if seg_pos == e and seg_i + 1 < len(comp):
                seg_i += 1
                seg_pos = comp[seg_i][0]
        out.append(pieces)
    return out


def _extract_pieces(fp, pieces: list[tuple[int, int]]):
    """Concatenate (start, width) bit pieces of ``fp`` into one long."""
    val, acc = None, 0
    for s, w in pieces:
        piece = F.shiftrightunsigned(fp, s).bitwiseAND(F.lit((1 << w) - 1))
        piece = F.shiftleft(piece, acc) if acc else piece
        val = piece if val is None else val + piece
        acc += w
    return val


def _extract_pieces_sql(fp_sql: str, pieces: list[tuple[int, int]]) -> str:
    """SQL-text twin of ``_extract_pieces`` (the py4j plan-build-tax
    fix: the sub-banding expressions reference it bands² times, and
    building them as Column ops costs ~9k py4j round-trips ≈ 2 s of
    DRIVER time per plan; one parsed string builds the identical
    tree)."""
    parts, acc = [], 0
    for s, w in pieces:
        p = f"(shiftrightunsigned({fp_sql}, {s}) & {(1 << w) - 1}L)"
        if acc:
            p = f"shiftleft({p}, {acc})"
        parts.append(p)
        acc += w
    return " + ".join(parts)


def simhash_candidate_pairs(
    fp_df: DataFrame,
    max_hamming: int,
    bands: int | None = None,
    bits: int = 64,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """Banded-pigeonhole near-dup pairs over a precomputed (id, fp)
    DataFrame: bucket-join on fingerprint chunks, verify with exact
    popcount.  Recall within the hamming radius is EXACT (property-tested)
    when ``bands > max_hamming`` — the pigeonhole guarantee — which
    ``resolve_bands`` enforces.

    The 8-byte fingerprint rides INSIDE the posting-list element
    (struct<id, fp> — ``pairs_from_sorted_ids`` is element-generic), so
    verification is a map-side popcount on the enumerated pair instead
    of two join-backs onto the fingerprint projection.  On a corpus with
    heavy dup structure the chunk buckets are hot and the candidate set
    is large; not shuffling it twice more (and not recomputing the
    text→fingerprint projection for each join leg) measured ~5× at
    sf0.1.  Pair orientation: structs sort/compare by leading field, so
    (id asc) is preserved exactly as before.

    DEGENERATE buckets (> ``SUBBAND_POSTING_SIZE`` members — a chunk
    value carried by a macroscopic corpus fraction, e.g. the near-zero
    chunk every short document votes) do NOT stream their C(d,2)
    self-join: they recurse ONE level, re-banding members on ``bands``
    sub-chunks of the COMPLEMENT bits.  A true pair in the bucket has
    all <= max_hamming differing bits outside the agreed band, so with
    bands > max_hamming sub-chunks it shares >= 1 sub-chunk (the same
    pigeonhole) — recall stays exact while the quadratic blowup drops
    to the sub-bucket level (residual hot sub-buckets still stream
    through ``posting_pairs``' escape hatch).  Within one (bucket,
    sub-band) a pair occurs at most once, so cross-sub-band duplicates
    are removed by the same minimum-agreeing-ownership filter, nested.

    The threshold sits ABOVE ``HOT_POSTING_SIZE`` deliberately: on the
    sf0.1 corpus (hottest bucket = 34% of docs, 1.7k members) forcing
    sub-banding measured SLOWER than the streamed self-join (7.5 s vs
    4.8 s end-to-end — correlated complement bits mean sub-bucketing
    only halved the pair stream while adding two stages), while on a
    degenerate synthetic bucket past the threshold the quadratic
    streaming term dominates and sub-banding wins outright (PERF.md,
    20k-member bucket: 56 s -> 3 s).  Buckets between the two
    thresholds stream; only the scale-killers recurse.

    Under ``allow_partial_recall`` (bands <= max_hamming) the same
    under-provisioning applies to the sub-bands: a degenerate bucket's
    pair with more than bands-1 differing complement bits can miss
    every sub-chunk where the streamed join would still have found it
    — partial recall is partial one level deeper.  The exact-recall
    configuration (the default) is unaffected."""
    bands = resolve_bands(max_hamming, bands, allow_partial_recall)
    carrier = fp_df.select(
        F.struct(F.col("id"), F.col("fp")).alias("id"), F.col("fp")
    )
    layout = band_layout(bits, bands)
    keyed = _fp_chunks(carrier, bits, bands)
    # PIN the bucket table: it has 3-4 consumers (small/hot split here,
    # plus posting_pairs' own small/hot split), and while ReuseExchange
    # dedups the shuffle, the post-shuffle collect_list AGGREGATE is
    # re-executed per consumer — Spark has no plan-level reuse above the
    # exchange.  One pin (_pin.pin: localCheckpoint in local mode,
    # reliable checkpoint / no-op on a cluster — see its fault-tolerance
    # contract; row-based, NOT the columnar cache
    # that is ~20× slow on array columns) makes every consumer a scan of
    # the materialized posting lists: 5.2 → 3.9 s isolated at sf0.1 for
    # both simhash entries, identical pairs (PERF.md round 8).  The
    # materialization is posting-list-sized (linear in corpus, one row
    # per shared chunk value) vs 3-4 corpus-scale re-aggregations.
    buckets = (
        keyed.groupBy("band", "chunk")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = pin(buckets)
    # sub-banding needs bands non-empty sub-chunks of the complement;
    # with very narrow fingerprints fall back to the streaming path
    can_subband = bits - max(w for _, w in layout) >= bands
    if can_subband:
        # the checkpoint makes this probe a limit-1 scan of materialized
        # posting lists (~50 ms) — and in the COMMON case (no degenerate
        # bucket) it skips building the entire sub-band leg: 2 × bands²
        # CASE branches of parsed SQL (~1 s of driver plan-build at 9
        # bands even after the r7 SQL-string fix) plus its empty stages
        can_subband = (
            buckets.filter(F.size("ids") > SUBBAND_POSTING_SIZE)
            .limit(1)
            .count()
            > 0
        )
    if not can_subband:
        cand = posting_pairs(buckets, ["band", "chunk"], keep_keys=True)
    else:
        small = buckets.filter(F.size("ids") <= SUBBAND_POSTING_SIZE)
        hot = buckets.filter(F.size("ids") > SUBBAND_POSTING_SIZE)
        cand_small = posting_pairs(small, ["band", "chunk"], keep_keys=True)
        subs = {
            b: _complement_subchunks(bits, layout, b, bands)
            for b in range(bands)
        }
        # both the sub-chunk array and the nested-ownership chain below
        # are bands²-sized expression families: emit them as ONE SQL
        # string each (F.expr parses the identical tree) — the py4j
        # plan-build tax measured ~2 s of driver time per plan on the
        # Column-op formulation (~9k gateway round-trips)
        arr_sql = []
        for b in range(bands):
            entries = ", ".join(
                f"named_struct('sub_band', {j}, 'sub_chunk', "
                f"{_extract_pieces_sql('`id`.`fp`', subs[b][j])})"
                for j in range(bands)
            )
            arr_sql.append(f"WHEN band = {b} THEN array({entries})")
        sub_arr = F.expr("CASE " + " ".join(arr_sql) + " END")
        sub_keyed = (
            hot.select("band", "chunk", F.explode("ids").alias("id"))
            .select("band", "chunk", "id", F.explode(sub_arr).alias("sb"))
            .select("band", "chunk", "id", "sb.sub_band", "sb.sub_chunk")
        )
        sub_buckets = (
            sub_keyed.groupBy("band", "chunk", "sub_band", "sub_chunk")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        sub_cand = posting_pairs(
            sub_buckets,
            ["band", "chunk", "sub_band", "sub_chunk"],
            keep_keys=True,
        )
        own_sql = []
        for b in range(bands):
            inner = " ".join(
                f"WHEN ({_extract_pieces_sql('`id_a`.`fp`', subs[b][j])})"
                f" = ({_extract_pieces_sql('`id_b`.`fp`', subs[b][j])})"
                f" THEN {j}"
                for j in range(bands)
            )
            own_sql.append(f"WHEN band = {b} THEN (CASE {inner} END)")
        inner_own = F.expr("CASE " + " ".join(own_sql) + " END")
        # radius check first (one xor + popcount) so the 49-branch
        # nested-ownership chain only evaluates on survivors
        sub_ham = F.bit_count(
            F.col("id_a.fp").bitwiseXOR(F.col("id_b.fp"))
        )
        hot_pairs = (
            sub_cand.filter(sub_ham <= max_hamming)
            .filter(F.col("sub_band") == inner_own)
            .select("band", "chunk", "id_a", "id_b")
        )
        cand = cand_small.unionByName(hot_pairs)
    # Cross-band dedup by MINIMUM-AGREEING-BAND OWNERSHIP, not a
    # distinct: a pair sharing several chunks is enumerated once per
    # agreeing band, but both fingerprints ride the pair row, so "is
    # this the first band whose chunks agree?" is a map-side codegen
    # predicate — replacing the dropDuplicates exchange of the (near-
    # quadratic) candidate stream, the largest intermediate in the
    # plan, with a filter.  Within one band a pair occurs at most once
    # (its chunk is a function of the fingerprint), so ownership is
    # exact.
    #
    # FILTER ORDER matters on the candidate stream (the near-quadratic
    # intermediate: ~5M pairs from 5k docs at sf0.1, 99.7% of which
    # fail the radius): the one-xor-one-popcount hamming test runs
    # FIRST and short-circuits the 7-term shift/mask ownership chain,
    # which then evaluates only on the sparse survivors (CombineFilters
    # keeps the later filter on the right of the fused And).
    fa, fb = F.col("id_a.fp"), F.col("id_b.fp")
    own = None
    for b, (off, w) in enumerate(band_layout(bits, bands)):
        mask = (1 << w) - 1
        agree = (
            F.shiftrightunsigned(fa, off).bitwiseAND(F.lit(mask))
            == F.shiftrightunsigned(fb, off).bitwiseAND(F.lit(mask))
        )
        own = F.when(agree, F.lit(b)) if own is None else own.when(agree, F.lit(b))
    hamming = F.bit_count(F.col("id_a.fp").bitwiseXOR(F.col("id_b.fp")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("band") == own.otherwise(F.lit(-1)))
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            "hamming",
        )
    )


def simhash_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int | None = None,
    bits: int = 60,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs over the md5 hash family — fully oracle-
    checkable (see ``simhash_md5``).  Same banded-pigeonhole candidate
    scheme and posting-list pair enumeration as ``simhash_pairs``."""
    base = (
        _spread_input(df, id_col, text_col)
        .select(
            F.col(id_col).alias("id"),
            word_hashes_md5(F.col(text_col)).alias("__h"),
        )
        .select("id", simhash_md5_from_hashes("__h", bits).alias("fp"))
    )
    return simhash_candidate_pairs(
        base, max_hamming, bands, bits, allow_partial_recall
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int | None = None,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints banded into
    ``max_hamming + 1`` chunks by default, so any pair within the hamming
    radius must agree on >=1 chunk (pigeonhole) → bucket-join on chunks,
    verify with exact popcount.  Full recall within the radius."""
    base = (
        _spread_input(df, id_col, text_col)
        .select(
            F.col(id_col).alias("id"),
            word_hashes_xx(F.col(text_col)).alias("__h"),
        )
        .select("id", simhash_from_hashes("__h").alias("fp"))
    )
    return simhash_candidate_pairs(
        base, max_hamming, bands, 64, allow_partial_recall
    )


# ---------------------------------------------------------------------------
# Materialized near-dup pair graph (the `ivf_open` fingerprint pattern
# applied to text dedup): the shingle inverted-index pair enumeration is
# the one corpus-scale pass of the dedup family, and every
# cluster-composition query (components, keeper policy, savings ledgers)
# probes the SAME pair graph.  Persist it once per corpus state —
# deterministic, so bit-identical to a fresh run and oracle checks hold
# either way.  At 100 TB: one pair enumeration per corpus version, not
# one per downstream query.
# ---------------------------------------------------------------------------


def ngram_pairs_open(
    spark,
    documents: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Load the persisted exact-jaccard pair graph at ``path`` if
    present, else enumerate (``ngram_jaccard_pairs``), persist
    atomically and load (the shared ``similarity.persisted_pairs``
    kernel).  Returns (id_a, id_b, jaccard) exactly as a fresh run
    would."""
    from graphdb_for_drones_spark.operators.similarity import persisted_pairs

    return persisted_pairs(
        spark,
        path,
        lambda: ngram_jaccard_pairs(
            documents, text_col, id_col, shingle_n, threshold
        ),
    )
