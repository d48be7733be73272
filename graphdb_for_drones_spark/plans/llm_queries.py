"""LLM-data-pipeline query catalog: dedup, similarity search, text
analysis over the ``documents`` / ``embeddings`` tables — the
beyond-reference operator families, each with a DuckDB oracle where the
semantics are SQL-expressible (hash-based LSH internals are engine-side
optimizations and get rows-only checks).

Cross-engine determinism rules (same as plans/queries.py):
* jaccard / ratios are integer-derived double divisions — exact on both;
* cosine scores are double folds rounded to 6dp (reduction-order noise
  is ~1e-15, far below the rounding grain);
* the fingerprint is a polynomial char hash, reproducible in any engine
  (production variant would be one xxhash64 codegen op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.catalog import Catalog
from graphdb_for_drones_spark.functions.crypto import (
    HAVE_CRYPTOGRAPHY,
    make_keypair,
    sign_ed25519_udf,
    verify_ed25519_udf,
)
from graphdb_for_drones_spark.operators import _index_store
from graphdb_for_drones_spark.operators import dedup as D
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.operators import similarity as S
from graphdb_for_drones_spark.operators import text as T

# --------------------------------------------------------------------- #
# dedup family
# --------------------------------------------------------------------- #


def q_doc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup summary: total vs unique contents vs duplicated groups."""
    cat = Catalog(spark, sf_dir)
    per_text = cat.documents.groupBy("text").agg(F.count(F.lit(1)).alias("cnt"))
    return per_text.agg(
        F.sum("cnt").alias("n_total"),
        F.count(F.lit(1)).alias("n_unique"),
        F.count_if(F.col("cnt") > 1).alias("n_dup_groups"),
    )


ORACLE_DOC_DEDUP_STATS = """
SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
       COUNT(*) AS n_unique,
       CAST(COUNT(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_dup_groups
FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY text)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram jaccard ≥ 0.1 (inverted-index
    join — engine hashes shingles, oracle joins shingle strings; equal
    modulo 64-bit hash collisions)."""
    cat = Catalog(spark, sf_dir)
    return D.ngram_jaccard_pairs(cat.documents, threshold=0.1).select(
        "id_a", "id_b", "jaccard"
    )


ORACLE_NGRAM_JACCARD = r"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, len(list_distinct(sh)) AS n, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, n, unnest(sh) AS g FROM ds),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, inter * 1.0 / (na + nb - inter) AS jaccard
FROM c WHERE inter * 1.0 / (na + nb - inter) >= 0.1
"""


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path variant: shingles above document-frequency 50 are
    dropped before the inverted-index join (hot-shingle d² candidate
    blowup control); jaccard over the filtered sets."""
    cat = Catalog(spark, sf_dir)
    return D.ngram_jaccard_pairs(
        cat.documents, threshold=0.1, max_df=50
    ).select("id_a", "id_b", "jaccard")


ORACLE_NGRAM_JACCARD_CAPPED = r"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
keep AS (SELECT g FROM ds GROUP BY g HAVING COUNT(*) <= 50),
inv AS (SELECT doc_id, g FROM ds JOIN keep USING (g)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.1
"""


def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact jaccard: identical RESULT to
    ``ngram_jaccard`` (same oracle SQL proves it), but the inverted index
    holds only each document's |X| - ceil(t|X|) + 1 rarest shingles — the
    hot-shingle d² candidate blowup never enters the pair enumeration.
    The scale path for exact all-pairs similarity."""
    cat = Catalog(spark, sf_dir)
    return D.ngram_jaccard_pairs(
        cat.documents, threshold=0.1, prefix_filter=True
    ).select("id_a", "id_b", "jaccard")


def _exact_dup_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b) pairs of documents with IDENTICAL raw text — the
    guaranteed-recall subset every hash family must find (identical text
    ⇒ identical shingle sets / word multisets ⇒ identical signatures /
    fingerprints ⇒ same bucket in every band, and the banding schemes
    are exact-recall).  Keyed on md5(text) so the join shuffles a 32-hex
    key, never the full text (at 100 TB the text column stays in the
    scan); dup groups are small, so the per-key C(c,2) expansion is
    bounded."""
    keyed = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("id"), F.md5("text").alias("__k")
    )
    return (
        keyed.select(F.col("id").alias("id_a"), "__k")
        .join(keyed.select(F.col("id").alias("id_b"), "__k"), "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _one(df: DataFrame) -> DataFrame:
    # single-row sub-aggregate → broadcastable keyed row (join on the
    # literal key compiles to a BroadcastHashJoin, not a nested loop)
    return F.broadcast(df.withColumn("__k", F.lit(1)))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dups over the production xxhash64 family,
    ORACLE-PAIRED via the invariant pattern (`doc_pack_greedy_stats`
    precedent; VERDICT r8 #5).  The banded candidate step is
    engine-internal (xxhash64 isn't SQL-reproducible — the md5 twin
    `minhash_pairs_md5` oracle-checks the identical pipeline shape
    end-to-end), so this entry lays SQL-exact values beside booleans the
    oracle asserts TRUE; any kernel bug flips one and hash-mismatches
    the driver row:

    * ``n_docs`` / ``n_exact_dup_pairs`` — SQL-exact corpus facts (dup
      pairs = identical raw text, counted over md5(text) groups);
    * ``finds_all_exact_dups`` — identical texts have identical
      signatures, hence collide in EVERY band: zero such pairs may be
      missing from the output (guaranteed recall floor);
    * ``pairs_ordered`` / ``pairs_distinct`` — id_a < id_b, no dup rows;
    * ``above_threshold`` / ``jaccard_le_one`` — every emitted pair's
      verified jaccard ∈ [0.3, 1];
    * ``verified_exact_jaccard`` — each output pair's jaccard equals the
      shingle-set jaccard recomputed from the raw text by an independent
      join (catches candidate/verification wiring bugs).

    All checks are output-sized or linear — no quadratic leg; the timed
    plan still runs the full production pair enumeration."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    # the kernel output feeds BOTH the verification join and the
    # exact-dup recall probe, and the independent shingle-set projection
    # feeds both join legs — unpinned, the full pair enumeration and the
    # corpus re-shingle each run twice (r9: the invariant legs doubled
    # the entry's cost at sf1)
    mh = pin(D.minhash_lsh_pairs(docs, jaccard_threshold=0.3))
    # r13 (guide §2): the independent shingle-set projection re-shingled
    # the corpus on the single-split scan; spread first (same raw-text
    # derivation, just parallel; no-op at real corpus scale)
    sets = pin(
        D.with_shingle_hashes(
            D._spread_input(docs, "doc_id", "text").select(
                F.col("doc_id").alias("id"), "text"
            ),
            "text",
            3,
            out_col="__sh",
            keep=("id",),
        ).select("id", F.array_distinct("__sh").alias("__sh"))
    )
    pairs = mh.join(
        sets.select(F.col("id").alias("id_a"), F.col("__sh").alias("sh_a")),
        "id_a",
    ).join(
        sets.select(F.col("id").alias("id_b"), F.col("__sh").alias("sh_b")),
        "id_b",
    )
    recomputed = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    ver = pairs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.struct("id_a", "id_b")).alias("__nd"),
        F.min(F.col("id_b") - F.col("id_a")).alias("__mind"),
        F.min("jaccard").alias("__minj"),
        F.max("jaccard").alias("__maxj"),
        F.max(F.abs(F.col("jaccard") - recomputed)).alias("__maxdev"),
    )
    probe = _exact_dup_pairs(docs).join(
        mh.select("id_a", "id_b").withColumn("__hit", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    dstats = probe.agg(
        F.count(F.lit(1)).alias("__ndup"),
        F.count_if(F.col("__hit").isNull()).alias("__nmiss"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    t = F.lit(True)
    return (
        _one(total)
        .join(_one(dstats), "__k")
        .join(_one(ver), "__k")
        .select(
            "n_docs",
            F.col("__ndup").cast("long").alias("n_exact_dup_pairs"),
            (F.col("__nmiss") == 0).alias("finds_all_exact_dups"),
            F.coalesce(F.col("__mind") > 0, t).alias("pairs_ordered"),
            (F.col("__n") == F.col("__nd")).alias("pairs_distinct"),
            F.coalesce(F.col("__minj") >= 0.3, t).alias("above_threshold"),
            F.coalesce(F.col("__maxj") <= 1.0, t).alias("jaccard_le_one"),
            F.coalesce(F.col("__maxdev") < 1e-12, t).alias(
                "verified_exact_jaccard"
            ),
        )
    )


ORACLE_MINHASH_PAIRS = """
WITH dup AS (
  SELECT COUNT(*) AS c FROM documents
  WHERE text IS NOT NULL GROUP BY md5(text)
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       CAST(COALESCE((SELECT SUM((c * (c - 1)) // 2) FROM dup), 0) AS BIGINT)
         AS n_exact_dup_pairs,
       TRUE AS finds_all_exact_dups,
       TRUE AS pairs_ordered,
       TRUE AS pairs_distinct,
       TRUE AS above_threshold,
       TRUE AS jaccard_le_one,
       TRUE AS verified_exact_jaccard
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (64-bit xxhash family, hamming ≤ 6),
    ORACLE-PAIRED via the same invariant pattern as `minhash_pairs`
    (VERDICT r8 #5; the md5 twin `simhash_pairs_md5` oracle-checks the
    pipeline shape).  SQL-exact corpus facts beside oracle-asserted
    booleans:

    * ``finds_all_exact_dups`` — identical texts fingerprint
      identically (hamming 0) and the pigeonhole banding has FULL
      recall within the radius, so zero such pairs may be missing;
    * ``hamming_within_max`` — every emitted pair ≤ 6;
    * ``hamming_verified`` — each pair's hamming equals
      popcount(fp_a XOR fp_b) over fingerprints recomputed from the raw
      text by an independent join;
    * ``pairs_ordered`` / ``pairs_distinct`` — id_a < id_b, no dups."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    # pinned for the same two-consumer reason as q_minhash_pairs: sp
    # feeds the verification join AND the recall probe, fps feeds both
    # join legs — the independence of the recomputation is unchanged
    # (fps still derives from raw text, not from the kernel)
    sp = pin(D.simhash_pairs(docs, max_hamming=6))
    # r13 (guide §2): the recomputed-fingerprint leg folded 64 bit votes
    # per doc on the single-split scan (profiled: 1-task 1.1 s CPU
    # stage); spread the projection first — same raw-text derivation,
    # just parallel, and a no-op at real corpus scale
    fps = pin(
        D._spread_input(docs, "doc_id", "text")
        .select(
            F.col("doc_id").alias("id"),
            D.word_hashes_xx(F.col("text")).alias("__h"),
        )
        .select("id", D.simhash_from_hashes("__h").alias("fp"))
    )
    pairs = sp.join(
        fps.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a")),
        "id_a",
    ).join(
        fps.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b")),
        "id_b",
    )
    recomputed = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    ver = pairs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.struct("id_a", "id_b")).alias("__nd"),
        F.min(F.col("id_b") - F.col("id_a")).alias("__mind"),
        F.max("hamming").alias("__maxh"),
        F.max(F.abs(F.col("hamming") - recomputed)).alias("__maxdev"),
    )
    probe = _exact_dup_pairs(docs).join(
        sp.select("id_a", "id_b").withColumn("__hit", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    dstats = probe.agg(
        F.count(F.lit(1)).alias("__ndup"),
        F.count_if(F.col("__hit").isNull()).alias("__nmiss"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    t = F.lit(True)
    return (
        _one(total)
        .join(_one(dstats), "__k")
        .join(_one(ver), "__k")
        .select(
            "n_docs",
            F.col("__ndup").cast("long").alias("n_exact_dup_pairs"),
            (F.col("__nmiss") == 0).alias("finds_all_exact_dups"),
            F.coalesce(F.col("__mind") > 0, t).alias("pairs_ordered"),
            (F.col("__n") == F.col("__nd")).alias("pairs_distinct"),
            F.coalesce(F.col("__maxh") <= 6, t).alias("hamming_within_max"),
            F.coalesce(F.col("__maxdev") == 0, t).alias("hamming_verified"),
        )
    )


ORACLE_SIMHASH_PAIRS = """
WITH dup AS (
  SELECT COUNT(*) AS c FROM documents
  WHERE text IS NOT NULL GROUP BY md5(text)
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       CAST(COALESCE((SELECT SUM((c * (c - 1)) // 2) FROM dup), 0) AS BIGINT)
         AS n_exact_dup_pairs,
       TRUE AS finds_all_exact_dups,
       TRUE AS pairs_ordered,
       TRUE AS pairs_distinct,
       TRUE AS hamming_within_max,
       TRUE AS hamming_verified
"""


def q_simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable SimHash (md5-derived 60-bit fingerprints): the
    DuckDB twin reproduces fingerprints, band buckets, candidates and
    hamming verification with exact integer arithmetic."""
    cat = Catalog(spark, sf_dir)
    return D.simhash_pairs_md5(cat.documents, max_hamming=6)


def _simhash_md5_oracle_sql(
    bits: int = 60, bands: int | None = None, max_hamming: int = 6
) -> str:
    # 15 hex chars → BIGINT via integer shifts (no doubles: 16**k loses
    # exactness past 2^52)
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(x), i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    votes = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, v -> (v >> {b}) & 1 = 1)) > len(hs)"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    # same pigeonhole-sound band derivation + uneven-width layout as the
    # engine (dedup.resolve_bands / dedup.band_layout) — both sides band
    # identically by construction
    bands = D.resolve_bands(max_hamming, bands)
    layout_rows = ", ".join(
        f"({b}, {off}, {(1 << w) - 1})"
        for b, (off, w) in enumerate(D.band_layout(bits, bands))
    )
    return rf"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                w -> w <> '') AS w
  FROM documents
),
h AS (
  SELECT doc_id, list_transform(w, x -> {hex_to_int}) AS hs FROM d
),
fp AS (
  SELECT doc_id, CAST({votes} AS BIGINT) AS fp FROM h
),
layout(band, off, mask) AS (VALUES {layout_rows}),
chunks AS (
  SELECT doc_id, band, (fp >> off) & mask AS chunk
  FROM fp CROSS JOIN layout
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunks a JOIN chunks b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
FROM cand JOIN fp fa ON fa.doc_id = id_a JOIN fp fb ON fb.doc_id = id_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= {max_hamming}
"""


ORACLE_SIMHASH_PAIRS_MD5 = _simhash_md5_oracle_sql()


def q_minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable MinHash-LSH: md5-hex hash family, so the
    DuckDB oracle reproduces the FULL pipeline — signatures, band
    buckets, candidate generation AND verification — not just the final
    pairs.  (The xxhash64 variant stays the production/bench path.)"""
    cat = Catalog(spark, sf_dir)
    return D.minhash_lsh_pairs_md5(cat.documents, jaccard_threshold=0.3)


def _minhash_md5_oracle_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.3
) -> str:
    # mirrors minhash_lsh_pairs_md5 step for step: shingles → one md5
    # per shingle → 31-bit seed → universal-hash per-permutation mins →
    # band digests over the int signature → bucket pairs → exact
    # jaccard over the hashed shingle sets.  Coefficients come from the
    # SAME md5_universal_coeffs the engine uses, so both engines derive
    # identical permutations; every step is exact integer arithmetic.
    if num_hashes % bands:
        # GROUP BY j // rows_per_band would mint an extra partial band
        # the engine doesn't build (same guard as the engine side)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    a_c, b_c = D.md5_universal_coeffs(num_hashes)
    coeff_rows = ", ".join(
        f"({j}, {a_c[j]}, {b_c[j]})" for j in range(num_hashes)
    )
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(g), i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return rf"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
xs AS (
  SELECT doc_id,
         list_distinct(list_transform(list_distinct(sh),
                                      g -> {hex_to_int} % 2147483648)) AS xs
  FROM s
),
coeff(j, a, b) AS (VALUES {coeff_rows}),
sigs AS (
  SELECT doc_id, j, MIN((a * x + b) % {D.MD5_MINHASH_PRIME}) AS mh
  FROM (SELECT doc_id, unnest(xs) AS x FROM xs)
  CROSS JOIN coeff
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, CAST(j // {rows_per_band} AS INTEGER) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)) AS band_hash
  FROM sigs GROUP BY doc_id, j // {rows_per_band}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
jc AS (
  SELECT id_a, id_b,
         len(list_intersect(xa.xs, xb.xs)) * 1.0 /
           (len(xa.xs) + len(xb.xs) - len(list_intersect(xa.xs, xb.xs)))
           AS jaccard
  FROM cand
  JOIN xs xa ON xa.doc_id = id_a
  JOIN xs xb ON xb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM jc WHERE jaccard >= {threshold}
"""


ORACLE_MINHASH_PAIRS_MD5 = _minhash_md5_oracle_sql()


# --------------------------------------------------------------------- #
# text analysis family
# --------------------------------------------------------------------- #


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c = F.col("text")
    # token arrays staged once (lambda-CSE: inline tokens() would
    # re-tokenize per reference); values identical to the inline forms
    return cat.documents.select(
        "doc_id", c, T.tokens(F.lower(c)).alias("__tl")
    ).select(
        "doc_id",
        T.token_count(c).alias("n_tokens"),
        F.round(T.stopword_ratio_from_tokens(F.col("__tl")), 6).alias(
            "stopword_ratio"
        ),
        F.round(T.punct_ratio(c), 6).alias("punct_ratio"),
    )


ORACLE_DOC_TOKEN_STATS = r"""
SELECT doc_id,
  len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
    AS n_tokens,
  ROUND(CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) > 0 THEN
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        t -> t IN ('the','a','of','and','in','to','is')))
    * 1.0 /
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> ''))
    ELSE 0.0 END, 6) AS stopword_ratio,
  ROUND(CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
    * 1.0 / length(text) ELSE 0.0 END, 6) AS punct_ratio
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score pre-filter stats per language: the cheap composite
    heuristic (length / stopword / punctuation) that gates docs before
    model-based scoring in a training-data pipeline."""
    cat = Catalog(spark, sf_dir)
    c = F.col("text")
    staged = cat.documents.select(
        "lang",
        T.tokens(c).alias("__t"),
        T.tokens(F.lower(c)).alias("__tl"),
        T.punct_ratio(c).alias("__pr"),
    )
    q = T.quality_score_parts(
        F.size(F.col("__t")).cast("long"),
        T.stopword_ratio_from_tokens(F.col("__tl")),
        F.col("__pr"),
    )
    return (
        staged.select("lang", q.alias("q"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("q") >= 0.5).alias("n_pass"),
            (
                F.sum(F.col("q").cast("decimal(10,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_q"),
        )
    )


# replicates quality_score exactly: identical double arithmetic on both
# engines (int-derived ratios, *5 / *4 / /3, final round 6)
ORACLE_DOC_QUALITY = r"""
WITH t AS (
  SELECT lang,
    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
      AS n_tok,
    CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) > 0 THEN
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        x -> x IN ('the','a','of','and','in','to','is')))
    * 1.0 /
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))
    ELSE 0.0 END AS sw_ratio,
    CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
    * 1.0 / length(text) ELSE 0.0 END AS p_ratio
  FROM documents
),
q AS (
  SELECT lang,
    ROUND((LEAST(n_tok / 100.0, 1.0)
           + LEAST(sw_ratio * 5, 1.0)
           + GREATEST(1.0 - p_ratio * 4, 0.0)) / 3, 6) AS q
  FROM t
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE q >= 0.5) AS BIGINT) AS n_pass,
       CAST(SUM(CAST(q AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS avg_q
FROM q GROUP BY lang
"""


def q_doc_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


ORACLE_DOC_LANG_SUMMARY = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial content fingerprint per document."""
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fingerprint")
    )


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID prediction counts per predicted language."""
    cat = Catalog(spark, sf_dir)
    # r12 (guide §2): spread the tokenize+classify CPU; no-op at scale
    return (
        D._spread_input(cat.documents, "text")
        .select(T.tokens(F.lower(F.col("text"))).alias("__tl"))
        .select(T.lang_id_from_tokens(F.col("__tl")).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# tie order mirrors the engine: alphabetical language code wins ties,
# 'und' when no marker hits at all
ORACLE_DOC_LANG_ID = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS w
  FROM documents
),
hits AS (
  SELECT doc_id,
    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS de,
    len(list_filter(w, t -> t IN ('the','and','of','is','with'))) AS en,
    len(list_filter(w, t -> t IN ('el','la','los','y','es'))) AS es,
    len(list_filter(w, t -> t IN ('le','la','les','et','est'))) AS fr,
    len(list_filter(w, t -> t IN ('的','是','了','在','我'))) AS zh
  FROM toks
),
pred AS (
  SELECT CASE
    WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 AND zh = 0 THEN 'und'
    WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
    WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
    WHEN es >= fr AND es >= zh THEN 'es'
    WHEN fr >= zh THEN 'fr'
    ELSE 'zh' END AS pred_lang
  FROM hits
)
SELECT pred_lang, COUNT(*) AS n FROM pred GROUP BY pred_lang
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION: confusion matrix of the marker-word
    classifier against the corpus's labeled ``lang`` column — per
    (true, predicted) doc counts and the within-true-language share
    (row-normalized recall).  The eval loop a lang-ID gate needs before
    trusting the classifier on an unlabeled crawl.  Plan: one scan
    computing the prediction map-side, one (lang, pred) count shuffle,
    share via an unbounded window over the true language (reuses the
    count exchange — the count-per-key window rule)."""
    counts = _lang_pred_counts(Catalog(spark, sf_dir))
    tot = F.sum("n_docs").over(Window.partitionBy("lang"))
    return counts.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / tot, 9).alias("share"),
    )


def _lang_pred_counts(cat: Catalog) -> DataFrame:
    """(true lang, predicted lang, doc count) — the shared half of the
    confusion matrix and the kappa agreement entry: one scan computing
    the prediction map-side, one (lang, pred) count shuffle."""
    pred = cat.documents.select(
        "lang", T.tokens(F.lower(F.col("text"))).alias("__tl")
    ).select("lang", T.lang_id_from_tokens(F.col("__tl")).alias("pred_lang"))
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def q_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the marker-word lang-ID classifier against the
    labeled ``lang`` column — chance-corrected agreement, the one-number
    companion to `lang_id_confusion` (accuracy alone flatters a
    classifier on a skewed language mix).  Shares that entry's
    (lang, pred) count pipeline; everything after is
    |langs|²-row arithmetic: κ = (diag·N − Σ_k row_k·col_k) /
    (N² − Σ_k row_k·col_k), kept in exact DECIMAL(38,0) integer
    products until ONE final double division (the n²-scale products
    overflow int64 at ~1e10 docs, hence decimal), so the statistic is
    driver-hash-exact.  Degenerate all-one-class corpora (pe = 1)
    return NULL instead of an ANSI 0/0 failure.  Returns one row:
    (n_docs, accuracy, expected_accuracy, kappa)."""
    counts = _lang_pred_counts(Catalog(spark, sf_dir))
    dec = "decimal(38,0)"
    rows = counts.groupBy("lang").agg(F.sum("n_docs").alias("r"))
    cols = counts.groupBy("pred_lang").agg(F.sum("n_docs").alias("c"))
    pe = rows.join(
        cols, rows["lang"] == cols["pred_lang"]
    ).agg(
        F.coalesce(
            F.sum(F.col("r").cast(dec) * F.col("c").cast(dec)),
            F.lit(0).cast(dec),
        ).alias("pe_num")
    )
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.coalesce(
            F.sum(
                F.when(F.col("lang") == F.col("pred_lang"), F.col("n_docs"))
            ),
            F.lit(0),
        ).cast("long").alias("diag"),
    )
    j = tot.crossJoin(F.broadcast(pe))
    n_d = F.col("n").cast(dec)
    diag_d = F.col("diag").cast(dec)
    denom = n_d * n_d - F.col("pe_num")
    return j.select(
        F.col("n").alias("n_docs"),
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("diag").cast("double") / F.col("n").cast("double"), 9
            ),
        ).alias("accuracy"),
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("pe_num").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double")),
                9,
            ),
        ).alias("expected_accuracy"),
        F.when(
            denom > 0,
            F.round(
                (diag_d * n_d - F.col("pe_num")).cast("double")
                / denom.cast("double"),
                9,
            ),
        ).alias("kappa"),
    )


ORACLE_LANG_ID_CONFUSION = r"""
WITH toks AS (
  SELECT lang,
    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS w
  FROM documents
),
hits AS (
  SELECT lang,
    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS de,
    len(list_filter(w, t -> t IN ('the','and','of','is','with'))) AS en,
    len(list_filter(w, t -> t IN ('el','la','los','y','es'))) AS es,
    len(list_filter(w, t -> t IN ('le','la','les','et','est'))) AS fr,
    len(list_filter(w, t -> t IN ('的','是','了','在','我'))) AS zh
  FROM toks
),
pred AS (
  SELECT lang, CASE
    WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 AND zh = 0 THEN 'und'
    WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
    WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
    WHEN es >= fr AND es >= zh THEN 'es'
    WHEN fr >= zh THEN 'fr'
    ELSE 'zh' END AS pred_lang
  FROM hits
),
c AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, n_docs,
       ROUND(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE),
             9) AS share
FROM c
"""


ORACLE_LANG_ID_KAPPA = r"""
WITH toks AS (
  SELECT lang,
    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS w
  FROM documents
),
hits AS (
  SELECT lang,
    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS de,
    len(list_filter(w, t -> t IN ('the','and','of','is','with'))) AS en,
    len(list_filter(w, t -> t IN ('el','la','los','y','es'))) AS es,
    len(list_filter(w, t -> t IN ('le','la','les','et','est'))) AS fr,
    len(list_filter(w, t -> t IN ('的','是','了','在','我'))) AS zh
  FROM toks
),
pred AS (
  SELECT lang, CASE
    WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 AND zh = 0 THEN 'und'
    WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
    WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
    WHEN es >= fr AND es >= zh THEN 'es'
    WHEN fr >= zh THEN 'fr'
    ELSE 'zh' END AS pred_lang
  FROM hits
),
c AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY lang, pred_lang
),
r AS (SELECT lang, SUM(n_docs) AS r FROM c GROUP BY lang),
col AS (SELECT pred_lang, SUM(n_docs) AS cc FROM c GROUP BY pred_lang),
pe AS (
  SELECT COALESCE(SUM(r.r * col.cc), 0) AS pe_num
  FROM r JOIN col ON r.lang = col.pred_lang
),
t AS (
  SELECT SUM(n_docs) AS n,
         COALESCE(SUM(CASE WHEN lang = pred_lang THEN n_docs END), 0) AS diag
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_docs,
  CASE WHEN n > 0 THEN
    ROUND(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 9) END AS accuracy,
  CASE WHEN n > 0 THEN
    ROUND(CAST(pe_num AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) END
    AS expected_accuracy,
  CASE WHEN n * n - pe_num > 0 THEN
    ROUND(CAST(diag * n - pe_num AS DOUBLE)
          / CAST(n * n - pe_num AS DOUBLE), 9) END AS kappa
FROM t, pe
"""


def q_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING drift per label vs label 0
    (operators/stats.centroid_drift): cosine between each label's mean
    vector and the reference label's mean vector — the semantic "did
    this slice move in embedding space" report completing the drift
    suite (numeric, categorical, KS, streamed, embedding).
    DECIMAL(28,10)-exact per-dim sums through ONE (label, dim)
    exchange with map-side combine, dim-ordered cosine folds, broadcast
    reference bind."""
    from graphdb_for_drones_spark.operators.stats import centroid_drift

    cat = Catalog(spark, sf_dir)
    return centroid_drift(
        cat.embeddings, "label", "embedding", ref_group=0, dim=64
    )


ORACLE_LABEL_CENTROID_DRIFT = r"""
WITH ex AS (
  -- no WITH ORDINALITY in DuckDB: index the fixed 64 dims via range
  SELECT label AS g, r.d AS d,
         CAST(CAST(embedding[r.d + 1] AS DOUBLE) AS DECIMAL(28,10)) AS v
  FROM embeddings CROSS JOIN range(64) r(d)
  WHERE embedding IS NOT NULL AND embedding[r.d + 1] IS NOT NULL
),
s AS (SELECT g, d, SUM(v) AS s, COUNT(*) AS n FROM ex GROUP BY g, d),
cent AS (
  SELECT g, MAX(n) AS n_vecs,
         list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY d) AS m
  FROM s GROUP BY g
),
ref AS (SELECT m AS rm FROM cent WHERE g IS NOT DISTINCT FROM 0),
parts AS (
  SELECT g, n_vecs,
    list_reduce(list_prepend(0.0, list_transform(range(64),
      i -> m[i+1] * rm[i+1])), (a, x) -> a + x) AS dot,
    list_reduce(list_prepend(0.0, list_transform(range(64),
      i -> m[i+1] * m[i+1])), (a, x) -> a + x) AS na,
    list_reduce(list_prepend(0.0, list_transform(range(64),
      i -> rm[i+1] * rm[i+1])), (a, x) -> a + x) AS nr
  FROM cent, ref
)
SELECT g AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
  CASE WHEN na > 0 AND nr > 0 THEN
    ROUND(dot / (sqrt(na) * sqrt(nr)), 9) END AS centroid_cosine
FROM parts
"""


# --------------------------------------------------------------------- #
# multimodal family
# --------------------------------------------------------------------- #


def q_media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing in the correctness gate: documents synthesized
    into variable-length binary media payloads, decoded through the REAL
    mapInPandas feature extractor (Arrow batches, repartition balancing,
    typed output schema) with its deterministic fake decode, then
    aggregated.  The oracle reproduces the decode arithmetic from the
    byte lengths — so schema, batching and fan-in are all hash-checked;
    only the stubbed pixel decode itself is fake (media libs absent by
    design, COVERAGE.md multimodal row)."""
    from graphdb_for_drones_spark.operators.multimodal import (
        extract_image_features,
    )

    cat = Catalog(spark, sf_dir)
    media = cat.documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(
            F.repeat(F.md5("text"), (F.pmod(F.col("n_chars"), F.lit(7)) + 1).cast("int"))
        ).alias("content"),
    )
    feats = extract_image_features(media, decode="fake")
    return feats.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
    )


ORACLE_MEDIA_FEATURE_STATS = """
WITH m AS (
  -- text IS NOT NULL mirrors the extractor's null-payload guard (a
  -- NULL text synthesizes a NULL blob, which never reaches the decoder)
  SELECT doc_id, 16 * ((n_chars % 7) + 1) AS nb
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(64 + (nb % 512) AS INTEGER) AS width,
       CAST(64 + ((nb // 7) % 512) AS INTEGER) AS height,
       COUNT(*) AS n_media,
       CAST(SUM(nb) AS BIGINT) AS total_bytes
FROM m GROUP BY 1, 2
"""


# --------------------------------------------------------------------- #
# similarity family
# --------------------------------------------------------------------- #


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    return S.cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=10)


ORACLE_EMBEDDING_TOPK = """
WITH q AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id = 0
),
e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id <> 0
),
s AS (
  SELECT e.vec_id, SUM(e.v * q.v) AS dot, SUM(e.v * e.v) AS ne,
         SUM(q.v * q.v) AS nq
  FROM e JOIN q USING (i) GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (sqrt(ne) * sqrt(nq)), 6) AS cosine
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) approximate top-10 for the vec_id=0
    query — the simplest quantization rung beside ivf/ivfpq/pq_adc:
    per-dim 8-bit affine codes over corpus (lo, hi) bounds, scored by
    reconstructed-vector cosine against the RAW query (asymmetric).
    Bounds derive from the corpus on BOTH engines (min/max are
    order-free exact), so the approximation itself is hash-checked."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    return S.sq8_topk(
        emb.filter(F.col("vec_id") != 0),
        q,
        k=10,
        bounds=S.sq8_bounds(emb, dim=len(q)),
    )


ORACLE_SQ8_TOPK = """
WITH b AS (
  SELECT i, MIN(v) AS lo, MAX(v) AS hi FROM (
    SELECT generate_subscripts(embedding, 1) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
  ) GROUP BY i
),
q AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id = 0
),
e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id <> 0
),
enc AS (
  SELECT e.vec_id, e.i,
    CASE WHEN b.hi - b.lo = 0 THEN b.lo
         ELSE b.lo + (ROUND(((e.v - b.lo) * 255.0) / (b.hi - b.lo))
                      * (b.hi - b.lo)) / 255.0
    END AS xhat
  FROM e JOIN b USING (i)
),
s AS (
  SELECT enc.vec_id, SUM(enc.xhat * q.v) AS dot,
         SUM(enc.xhat * enc.xhat) AS ne, SUM(q.v * q.v) AS nq
  FROM enc JOIN q USING (i) GROUP BY enc.vec_id
)
SELECT vec_id, ROUND(dot / (sqrt(ne) * sqrt(nq)), 6) AS cosine
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_label_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level (multi-vector) retrieval: treat each label's vectors
    as one multi-vector document and score it by MaxSim — the MAX cosine
    between the query and any member vector (the single-query-vector
    case of ColBERT late interaction; Khattab & Zaharia, SIGIR 2020) —
    returning the top-5 labels with their best-matching member.

    One scan, one partial-aggregated groupBy(label): max over rounded
    cosines with min-vec_id tiebreak via a struct max (vec_id negated
    inside the struct so the max picks the smallest id).  `+ 0.0`
    normalizes a possible -0.0 from rounding so both engines hash the
    same bits."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    score = F.round(S.cosine(F.col("embedding"), S._vec_lit(q)), 6) + F.lit(
        0.0
    )
    best = (
        emb.filter(F.col("vec_id") != 0)
        .select("label", "vec_id", score.alias("__s"))
        .groupBy("label")
        .agg(
            F.max(
                F.struct(
                    F.col("__s").alias("s"), (-F.col("vec_id")).alias("nv")
                )
            ).alias("b")
        )
        .select(
            "label",
            (-F.col("b.nv")).alias("best_vec"),
            F.col("b.s").alias("max_cosine"),
        )
    )
    return best.orderBy(F.desc("max_cosine"), F.asc("label")).limit(5)


ORACLE_LABEL_MAXSIM_TOPK = """
WITH q AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id = 0
),
e AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id <> 0
),
s AS (
  SELECT e.vec_id, ANY_VALUE(e.label) AS label,
         ROUND(SUM(e.v * q.v) / (sqrt(SUM(e.v * e.v)) * sqrt(SUM(q.v * q.v))), 6)
           + 0.0 AS cosine
  FROM e JOIN q USING (i) GROUP BY e.vec_id
),
m AS (SELECT label, MAX(cosine) AS max_cosine FROM s GROUP BY label),
b AS (
  SELECT s.label, MIN(s.vec_id) AS best_vec, m.max_cosine
  FROM s JOIN m ON m.label = s.label AND s.cosine = m.max_cosine
  GROUP BY s.label, m.max_cosine
)
SELECT label, best_vec, max_cosine FROM b
ORDER BY max_cosine DESC, label ASC LIMIT 5
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_codebooks /
    pq_adc_topk): 64-dim vectors → 8 subspaces × 16 sampled codewords,
    asymmetric-distance top-10 for the vec_id=0 query.  PQ is the
    100 TB memory path — 8 code bytes stand in for 256 vector bytes at
    scan time.  Every distance is floor(x·1e6+0.5) integer micro-units,
    argmin tiebreaks are first-codeword, and the ADC sum is integer —
    so the whole approximate index construction is driver-hash-checked
    (the IVF treatment, applied to PQ)."""
    import os as _os

    from graphdb_for_drones_spark.operators.similarity import (
        pq_adc_topk_from_codes,
        pq_open,
    )

    cat = Catalog(spark, sf_dir)
    data = cat.embeddings.filter(F.col("vec_id") != 0)
    q = [
        float(x)
        for x in cat.embeddings.filter(F.col("vec_id") == 0).first().embedding
    ]
    # the code table is MATERIALIZED on first touch (pq_open — the
    # ivf_open amortization applied to PQ): probes read m small ints
    # per row, never the raw vectors; the fingerprinted path rebuilds
    # on source change, and the oracle still re-derives every code
    path = _index_store.path_for(
        "pq", _os.path.join(sf_dir, "embeddings.parquet"), "m8", "k16", "s42"
    )
    codes, books = pq_open(spark, data, path, m=8, ksub=16, seed=42)
    return pq_adc_topk_from_codes(codes, q, books, k=10)


def _pq_oracle_sql(m: int = 8, ksub: int = 16, seed: int = 42) -> str:
    dsub = 64 // m
    sq = (
        f"(CAST(e.embedding[j*{dsub}+i+1] AS DOUBLE)"
        f" - CAST(s.embedding[j*{dsub}+i+1] AS DOUBLE))"
    )
    qsq = (
        f"(CAST(q.embedding[j*{dsub}+i+1] AS DOUBLE)"
        f" - CAST(s.embedding[j*{dsub}+i+1] AS DOUBLE))"
    )
    return f"""
WITH smp AS (
  SELECT embedding, ROW_NUMBER() OVER (ORDER BY rk, vec_id) - 1 AS c
  FROM (
    SELECT vec_id, embedding,
           md5(CAST(vec_id AS VARCHAR) || ':{seed}') AS rk
    FROM embeddings WHERE vec_id <> 0
    ORDER BY rk, vec_id LIMIT {ksub}
  )
),
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
enc0 AS (
  SELECT e.vec_id, t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {sq} * {sq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM e CROSS JOIN smp s CROSS JOIN range({m}) t(j)
),
-- argmin with first-codeword tiebreak as ONE integer min: c < {ksub},
-- so MIN(d*{ksub}+c) is the lexicographic (d, c) minimum
codes AS (
  SELECT vec_id, j, CAST(MIN(d * {ksub} + c) % {ksub} AS INTEGER) AS code
  FROM enc0 GROUP BY vec_id, j
),
qd AS (
  SELECT t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {qsq} * {qsq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM q CROSS JOIN smp s CROSS JOIN range({m}) t(j)
)
SELECT codes.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adist
FROM codes JOIN qd ON qd.j = codes.j AND qd.c = codes.code
GROUP BY codes.vec_id
ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


ORACLE_PQ_ADC_TOPK = _pq_oracle_sql()


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ 0.3, blocked by label (the
    blocking key stands in for an LSH bucket: per-block join, never
    all-pairs)."""
    cat = Catalog(spark, sf_dir)
    # dim=64 = embeddings vector width (TESTDATA.md): skips the one-row
    # dim probe the adaptive LSH leg would otherwise run at plan build
    return S.cosine_pairs_blocked(
        cat.embeddings, block_col="label", threshold=0.3, dim=64
    )


ORACLE_EMBEDDING_NEAR_PAIRS = """
WITH n AS (
  SELECT vec_id, SUM(v * v) AS nrm FROM (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
  ) GROUP BY vec_id
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(range(len(a.embedding)),
      i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
    )) AS dot,
    na.nrm AS nrm_a, nb.nrm AS nrm_b
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
)
SELECT id_a, id_b, ROUND(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) AS cosine
FROM p WHERE ROUND(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) >= 0.3
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10.  The hyperplanes are seeded
    (numpy RandomState(42)) and embedded as literals in the DuckDB
    oracle, so the approximate index itself — signatures, band buckets,
    candidate set — is oracle-checked, not just the final scores."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    idx = S.ann_index(emb.filter(F.col("vec_id") != 0), dim=len(q))
    return S.ann_search(idx, q, k=10)


def _ann_topk_oracle_sql(dim: int = 64, n_planes: int = 16, bands: int = 4) -> str:
    """Reproduce ann_index + ann_search in DuckDB with the same seeded
    hyperplanes inlined as literals (deterministic: RandomState(42))."""
    planes = S.hyperplanes(dim, n_planes, seed=42)
    rows = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ",".join(repr(float(v)) for v in p)
        )
        for j, p in enumerate(planes)
    )
    width = n_planes // bands
    mask = (1 << width) - 1
    band_match = " OR ".join(
        f"((s.sig >> {b * width}) & {mask}) = ((q.sig >> {b * width}) & {mask})"
        for b in range(bands)
    )
    return f"""
WITH planes(j, p) AS (VALUES {rows}),
sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_sum(list_transform(range({dim}),
                    i -> CAST(e.embedding[i+1] AS DOUBLE) * pl.p[i+1])) > 0
               THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id
),
q AS (SELECT sig FROM sig WHERE vec_id = 0),
cand AS (
  SELECT s.vec_id FROM sig s, q
  WHERE s.vec_id <> 0 AND ({band_match})
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT e.vec_id,
    ROUND(
      list_sum(list_transform(range({dim}),
        i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(qv.embedding[i+1] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range({dim}),
           i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range({dim}),
             i -> CAST(qv.embedding[i+1] AS DOUBLE) * CAST(qv.embedding[i+1] AS DOUBLE))))),
      6) AS cosine
  FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id CROSS JOIN qv
)
SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


ORACLE_ANN_TOPK = _ann_topk_oracle_sql()


def q_ann_near_pairs_fixed16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINNED-geometry twin of `ann_near_pairs` (n_planes=16, the
    sf0.1-tuned setting): kept as the measured "before" of the
    auto-width fix — at sf1 the 4-bit band buckets saturate and the
    candidate stream goes quadratic (22-30×, PERF.md round 7-9).  The
    default-looking unsuffixed name serves the scale-safe auto plan;
    reach for this one only to reproduce the knee measurement."""
    cat = Catalog(spark, sf_dir)
    return S.ann_near_pairs(cat.embeddings, dim=64, threshold=0.3, n_planes=16)


def _ann_near_pairs_oracle_sql(
    dim: int = 64, n_planes: int = 16, bands: int = 4, threshold: float = 0.3
) -> str:
    """ann_near_pairs twin: same seeded hyperplanes inlined as literals,
    band-bucket candidate pairs, exact rounded-cosine verification."""
    planes = S.hyperplanes(dim, n_planes, seed=42)
    rows = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(j, ",".join(repr(float(v)) for v in p))
        for j, p in enumerate(planes)
    )
    width = n_planes // bands
    mask = (1 << width) - 1
    band_match = " OR ".join(
        f"((s1.sig >> {b * width}) & {mask}) = ((s2.sig >> {b * width}) & {mask})"
        for b in range(bands)
    )
    cos = (
        f"ROUND(list_sum(list_transform(range({dim}), "
        f"i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform(range({dim}), "
        f"i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform(range({dim}), "
        f"i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))), 6)"
    )
    return f"""
WITH planes(j, p) AS (VALUES {rows}),
sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_sum(list_transform(range({dim}),
                    i -> CAST(e.embedding[i+1] AS DOUBLE) * pl.p[i+1])) > 0
               THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id
),
cand AS (
  SELECT s1.vec_id AS id_a, s2.vec_id AS id_b
  FROM sig s1 JOIN sig s2 ON s1.vec_id < s2.vec_id
  WHERE {band_match}
)
SELECT c.id_a, c.id_b, {cos} AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE {cos} >= {threshold}
"""


ORACLE_ANN_NEAR_PAIRS_FIXED16 = _ann_near_pairs_oracle_sql()


def q_ann_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide embedding near-dup pairs via the banded LSH index
    with AUTO band width (``n_planes=None``, the DEFAULT plan): one
    column-pruned count sizes the band width to the corpus
    (``similarity.auto_band_width`` — integer-exact
    ceil(log2(n/128)), floored at 4), so the bucket space grows with
    data instead of saturating.  The sf1 sweep measured why this is
    the right default: fixed 16-plane geometry goes quadratic at 20k
    vectors (91.5 s → 3.95 s at 32 planes, PERF.md round 7).  The
    oracle derives the SAME width from COUNT(*) in SQL and gates each
    inlined plane on ``j < bands·width`` (hyperplanes are prefix-stable
    in n_planes: one seeded row-major RandomState stream), so this row
    certifies the count → width → planes → pairs derivation end-to-end,
    not a hand-pinned geometry."""
    cat = Catalog(spark, sf_dir)
    return S.ann_near_pairs(
        cat.embeddings, dim=64, threshold=0.3, n_planes=None
    )


def _ann_near_pairs_auto_oracle_sql(
    dim: int = 64,
    bands: int = 4,
    threshold: float = 0.3,
    max_planes: int = 48,
    target_bucket: int = 128,
) -> str:
    """ann_near_pairs_auto twin: band width derived from COUNT(*) in
    integer-exact SQL (smallest w with 2^w ≥ ceil(n/target), floored at
    4 — bit-for-bit `similarity.auto_band_width`), plane j participates
    iff j < bands·width.  ``max_planes`` inlined literals cover widths
    ≤ max_planes/bands (12 → corpora ≤ 128·2^12 ≈ 524k vectors — far
    past any gate sf; the engine itself is unbounded)."""
    planes = S.hyperplanes(dim, max_planes, seed=42)
    rows = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(j, ",".join(repr(float(v)) for v in p))
        for j, p in enumerate(planes)
    )
    band_match = " OR ".join(
        f"((s1.sig >> ({b} * g.width)) & ((CAST(1 AS BIGINT) << g.width) - 1))"
        f" = ((s2.sig >> ({b} * g.width)) & ((CAST(1 AS BIGINT) << g.width) - 1))"
        for b in range(bands)
    )
    cos = (
        f"ROUND(list_sum(list_transform(range({dim}), "
        f"i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform(range({dim}), "
        f"i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform(range({dim}), "
        f"i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))), 6)"
    )
    return f"""
WITH planes(j, p) AS (VALUES {rows}),
geom AS (
  SELECT GREATEST(4, MIN(w)) AS width
  FROM range(0, 40) t(w)
  WHERE (CAST(1 AS BIGINT) << CAST(w AS INT))
        >= ((SELECT COUNT(*) FROM embeddings) + {target_bucket - 1}) // {target_bucket}
),
sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN pl.j < {bands} * g.width
                    AND list_sum(list_transform(range({dim}),
                    i -> CAST(e.embedding[i+1] AS DOUBLE) * pl.p[i+1])) > 0
               THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN planes pl CROSS JOIN geom g
  GROUP BY e.vec_id
),
cand AS (
  SELECT s1.vec_id AS id_a, s2.vec_id AS id_b
  FROM sig s1 JOIN sig s2 ON s1.vec_id < s2.vec_id CROSS JOIN geom g
  WHERE {band_match}
)
SELECT c.id_a, c.id_b, {cos} AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE {cos} >= {threshold}
"""


ORACLE_ANN_NEAR_PAIRS = _ann_near_pairs_auto_oracle_sql()


def q_embedding_dbscan_cores_fixed16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PINNED-geometry twin of `embedding_dbscan_cores` (n_planes=16 —
    the measured sf1 saturation knee, kept only as the "before" of the
    auto-width fix; the unsuffixed name serves the auto plan).
    Density-based clustering (core-point DBSCAN, Ester et al. 1996)
    over the LSH eps-neighbor graph: eps-neighbors = `ann_near_pairs`
    edges (cosine >= 0.3 through the banded-LSH candidate path), core
    points = nodes with >= 3 neighbors, clusters = connected components
    of the core-core subgraph, reported as per-cluster core counts.
    The density family beside k-means (`embedding_clusters`) and
    threshold-components (`embedding_dup_clusters`): DBSCAN finds
    arbitrary-shape dense regions and leaves sparse noise unclustered
    by construction.  Every stage reuses a catalogued operator; the
    oracle wraps the ann_near_pairs twin (planes inlined) with
    degree/core CTEs and the recursive-closure fixpoint.

    The eps-graph is MATERIALIZED (`near_pairs_open`, the `ivf_open`
    fingerprint pattern): the LSH-candidate + exact-verify pass runs
    once per corpus state and every density query afterwards probes the
    persisted pair table — deterministic, so bit-identical to a fresh
    `ann_near_pairs` run and the oracle holds either way."""
    import os as _os

    cat = Catalog(spark, sf_dir)
    path = _index_store.path_for(
        "npairs",
        _os.path.join(sf_dir, "embeddings.parquet"),
        "d64", "t0.3", "p16", "b4", "s42",
    )
    pairs = S.near_pairs_open(
        spark, cat.embeddings, path, dim=64, threshold=0.3, n_planes=16
    ).select("id_a", "id_b")
    return _dbscan_over_pairs(pairs)


def _dbscan_over_pairs(pairs: DataFrame, min_pts: int = 3) -> DataFrame:
    """Shared DBSCAN composition over an eps-pair table: degrees →
    core points → components of the core-core subgraph → per-cluster
    core counts."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        connected_components,
    )

    und = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = und.groupBy(F.col("id_a").alias("vid")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    core = deg.filter(F.col("deg") >= min_pts).select("vid")
    cc = (
        pairs.join(core.select(F.col("vid").alias("id_a")), "id_a", "left_semi")
        .join(core.select(F.col("vid").alias("id_b")), "id_b", "left_semi")
    )
    comp = connected_components(
        cc.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_core"))
    )


def q_embedding_dbscan_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point clustering over the AUTO-geometry persisted
    eps-graph: the corpus-sized band width (`auto_band_width`, the sf1
    knee fix) resolved at the ENTRY, encoded in the graph's
    fingerprint path, and composed through `near_pairs_open` into the
    same DBSCAN stack — the 100 TB shape end-to-end: count → width →
    materialized pair graph → density clustering, every stage
    driver-hash-checked (the oracle wraps the auto-width pairs twin in
    the degree/core/closure CTEs).  Auto and pinned graphs built at
    the SAME resolved geometry share a path and are bit-identical, so
    neither entry double-builds."""
    import os as _os

    cat = Catalog(spark, sf_dir)
    n = cat.embeddings.select("vec_id").count()
    n_planes = S.auto_band_width(n) * 4
    src = _os.path.join(sf_dir, "embeddings.parquet")
    path = _index_store.path_for(
        "npairs", src, "d64", "t0.3", f"p{n_planes}", "b4", "s42"
    )
    pairs = S.near_pairs_open(
        spark, cat.embeddings, path, dim=64, threshold=0.3,
        n_planes=n_planes,
    ).select("id_a", "id_b")
    return _dbscan_over_pairs(pairs)


def _dbscan_oracle_sql(min_pts: int = 3, inner: str | None = None) -> str:
    inner = inner or _ann_near_pairs_oracle_sql()
    return f"""
WITH RECURSIVE p AS (
  SELECT id_a, id_b FROM ({inner}) t
),
u AS (
  SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p
),
deg AS (SELECT id_a AS vid, COUNT(*) AS deg FROM u GROUP BY id_a),
core AS (SELECT vid FROM deg WHERE deg >= {min_pts}),
cc AS (
  SELECT p.id_a, p.id_b FROM p
  JOIN core ca ON ca.vid = p.id_a JOIN core cb ON cb.vid = p.id_b
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM cc
  UNION ALL SELECT id_b, id_a FROM cc
),
closure AS (
  SELECT DISTINCT src AS node, src AS r FROM e
  UNION
  SELECT c.node, e.dst FROM closure c JOIN e ON e.src = c.r
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_core
FROM comp GROUP BY cluster_id
"""


ORACLE_EMBEDDING_DBSCAN_CORES_FIXED16 = _dbscan_oracle_sql()
ORACLE_EMBEDDING_DBSCAN_CORES = _dbscan_oracle_sql(
    inner=_ann_near_pairs_auto_oracle_sql()
)


def q_doc_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling over the corpus: 2 deterministic
    uniform non-self partners per document (md5 arithmetic end to end —
    the SQL twin reproduces index, draws and shift exactly)."""
    from graphdb_for_drones_spark.operators.split import negative_pairs

    cat = Catalog(spark, sf_dir)
    return negative_pairs(cat.documents.select("doc_id"), "doc_id", k=2)


def _doc_negative_pairs_oracle_sql(k: int = 2, seed: int = 42, buckets: int = 64) -> str:
    def md5i(expr: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(15), i -> "
            f"CAST(strpos('0123456789abcdef', substr(md5({expr}), i+1, 1)) - 1 AS BIGINT)"
            " << ((14 - i) * 4))) AS BIGINT)"
        )

    h = md5i("CAST(doc_id AS VARCHAR) || ':r0'")
    draw = md5i(f"CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':{seed}'")
    return f"""
WITH idx AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY ({h}) % {buckets}, {h}, doc_id) - 1
           AS rnk
  FROM documents
),
n AS (SELECT COUNT(*) AS n FROM documents),
drawn AS (
  SELECT i.doc_id, i.rnk, CAST(t.j AS INTEGER) AS j,
         ({draw.replace('doc_id', 'i.doc_id')}) % (n.n - 1) AS slot
  FROM idx i CROSS JOIN range({k}) t(j) CROSS JOIN n
),
shifted AS (
  SELECT doc_id, j,
         slot + (CASE WHEN slot >= rnk THEN 1 ELSE 0 END) AS pr
  FROM drawn
)
SELECT s.doc_id, p.doc_id AS neg_doc_id, s.j
FROM shifted s JOIN idx p ON p.rnk = s.pr
"""


ORACLE_DOC_NEGATIVE_PAIRS = _doc_negative_pairs_oracle_sql()


def q_embedding_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health diagnostic: the distribution of pairwise
    cosine similarity over a DETERMINISTIC random pair sample (one
    md5-drawn partner per vector — split.negative_pairs reused as the
    sampler), binned to width 0.1 over [-1, 1].  A collapsed embedding
    space (anisotropy / dead model) shows up as mass piling near 1.0;
    the 2N-pair sample makes the diagnostic O(N) where the true
    pairwise distribution is O(N²).  Exact: md5 draw + rounded-6dp
    cosine + integer binning, all hash-checked."""
    from graphdb_for_drones_spark.operators.split import negative_pairs

    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    pairs = negative_pairs(emb.select("vec_id"), "vec_id", k=1).select(
        F.col("vec_id").alias("id_a"), F.col("neg_vec_id").alias("id_b")
    )
    vecs = emb.select(
        F.col("vec_id"), F.col("embedding"), S.norm2(F.col("embedding")).alias("__n")
    )
    joined = pairs.join(
        vecs.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("__va"),
            F.col("__n").alias("__na"),
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("__vb"),
            F.col("__n").alias("__nb"),
        ),
        "id_b",
    )
    cos = F.round(
        S.dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    bin_ = F.least(
        F.floor((cos + F.lit(1.0)) / F.lit(0.1)).cast("long"), F.lit(19)
    )
    return joined.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def _embedding_distance_hist_oracle_sql(seed: int = 42, buckets: int = 64) -> str:
    def md5i(expr: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(15), i -> "
            f"CAST(strpos('0123456789abcdef', substr(md5({expr}), i+1, 1)) - 1 AS BIGINT)"
            " << ((14 - i) * 4))) AS BIGINT)"
        )

    h = md5i("CAST(vec_id AS VARCHAR) || ':r0'")
    draw = md5i(f"CAST(vec_id AS VARCHAR) || ':0:{seed}'")
    cos = (
        "ROUND(list_sum(list_transform(range(64), "
        "i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(range(64), "
        "i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(range(64), "
        "i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))), 6)"
    )
    return f"""
WITH idx AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY ({h}) % {buckets}, {h}, vec_id) - 1
           AS rnk
  FROM embeddings
),
n AS (SELECT COUNT(*) AS n FROM embeddings),
drawn AS (
  SELECT i.vec_id, i.rnk,
         ({draw.replace('vec_id', 'i.vec_id')}) % (n.n - 1) AS slot
  FROM idx i CROSS JOIN n
),
shifted AS (
  SELECT vec_id, slot + (CASE WHEN slot >= rnk THEN 1 ELSE 0 END) AS pr
  FROM drawn
),
p AS (
  SELECT s.vec_id AS id_a, x.vec_id AS id_b
  FROM shifted s JOIN idx x ON x.rnk = s.pr
),
sc AS (
  SELECT LEAST(CAST(FLOOR(({cos} + 1.0) / 0.1) AS BIGINT), 19) AS bin
  FROM p JOIN embeddings a ON a.vec_id = p.id_a
  JOIN embeddings b ON b.vec_id = p.id_b
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sc GROUP BY bin
"""


ORACLE_EMBEDDING_DISTANCE_HIST = _embedding_distance_hist_oracle_sql()


def q_corpus_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as one declarative plan —
    quality gate (q >= 0.5) → exact-dedup keeper (min doc_id per
    normalized-content md5) → deterministic train/val/test split →
    per-split document and token counts.  Every stage reuses a
    catalogued operator (text.quality_score, dedup.normalize_text,
    split.hash_split) and the whole composition hash-matches one SQL
    twin: the engine's pipeline-building story in a single query."""
    from graphdb_for_drones_spark.operators.dedup import normalize_text
    from graphdb_for_drones_spark.operators.split import hash_split
    from graphdb_for_drones_spark.operators.text import (
        quality_score,
        token_count,
    )

    cat = Catalog(spark, sf_dir)
    # r13 (guide §2): quality_score + md5(normalize) + token_count all
    # ran inside the single-split documents scan (1-task stage — and a
    # plain spread does NOT fix the quality filter, which pushes below
    # the exchange by alias substitution).  The pinned spread projection
    # parallelizes the pushed filter AND lets keyed's two consumers
    # (left side + keepers) share one materialization instead of two
    # scans.  No-op at real corpus scale — see _spread_input.
    from graphdb_for_drones_spark.operators.dedup import _spread_input

    scored = _spread_input(cat.documents, "doc_id", "text", pin=True).filter(
        quality_score(F.col("text")) >= 0.5
    )
    keyed = scored.withColumn("__h", F.md5(normalize_text(F.col("text"))))
    keepers = keyed.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    kept = keyed.join(keepers, ["__h", "doc_id"], "left_semi")
    return (
        hash_split(kept, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
        .orderBy("split")
    )


def _corpus_curation_oracle_sql(seed: int = 42, modulus: int = 10_000) -> str:
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(hh, i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return rf"""
WITH t AS (
  SELECT doc_id, text,
    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
      AS n_tok,
    CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) > 0 THEN
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        x -> x IN ('the','a','of','and','in','to','is')))
    * 1.0 /
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))
    ELSE 0.0 END AS sw_ratio,
    CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
    * 1.0 / length(text) ELSE 0.0 END AS p_ratio
  FROM documents
),
pass AS (
  SELECT doc_id, text, n_tok FROM t
  WHERE ROUND((LEAST(n_tok / 100.0, 1.0)
               + LEAST(sw_ratio * 5, 1.0)
               + GREATEST(1.0 - p_ratio * 4, 0.0)) / 3, 6) >= 0.5
),
keyed AS (
  SELECT doc_id, n_tok,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM pass
),
keep AS (SELECT h, MIN(doc_id) AS doc_id FROM keyed GROUP BY h),
kept AS (SELECT k.doc_id, k.n_tok FROM keyed k JOIN keep USING (h, doc_id)),
s AS (
  SELECT n_tok, md5(CAST(doc_id AS VARCHAR) || ':{seed}') AS hh FROM kept
),
labeled AS (
  SELECT n_tok,
         CASE WHEN {hex_to_int} % {modulus} < {int(0.8 * modulus)} THEN 'train'
              WHEN {hex_to_int} % {modulus} < {int(0.9 * modulus)} THEN 'val'
              ELSE 'test' END AS split
  FROM s
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM labeled GROUP BY split ORDER BY split
"""


ORACLE_CORPUS_CURATION_STATS = _corpus_curation_oracle_sql()


def q_doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split (md5-keyed, seed 42,
    a pure projection — no shuffle, stable under reruns) with the
    per-language QA rollup: (stratum, split, n_rows)."""
    from graphdb_for_drones_spark.operators.split import stratified_counts

    cat = Catalog(spark, sf_dir)
    return stratified_counts(cat.documents, "doc_id", "lang")


def _doc_split_oracle_sql(seed: int = 42, modulus: int = 10_000) -> str:
    # identical 60-bit md5 slot arithmetic as operators/split.py (and the
    # simhash oracle's hex_to_int trick)
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(h, i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return f"""
WITH d AS (
  SELECT lang, md5(CAST(doc_id AS VARCHAR) || ':{seed}') AS h FROM documents
),
s AS (
  SELECT lang, {hex_to_int} % {modulus} AS slot FROM d
),
labeled AS (
  SELECT lang AS stratum,
         CASE WHEN slot < {int(0.8 * modulus)} THEN 'train'
              WHEN slot < {int(0.9 * modulus)} THEN 'val'
              ELSE 'test' END AS split
  FROM s
)
SELECT stratum, split, COUNT(*) AS n_rows FROM labeled GROUP BY 1, 2
"""


ORACLE_DOC_SPLIT_COUNTS = _doc_split_oracle_sql()


def q_doc_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform 5-per-source document sample
    (operators/split.stratified_sample): md5-ordered draw, two-stage
    bounded top-k so no reducer ever sees a whole group — the
    per-domain eval-slice / inspection draw of a curation run."""
    from graphdb_for_drones_spark.operators.split import stratified_sample

    cat = Catalog(spark, sf_dir)
    return stratified_sample(cat.documents, "source", "doc_id", k=5)


def _doc_sample_oracle_sql(k: int = 5, seed: int = 42) -> str:
    # identical 60-bit md5 arithmetic as split.stratified_sample; the
    # two-stage top-k composition equals this single ROW_NUMBER exactly
    # (both order by (h, doc_id), a total order)
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(h, i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return f"""
WITH d AS (
  SELECT source, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':gs{seed}') AS h
  FROM documents
),
u AS (SELECT source, doc_id, {hex_to_int} AS uu FROM d),
r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY uu, doc_id)
           AS sample_rank
  FROM u
)
SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= {k}
"""


ORACLE_DOC_SAMPLE_PER_SOURCE = _doc_sample_oracle_sql()


# --------------------------------------------------------------------- #
# crypto (rows-only: Ed25519 is not expressible in DuckDB)
# --------------------------------------------------------------------- #


def q_vc_verify_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sign→verify roundtrip over customers-as-subjects: the
    reference's verified==inserted invariant
    (test_cases/test_b_did_pg.py) as a two-UDF pipeline."""
    if not HAVE_CRYPTOGRAPHY:  # pragma: no cover
        raise NotImplementedError("cryptography unavailable")
    from cryptography.hazmat.primitives import serialization

    sk, pk = make_keypair()
    sk_bytes = sk.private_bytes(
        serialization.Encoding.Raw,
        serialization.PrivateFormat.Raw,
        serialization.NoEncryption(),
    )
    cat = Catalog(spark, sf_dir)
    base = cat.customer.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("did:example:c"), F.col("c_custkey").cast("string")).alias(
                    "credentialSubject"
                ),
                F.lit("did:example:HQ1").alias("issuer"),
            )
        ).alias("payload")
    )
    # r12 optimization (guide §2/§4): the single-file customer table
    # arrives as ONE split, serializing every Ed25519 sign+verify into
    # one Python worker (profiled: 1-task stage, 4.9 s wall, JVM cpu
    # 0.14 s — all the time is the lone worker).  Spread the projected
    # payload across the cluster's parallelism first — a no-op exchange
    # at real scale where the table already has enough splits.
    base = D._spread_input(base, "payload")
    signed = base.withColumn(
        "sig", sign_ed25519_udf(F.col("payload"), F.lit(sk_bytes))
    )
    ok = signed.withColumn(
        "ok", verify_ed25519_udf(F.col("payload"), F.col("sig"), F.lit(pk))
    )
    return ok.agg(
        F.count_if(F.col("ok")).alias("verified_count"),
        F.count(F.lit(1)).alias("total_count"),
    )


# Ed25519 itself is not expressible in SQL, but the reference's invariant
# IS (verified == inserted, test_cases/test_b_did_pg.py): the oracle
# asserts every signed row verifies — any UDF/canonicalization bug that
# fails a verification breaks the hash match.
ORACLE_VC_VERIFY_COUNT = """
SELECT COUNT(*) AS verified_count, COUNT(*) AS total_count FROM customer
"""


# --------------------------------------------------------------------- #
# registry
# --------------------------------------------------------------------- #

LLM_QUERIES = {
    "doc_dedup_stats": q_doc_dedup_stats,
    "ngram_jaccard": q_ngram_jaccard,
    "ngram_jaccard_capped": q_ngram_jaccard_capped,
    "ngram_jaccard_prefix": q_ngram_jaccard_prefix,
    "minhash_pairs": q_minhash_pairs,
    "minhash_pairs_md5": q_minhash_pairs_md5,
    "simhash_pairs": q_simhash_pairs,
    "simhash_pairs_md5": q_simhash_pairs_md5,
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "media_feature_stats": q_media_feature_stats,
    "doc_lang_summary": q_doc_lang_summary,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_lang_id": q_doc_lang_id,
    "lang_id_confusion": q_lang_id_confusion,
    "lang_id_kappa": q_lang_id_kappa,
    "label_centroid_drift": q_label_centroid_drift,
    "embedding_topk": q_embedding_topk,
    "label_maxsim_topk": q_label_maxsim_topk,
    "pq_adc_topk": q_pq_adc_topk,
    "sq8_topk": q_sq8_topk,
    "embedding_near_pairs": q_embedding_near_pairs,
    "ann_topk": q_ann_topk,
    "ann_near_pairs": q_ann_near_pairs,
    "ann_near_pairs_fixed16": q_ann_near_pairs_fixed16,
    "embedding_dbscan_cores": q_embedding_dbscan_cores,
    "embedding_dbscan_cores_fixed16": q_embedding_dbscan_cores_fixed16,
    "embedding_distance_hist": q_embedding_distance_hist,
    "doc_split_counts": q_doc_split_counts,
    "doc_sample_per_source": q_doc_sample_per_source,
    "corpus_curation_stats": q_corpus_curation_stats,
    "doc_negative_pairs": q_doc_negative_pairs,
    "vc_verify_count": q_vc_verify_count,
}

LLM_ORACLES = {
    "doc_dedup_stats": ORACLE_DOC_DEDUP_STATS,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "ngram_jaccard_capped": ORACLE_NGRAM_JACCARD_CAPPED,
    # the prefix filter is an exact optimization: result-identity with
    # ngram_jaccard is asserted by sharing its oracle verbatim
    "ngram_jaccard_prefix": ORACLE_NGRAM_JACCARD,
    "doc_token_stats": ORACLE_DOC_TOKEN_STATS,
    "doc_quality": ORACLE_DOC_QUALITY,
    "media_feature_stats": ORACLE_MEDIA_FEATURE_STATS,
    "doc_lang_summary": ORACLE_DOC_LANG_SUMMARY,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "doc_lang_id": ORACLE_DOC_LANG_ID,
    "lang_id_confusion": ORACLE_LANG_ID_CONFUSION,
    "lang_id_kappa": ORACLE_LANG_ID_KAPPA,
    "label_centroid_drift": ORACLE_LABEL_CENTROID_DRIFT,
    "embedding_topk": ORACLE_EMBEDDING_TOPK,
    "label_maxsim_topk": ORACLE_LABEL_MAXSIM_TOPK,
    "pq_adc_topk": ORACLE_PQ_ADC_TOPK,
    "sq8_topk": ORACLE_SQ8_TOPK,
    "embedding_near_pairs": ORACLE_EMBEDDING_NEAR_PAIRS,
    "minhash_pairs_md5": ORACLE_MINHASH_PAIRS_MD5,
    "simhash_pairs_md5": ORACLE_SIMHASH_PAIRS_MD5,
    "ann_topk": ORACLE_ANN_TOPK,
    "ann_near_pairs": ORACLE_ANN_NEAR_PAIRS,
    "ann_near_pairs_fixed16": ORACLE_ANN_NEAR_PAIRS_FIXED16,
    "embedding_dbscan_cores": ORACLE_EMBEDDING_DBSCAN_CORES,
    "embedding_dbscan_cores_fixed16": ORACLE_EMBEDDING_DBSCAN_CORES_FIXED16,
    "embedding_distance_hist": ORACLE_EMBEDDING_DISTANCE_HIST,
    "doc_split_counts": ORACLE_DOC_SPLIT_COUNTS,
    "doc_sample_per_source": ORACLE_DOC_SAMPLE_PER_SOURCE,
    "corpus_curation_stats": ORACLE_CORPUS_CURATION_STATS,
    "doc_negative_pairs": ORACLE_DOC_NEGATIVE_PAIRS,
    "vc_verify_count": ORACLE_VC_VERIFY_COUNT,
    # r9: minhash_pairs / simhash_pairs retired from rows-only via the
    # invariant pattern (their xxhash64 family is still the production
    # fast path; the md5 twins oracle-check the pipeline shape, the
    # invariant rows oracle-check the production output's contracts)
    "minhash_pairs": ORACLE_MINHASH_PAIRS,
    "simhash_pairs": ORACLE_SIMHASH_PAIRS,
}
