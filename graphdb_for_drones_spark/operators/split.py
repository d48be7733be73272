"""Deterministic dataset splitting for training pipelines.

A train/val/test split at 100 TB must be (a) a pure function of the row
key — re-running the pipeline, adding columns, or repartitioning must
never move a document across splits (leakage) — and (b) computable
without any shuffle: the split column is a projection, assignable at
scan time and usable as a partition column on write.

``hash_split`` keys on md5(key || ':' || seed) so the assignment is
reproducible in any engine (the DuckDB oracle replays it exactly);
``stratified_counts`` is the QA query every split ships with: per
(stratum, split) counts to check the split preserved the stratum mix.
"""

from __future__ import annotations

from itertools import accumulate, chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.local_frame import local_frame

DEFAULT_SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def split_assignment(
    key_col: Column, splits=DEFAULT_SPLITS, seed: int = 42, modulus: int = 10_000
) -> Column:
    """Split label as a pure projection of the key: the first 15 hex
    chars of md5("{key}:{seed}") mod ``modulus`` land in cumulative
    weight ranges.  15 hex chars = 60 bits — exact in signed-64
    arithmetic on any engine (same trick as ``simhash_md5``)."""
    h = F.conv(
        F.substring(F.md5(F.concat(key_col.cast("string"), F.lit(f":{seed}"))), 1, 15),
        16,
        10,
    ).cast("long")
    slot = F.pmod(h, F.lit(modulus))
    expr = None
    acc = 0.0
    for name, w in splits:
        acc += w
        bound = int(round(acc * modulus))
        cond = slot < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr.otherwise(F.lit(splits[-1][0]))


def hash_split(
    df: DataFrame,
    key_col: str,
    splits=DEFAULT_SPLITS,
    seed: int = 42,
) -> DataFrame:
    """Attach a ``split`` column — deterministic, shuffle-free, stable
    under reruns/repartitioning.  Write partitioned by it and each split
    is a partition-pruned read."""
    return df.withColumn(
        "split", split_assignment(F.col(key_col), splits, seed)
    )


def _md5_60bit(col: Column) -> Column:
    """First 15 hex chars of md5 as a signed-64-safe nonnegative long —
    the engine-neutral hash used across the split/sampling family."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def offset_rank(
    keys: DataFrame, bucket_col: str, *order_cols: str
) -> tuple[DataFrame, int]:
    """0-based rank of ``keys``' rows in the total order (``bucket_col``,
    ``*order_cols``) WITHOUT a single-partition global window: only the
    per-bucket counts reach the driver, where they become cumulative
    offsets inlined as a literal map, and each row's rank is its
    bucket's offset plus a per-bucket ``row_number`` (every window group
    is one bucket's rows).  Returns (``keys`` plus ``__rank``, total);
    no rows gives an empty local frame and 0."""
    counts = dict(keys.groupBy(bucket_col).agg(F.count(F.lit(1))).collect())
    if not counts:
        empty = local_frame(keys.sparkSession, keys.schema)
        return empty.withColumn("__rank", F.lit(0)), 0
    order = sorted(counts)
    offsets = accumulate((counts[b] for b in order), initial=0)
    off_map = F.create_map(
        *chain.from_iterable((F.lit(b), F.lit(o)) for b, o in zip(order, offsets))
    )
    w = Window.partitionBy(bucket_col).orderBy(*order_cols)
    rank = off_map[F.col(bucket_col)] + F.row_number().over(w) - 1
    return keys.withColumn("__rank", rank), sum(counts.values())


def md5_rank(
    df: DataFrame, key_col: str, buckets: int = 64, seed: int = 0
) -> tuple["DataFrame", int]:
    """Deterministic 0-based dense rank in md5 order, computed WITHOUT a
    single-partition window (``offset_rank`` over md5 buckets, the
    ``mutation.bucketed_rank`` pattern, but over an ENGINE-NEUTRAL
    order — total order is (h % buckets, h, key) with
    h = md5_60bit("{key}:r{seed}"), which a SQL twin reproduces as one
    ROW_NUMBER).  Returns (DataFrame(key_col, __rank), total)."""
    h = _md5_60bit(F.concat(F.col(key_col).cast("string"), F.lit(f":r{seed}")))
    keys = df.select(
        F.col(key_col), h.alias("__h"), F.pmod(h, F.lit(buckets)).alias("__b")
    )
    ranked, total = offset_rank(keys, "__b", "__h", key_col)
    return ranked.select(key_col, "__rank"), total


def stratified_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    seed: int = 42,
    buckets: int = 32,
) -> DataFrame:
    """Deterministic uniform ``k``-per-group sample — the "eyeball 5
    docs per source" / per-domain eval-slice draw every curation run
    needs, reproducible across reruns, engines, and partitionings.

    The draw order within a group is md5 order (h = md5_60bit of
    "{id}:gs{seed}"), so membership is a pure function of the row key —
    adding rows to OTHER groups never changes a group's sample, and a
    SQL twin replays it as one ROW_NUMBER.

    Plan shape at 100 TB: a single window over a whole group would put
    every row of the hottest group on one reducer.  Instead the classic
    two-stage bounded top-k: stage 1 ranks within (group, h mod
    ``buckets``) and keeps ≤ k per bucket — ≤ k·buckets survivors per
    group regardless of group size; stage 2 ranks those survivors per
    group and keeps k.  Both windows order by (h, id) — a total order,
    so the composition equals the single-window answer exactly.

    Returns (group_col, id_col, sample_rank long) with sample_rank in
    [1, k] in draw order.
    """
    from pyspark.sql.window import Window

    h = _md5_60bit(
        F.concat(F.col(id_col).cast("string"), F.lit(f":gs{seed}"))
    )
    keyed = df.select(
        F.col(group_col), F.col(id_col), h.alias("__u")
    ).withColumn("__b", F.pmod(F.col("__u"), F.lit(buckets)))
    w1 = Window.partitionBy(group_col, "__b").orderBy("__u", id_col)
    survivors = keyed.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= k
    )
    w2 = Window.partitionBy(group_col).orderBy("__u", id_col)
    return (
        survivors.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= k)
        .select(
            group_col,
            id_col,
            F.col("__r2").cast("long").alias("sample_rank"),
        )
    )


def negative_pairs(
    ids: DataFrame,
    key_col: str,
    k: int = 2,
    seed: int = 42,
    positives: DataFrame | None = None,
) -> DataFrame:
    """Deterministic contrastive negative sampling: for every id, ``k``
    pseudo-random partners drawn uniformly from the OTHER ids —
    reproducible across runs/engines (md5 arithmetic end to end, so a
    SQL twin hash-checks it) and never self-paired (the draw is over
    n-1 slots, shifted past the id's own rank).

    Shape at scale: one md5-ranked index (distributed rank, driver sees
    only bucket counters), a k-way explode, and ONE equi join back on
    rank — no shuffle of anything wider than (id, rank).  Pass
    ``positives`` (id, partner id) to anti-join known positive pairs out
    (both orientations), e.g. near-dup pairs from the dedup family.

    Returns (key_col, neg_<key_col>, j) with j in [0, k)."""
    idx, n = md5_rank(ids.select(key_col), key_col)
    if n < 2:
        kt = ids.schema[key_col].dataType.simpleString()
        return local_frame(
            ids.sparkSession, f"{key_col} {kt}, neg_{key_col} {kt}, j int"
        )
    left = idx.select(
        F.col(key_col),
        F.col("__rank"),
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
    )
    draw = _md5_60bit(
        F.concat(
            F.col(key_col).cast("string"), F.lit(":"), F.col("j"), F.lit(f":{seed}")
        )
    )
    slot = F.pmod(draw, F.lit(n - 1))
    partner_rank = slot + (slot >= F.col("__rank")).cast("int")
    pairs = (
        left.withColumn("__pr", partner_rank)
        .join(
            idx.select(
                F.col(key_col).alias(f"neg_{key_col}"),
                F.col("__rank").alias("__pr"),
            ),
            "__pr",
        )
        .select(key_col, f"neg_{key_col}", "j")
    )
    if positives is not None:
        a, b = positives.columns[:2]
        fwd = positives.select(
            F.col(a).alias(key_col), F.col(b).alias(f"neg_{key_col}")
        )
        rev = positives.select(
            F.col(b).alias(key_col), F.col(a).alias(f"neg_{key_col}")
        )
        pairs = pairs.join(
            fwd.unionByName(rev), [key_col, f"neg_{key_col}"], "left_anti"
        )
    return pairs


def stratified_counts(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    splits=DEFAULT_SPLITS,
    seed: int = 42,
) -> DataFrame:
    """Split-QA rollup: (stratum, split, n_rows) — verifies each stratum
    keeps the global split ratios (hash splits are stratified in
    expectation; this query is how you CHECK it, per stratum)."""
    return (
        hash_split(df, key_col, splits, seed)
        .groupBy(F.col(stratum_col).alias("stratum"), "split")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col,
    k: int = 100,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, exponential-jitter form): each row draws the md5-60
    uniform u = h("{key}:w{seed}")/2^60 and gets the key −ln(u)/w; the
    ``k`` SMALLEST keys are an exact weight-proportional sample — the
    curation draw that samples documents ∝ quality/token weight instead
    of uniformly (``stratified_sample``'s complement).

    Zero-or-negative weights are excluded (they can never win).  The
    es_key is rounded to 9 dp BEFORE the (key, id) rank so the one libm
    call (ln) can't leak engine ulps into the order; the top-k is a
    TakeOrdered, never a full sort.  Rerun-stable, repartition-stable,
    and SQL-twin-checkable like the whole md5 split family.

    u maps the 60-bit hash to (0, 1] via (h+1)/2^60 — a plain h/2^60
    hits u=0 with probability 2^-60, where Spark's ln(0) yields NULL
    (NULLS FIRST would rank it #1) while DuckDB's -ln(0)/w is +inf and
    ranks last; the half-open shift removes the divergence entirely."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        _md5_60bit(
            F.concat(F.col(key_col).cast("string"), F.lit(f":w{seed}"))
        )
        + F.lit(1)
    ) / F.lit(float(1 << 60))
    es_key = F.round(-F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .select(
            F.col(key_col),
            w.cast("double").alias("weight"),
            es_key.alias("es_key"),
        )
        .orderBy(F.asc("es_key"), F.asc(key_col))
        .limit(k)
    )
