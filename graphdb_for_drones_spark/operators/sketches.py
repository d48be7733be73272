"""Mergeable-sketch rollups — the hypertable/continuous-aggregate
pattern: build fine-grained sketches once, merge them to any coarser
grain without rescanning the facts.

Uses Spark's built-in Apache DataSketches HLL functions
(`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`, JVM-side):
a daily (key, sketch) table is O(keys × days × sketch_size) and answers
weekly/monthly/all-time distinct-count questions by sketch union — at
100 TB this replaces repeated full-scan COUNT(DISTINCT) with reads of a
tiny rollup table, and sketches merge associatively so the rollup
parallelizes/shuffles like any aggregation.

Accuracy: HLL with lgConfigK=12 is ~1.6% RSE; tests pin a 5% tolerance
against exact distinct counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.operators._pin import pin


def hll_build(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Fine-grain sketch table: one HLL sketch of ``distinct_col`` per
    key combination.  Persist this instead of raw facts for
    distinct-count serving."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(distinct_col), F.lit(lgk)).alias("hll"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hist_build(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    buckets: int = 200,
) -> DataFrame:
    """Mergeable QUANTILE sketch as a fixed-range histogram: per key, a
    (bucket, cnt) table with ``buckets`` equal-width bins over [lo, hi)
    (out-of-range values clamp to the edge bins).  Histograms merge by
    summing bucket counts — the same continuous-aggregate algebra as the
    HLL sketches — and, unlike t-digest/KLL, every step is plain integer
    arithmetic, so quantile serving is EXACTLY reproducible in any SQL
    engine (the oracle twin proves it).  Error is bounded by the bin
    width (hi−lo)/buckets."""
    width = (hi - lo) / buckets
    b = F.least(
        F.lit(buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    return df.groupBy(*keys, b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def hist_rollup(hist: DataFrame, keys: list[str]) -> DataFrame:
    """Merge histogram sketches to a coarser grain: sum bucket counts."""
    return hist.groupBy(*keys, "bucket").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    hist: DataFrame,
    keys: list[str],
    lo: float,
    hi: float,
    buckets: int = 200,
    qs: tuple = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Serve quantiles from a histogram sketch without touching the
    facts: per key, the q-quantile estimate is the UPPER EDGE of the
    first bucket whose cumulative count reaches q·total (deterministic
    rule; error <= one bin width).  One window pass + one grouped
    conditional-min per quantile."""
    width = (hi - lo) / buckets
    wc = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*keys)
    cc = hist.select(
        *keys,
        "bucket",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.col("total") * F.lit(q), F.col("bucket"))
        ).alias(f"__b{i}")
        for i, q in enumerate(qs)
    ]
    out = cc.groupBy(*keys).agg(*aggs)
    return out.select(
        *keys,
        *[
            (F.lit(lo) + (F.col(f"__b{i}") + 1) * F.lit(width)).alias(
                f"p{int(q * 100)}"
            )
            for i, q in enumerate(qs)
        ],
    )


# 63 usable bits per word: Spark's Java shiftleft(1L, 63) wraps to the
# sign bit but DuckDB RAISES on the overflow — capping the in-word
# offset at 62 keeps every mask positive and bit-identical on both
BLOOM_WORD_BITS = 63


def _bloom_base(elem, family: str):
    """One base hash per element — the ONLY per-element hash work.

    family='xx': xxhash64 (production fast path, any input type).
    family='md5': 60-bit md5 — engine-neutral, so a SQL twin reproduces
    the whole filter bit-for-bit (same md5-60 trick as the split/
    minhash twins).  Hashing once matters: the md5 family's string
    digest dominates build cost, and per-hash-function digests measured
    ~k× the necessary string-digest work."""
    if family == "xx":
        return F.xxhash64(elem)
    if family == "md5":
        from graphdb_for_drones_spark.operators.split import _md5_60bit

        return _md5_60bit(elem.cast("string"))
    if family == "raw":
        # caller pre-hashed the elements (e.g. md5-60 folded inside the
        # shingle projection so the variable-length strings never reach
        # a shuffle — the string-free discipline of the dedup family)
        return elem.cast("long")
    raise ValueError(f"unknown bloom hash family: {family!r}")


def _bloom_positions(col_name: str, k: int, m_bits: int):
    """The ``k`` bit positions from one STAGED base-hash column via
    Kirsch-Mitzenmacher double hashing: pos_j = (h1 + j·h2) mod m with
    h1 = h mod m and h2 = 1 + ((h >>> 1) div m) mod (m-1) — two
    independent-ish projections of the base hash, pure integer
    arithmetic (h1 + j·h2 ≤ (k+1)·m ≪ 2^63), replayed verbatim by the
    SQL twin (the md5 family's h is < 2^60 and nonnegative, so the
    unsigned shift is plain h // 2 there; it exists to make the xx
    family's negative hashes nonnegative without ANSI abs(MIN_LONG)
    landmines).  Asymptotically the same false-positive rate as k
    independent hash functions (Kirsch & Mitzenmacher 2006)."""
    h1 = F.pmod(F.col(col_name), F.lit(m_bits))
    h2 = F.pmod(
        F.expr(f"shiftrightunsigned(`{col_name}`, 1) div {m_bits}"),
        F.lit(m_bits - 1),
    ) + F.lit(1)
    return F.array(
        *[F.pmod(h1 + F.lit(j) * h2, F.lit(m_bits)) for j in range(k)]
    )


def bloom_build(
    df: DataFrame,
    keys: list[str],
    elem_col: str,
    m_bits: int = BLOOM_WORD_BITS * 1024,
    k: int = 3,
    family: str = "xx",
) -> DataFrame:
    """Mergeable BLOOM FILTER sketch per key combination, as a tabular
    (keys…, idx, bits) bitmap — ``m_bits`` bits packed 63 per long.

    The membership twin of the HLL/histogram sketches: build per fine
    grain, ``bloom_merge`` to any coarser grain (bit-OR is associative
    and commutative — reduction-order-independent, so even the md5
    family is HASH-CHECKABLE against a SQL twin), probe without
    touching the facts.  The 100 TB use: a few-MB filter of training-
    corpus shingles broadcast to a decontamination probe — a
    no-false-negative prefilter that spares the inverted-index join for
    the (tiny) maybe-present slice.

    Zero words are omitted (sparse representation): absent (key, idx)
    means no bits set — probes treat missing words as misses."""
    staged = df.select(
        *keys, _bloom_base(F.col(elem_col), family).alias("__h")
    )
    pos = staged.select(
        *keys,
        F.explode(_bloom_positions("__h", k, m_bits)).alias("pos"),
    )
    words = pos.select(
        *keys,
        F.expr(f"pos div {BLOOM_WORD_BITS}").alias("idx"),
        F.expr(f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))").alias(
            "mask"
        ),
    )
    return words.groupBy(*keys, "idx").agg(F.bit_or("mask").alias("bits"))


def bloom_merge(blooms: DataFrame, keys: list[str]) -> DataFrame:
    """Merge filters to a coarser grain: bit-OR word-wise (drop some key
    columns).  Identical result to building over the unioned facts —
    pinned in tests."""
    return blooms.groupBy(*keys, "idx").agg(F.bit_or("bits").alias("bits"))


def bloom_probe_counts(
    bloom: DataFrame,
    bloom_keys: list[str],
    probes: DataFrame,
    elem_col: str,
    m_bits: int = BLOOM_WORD_BITS * 1024,
    k: int = 3,
    family: str = "xx",
) -> DataFrame:
    """Probe DISTINCT elements of ``probes[elem_col]`` against every
    bloom key's filter: (bloom_keys…, n_probed, n_maybe_present).

    An element is maybe-present iff all ``k`` of its bits are set —
    counted as join hits per (bloom key, element) reaching k, so a
    missing word row (sparse zero) is simply a miss.  No false
    negatives ever; false-positive rate ≈ (1 − e^(−k·n/m))^k.

    Plan shape: the filter table is ~m_bits/63 rows per key — orders of
    magnitude under the facts — so Catalyst broadcasts it into the
    probe-side explode; n_probed binds as a broadcast one-row count.
    Both the filter and the distinct probe set are referenced twice in
    this plan (join + key rows; positions + total) and both are
    sketch-/probe-sized by design, so they are pinned once with
    ``_pin.pin`` — without it the whole upstream build pipeline
    (shingle + hash + bit-OR over the full corpus) re-executes per
    reference (re-execution measured ~1 s on the catalog entry; the shingle-string build dominated — see the entry's staging note)."""
    bloom = pin(bloom)
    elems = pin(probes.select(F.col(elem_col).alias("g")).distinct())
    pos = elems.select(
        "g", _bloom_base(F.col("g"), family).alias("__h")
    ).select(
        "g",
        F.explode(_bloom_positions("__h", k, m_bits)).alias("pos"),
    ).select(
        "g",
        F.expr(f"pos div {BLOOM_WORD_BITS}").alias("idx"),
        F.expr(f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))").alias(
            "mask"
        ),
    )
    hits = (
        pos.join(bloom, "idx")
        .filter(F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        .groupBy(*bloom_keys, "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    present = (
        hits.filter(F.col("c") == k)
        .groupBy(*bloom_keys)
        .agg(F.count(F.lit(1)).alias("n_maybe_present"))
    )
    total = elems.agg(F.count(F.lit(1)).alias("n_probed"))
    key_rows = bloom.select(*bloom_keys).distinct()
    return (
        key_rows.crossJoin(F.broadcast(total))
        .join(present, bloom_keys, "left")
        .select(
            *bloom_keys,
            "n_probed",
            F.coalesce(F.col("n_maybe_present"), F.lit(0).cast("long")).alias(
                "n_maybe_present"
            ),
        )
    )


def cm_build(
    df: DataFrame,
    keys: list[str],
    elem_col: str,
    width: int = 1024,
    depth: int = 4,
    family: str = "xx",
) -> DataFrame:
    """Mergeable COUNT-MIN sketch per key combination, as a tabular
    (keys…, r, c, cnt) cell table — the heavy-hitters / frequency twin
    of the HLL (distinct), histogram (quantiles), and bloom
    (membership) sketches.  Row ``r``'s column for an element comes
    from the same Kirsch-Mitzenmacher double hashing as the bloom
    filter (one base hash per element), so the md5 family is replayable
    in SQL and the whole sketch is hash-checkable: integer cell counts
    merge by SUM (order-independent).

    Zero cells are omitted (sparse): an absent (r, c) estimates 0 —
    correct, since any element with true count > 0 incremented all its
    cells.  At 100 TB: depth·width cells per key (a few KB) answer
    approximate frequency queries without rescanning the facts;
    estimate ≥ true always, overcount ≤ e·N/width with prob 1−e^−depth.
    """
    staged = df.select(
        *keys, _bloom_base(F.col(elem_col), family).alias("__h")
    )
    cells = staged.select(
        *keys,
        F.posexplode(_bloom_positions("__h", depth, width)).alias("r", "c"),
    )
    return cells.groupBy(*keys, "r", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cm_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge count-min sketches to a coarser grain: SUM cell counts."""
    return sketches.groupBy(*keys, "r", "c").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame,
    keys: list[str],
    probes: DataFrame,
    elem_col: str,
    width: int = 1024,
    depth: int = 4,
    family: str = "xx",
) -> DataFrame:
    """Estimated frequency of each DISTINCT probe element against each
    sketch key: (keys…, elem, est) with est = min over rows of the
    element's cell count (missing cell = 0).  The sketch is cell-sized,
    so Catalyst broadcasts it into the probe join."""
    elems = probes.select(F.col(elem_col).alias("elem")).distinct()
    pos = elems.select(
        "elem", _bloom_base(F.col("elem"), family).alias("__h")
    ).select(
        "elem",
        F.posexplode(_bloom_positions("__h", depth, width)).alias("r", "c"),
    )
    key_rows = sketch.select(*keys).distinct()
    # every (key, elem, r) needs a row even when the cell is absent —
    # COALESCE the missing cell to 0 AFTER a left join from the dense
    # probe side, then min per (key, elem)
    dense = key_rows.crossJoin(pos)
    joined = dense.join(sketch, [*keys, "r", "c"], "left").select(
        *keys,
        "elem",
        F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cell"),
    )
    return joined.groupBy(*keys, "elem").agg(
        F.min("cell").alias("est")
    )


def hll_rollup(
    sketches: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge sketches to a coarser grain (drop some key columns) and
    estimate: the continuous-aggregate rollup step.  No access to the
    original facts."""
    return (
        sketches.groupBy(*keys)
        .agg(
            F.hll_union_agg(F.col("hll")).alias("hll"),
            F.sum("n_rows").alias("n_rows"),
        )
        .select(
            *keys,
            F.hll_sketch_estimate(F.col("hll")).cast("long").alias(
                "approx_distinct"
            ),
            "n_rows",
        )
    )


# --------------------------------------------------------------------- #
# md5-register HyperLogLog — the ORACLE-REPRODUCIBLE twin of hll_build /
# hll_rollup (VERDICT r11 task #4, the minhash_pairs_md5 pattern): every
# step is engine-neutral — md5-60 base hash, integer register index /
# rank, register merge by MAX, an exact-integer register SUM, and ONE
# double division (plus glibc-identical ln on the small-range branch) —
# so a DuckDB SQL twin reproduces the ESTIMATE itself bit-for-bit, not
# just a tolerance envelope.  DataSketches hll_build stays the
# production fast path (binary sketch blobs, JVM-side).
# --------------------------------------------------------------------- #

#: registers (m = 2^8).  RSE ≈ 1.04/√256 ≈ 6.5%; the linear-counting
#: branch (exact-ish at low load) covers n ≲ 2.5·m.
HLL_MD5_M = 256
#: md5-60 yields 60 hash bits: 8 index the register, 52 feed the rank,
#: so rho ∈ [1, 53] (53 = empty-suffix sentinel) and the register sum
#: Σ 2^(53−rho) ≤ m·2^53 = 2^61 stays inside a signed long — exact.
_HLL_MD5_RANK_BITS = 52
#: alpha_m · m² · 2^53 precomputed in Python and embedded as the SAME
#: double literal in the engine plan and the SQL twin: the raw estimate
#: is this constant / S — one correctly-rounded division of exacts.
HLL_MD5_ALPHA_NUM = 4.2399330249068963e+20


def hll_md5_registers(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    salt: str = "hll",
) -> DataFrame:
    """Fine-grain md5-HLL register table: (keys…, idx, rho) with one row
    per NON-ZERO register — rho = MAX over hashed elements of
    (1 + leading-zero count of the 52 rank bits).  Registers merge to
    any coarser grain by MAX (associative/commutative), the same
    continuous-aggregate algebra as the DataSketches path; absent
    (keys, idx) rows are zero registers, densified at estimate time.

    Engine-neutral construction (DuckDB twin reproduces it verbatim):
    h = first 15 md5 hex chars of ``value || ':salt'`` as a long
    (< 2^60, nonnegative), idx = h mod m, w = h div m, and
    rho = 53 − bit_length(w) (length of bin(w) — both engines print
    binary without leading zeros) with the w = 0 sentinel 53."""
    return (
        hll_md5_row_registers(df, keys, distinct_col, salt)
        .groupBy(*keys, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_md5_row_registers(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    salt: str = "hll",
) -> DataFrame:
    """The STATELESS half of ``hll_md5_registers``: one (keys…, idx,
    rho) row per input element, no aggregation — shared by the batch
    builder (groupBy MAX on top) and the STREAMING rollup (the same MAX
    as a streaming aggregation: register MAX is associative and
    commutative, so a sketch rollup is a continuous aggregate)."""
    from graphdb_for_drones_spark.operators.split import _md5_60bit

    h = _md5_60bit(
        F.concat(F.col(distinct_col).cast("string"), F.lit(f":{salt}"))
    )
    staged = df.select(*keys, h.alias("__h")).filter(F.col("__h").isNotNull())
    w = F.col("__h").cast("long")
    idx = F.pmod(w, F.lit(HLL_MD5_M))
    rest = F.expr(f"__h div {HLL_MD5_M}")
    rho = F.when(
        rest > 0,
        F.lit(_HLL_MD5_RANK_BITS + 1) - F.length(F.bin(rest)),
    ).otherwise(F.lit(_HLL_MD5_RANK_BITS + 1))
    return staged.select(
        *keys, idx.alias("idx"), rho.cast("long").alias("rho")
    )


def hll_md5_estimate(
    registers: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge md5-HLL registers to ``keys`` grain and ESTIMATE — fully
    oracle-reproducible:

    * S = Σ_present 2^(53−rho) + (m − |present|)·2^53 — exact long
      arithmetic, order-independent;
    * raw = (alpha·m²·2^53) / S — ONE IEEE division of exacts;
    * Flajolet small-range branch: raw ≤ 2.5·m AND V > 0 (V = zero
      registers) → m·ln(m/V) — the branch predicate is decided on
      exact values, and ln agrees bit-for-bit between the JVM and
      DuckDB's glibc on this domain (pinned by the driver gate; the
      9dp family rounding absorbs a stray ulp regardless).

    Returns (keys…, n_registers, approx_distinct) with the estimate
    rounded to 9dp (the drift family's cross-engine contract)."""
    m = HLL_MD5_M
    sent = _HLL_MD5_RANK_BITS + 1
    merged = registers.groupBy(*keys, "idx").agg(F.max("rho").alias("rho"))
    agg = merged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum(
            F.expr(f"shiftleft(1L, cast({sent} - rho as int))")
        ).alias("__s_present"),
    )
    s = (
        F.col("__s_present")
        + (F.lit(m) - F.col("n_registers"))
        * F.lit(1 << sent).cast("long")
    )
    v = F.lit(m) - F.col("n_registers")  # zero registers
    raw = F.lit(HLL_MD5_ALPHA_NUM) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *keys,
        "n_registers",
        F.round(est, 9).alias("approx_distinct"),
    )
