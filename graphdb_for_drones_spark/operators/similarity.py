"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs both:

* brute-force cosine top-k — exact baseline; one narrow projection
  computes the score entirely in codegen (``zip_with`` + ``aggregate``
  fold in double precision), then a single ``orderBy … limit k``.
  Linear scan: right answer for one-off queries and small corpora.

* LSH-bucketed ANN (random hyperplanes) — the scale path: a 32-bit
  signed-projection signature per vector, banded into buckets; queries
  only score vectors sharing a band bucket.  Hyperplanes are derived
  deterministically from a seed (numpy RandomState), so signatures are
  reproducible across runs and clusters.

Dot products avoid Python per row; the hyperplane projection uses one
literal array per plane (64 floats), built once driver-side.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators._index_store import build_once
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.operators.dedup import quote_ident


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


# Measured dead end, recorded so it isn't retried: unrolling the dot
# product into a dim-term F.get arithmetic chain (to escape the
# interpreted zip_with+aggregate fold) ran ~6x SLOWER at dim=64 — the
# 256-node expression tree exceeds codegen's method limits and falls
# back to per-node interpreted evaluation with boxed array accesses,
# worse than the fold's single interpreted loop.  A numpy pandas-UDF
# verify is faster still but sums in SIMD/pairwise order — not
# bit-identical to the fold, so it would break every oracle-checked
# cosine.  The fold IS the right exactness/speed trade here.


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def _vec_lit(vec) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _dot_sql(name: str, vec) -> str:
    """``dot(F.col(name), _vec_lit(vec))`` as SQL TEXT — the same fold
    tree after parsing (bit-identical results), but one py4j call
    instead of ~130 per plane (the pq_encode lesson; literals use the
    repr roundtrip, so the doubles are exactly ``F.lit(float(v))``'s)."""
    arr = "array(" + ",".join(f"{float(v)!r}D" for v in vec) + ")"
    return (
        f"aggregate(zip_with({quote_ident(name)}, {arr}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity.  Returns
    (id, cosine) ordered by (cosine desc, id) for determinism."""
    q = _vec_lit(query_vec)
    score = cosine(F.col(vec_col), q)
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        embeddings.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def sq8_bounds(
    embeddings: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (lo, hi) corpus bounds for scalar quantization —
    ONE scan-reduce (128 per-dim min/max aggregates emitted as a single
    parsed SQL string: the py4j plan-build-tax rule), collected
    driver-side like k-means centroids / the auto band width: corpus-
    derived parameters are fine as long as the SQL twin derives the
    SAME values from the same data (min/max are order-free exact)."""
    lo_sql = ",".join(
        f"min(CAST(get({vec_col}, {i}) AS DOUBLE))" for i in range(dim)
    )
    hi_sql = ",".join(
        f"max(CAST(get({vec_col}, {i}) AS DOUBLE))" for i in range(dim)
    )
    row = embeddings.select(
        F.expr(f"array({lo_sql})").alias("lo"),
        F.expr(f"array({hi_sql})").alias("hi"),
    ).first()
    return [float(x) for x in row.lo], [float(x) for x in row.hi]


def sq8_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Scalar-quantization (SQ8) approximate top-k — the simplest rung
    of the quantization ladder beside IVF-flat / IVFPQ / PQ-ADC: each
    dimension is affinely coded to an 8-bit level over its corpus
    (lo, hi) range, vectors are scored by the cosine of the DECODED
    (reconstructed) vector against the raw query (the asymmetric /
    ADC convention — the query is never quantized).

    Deterministic and rational end to end (code = round((x−lo)·255 /
    span), decode = lo + code·span/255 — one documented op order the
    SQL twin mirrors literally; constant dimensions decode to lo), so
    the approximate scores themselves are oracle-checkable.  Plan
    shape: the bounds pass is one scan-reduce; the search is one
    map-side zip_with projection + top-k — no shuffle beyond the
    bounded sort, 25% of the float32 read/compute footprint at scale
    when codes are materialized."""
    dim = len(query_vec)
    if bounds is None:
        lo, hi = sq8_bounds(embeddings, dim, vec_col)
    else:
        lo, hi = bounds
    span = [h - l for l, h in zip(lo, hi)]
    lo_arr = "array(" + ",".join(f"{v!r}D" for v in lo) + ")"
    sp_arr = "array(" + ",".join(f"{v!r}D" for v in span) + ")"
    # staged zip_withs behind named columns (the lambda-CSE rule):
    # diff  = x − lo            (per dim)
    # dec   = code·span/255     (0 for constant dims)
    # xhat  = lo + dec          (the reconstructed vector)
    scored = (
        embeddings.select(
            F.col(id_col),
            F.expr(
                f"zip_with(CAST({vec_col} AS array<double>), {lo_arr}, "
                "(x, l) -> x - l)"
            ).alias("__diff"),
        )
        .select(
            id_col,
            F.expr(
                f"zip_with(__diff, {sp_arr}, (d, s) -> CASE WHEN s = 0.0D "
                "THEN 0.0D ELSE (round((d * 255.0D) / s) * s) / 255.0D END)"
            ).alias("__dec"),
        )
        .select(
            id_col,
            F.expr(f"zip_with(__dec, {lo_arr}, (xh, l) -> xh + l)").alias(
                "__xhat"
            ),
        )
    )
    score = F.round(cosine(F.col("__xhat"), _vec_lit(query_vec)), 6)
    return (
        scored.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 32, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for signed-projection LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_signature(vec_col, planes: np.ndarray) -> Column:
    """Pack sign(v·pⱼ) bits into a long — one bucket key per vector.

    Pass the vector column's NAME (a ``str``) for the SQL-text fast
    path: n_planes × dim literal plane coefficients cost ~1 s of py4j
    round-trips as Column algebra; one parsed string builds the same
    tree in one call (bit-identical signatures)."""
    if isinstance(vec_col, str):
        terms = [
            f"if({_dot_sql(vec_col, p)} > 0.0D, shiftleft(1L, {j}), 0L)"
            for j, p in enumerate(planes)
        ]
        return F.expr("cast(0 as bigint) + " + " + ".join(terms))
    total = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        bit = F.when(dot(vec_col, _vec_lit(p)) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("long")
        total = total + bit
    return total


def ann_index(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Materializable ANN index: (id, embedding, band, bucket) — one row
    per (vector, band).  Partition/bucket the output by (band, bucket) on
    disk and a query touches only its own buckets."""
    planes = hyperplanes(dim, n_planes, seed)
    sig = lsh_signature(vec_col, planes)
    width = n_planes // bands
    mask = (1 << width) - 1
    out = embeddings.select(id_col, vec_col, sig.alias("sig"))
    bb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("sig"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    )
    return out.select(id_col, vec_col, bb.alias("bb")).select(
        id_col, vec_col, "bb.band", "bb.bucket"
    )


def ann_search(
    index: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing ≥1 band bucket with
    the query (computed driver-side from the same seeded planes)."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qsig = 0
    for j, p in enumerate(planes):
        if float(np.dot(query_vec, p)) > 0:
            qsig |= 1 << j
    width = n_planes // bands
    mask = (1 << width) - 1
    buckets = [(b, (qsig >> (b * width)) & mask) for b in range(bands)]
    cond = None
    for b, bk in buckets:
        c = (F.col("band") == b) & (F.col("bucket") == bk)
        cond = c if cond is None else (cond | c)
    cands = index.filter(cond).dropDuplicates([id_col])
    score = F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), 6)
    return (
        cands.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def auto_band_width(n_rows: int, target_bucket: int = 128) -> int:
    """Band width (bits per band) sized so an isotropic corpus of
    ``n_rows`` vectors averages ~``target_bucket`` members per bucket:
    width = ceil(log2(n / target)), floored at 4 (the sf0.1-tuned
    default).  The sf1 sweep measured why this must GROW with the
    corpus: at 20k vectors a fixed 4-bit band leaves ~1.25k
    members/bucket and the candidate stream goes quadratic
    (91.5 s → 3.95 s at 8-bit, PERF.md round 7).  Wider bands trade
    recall down the banded-LSH S-curve — the documented knob, now with
    a measured default.

    Computed in INTEGER arithmetic — smallest w with 2^w·target ≥ n,
    i.e. ``(ceil(n/target) − 1).bit_length()`` — which equals the float
    ``ceil(log2(n/target))`` everywhere but is ulp-proof, so the
    ``ann_near_pairs_auto`` SQL oracle twin reproduces the width from
    COUNT(*) exactly (a one-ulp log2 disagreement at a power-of-two
    boundary would flip the whole geometry)."""
    if n_rows <= 0:
        return 4
    m = -(-n_rows // target_bucket)  # ceil(n/target), integer-exact
    return max(4, (m - 1).bit_length())


def ann_near_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_planes: int | None = None,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Corpus-wide embedding near-duplicate pairs — the scale path for
    embedding-cosine dedup: candidates are pairs sharing >=1 LSH band
    bucket of the signed-projection index (posting-list pair enumeration
    per bucket, the dedup.py pattern — one exchange on the bucket key,
    no self-join), verified with exact rounded cosine >= threshold.

    Deterministic given the seed, so the WHOLE pipeline (signatures,
    buckets, candidates, verification) is oracle-checkable with the
    planes inlined as SQL literals.  Identical vectors share every
    bucket, so exact-duplicate recall is 1.0 by construction; near-dup
    recall follows the standard banded-LSH S-curve — raise ``n_planes``
    /band count at scale to move the knee.

    Plan shape: (id, sig, norm, vector) rides INSIDE the posting-list
    element (the simhash carrier trick), so verification needs no join
    back onto the embeddings and cross-band duplicates fall to a
    minimum-agreeing-band filter computed from the two signatures —
    replacing the dropDuplicates exchange of the (near-quadratic)
    candidate stream AND two joins with map-side expressions.  The
    band explosion duplicates each vector ``bands`` times in one
    linear exchange — the LSH trade everywhere in this module.  The
    cheap integer band-ownership filter runs BEFORE the 64-term dot
    product, so the fold only evaluates on owned pairs.  Norms are
    hoisted per ROW (sqrt(Σx²) folded once per vector, not per pair) —
    pair scores stay bit-identical to the join formulation.

    ``n_planes=None`` = AUTO (the DEFAULT since round 10): one
    column-pruned count sizes the band width to the corpus
    (``auto_band_width``), so the bucket space grows with data instead
    of saturating — the sf1 knee fixed by default.  On corpora up to
    ~8k vectors auto resolves to the old fixed geometry (width 4 ×
    4 bands = 16 planes), so small-data behavior is unchanged.  Pass an
    explicit ``n_planes`` to pin the geometry (the fixed16 oracle twin
    inlines the planes, so its geometry must be pinned)."""
    from graphdb_for_drones_spark.operators.dedup import posting_pairs

    if n_planes is None:
        width = auto_band_width(embeddings.select(id_col).count())
        n_planes = width * bands
    planes = hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1
    carrier = embeddings.select(
        F.struct(
            F.col(id_col).alias("id"),
            lsh_signature(vec_col, planes).alias("sig"),
            norm2(F.col(vec_col)).alias("n"),
            F.col(vec_col).alias("v"),
        ).alias("id")
    )
    keyed = carrier.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("id.sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    buckets = (
        keyed.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = pin(buckets)
    cand = posting_pairs(buckets, ["band", "bucket"], keep_keys=True)
    sa, sb = F.col("id_a.sig"), F.col("id_b.sig")
    own = None
    for b in range(bands):
        agree = (
            F.shiftrightunsigned(sa, b * width).bitwiseAND(F.lit(mask))
            == F.shiftrightunsigned(sb, b * width).bitwiseAND(F.lit(mask))
        )
        own = F.when(agree, F.lit(b)) if own is None else own.when(agree, F.lit(b))
    score = F.round(
        dot(F.col("id_a.v"), F.col("id_b.v"))
        / (F.col("id_a.n") * F.col("id_b.n")),
        6,
    )
    return (
        cand.filter(F.col("band") == own.otherwise(F.lit(-1)))
        .withColumn("cosine", score)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            "cosine",
        )
    )


# a block at or below this many rows runs the exact all-pairs join
# (C(4096,2) ≈ 8.4M pairs — one executor's worth of streamed compare
# work); above it the all-pairs product grows quadratically with data
# (the 100 TB killer), so big blocks route through per-block LSH bucket
# candidates + exact re-score instead — the same adaptive
# exact-below/bucketed-above pattern as connected_components and
# posting_pairs
MAX_EXACT_BLOCK = 4096


def cosine_pairs_blocked(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int = MAX_EXACT_BLOCK,
    dim: int | None = None,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs within a blocking key (e.g. an LSH
    bucket or a label partition) — size-adaptive, never unboundedly
    all-pairs:

    * blocks with at most ``max_block_rows`` rows take the exact path:
      a per-block self-join scoring every pair (hoisted norms keep it
      O(rows·dim) + O(pairs·dim), bit-identical to ``cosine()``);
    * bigger blocks take the scale path: a signed-projection LSH
      signature per vector, banded into (block, band, bucket) keys;
      only pairs sharing a bucket are scored, with the SAME exact
      rounded-cosine re-score and threshold.  Recall on this path
      follows the banded-LSH S-curve (exact duplicates collide in every
      band → recall 1.0; raise ``n_planes``/``bands`` to move the knee
      for lower thresholds).

    The split is decided inside the plan by a broadcast of per-block
    counts — no driver action.  ``dim`` (hyperplane width) is probed
    from one row only if not given.  Both paths share one scoring
    expression, so a pair scores identically wherever it lands."""
    # hoist the per-row norm out of the pair join: cosine() would re-fold
    # both vectors' norms once per PAIR (O(pairs·dim) extra) — computing
    # sqrt(Σx²) per ROW first is the same double arithmetic (fold, sqrt,
    # multiply) so results are bit-identical, at O(rows·dim)
    from graphdb_for_drones_spark.operators.dedup import _spread_input

    withn = _spread_input(embeddings, block_col, id_col, vec_col).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("nrm"),
    )
    sizes = withn.groupBy("blk").agg(F.count(F.lit(1)).alias("__bn"))
    withn = withn.join(F.broadcast(sizes), "blk")
    small = withn.filter(F.col("__bn") <= max_block_rows)
    big = withn.filter(F.col("__bn") > max_block_rows)

    score = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )

    def _score_pairs(pairs: DataFrame) -> DataFrame:
        return (
            pairs.select("id_a", "id_b", score.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )

    # r12 (guide §2.5 — salt the key): the exact leg's parallelism was
    # bounded by |blocks| (and AQE byte-coalescing shrank it further —
    # profiled as ONE 2 s task at sf0.1), while its WORK is O(rows²·dim)
    # per block.  Deterministic salt derived from the block's own row
    # count splits the a-side into ⌈rows/128⌉ groups and replicates the
    # b-side per group, so per-task pair work is bounded by 128·rows·dim
    # regardless of block count; with blocks capped at
    # ``max_block_rows`` the replication factor is bounded too (≤ 32 at
    # the 4096 default).  Each unordered pair still meets exactly once
    # (a-side membership is a function of id_a), scored by the identical
    # expression.
    salt_k = F.greatest(
        F.lit(1), F.ceil(F.col("__bn") / F.lit(128)).cast("int")
    )
    a = small.select(
        "blk",
        F.pmod(F.xxhash64("id"), salt_k).cast("int").alias("__salt"),
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = small.select(
        "blk",
        F.explode(F.sequence(F.lit(0), salt_k - 1)).alias("__salt"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    exact = _score_pairs(
        a.join(b, ["blk", "__salt"]).filter(F.col("id_a") < F.col("id_b"))
    )

    # LSH leg for over-cap blocks: bucket candidates within (blk, band,
    # bucket), then exact re-score.  Built unconditionally into the plan;
    # when no block exceeds the cap the leg scans an empty filter output.
    from graphdb_for_drones_spark.operators.dedup import _bucket_pairs

    if dim is None:
        probe = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(probe["d"]) if probe is not None else 2
    planes = hyperplanes(dim, n_planes, seed)
    sig = lsh_signature("v", planes)
    width = n_planes // bands
    mask = (1 << width) - 1
    banded = big.select("blk", "id", sig.alias("sig")).select(
        "blk",
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), bd * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for bd in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "blk", "bb.band", "bb.bucket")
    cand = _bucket_pairs(banded, ["blk", "band", "bucket"])
    bv = big.select("id", "v", "nrm")
    lsh = _score_pairs(
        cand.join(
            bv.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        ).join(
            bv.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
    )
    return exact.unionByName(lsh)


def semantic_dedup(
    index: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup apply path: the KEPT rows of the index — every vector
    without a lower-id same-cluster neighbor at rounded cosine ≥
    ``threshold``.  Anti-join against the duplicate set from the same
    size-adaptive pair join ``semantic_dedup_stats`` reports on; at
    scale the duplicate set is a fraction of the corpus and the
    anti-join shuffles ids only."""
    pairs = cosine_pairs_blocked(
        index,
        block_col=cluster_col,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return index.join(dups, id_col, "left_anti")


def semantic_dedup_stats(
    index: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): prune semantic
    duplicates WITHIN k-means clusters of the embedding space.  A vector
    is a semantic duplicate iff a lower-id vector in the SAME cluster
    has rounded cosine ≥ ``threshold`` — the deterministic min-id
    keeper rule (the paper keeps one arbitrary member per ε-ball; min-id
    makes the choice engine-reproducible).

    Input is an IVF/k-means assignment table (``ivf_open``/``ivf_index``
    output: id, vector, cluster) — clustering first is the point: only
    within-cluster pairs are ever scored, and the pair join rides
    ``cosine_pairs_blocked``'s size-adaptive path (exact all-pairs for
    small clusters, banded-LSH candidates + exact re-score above
    MAX_EXACT_BLOCK), so a skewed mega-cluster cannot go quadratic.

    Returns one row per cluster: (cluster, n_vectors, n_dups, n_kept).
    """
    pairs = cosine_pairs_blocked(
        index,
        block_col=cluster_col,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    flagged = index.select(F.col(id_col), F.col(cluster_col)).join(
        dups.withColumn("__dup", F.lit(1)), id_col, "left"
    )
    return flagged.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_dups"),
        (
            F.count(F.lit(1)) - F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
        ).alias("n_kept"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic sampled k-means centroids, engine-neutral so a SQL
    oracle can reproduce them bit-for-bit:

    * init — the ``k`` vectors with the smallest ``md5("{id}:{seed}")``
      digest (id tiebreak): a seeded pseudo-random sample any engine can
      replay; centroid id = the init vector's id;
    * ``iters`` Lloyd rounds — cosine assignment (rounded 6dp, lowest-
      centroid-id tiebreak, exactly ``ivf_index``'s rule), then per-
      dimension means as DECIMAL(28,10) sums (order-independent, so the
      same value on any partitioning or engine) divided by the member
      count after a cast to double;
    * empty clusters keep their previous centroid.

    Scale shape: per round one broadcast of k·dim doubles into the
    assignment scan + one (cluster, dim) groupBy; only k·dim rows ever
    reach the driver.  Returns ``[(centroid_id, [float64]*dim)]``."""
    # NULL vectors (failed embedding jobs) cannot live in the space:
    # excluded before sampling and assignment — the convention every
    # vector-index builder here shares
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    rk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    init = (
        embeddings.select(F.col(id_col), F.col(vec_col), rk.alias("rk"))
        .orderBy("rk", id_col)
        .limit(k)
        .collect()
    )
    cents = [(int(r[id_col]), [float(v) for v in r[vec_col]]) for r in init]
    dim = len(cents[0][1])
    for _ in range(iters):
        asg = ivf_index(embeddings, cents, id_col, vec_col)
        per_dim = (
            asg.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(
                    F.col("val").cast("double").cast("decimal(28,10)")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in per_dim:
            # cast-to-double THEN divide, same order as the SQL twin
            means.setdefault(int(r.cluster), {})[int(r.pos)] = float(r.s) / r.n
        cents = [
            (cid, [means[cid][p] for p in range(dim)]) if cid in means else (cid, old)
            for cid, old in cents
        ]
    return cents


def ivf_index(
    embeddings: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF(-flat) index: assign each vector to its nearest centroid by
    cosine (rounded to 6dp; ties broken by centroid id — deterministic
    across engines and reduction orders).  ``centroids`` is a list of
    (centroid_id, vector) pairs, driver-side (k is small by design; at
    scale centroids come from a sampled k-means and are broadcast
    literals all the same).

    Returns (id, embedding, cluster).  Partition the output by cluster
    on disk and a probe reads only its clusters — the disk-level analogue
    of the ANN band buckets.

    Cost shape: centroid norms are row-constants computed driver-side
    (same sequential fold + sqrt, so bit-identical to the in-plan value)
    and the row norm is hoisted into one column instead of being
    re-folded once per centroid — assignment work per row drops from
    ~3k·dim to ~k·dim multiply-adds."""

    def _norm_py(v) -> float:
        s = 0.0
        for x in v:
            s += float(x) * float(x)
        return s**0.5

    # NULL vectors excluded — see kmeans_centroids
    withn = embeddings.filter(F.col(vec_col).isNotNull()).withColumn(
        "__n", norm2(F.col(vec_col))
    )
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.round(
                        dot(F.col(vec_col), _vec_lit(v))
                        / (F.col("__n") * F.lit(_norm_py(v))),
                        6,
                    ).alias("cos"),
                    # negative id: array_max picks the LOWEST id on a
                    # rounded-cosine tie
                    F.lit(-int(cid)).alias("neg_cid"),
                )
                for cid, v in centroids
            ]
        )
    )
    return withn.select(
        F.col(id_col), F.col(vec_col), (-best["neg_cid"]).alias("cluster")
    )


def _probe_clusters(query_vec, centroids: list, n_probe: int) -> list:
    """The ``n_probe`` cluster ids whose centroids are nearest the query
    by rounded cosine, ties to the lower id — the coarse probe every
    IVF search shares."""

    def cos_py(a, b):
        # sequential fold, same order as the engine/oracle folds
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        return round(dot / ((na**0.5) * (nb**0.5)), 6)

    ranked = sorted(
        ((cos_py(query_vec, v), -int(cid)) for cid, v in centroids),
        reverse=True,
    )
    return [-neg for _, neg in ranked[:n_probe]]


def ivf_search(
    index: DataFrame,
    centroids: list,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``n_probe`` centroids nearest the query (same rounded-
    cosine order), then exact cosine top-k within those clusters only."""
    probes = _probe_clusters(query_vec, centroids, n_probe)
    score = F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), 6)
    return (
        index.filter(F.col("cluster").isin(probes))
        .select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF index lifecycle: build once (offline), probe many (online).
#
# At 100 TB you never run Lloyd iterations inside a query: the index is a
# partition-pruned on-disk table maintained out-of-band, and a probe reads
# only the ``n_probe`` cluster directories it needs.  ``ivf_open`` is the
# catalog-facing entry: load the persisted index if its fingerprint matches
# the source data, else build + persist it (atomically) and return the
# freshly built one.  The persisted contents are bit-identical to a fresh
# ``kmeans_centroids`` + ``ivf_index`` run (everything is deterministic and
# parquet float round-trips are exact), so oracle checks hold either way.
# Where an index lives and how it is published: ``_index_store``.
# ---------------------------------------------------------------------------


def ivf_read(spark: SparkSession, path: str) -> tuple[DataFrame, list]:
    """Load a persisted IVF index: (partition-pruned DataFrame, centroids).
    Vectors streamed in since the build (``streaming/ivf_maintain``:
    ``<path>/ingest``, partitioned by cluster then batch_id) are unioned
    in when that dir exists; the built index's schema is passed to its
    read, so a dir that holds no part file yet reads as empty."""
    with open(os.path.join(path, "centroids.json")) as fh:
        cents = [(int(cid), [float(x) for x in v]) for cid, v in json.load(fh)]
    index = spark.read.parquet(os.path.join(path, "index"))
    ingest = os.path.join(path, "ingest")
    if os.path.isdir(ingest):
        index = index.unionByName(
            spark.read.schema(index.schema).parquet(ingest).select(*index.columns)
        )
    return index, cents


def persisted_pairs(spark: SparkSession, path: str, builder) -> DataFrame:
    """The shared pair-graph materialization kernel (the ``ivf_open``
    contract): load the persisted pair table at ``path`` if present,
    else invoke ``builder()`` (a zero-arg callable returning the pair
    DataFrame — must be DETERMINISTIC, so the persisted graph is
    bit-identical to a fresh run), persist atomically (tmp dir +
    rename, concurrent-builder safe, stale-sibling sweep) and load.
    At 100 TB this is the difference between one corpus-scale pair
    enumeration per INDEX BUILD and one per QUERY."""
    build_once(
        path,
        lambda tmp: builder().write.mode("overwrite").parquet(
            os.path.join(tmp, "pairs")
        ),
    )
    return spark.read.parquet(os.path.join(path, "pairs"))


def near_pairs_open(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    dim: int,
    threshold: float = 0.3,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Materialized eps-neighbor graph: the persisted ``ann_near_pairs``
    output — every graph-composition query (DBSCAN cores, dup-cluster
    composition, density analysis) amortizes the one LSH-candidate +
    exact-verify pass instead of recomputing it."""
    return persisted_pairs(
        spark,
        path,
        lambda: ann_near_pairs(
            embeddings, dim, threshold, n_planes, bands, id_col, vec_col, seed
        ),
    )


def blocked_pairs_open(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    block_col: str,
    threshold: float = 0.3,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Materialized label-blocked cosine pair graph: the persisted
    ``cosine_pairs_blocked`` output (exact within-block scoring below
    the block cap, banded-LSH above — deterministic either way)."""
    return persisted_pairs(
        spark,
        path,
        lambda: cosine_pairs_blocked(
            embeddings,
            block_col,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            seed=seed,
        ),
    )


def ivf_open(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Load the index at ``path`` if present, else build from
    ``embeddings`` (seeded k-means + nearest-centroid assignment), persist,
    and load.  Queries amortize the Lloyd iterations across every probe.
    The persisted index is parquet partitioned by ``cluster`` (a probe's
    ``cluster IN (...)`` filter becomes directory pruning) plus the k·dim
    centroid list as JSON."""

    def write(tmp: str) -> None:
        cents = kmeans_centroids(embeddings, k, iters, seed, id_col, vec_col)
        ivf_index(embeddings, cents, id_col, vec_col).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(os.path.join(tmp, "index"))
        with open(os.path.join(tmp, "centroids.json"), "w") as fh:
            json.dump([[int(cid), list(map(float, v))] for cid, v in cents], fh)

    build_once(path, write)
    return ivf_read(spark, path)


# --------------------------------------------------------------------- #
# Product quantization (PQ) — compressed-code ANN for the 100 TB path
# --------------------------------------------------------------------- #


def _micro(x: Column) -> Column:
    """Nonnegative double → integer micro-units via floor(x·1e6 + 0.5):
    the one rounding function every engine (and Python) computes the
    same way — half-up without banker's ambiguity — so distances become
    EXACT integers and every downstream sum/argmin is order-independent
    and driver-hash-checkable."""
    return F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic PQ codebooks by seeded sampling (Jégou, Douze,
    Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
    2011): the ``ksub`` vectors with the smallest ``md5("{id}:{seed}")``
    digest (id tiebreak — kmeans_centroids' sampling rule) supply ALL
    ``m`` subspace codebooks; sub-codeword ``c`` of subspace ``j`` is
    sample ``c``'s j-th subvector.  One shared sample keeps the SQL twin
    one ORDER BY instead of m; Lloyd refinement per subspace would reuse
    ``kmeans_centroids`` on the sliced columns if recall demanded it.

    Returns ``codebooks[j][c] = [float64]*dsub`` (dsub = dim/m), with
    codeword order = ascending digest — the argmin tiebreak order."""
    # NULL vectors excluded — see kmeans_centroids
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    rk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    init = (
        embeddings.select(F.col(id_col), F.col(vec_col), rk.alias("rk"))
        .orderBy("rk", id_col)
        .limit(ksub)
        .collect()
    )
    if not init:
        raise ValueError("pq_codebooks: empty input")
    dim = len(init[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            [float(v) for v in r[vec_col][j * dsub : (j + 1) * dsub]]
            for r in init
        ]
        for j in range(m)
    ]


def _lit_d(v: float) -> str:
    """SQL double literal with exact binary roundtrip (repr is the
    shortest string that parses back to the same IEEE double)."""
    return f"{float(v)!r}D"


def _sub_sq_dist_sql(sub_name: str, codeword: list) -> str:
    """Σ (xᵢ−cᵢ)² as a left-to-right fold over one subvector, in
    integer micro-units — as SQL TEXT, not Column algebra.  The fold
    tree F.expr parses is node-for-node the zip_with/aggregate tree the
    Column API would build (bit-identical results), but ONE py4j call
    constructs it: the Column form cost ~4 s of pure driver time per
    plan at m=8, ksub=16 (thousands of py4j round-trips), dominating
    the whole query."""
    arr = "array(" + ",".join(_lit_d(c) for c in codeword) + ")"
    sub_name = quote_ident(sub_name)
    return (
        f"cast(floor(aggregate(zip_with({sub_name}, {arr}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"0.0D, (acc, x) -> acc + x) * 1000000.0D + 0.5D) as bigint)"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the
    nearest sub-codeword by squared L2 (micro-unit ints; first-index
    tiebreak via array_position-of-min).  Returns (id, code_0..code_m-1
    int) — m bytes of information per vector standing in for dim·4:
    the compression that lets a 100 TB corpus' index live in RAM.

    Plan shape: subvector slices are STAGED as named columns behind a
    select boundary (the lambda-CSE rule — each slice is referenced
    ksub times), then every distance/argmin is pure codegen; one scan,
    no shuffle, no Python.  The argmin is ONE pass over the distance
    array: codeword index c < ksub is packed into the low bits of the
    integer distance (``min(d·ksub + c)`` is the lexicographic (d, c)
    minimum — exactly the oracle's ``MIN(d*{ksub}+c) % {ksub}`` trick),
    where the naive ``array_position(dists, array_min(dists))`` form
    evaluates the ksub-fold distance array TWICE and measured ~6× slower
    at sf0.1 (the collapsed projection defeats subexpression
    elimination)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    # NULL vectors excluded — see kmeans_centroids
    staged = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        *[
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(f"__s{j}")
            for j in range(m)
        ],
    )
    cols = [F.col(id_col)]
    for j in range(m):
        elems = ",".join(
            f"{_sub_sq_dist_sql(f'__s{j}', cw)} * {ksub} + {c}"
            for c, cw in enumerate(codebooks[j])
        )
        code = F.expr(
            f"cast(pmod(array_min(array({elems})), {ksub}) as int)"
        )
        cols.append(code.alias(f"code_{j}"))
    return staged.select(*cols)


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    per-(subspace, codeword) squared distances become an m×ksub lookup
    table of micro-unit ints (computed driver-side — the same
    left-to-right fold and floor(x·1e6+0.5) as the encode path), and a
    row's approximate distance is the Σ over subspaces of its codeword's
    table cell — integer adds, order-independent, hash-checkable.

    At scale the scan reads ONLY the m code bytes per row (here codes
    are computed inline from the raw vectors; a materialized variant
    persists ``pq_encode``'s output: ``pq_open``).  Returns
    (id, adist long) ordered by (adist, id), ascending."""
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    return pq_adc_topk_from_codes(codes, query_vec, codebooks, k, id_col)


def _codes_open(
    spark: SparkSession, path: str, build, partition_by: str | None = None
) -> tuple[DataFrame, list]:
    """The PQ code-table store shared by ``pq_open`` and
    ``ivfpq_residual_open``: load ``(codes, codebooks)`` from ``path``,
    publishing ``build()``'s output first when absent — the code table
    as parquet (m small ints per vector, the RAM-sized stand-in for
    dim·4 bytes; partitioned by ``partition_by`` if given) plus the
    codebooks as JSON."""

    def write(tmp: str) -> None:
        codes, books = build()
        writer = codes.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(os.path.join(tmp, "codes"))
        with open(os.path.join(tmp, "codebooks.json"), "w") as fh:
            json.dump(
                [[[float(x) for x in cw] for cw in book] for book in books], fh
            )

    build_once(path, write)
    with open(os.path.join(path, "codebooks.json")) as fh:
        books = json.load(fh)
    return spark.read.parquet(os.path.join(path, "codes")), books


def pq_open(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Load the PQ code table at ``path`` if present, else build
    (seeded codebooks + encode), persist, and load — queries amortize
    the encode pass exactly like ``ivf_open`` amortizes Lloyd; an ADC
    probe then reads ONLY the m code bytes per row."""

    def build():
        books = pq_codebooks(embeddings, m, ksub, seed, id_col, vec_col)
        return pq_encode(embeddings, books, id_col, vec_col), books

    return _codes_open(spark, path, build)


def pq_query_table(query_vec, codebooks: list) -> list:
    """The query's m×ksub asymmetric-distance lookup table in integer
    micro-units — the same fold and floor(x·1e6+0.5) as the encode
    path, computed driver-side once per query."""
    import math as _math

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query_vec) != m * dsub:
        raise ValueError("query dim mismatch")
    dt = []
    for j in range(m):
        row = []
        for cw in codebooks[j]:
            acc = 0.0
            for i in range(dsub):
                d = float(query_vec[j * dsub + i]) - cw[i]
                acc = acc + d * d
            row.append(int(_math.floor(acc * 1_000_000.0 + 0.5)))
        dt.append(row)
    return dt


def ivfpq_topk(
    ivf_index: DataFrame,
    centroids: list,
    codes: DataFrame,
    codebooks: list,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-pruned ADC top-k — the IVFPQ serving composition (Jégou,
    Douze, Schmid 2011; the FAISS billion-scale default): the coarse
    quantizer prunes the scan to ``n_probe`` cluster directories
    (partition-pruned on the materialized IVF index), then asymmetric
    distance ranks only the surviving rows' PQ codes — m small ints per
    candidate, never a raw vector.  This variant encodes RAW vectors
    rather than per-cluster residuals (simpler; residual encoding would
    thread the probe's centroid into the lookup table), so both legs
    reuse the independently oracle-checked IVF and PQ artifacts and the
    composition itself is driver-hash-checkable.

    Cost shape at 100 TB: probe = n_probe/k of the code table (cluster
    directory pruning), each row m integer lookups + one integer sum —
    the scan that keeps a billion-vector index interactive."""
    probes = _probe_clusters(query_vec, centroids, n_probe)
    cand = ivf_index.filter(F.col("cluster").isin(probes)).select(id_col)
    dt = pq_query_table(query_vec, codebooks)
    m = len(codebooks)
    adist = None
    for j in range(m):
        cell = F.element_at(
            F.array(*[F.lit(v) for v in dt[j]]), F.col(f"code_{j}") + 1
        )
        adist = cell if adist is None else adist + cell
    return (
        codes.join(cand, id_col, "left_semi")
        .select(F.col(id_col), adist.cast("long").alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )


def ivf_residuals(
    embeddings: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, resid): each vector minus its assigned centroid —
    the quantity residual PQ encodes.  The centroid lookup is a
    when-chain of array literals on the cluster id (k is small by
    design; broadcast literals, pure codegen, no join)."""
    asg = ivf_index(embeddings, centroids, id_col, vec_col)
    cent_expr = None
    for cid, v in centroids:
        arr = F.array(*[F.lit(float(x)) for x in v])
        cent_expr = (
            F.when(F.col("cluster") == int(cid), arr)
            if cent_expr is None
            else cent_expr.when(F.col("cluster") == int(cid), arr)
        )
    return asg.select(
        F.col(id_col),
        "cluster",
        F.zip_with(
            F.col(vec_col), cent_expr, lambda x, c: x.cast("double") - c
        ).alias("resid"),
    )


def ivfpq_residual_build(
    embeddings: DataFrame,
    centroids: list,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Residual-PQ code table: codebooks are trained on (and codes
    encode) the RESIDUALS x − centroid[cluster(x)] — the true IVFPQ
    of Jégou et al. 2011 / FAISS IndexIVFPQ, where quantization error
    shrinks because residuals are centered near zero.  Returns
    (codes (id, cluster, code_0..m-1), codebooks).  Deterministic:
    same seeded md5 sample rule as ``pq_codebooks``, applied to the
    residual vectors."""
    res = pin(ivf_residuals(embeddings, centroids, id_col, vec_col))
    books = pq_codebooks(res, m, ksub, seed, id_col, "resid")
    codes = pq_encode(res, books, id_col, "resid").join(
        res.select(id_col, "cluster"), id_col
    )
    return codes, books


def ivfpq_residual_open(
    spark: SparkSession,
    embeddings: DataFrame,
    centroids: list,
    path: str,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Load the persisted residual-code table at ``path`` if present,
    else build (``ivfpq_residual_build``), persist atomically — codes
    parquet PARTITIONED BY cluster (a probe's ``cluster IN`` filter
    becomes directory pruning, the ``ivf_open`` layout) plus the residual
    codebooks as JSON — and load.  Deterministic, so bit-identical to a
    fresh build; probes amortize the residual + encode pass exactly
    like ``pq_open`` amortizes the raw encode."""
    return _codes_open(
        spark,
        path,
        lambda: ivfpq_residual_build(
            embeddings, centroids, m, ksub, seed, id_col, vec_col
        ),
        partition_by="cluster",
    )


def ivfpq_residual_search(
    codes: DataFrame,
    centroids: list,
    codebooks: list,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual-ADC top-k: the coarse probe picks ``n_probe`` clusters
    (query-centroid cosine, the ivf_search rule); each probed cluster
    gets ITS OWN asymmetric-distance table built from the query's
    residual against that centroid (q − c_p), and a candidate row's
    distance sums its codewords' cells from its cluster's table.
    Residual ADC approximates the same ||q − x||² as raw ADC
    (‖(q−c) − (x−c)‖²) with tighter quantization — the reason FAISS
    defaults to it.  All integer micro-unit sums — hash-checkable."""
    probes = _probe_clusters(query_vec, centroids, n_probe)
    cent = {int(cid): [float(x) for x in v] for cid, v in centroids}
    tables = {
        p: pq_query_table(
            [float(q) - c for q, c in zip(query_vec, cent[p])], codebooks
        )
        for p in probes
    }
    m = len(codebooks)
    adist = None
    for j in range(m):
        cell = None
        for p in probes:
            arr = F.array(*[F.lit(v) for v in tables[p][j]])
            cell = (
                F.when(F.col("cluster") == p, F.element_at(arr, F.col(f"code_{j}") + 1))
                if cell is None
                else cell.when(
                    F.col("cluster") == p,
                    F.element_at(arr, F.col(f"code_{j}") + 1),
                )
            )
        adist = cell if adist is None else adist + cell
    return (
        codes.filter(F.col("cluster").isin(probes))
        .select(F.col(id_col), adist.cast("long").alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )


def pq_adc_topk_from_codes(
    codes: DataFrame,
    query_vec,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a MATERIALIZED code table: the scan reads m ints
    per row (nothing else), each mapped through the query's lookup
    table and integer-summed — the serving path of the PQ story."""
    dt = pq_query_table(query_vec, codebooks)
    m = len(codebooks)
    adist = None
    for j in range(m):
        cell = F.element_at(
            F.array(*[F.lit(v) for v in dt[j]]), F.col(f"code_{j}") + 1
        )
        adist = cell if adist is None else adist + cell
    return (
        codes.select(F.col(id_col), adist.cast("long").alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )
