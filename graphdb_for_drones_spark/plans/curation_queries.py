"""Round-4 training-pipeline curation queries: benchmark decontamination,
sequence packing, domain mixture weights, repetition scoring — the
operators a 100 TB pretraining corpus pipeline runs between dedup and
sharding (operators/curation.py), each with an exact DuckDB oracle.

Determinism conventions as elsewhere: ratios are divisions of exact
integers (bit-identical across engines), token counts are whitespace
tokens on both sides, window orders are total (doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.catalog import Catalog
from graphdb_for_drones_spark.operators import _index_store, curation
from graphdb_for_drones_spark.operators._pin import settle
from graphdb_for_drones_spark.streaming.util import drain, staged

# DuckDB fragment: documents → whitespace word list (same normalization
# as operators/dedup.normalize_text)
_WORDS = (
    r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"
)


# train-side document-frequency cap for the contamination entries: a
# shingle appearing in more than this many TRAIN docs is boilerplate and
# is dropped before the join (per-doc set sizes are recomputed after the
# cap, mirrored exactly in the oracles) — the hot-key bound that keeps
# the inverted-index join from exploding on one template 3-gram shared
# by millions of training documents
MAX_TRAIN_DF = 100


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source <> 'src0')
    overlapping the held-out eval slice (source = 'src0') at word-3-gram
    jaccard >= 0.1 over df-capped train shingles.  Cross-corpus
    inverted-index join — the eval side is small and broadcasts."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    return curation.contamination_pairs(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold=0.1,
        max_df=MAX_TRAIN_DF,
    )


def q_contamination_exact_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 13-gram overlap decontamination — the GPT-3 appendix-C /
    PaLM rule (Brown et al. 2020 §4, "dirty if it shares any 13-gram
    with an eval example"), beside the jaccard/containment gates: per
    (train, eval) pair, the count of shared DISTINCT word-13-grams;
    any row at all marks the train doc dirty.  Same inverted-index
    join as the 3-gram family (hashed grams, never all-pairs) — only
    the gram width and the no-threshold semantics differ; at 13 words
    a shared gram is essentially a quotation, so no similarity score
    is needed."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    tr = curation.shingle_index(
        docs.filter(F.col("source") != "src0"), "train_id", shingle_n=13
    )
    ev = curation.shingle_index(
        docs.filter(F.col("source") == "src0"), "eval_id", shingle_n=13
    )
    return (
        tr.join(ev, "h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
        .orderBy("train_id", "eval_id")
    )


ORACLE_CONTAMINATION_EXACT_13GRAM = rf"""
WITH d AS (
  SELECT doc_id, source, {_WORDS} AS w FROM documents
),
g AS (
  -- docs under 13 words carry one whole-text shingle, matching the
  -- engine's shingles()/shingle_hash_array short-doc contract
  SELECT doc_id, source, unnest(
    CASE WHEN len(w) < 13 THEN [array_to_string(w, ' ')]
         ELSE [array_to_string(w[i+1:i+13], ' ') for i in range(len(w)-12)] END
  ) AS gram FROM d
),
gd AS (SELECT DISTINCT doc_id, source, gram FROM g),
tr AS (SELECT doc_id, gram FROM gd WHERE source <> 'src0'),
ev AS (SELECT doc_id, gram FROM gd WHERE source = 'src0')
SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM tr JOIN ev USING (gram)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_contamination_check_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`contamination_check` over BUCKETED index sides: both shingle
    indexes (df-capped train, eval) are materialized as h-bucketed,
    h-sorted tables (`curation.bucketed_shingle_table_open`, the
    fingerprinted-open contract), so the inverted-index join — the one
    corpus-scale exchange of the contamination family — runs with ZERO
    shuffle on either side (asserted by
    tests/test_plan_shape.py::test_bucketed_contamination_join_shuffle_free).
    Same output as `contamination_check`, same oracle: the layout is a
    physical property, not a semantic one.  The 100 TB shape: the
    decontamination index is maintained bucketed; per-release eval
    sweeps zip pre-sorted buckets instead of re-shuffling the corpus."""
    import os as _os

    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    src = _os.path.join(sf_dir, "documents.parquet")

    num_buckets = 16

    # one-time migration: pre-round-8 dirs were named without the param
    # token; the sweep idiom lives beside the open layer
    curation.sweep_legacy_shidx_dirs(_index_store.root())

    def side(name: str, builder, **params):
        # every build param is IN the path/table name (the path_for
        # contract): a param change lands in a fresh dir instead of
        # silently warm-opening files with a different layout/cap, and
        # the sidecar spec asserts the same on open
        path = _index_store.path_for(
            "shidx",
            src,
            name,
            *(f"{k}{v}" for k, v in sorted(params.items())),
            f"b{num_buckets}",
        )
        return curation.bucketed_shingle_table_open(
            spark,
            builder,
            table=_os.path.basename(path).replace("-", "_"),
            path=path,
            num_buckets=num_buckets,
            build_params=params,
        )

    tr = side(
        "tr",
        lambda: curation.capped_train_index(
            curation.shingle_index(
                docs.filter(F.col("source") != "src0"), "train_id"
            ),
            MAX_TRAIN_DF,
        ),
        n=3,
        df=MAX_TRAIN_DF,
    )
    ev = side(
        "ev",
        lambda: curation.shingle_index(
            docs.filter(F.col("source") == "src0"), "eval_id"
        ),
        n=3,
    )
    return curation.contamination_pairs_from_index(tr, ev, threshold=0.1)


ORACLE_CONTAMINATION_CHECK = rf"""
WITH d AS (
  SELECT doc_id, source, {_WORDS} AS w FROM documents
),
s AS (
  SELECT doc_id, source,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, source, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, source, unnest(sh) AS g FROM ds),
-- train-side df cap (mirrors MAX_TRAIN_DF): drop boilerplate shingles,
-- then recompute per-doc set sizes over the KEPT shingles
dfc AS (
  SELECT g, COUNT(*) AS c FROM inv WHERE source <> 'src0' GROUP BY g
),
tr AS (
  SELECT i.doc_id, i.g FROM inv i JOIN dfc ON dfc.g = i.g
  WHERE i.source <> 'src0' AND dfc.c <= {MAX_TRAIN_DF}
),
tn AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
ev AS (
  SELECT doc_id, g FROM inv WHERE source = 'src0'
),
en AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
c AS (
  SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
         tn.n AS na, en.n AS nb, COUNT(*) AS inter
  FROM tr JOIN ev ON tr.g = ev.g
  JOIN tn ON tn.doc_id = tr.doc_id
  JOIN en ON en.doc_id = ev.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT train_id, eval_id, inter * 1.0 / (na + nb - inter) AS jaccard
FROM c WHERE inter * 1.0 / (na + nb - inter) >= 0.1
"""


def q_lang_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023) over the language
    dimension: spread 40k tokens as uniformly as the 2-epoch cap
    allows — the epoch-capped successor to temperature sampling
    (`lang_temperature_mixture`), closed-form waterfill, bit-identical
    across engines (BIGINT capping predicate + one double division;
    see operators/curation.unimax_allocation).  At the gate sf both
    branches execute: four languages hit the 2-epoch cap, the head
    language takes the waterfilled remainder."""
    cat = Catalog(spark, sf_dir)
    return curation.unimax_allocation(
        cat.documents, domain_col="lang", budget_tokens=40_000, max_epochs=2
    ).orderBy("lang")


def _unimax_oracle_sql(budget: int = 40_000, epochs: int = 2) -> str:
    return rf"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(COALESCE(SUM(len(list_filter({_WORDS}, x -> x <> ''))), 0)
           AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
ranked AS (
  SELECT lang, n_docs, n_tokens, n_tokens * {epochs} AS cap_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens * {epochs}, lang) AS i,
         SUM(n_tokens * {epochs}) OVER (ORDER BY n_tokens * {epochs}, lang
                                        ROWS UNBOUNDED PRECEDING) AS s,
         COUNT(*) OVER () AS n
  FROM per
),
flagged AS (
  SELECT *, (cap_tokens * (n - i + 1) + (s - cap_tokens)) < {budget}
            AS capped
  FROM ranked
),
agg AS (
  SELECT *,
         SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
         COALESCE(SUM(CASE WHEN capped THEN cap_tokens END) OVER (), 0)
           AS sk
  FROM flagged
),
alloc AS (
  SELECT *,
         CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
              WHEN n = k THEN 0.0
              ELSE CAST({budget} - sk AS DOUBLE) / CAST(n - k AS DOUBLE)
         END AS alloc_tokens
  FROM agg
)
SELECT lang, n_docs, n_tokens, CAST(cap_tokens AS BIGINT) AS cap_tokens,
       capped, alloc_tokens,
       alloc_tokens / CAST({budget} AS DOUBLE) AS weight,
       CASE WHEN n_tokens > 0 THEN alloc_tokens / n_tokens
            ELSE 0.0 END AS epochs
FROM alloc ORDER BY lang
"""


ORACLE_LANG_UNIMAX_MIXTURE = _unimax_oracle_sql()


def q_doc_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing rollup: documents laid out in doc_id order within
    (lang, shard) streams, token-offset binned into 512-token packs;
    one row per pack with doc and token counts."""
    cat = Catalog(spark, sf_dir)
    return curation.pack_stats(
        cat.documents, budget=512, group_cols=("lang",), shard_size=1_000
    )


ORACLE_DOC_PACK_STATS = rf"""
WITH t AS (
  SELECT lang, doc_id, doc_id // 1000 AS shard,
         COALESCE(len(list_filter({_WORDS}, x -> x <> '')), 0) AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT lang, shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY 1, 2, 3
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture weights: per-source token share and the sampling
    weight that reshapes the corpus to a uniform token mixture."""
    cat = Catalog(spark, sf_dir)
    return curation.mixture_weights(cat.documents, domain_col="source")


ORACLE_MIXTURE_WEIGHTS = rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(COALESCE(SUM(len(list_filter({_WORDS}, x -> x <> ''))), 0)
           AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       CASE WHEN SUM(n_tokens) OVER () > 0
            THEN n_tokens * 1.0 / SUM(n_tokens) OVER () ELSE 0.0 END
         AS token_share,
       CASE WHEN n_tokens > 0 AND SUM(n_tokens) OVER () > 0
            THEN (1.0 / COUNT(*) OVER ())
                 / (n_tokens * 1.0 / SUM(n_tokens) OVER ())
            ELSE 0.0 END AS weight
FROM per
"""


def q_lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled LANGUAGE mixture (mT5/XLM-R alpha-sampling,
    alpha = 0.5): sampling weight ∝ sqrt(per-language token count), the
    low-resource upweighting rule multilingual pretraining uses instead
    of the uniform reshaping of `mixture_weights`.  sqrt is IEEE-exact
    on both engines and the denominator folds in language order, so the
    double weights are driver-hash-checkable."""
    cat = Catalog(spark, sf_dir)
    return curation.temperature_mixture(
        cat.documents, domain_col="lang", alpha=0.5, budget_docs=10_000
    ).orderBy("lang")


ORACLE_LANG_TEMPERATURE_MIXTURE = r"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(COALESCE(SUM(len(list_filter(
             string_split_regex(trim(text), '\s+'), t -> t <> ''))), 0)
           AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
d AS (
  SELECT list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(sqrt(CAST(n_tokens AS DOUBLE))
                             ORDER BY lang NULLS LAST)),
           (a, b) -> a + b) AS denom
  FROM per
)
SELECT lang, n_docs, n_tokens,
       CASE WHEN denom > 0
            THEN sqrt(CAST(n_tokens AS DOUBLE)) / denom ELSE 0.0 END
         AS weight,
       CAST(floor(CASE WHEN denom > 0
                       THEN sqrt(CAST(n_tokens AS DOUBLE)) / denom
                       ELSE 0.0 END * 10000.0) AS BIGINT) AS planned_docs
FROM per, d
ORDER BY lang
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-bigram ratio (Gopher repetition signal).
    Engine hashes bigrams (codegen xxhash64), oracle compares bigram
    strings — equal modulo 64-bit collisions, same contract as
    ngram_jaccard."""
    cat = Catalog(spark, sf_dir)
    return curation.repetition_scores(cat.documents, n=2)


ORACLE_DOC_REPETITION = rf"""
WITH d AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+2], ' ') for i in range(len(w)-1)]
         END AS bg
  FROM d
)
SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_grams,
       CASE WHEN len(bg) <= 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END AS rep_ratio
FROM b
"""


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate CLUSTERS: label-blocked cosine
    pairs (>= 0.3) as an undirected graph, connected components by
    min-label propagation, per-cluster sizes.  The text-side twin is
    `dedup_clusters`; this closes the modality gap (embedding cosine is
    the near-dup signal a text-shingle pipeline cannot see).

    The blocked pair graph is MATERIALIZED (`blocked_pairs_open`, the
    fingerprinted-open contract): the per-block scoring runs once per
    corpus state and the cluster composition probes the persisted,
    bit-identical graph."""
    import os as _os

    from graphdb_for_drones_spark.operators.graph_algorithms import (
        connected_components,
    )
    from graphdb_for_drones_spark.operators.similarity import blocked_pairs_open

    cat = Catalog(spark, sf_dir)
    # dim=64 is the embeddings-table vector width (TESTDATA.md); passing
    # it skips the one-row dim probe.  Blocks here are far below
    # MAX_EXACT_BLOCK at test scale, so the exact leg runs and the oracle
    # is bit-exact; at 100 TB oversized blocks route through the LSH leg.
    path = _index_store.path_for(
        "bpairs",
        _os.path.join(sf_dir, "embeddings.parquet"),
        "label", "t0.3", "s42",
    )
    pairs = blocked_pairs_open(
        spark, cat.embeddings, path, block_col="label", threshold=0.3, dim=64
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(pairs)
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .filter(F.col("n_vecs") > 1)
    )


ORACLE_EMBEDDING_DUP_CLUSTERS = """
WITH RECURSIVE n AS (
  SELECT vec_id, SUM(v * v) AS nrm FROM (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
  ) GROUP BY vec_id
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(range(len(a.embedding)),
      i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
    )) AS dot, na.nrm AS nrm_a, nb.nrm AS nrm_b
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
),
e0 AS (
  SELECT id_a, id_b FROM p
  WHERE ROUND(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) >= 0.3
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM e0
  UNION ALL SELECT id_b, id_a FROM e0
),
closure AS (
  SELECT DISTINCT src AS node, src AS r FROM e
  UNION
  SELECT c.node, e.dst FROM closure c JOIN e ON e.src = c.r
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
SELECT cluster_id, COUNT(*) AS n_vecs
FROM comp GROUP BY cluster_id HAVING COUNT(*) > 1
"""



def q_doc_pack_greedy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing, ORACLE-PAIRED via the
    est-beside-exact pattern (`event_hll_vs_exact`): the per-shard FFD
    state machine itself is not ANSI-SQL-expressible, so the row lays
    SQL-computable exact values (per-(lang, shard) doc / token /
    oversize-doc counts) beside boolean invariants of the packing that
    the oracle asserts TRUE — a packer bug flips a boolean and
    hash-mismatches the driver row:

    * ``packs_within_budget`` — every pack ≤ budget except a pack
      whose largest member is oversize, which then holds EXACTLY that
      document's tokens (FFD's only legal overflow: an oversize doc
      opens a pack with 0 remaining capacity, so only zero-token
      documents can join it — ``pt == pm`` there; a positive-token
      co-tenant flags);
    * ``tokens_conserved`` / ``docs_conserved`` — the packing is a
      permutation of the shard, nothing dropped or duplicated;
    * ``pack_count_ok`` — n_oversize + ceil(rest_tokens/budget) ≤
      n_packs ≤ n_docs (the bin-packing lower bound: non-oversize packs
      each hold ≤ budget, oversize docs are singletons by construction);
    * ``at_most_one_halffull`` — ≤ 1 pack at ≤ budget/2 load (the
      first-fit guarantee: two half-empty packs can't coexist, the
      later one's first document would have fit the earlier).

    Compare with `doc_pack_stats`' token-offset binning: FFD never
    splits a document across packs."""
    cat = Catalog(spark, sf_dir)
    return _pack_greedy_invariants(cat.documents, budget=512)


def _pack_greedy_invariants(docs: DataFrame, budget: int) -> DataFrame:
    """The packer-invariants frame of `doc_pack_greedy_stats`, over any
    documents frame — factored out so tests can drive it with
    adversarial corpora (oversize docs, zero-token docs) the gate
    corpus lacks."""
    packed = curation.pack_sequences_greedy(
        docs, budget=budget, group_cols=("lang",), shard_size=1_000
    )
    per_pack = packed.groupBy("lang", "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("pd"),
        F.sum("n_tokens").alias("pt"),
        F.max("n_tokens").alias("pm"),
    )
    got = per_pack.groupBy("lang", "shard").agg(
        F.sum("pd").alias("packed_docs"),
        F.sum("pt").cast("long").alias("packed_tokens"),
        F.count(F.lit(1)).alias("n_packs"),
        F.bool_and(
            (F.col("pt") <= budget)
            | ((F.col("pm") > budget) & (F.col("pt") == F.col("pm")))
        ).alias("packs_within_budget"),
        F.sum(
            F.when(F.col("pt") * 2 <= budget, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_halffull"),
    )
    from graphdb_for_drones_spark.operators.text import token_count

    src = (
        docs.select(
            "lang",
            F.expr("doc_id div 1000").alias("shard"),
            F.coalesce(token_count(F.col("text")), F.lit(0)).alias("t"),
        )
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("t") > budget, 1).otherwise(0))
            .cast("long")
            .alias("n_oversize"),
            F.sum(F.when(F.col("t") > budget, F.col("t")).otherwise(0))
            .cast("long")
            .alias("oversize_tokens"),
        )
    )
    # bin-packing lower bound, integer-exact: ceil(rest/budget) via div
    lower = F.expr(
        f"n_oversize + ((total_tokens - oversize_tokens + {budget - 1}) "
        f"div {budget})"
    )
    return (
        src.join(got, ["lang", "shard"])
        .select(
            "lang",
            "shard",
            "n_docs",
            "total_tokens",
            "n_oversize",
            "packs_within_budget",
            (F.col("packed_tokens") == F.col("total_tokens")).alias(
                "tokens_conserved"
            ),
            (F.col("packed_docs") == F.col("n_docs")).alias("docs_conserved"),
            (
                (F.col("n_packs") >= lower)
                & (F.col("n_packs") <= F.col("n_docs"))
            ).alias("pack_count_ok"),
            (F.col("n_halffull") <= 1).alias("at_most_one_halffull"),
        )
    )



ORACLE_DOC_PACK_GREEDY_STATS = rf"""
WITH t AS (
  SELECT lang, doc_id // 1000 AS shard,
         COALESCE(len(list_filter({_WORDS}, x -> x <> '')), 0) AS n_tokens
  FROM documents
)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oversize,
       TRUE AS packs_within_budget,
       TRUE AS tokens_conserved,
       TRUE AS docs_conserved,
       TRUE AS pack_count_ok,
       TRUE AS at_most_one_halffull
FROM t GROUP BY 1, 2
"""


def q_doc_quality_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling rollup: keep each document with probability
    min(1, n_tokens/100) — a transparent quality proxy (longer docs kept
    preferentially) — via the deterministic md5-uniform; per-source kept
    doc and token counts.  The DuckDB twin reproduces the md5 60-bit
    arithmetic exactly (same trick as the simhash/split oracles)."""
    cat = Catalog(spark, sf_dir)
    from graphdb_for_drones_spark.operators.text import token_count

    docs = cat.documents.withColumn("n_tokens", token_count(F.col("text")))
    prob = F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
    kept = curation.deterministic_sample(docs, prob)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )


_MD5_60 = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), i+1, 1)) - 1 AS BIGINT)"
    " << ((14 - i) * 4))) AS BIGINT)"
)

ORACLE_DOC_QUALITY_SAMPLE_STATS = rf"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter({_WORDS}, x -> x <> '')) AS n_tokens,
         {_MD5_60} * 1.0 / 1152921504606846976 AS u
  FROM documents
)
SELECT source, COUNT(*) AS kept_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM t
WHERE u < LEAST(1.0, n_tokens / 100.0)
GROUP BY source
"""



def q_contamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-metric decontamination: |train ∩ eval| / |eval| >= 0.5
    — the asymmetric gate that catches a short benchmark prompt quoted
    inside a long training document (low jaccard, containment ≈ 1).
    Train shingles are df-capped like the jaccard entry (the containment
    denominator |eval| is unaffected by the cap)."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    return curation.contamination_pairs(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold=0.5,
        metric="containment",
        max_df=MAX_TRAIN_DF,
    )


ORACLE_CONTAMINATION_CONTAINMENT = rf"""
WITH d AS (
  SELECT doc_id, source, {_WORDS} AS w FROM documents
),
s AS (
  SELECT doc_id, source,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, source, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, source, unnest(sh) AS g FROM ds),
dfc AS (
  SELECT g, COUNT(*) AS c FROM inv WHERE source <> 'src0' GROUP BY g
),
tr AS (
  SELECT i.doc_id, i.g FROM inv i JOIN dfc ON dfc.g = i.g
  WHERE i.source <> 'src0' AND dfc.c <= {MAX_TRAIN_DF}
),
ev AS (
  SELECT doc_id, g FROM inv WHERE source = 'src0'
),
en AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
c AS (
  SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
         en.n AS nb, COUNT(*) AS inter
  FROM tr JOIN ev ON tr.g = ev.g
  JOIN en ON en.doc_id = ev.doc_id
  GROUP BY 1, 2, 3
)
SELECT train_id, eval_id, inter * 1.0 / nb AS containment
FROM c WHERE inter * 1.0 / nb >= 0.5
"""


def q_doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction per document: the share
    of a doc's distinct word-5-grams occurring in >= 2 documents (the
    n-gram approximation of suffix-array span dedup, Lee et al. 2021,
    arXiv:2107.06499).  Engine hashes shingles (codegen xxhash64 fold);
    the oracle compares shingle strings — equal modulo 64-bit
    collisions, the ngram_jaccard contract."""
    cat = Catalog(spark, sf_dir)
    return curation.duplicated_span_scores(cat.documents, shingle_n=5)


ORACLE_DOC_DUP_SPAN_STATS = rf"""
WITH d AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, unnest(sh) AS g FROM ds),
dfc AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g),
per AS (
  SELECT i.doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM inv i JOIN dfc ON dfc.g = i.g GROUP BY i.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_dup AS BIGINT) AS n_dup_shingles,
       CASE WHEN n_shingles <= 0 THEN 0.0
            ELSE n_dup * 1.0 / n_shingles END AS dup_ratio
FROM per
"""


def q_doc_top_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-2-gram character fraction per document: the share of
    normalized-text characters covered by the most covering word bigram
    (count × bigram chars) — the "one phrase stamped N times" repetition
    signal.  Coverage is MAX of an integer product (tie-free by
    construction); the fraction is one IEEE division of exact ints."""
    cat = Catalog(spark, sf_dir)
    return curation.top_ngram_stats(cat.documents, n=2)


ORACLE_DOC_TOP_NGRAM_STATS = rf"""
WITH d AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
),
g AS (
  SELECT doc_id, len(array_to_string(w, ' ')) AS n_chars,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+2], ' ') for i in range(len(w)-1)]
         END AS grams
  FROM d
),
x AS (SELECT doc_id, n_chars, unnest(grams) AS gr FROM g),
c AS (
  SELECT doc_id, n_chars, gr, len(gr) AS glen, COUNT(*) AS cnt
  FROM x GROUP BY 1, 2, 3, 4
),
t AS (
  SELECT doc_id, n_chars, CAST(MAX(cnt * glen) AS BIGINT) AS top_cover
  FROM c GROUP BY 1, 2
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, top_cover,
       CASE WHEN n_chars <= 0 THEN 0.0
            ELSE top_cover * 1.0 / n_chars END AS top_ngram_frac
FROM t
"""


def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule funnel per source (Rae et al. 2021
    §A1.1 heuristics re-parameterized for the synthetic corpus): word
    count in [50, 100k], mean word length in [3, 10], stopword fraction
    >= 0.05, duplicate-bigram ratio <= 0.2.  Integer pass counts only —
    hash-stable on any engine."""
    cat = Catalog(spark, sf_dir)
    return curation.gopher_rule_stats(cat.documents, group_col="source")


ORACLE_DOC_GOPHER_RULES = rf"""
WITH d AS (
  SELECT doc_id, source, {_WORDS} AS w FROM documents
),
b AS (
  SELECT doc_id, source, w,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+2], ' ') for i in range(len(w)-1)]
         END AS bg
  FROM d
),
f AS (
  SELECT source,
         len(w) AS n_words,
         list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w) AS mean_len,
         len(list_filter(w, x -> x IN ('the','a','of','and','in','to','is')))
           * 1.0 / len(w) AS sw_frac,
         CASE WHEN len(bg) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END AS rep
  FROM b
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_word_count,
  CAST(SUM(CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_word_len,
  CAST(SUM(CASE WHEN sw_frac >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_stopword,
  CAST(SUM(CASE WHEN rep <= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_repetition,
  CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000
                 AND mean_len >= 3.0 AND mean_len <= 10.0
                 AND sw_frac >= 0.05 AND rep <= 0.2
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM f GROUP BY source
"""


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by rank-preserving tf-idf
    (raw N/df idf — log-free, so every arithmetic step is one IEEE op on
    exact integers and ranks hash-match across engines; term-ascending
    tiebreak)."""
    cat = Catalog(spark, sf_dir)
    return curation.tfidf_top_terms(cat.documents, k=3)


ORACLE_DOC_TFIDF_TOPK = rf"""
WITH d AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
),
t AS (SELECT doc_id, unnest(w) AS term FROM d),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_corpus FROM documents),
scored AS (
  SELECT doc_id, term, tf, df, tf * n_corpus * 1.0 / df AS tfidf
  FROM tf JOIN dfc USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, tfidf
FROM ranked WHERE rank <= 3
"""


def q_customer_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit over customer records: per market segment, rows,
    per-detector match counts (email/phone/ipv4/ssn/entity-id — the
    entity-id detector pseudonymizes this dataset's Customer#NNN names;
    the rest are the standard scrub set, zero here and exercised on
    planted fixtures in tests), rows touched, and a masked sample
    proving the redaction projection.  All regexes are RE2-compatible so
    the DuckDB twin evaluates the same pattern text match-for-match."""
    from graphdb_for_drones_spark.operators import pii

    cat = Catalog(spark, sf_dir)
    return pii.pii_stats(
        cat.customer,
        "c_name",
        "c_mktsegment",
        sample_mask_kinds=("entity_id",),
    )


def _pii_oracle_sql() -> str:
    from graphdb_for_drones_spark.operators.pii import PII_PATTERNS

    counts = ",\n    ".join(
        f"len(regexp_extract_all(c_name, '{p}')) AS c_{k}"
        for k, p in PII_PATTERNS.items()
    )
    any_hit = " OR ".join(f"c_{k} > 0" for k in PII_PATTERNS)
    sums = ",\n  ".join(
        f"CAST(SUM(c_{k}) AS BIGINT) AS n_{k}" for k in PII_PATTERNS
    )
    ent = PII_PATTERNS["entity_id"]
    return f"""
WITH c AS (
  SELECT c_mktsegment,
    {counts},
    regexp_replace(c_name, '{ent}', '[PII]', 'g') AS masked
  FROM customer
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  {sums},
  CAST(SUM(CASE WHEN {any_hit} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_rows_with_pii,
  MIN(masked) AS masked_sample
FROM c GROUP BY c_mktsegment
"""


ORACLE_CUSTOMER_PII_SCRUB = _pii_oracle_sql()


def q_doc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (64-token windows, stride
    48): one row per chunk with offsets, sizes, and the md5 of the exact
    chunk string — the context-window shaping / passage-splitting step,
    hash-checked end to end (chunk identity is a pure function of the
    token stream)."""
    cat = Catalog(spark, sf_dir)
    return curation.chunk_documents(
        cat.documents, chunk_tokens=64, stride=48
    )


ORACLE_DOC_CHUNK_STATS = rf"""
WITH d AS (
  SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
),
x AS (
  SELECT doc_id, w, unnest(range(0, len(w), 48)) AS start_tok
  FROM d WHERE len(w) > 0
),
c AS (
  SELECT doc_id, start_tok, w[start_tok+1 : start_tok+64] AS chunk FROM x
)
SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(chunk) AS BIGINT) AS n_tok_chunk,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
"""


def q_source_bloom_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination PREFILTER: per train source, a
    mergeable bloom sketch (operators/sketches.bloom_build, md5 family,
    63·1024 bits, k=3) of its distinct word-3-gram shingles, probed by
    the eval slice's distinct shingles — (source, n_probed,
    n_maybe_present).  The no-false-negative cheap gate that spares the
    inverted-index join for sources whose maybe-present count is 0; the
    bit-OR build is reduction-order-independent, so even this
    approximate structure is driver-hash-checkable (the SQL twin
    reproduces every bit)."""
    from graphdb_for_drones_spark.operators import sketches
    from graphdb_for_drones_spark.operators.split import _md5_60bit

    cat = Catalog(spark, sf_dir)
    # md5-60 the shingle STRINGS inside the projection (string-free
    # discipline: the variable-length shingles never reach a shuffle —
    # only 8-byte element hashes do; the full entry measured 7.1 → 2.7 s), over a STAGED words column: the
    # convenience `shingles(col)` form slices an inline filter+split
    # expression under a lambda-bound index, re-normalizing the text
    # once per gram (the element_at-in-lambda trap).  Staging makes the
    # slice target a plain attribute read.  The oracle computes the
    # same md5-60 per shingle string, so the 'raw'-family filter is
    # still bit-identical.
    from graphdb_for_drones_spark.operators.dedup import normalize_text

    words = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda t: t != F.lit("")
    )
    # r12 (guide §2): spread the gram-hash fold — single-split source
    # otherwise serializes it onto one core; no-op at real scale
    from graphdb_for_drones_spark.operators.dedup import _spread_input

    staged = _spread_input(cat.documents, "source", "text").select(
        "source", words.alias("__w")
    )
    w = F.col("__w")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - 3, F.lit(0)))

    def gram_hash(i):
        return _md5_60bit(F.concat_ws(" ", F.slice(w, i + 1, 3)))

    grams = F.when(
        F.size(w) < 3, F.array(_md5_60bit(F.concat_ws(" ", w)))
    ).otherwise(F.transform(idx, gram_hash))
    sh = staged.select(
        "source", F.explode(F.array_distinct(grams)).alias("g")
    ).dropDuplicates(["source", "g"])
    bloom = sketches.bloom_build(
        sh.filter(F.col("source") != "src0"), ["source"], "g", family="raw"
    )
    ev = sh.filter(F.col("source") == "src0").select("g")
    return sketches.bloom_probe_counts(
        bloom, ["source"], ev, "g", family="raw"
    )


def _bloom_oracle_sql(m_bits: int = 63 * 1024, k: int = 3) -> str:
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(h, i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return rf"""
WITH d AS (
  SELECT doc_id, source, {_WORDS} AS w FROM documents
),
s AS (
  SELECT doc_id, source,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
inv0 AS (SELECT source, unnest(list_distinct(sh)) AS g FROM s),
inv AS (SELECT DISTINCT source, g FROM inv0),
tr AS (SELECT source, g FROM inv WHERE source <> 'src0'),
ev AS (SELECT DISTINCT g FROM inv WHERE source = 'src0'),
trh AS (
  SELECT source, {hex_to_int} AS hh FROM (
    SELECT source, md5(g) AS h FROM tr
  )
),
trpos AS (
  SELECT source,
         (hh % {m_bits}
          + j * (1 + (hh // 2 // {m_bits}) % {m_bits - 1})) % {m_bits}
           AS pos
  FROM trh CROSS JOIN range({k}) t(j)
),
blm AS (
  SELECT source, idx, bit_or(mask) AS bits FROM (
    SELECT source, pos // 63 AS idx,
           1::BIGINT << CAST(pos % 63 AS INTEGER) AS mask
    FROM trpos
  ) GROUP BY source, idx
),
evh AS (
  SELECT g, {hex_to_int} AS hh FROM (
    SELECT g, md5(g) AS h FROM ev
  )
),
evpos AS (
  SELECT g,
         (hh % {m_bits}
          + j * (1 + (hh // 2 // {m_bits}) % {m_bits - 1})) % {m_bits}
           AS pos
  FROM evh CROSS JOIN range({k}) t(j)
),
evw AS (
  SELECT g, pos // 63 AS idx,
         1::BIGINT << CAST(pos % 63 AS INTEGER) AS mask
  FROM evpos
),
hits AS (
  SELECT b.source, e.g, COUNT(*) AS c
  FROM evw e JOIN blm b ON b.idx = e.idx AND (b.bits & e.mask) = e.mask
  GROUP BY 1, 2
),
present AS (
  SELECT source, COUNT(*) AS n_maybe_present FROM hits
  WHERE c = {k} GROUP BY source
),
np AS (SELECT COUNT(*) AS n FROM ev),
srcs AS (SELECT DISTINCT source FROM tr)
SELECT srcs.source, np.n AS n_probed,
       COALESCE(p.n_maybe_present, CAST(0 AS BIGINT)) AS n_maybe_present
FROM srcs CROSS JOIN np LEFT JOIN present p ON p.source = srcs.source
"""


ORACLE_SOURCE_BLOOM_PROBE_STATS = _bloom_oracle_sql()


def q_curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 END-TO-END curation pipeline as one declarative plan:
    Gopher quality gate (all four rules) → cross-document duplicated-span
    ceiling (dup_ratio <= 0.5) → exact-dedup keeper (min doc_id per
    normalized-content md5) → per-source kept doc/token counts.  Every
    stage reuses a catalogued operator and the WHOLE composition
    hash-matches one SQL twin — the v2 of `corpus_curation_stats`
    exercising the round-5 operators as pipeline stages rather than
    stand-alone reports."""
    from graphdb_for_drones_spark.operators.dedup import (
        _spread_input,
        normalize_text,
    )
    from graphdb_for_drones_spark.operators.text import token_count

    cat = Catalog(spark, sf_dir)
    # r13 (guide §2): the pass-flag filter pushes BELOW any spread
    # exchange (alias substitution through Project + Repartition), so
    # the gopher fold ran as a 1-task 1.4 s CPU stage on the single-
    # split scan, and the kept leg computed md5 + token_count on
    # another 1-task scan.  One pinned spread projection feeds all
    # three legs: pushed filters land on the parallel materialized
    # blocks, and the corpus is scanned once, not three times.  No-op
    # (no pin, no exchange) at real corpus scale — see _spread_input.
    docs = _spread_input(cat.documents, "doc_id", "source", "text", pin=True)
    ok = curation.gopher_rule_flags(docs).filter(
        F.col("pass_word_count")
        & F.col("pass_word_len")
        & F.col("pass_stopword")
        & F.col("pass_repetition")
    ).select("doc_id")
    lowdup = curation.duplicated_span_scores(docs).filter(
        F.col("dup_ratio") <= 0.5
    ).select("doc_id")
    kept = docs.join(ok, "doc_id", "left_semi").join(
        lowdup, "doc_id", "left_semi"
    )
    keyed = kept.withColumn("__h", F.md5(normalize_text(F.col("text"))))
    keepers = keyed.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    deduped = keyed.join(keepers, ["__h", "doc_id"], "left_semi")
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )


ORACLE_CURATION_PIPELINE_STATS = rf"""
WITH d AS (
  SELECT doc_id, source, text, {_WORDS} AS w FROM documents
),
b AS (
  SELECT doc_id, source, text, w,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+2], ' ') for i in range(len(w)-1)]
         END AS bg
  FROM d
),
gop AS (
  SELECT doc_id FROM b
  WHERE len(w) BETWEEN 50 AND 100000
    AND list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
        BETWEEN 3.0 AND 10.0
    AND len(list_filter(w, x -> x IN ('the','a','of','and','in','to','is')))
        * 1.0 / len(w) >= 0.05
    AND (CASE WHEN len(bg) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END) <= 0.2
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]
         END AS s
  FROM d
),
inv AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh),
dfc AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g),
span AS (
  SELECT i.doc_id FROM inv i JOIN dfc ON dfc.g = i.g
  GROUP BY i.doc_id
  HAVING SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) <= 0.5
),
kept AS (
  SELECT d.doc_id, d.source, d.text, len(w) AS n_tok
  FROM d JOIN gop USING (doc_id) JOIN span USING (doc_id)
),
keyed AS (
  SELECT doc_id, source, n_tok,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM kept
),
keep AS (SELECT h, MIN(doc_id) AS doc_id FROM keyed GROUP BY h),
dedup AS (SELECT k.source, k.n_tok FROM keyed k JOIN keep USING (h, doc_id))
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM dedup GROUP BY source
"""


def q_doc_difficulty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum difficulty deciles: equal-frequency binning of
    documents by token count (operators/curation.equal_frequency_bins —
    distributed value-bucketed rank, NO single-partition window), rolled
    up to one row per decile with doc counts and token bounds — the
    bucketing step a curriculum-ordered training schedule samples from.
    Bin = rank·10 DIV N under the (n_tokens, doc_id) total order:
    integer arithmetic end to end, so the oracle's ROW_NUMBER twin is
    bit-identical."""
    from graphdb_for_drones_spark.operators.text import token_count

    cat = Catalog(spark, sf_dir)
    docs = cat.documents.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    bins = curation.equal_frequency_bins(
        docs, value_col="n_tokens", id_col="doc_id", k=10
    )
    return bins.groupBy(F.col("bin").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


ORACLE_DOC_DIFFICULTY_DECILES = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter({_WORDS}, x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  -- null scores are excluded, mirroring equal_frequency_bins (engines
  -- disagree on ORDER BY null placement)
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS rnk,
         COUNT(*) OVER () AS n
  FROM t WHERE n_tokens IS NOT NULL
)
SELECT CAST((rnk * 10) // n AS INTEGER) AS decile,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
FROM r GROUP BY 1
"""


# BM25 query-term bag for the retrieval entry: three mid-frequency terms
# plus one rare ('dup', df ≈ 26 at sf0.01) so idf spread is exercised
BM25_TERMS = ("vector", "join", "dup", "stream")


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/curation.bm25_topk): top-10 documents
    for a 4-term query under Okapi BM25 with k1=1.2, b=0.75.  The
    classic sparse-retrieval scorer a RAG / eval-harness pipeline runs
    beside the dense (cosine/IVF/PQ) entries; per-term weights are
    9-dp-rounded and decimal-summed so the one libm call (ln) never
    reaches the driver hash."""
    cat = Catalog(spark, sf_dir)
    return curation.bm25_topk(cat.documents, BM25_TERMS, k=10)


ORACLE_DOC_BM25_TOPK = rf"""
WITH d AS (
  SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
),
st AS (
  SELECT COUNT(*) AS n_corpus, SUM(len(w)) AS total_dl FROM d
),
t AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM d),
m AS (
  SELECT doc_id, dl, term FROM t
  WHERE term IN ('vector', 'join', 'dup', 'stream')
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
  FROM m GROUP BY 1, 2
),
sc AS (
  SELECT doc_id, term, tf, dl, COUNT(*) OVER (PARTITION BY term) AS df
  FROM tf
),
wg AS (
  SELECT doc_id,
    ln(1.0 + (st.n_corpus - df + 0.5) / (df + 0.5))
      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
          / (st.total_dl * 1.0 / st.n_corpus))) AS wgt
  FROM sc CROSS JOIN st
)
SELECT doc_id, COUNT(*) AS n_terms_matched,
       ROUND(CAST(SUM(CAST(ROUND(wgt, 9) AS DECIMAL(28,10))) AS DOUBLE), 6)
         AS bm25
FROM wg GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


def q_doc_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM fluency per document
    (operators/curation.bigram_lm_scores): mean P(w2|w1) over each
    document's bigram occurrences, with the corpus itself as the LM —
    the perplexity-filter shape (CCNet) in exact rational arithmetic.
    Engine counts xxhash64 bigram keys, oracle counts bigram strings —
    equal modulo 64-bit collisions (the ngram_jaccard contract)."""
    cat = Catalog(spark, sf_dir)
    return curation.bigram_lm_scores(cat.documents)


ORACLE_DOC_LM_FLUENCY = rf"""
WITH d AS (
  SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN len(w) < 2 THEN []
              ELSE [w[i+1] for i in range(len(w)-1)] END AS p1,
         CASE WHEN len(w) < 2 THEN []
              ELSE [w[i+1] || ' ' || w[i+2] for i in range(len(w)-1)]
         END AS bg
  FROM d
),
ex AS (SELECT doc_id, unnest(p1) AS w1, unnest(bg) AS g FROM b),
cc AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY g) AS c2,
         COUNT(*) OVER (PARTITION BY w1) AS c1
  FROM ex
),
per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(CAST(ROUND(c2 * 1.0 / c1, 9) AS DECIMAL(28,10)))
              AS DOUBLE) AS s
  FROM cc GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       COALESCE(ROUND(per.s / per.n_bigrams, 6), 0.0) AS fluency
FROM d LEFT JOIN per USING (doc_id)
"""


def q_doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per language: BPE-ish piece counts
    (operators/text.bpe_ish_token_count — maximal word runs +
    punctuation chars, RE2-compatible on both engines) beside
    whitespace token counts, with the fertility ratio a tokenizer
    budget planner watches.  Closes the one text-analysis metric that
    was pytest-only (the old lookaround-split formulation had no RE2
    twin)."""
    from graphdb_for_drones_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    cat = Catalog(spark, sf_dir)
    per = cat.documents.select(
        "lang",
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        token_count(F.col("text")).alias("ws"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("ws").alias("ws_tokens"),
    ).select(
        "lang",
        "n_docs",
        "bpe_tokens",
        "ws_tokens",
        F.when(
            F.col("ws_tokens") > 0,
            F.col("bpe_tokens") * F.lit(1.0) / F.col("ws_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


ORACLE_DOC_BPE_TOKEN_STATS = rf"""
WITH per AS (
  SELECT lang,
         len(regexp_extract_all(text, '\w+'))
           + len(regexp_extract_all(text, '[^\w\s]')) AS bpe,
         len(list_filter({_WORDS}, x -> x <> '')) AS ws
  FROM documents
),
agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         CAST(SUM(ws) AS BIGINT) AS ws_tokens
  FROM per GROUP BY lang
)
SELECT lang, n_docs, bpe_tokens, ws_tokens,
       CASE WHEN ws_tokens > 0 THEN bpe_tokens * 1.0 / ws_tokens
            ELSE 0.0 END AS fertility
FROM agg
"""


def q_doc_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate PASSAGE detection: 64/48-token chunks
    (the doc_chunk_stats grid) whose exact chunk string occurs in >= 2
    DISTINCT documents, rolled up per source — sub-document exact dedup,
    the granularity document-level hashing cannot see (a boilerplate
    header stamped into otherwise-unique docs).  Within-doc repeats
    don't count (doc-distinct before the frequency window)."""
    from graphdb_for_drones_spark.operators.curation import chunk_documents

    cat = Catalog(spark, sf_dir)
    chunks = chunk_documents(cat.documents, chunk_tokens=64, stride=48)
    per_doc = chunks.select("doc_id", "chunk_md5").dropDuplicates(
        ["doc_id", "chunk_md5"]
    )
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("chunk_md5"))
    flagged = per_doc.withColumn("__nd", ndocs)
    src = cat.documents.select("doc_id", "source")
    return (
        flagged.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
    )


ORACLE_DOC_DUP_PASSAGES = rf"""
WITH d AS (
  SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
),
x AS (
  SELECT doc_id, w, unnest(range(0, len(w), 48)) AS start_tok
  FROM d WHERE len(w) > 0
),
c AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(w[start_tok+1 : start_tok+64], ' ')) AS h
  FROM x
),
f AS (
  SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS nd FROM c
)
SELECT s.source, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks
FROM f JOIN documents s USING (doc_id)
GROUP BY s.source
"""


def q_doc_winnow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.winnow_fingerprints —
    Schleimer et al. 2003, the MOSS plagiarism-detection sampler): per
    document, the distinct window-minimum selection over word-3-gram
    md5-60 hashes with a window of 4; (n_grams, n_selected, min_fp).
    The selected density ≈ 2/(w+1) is what a fingerprint index stores
    instead of every gram — sub-linear index size with a shared-run
    detection guarantee.  Exact integers end to end; the SQL twin
    reproduces every selected hash."""
    from graphdb_for_drones_spark.operators.text import winnow_fingerprints

    cat = Catalog(spark, sf_dir)
    return winnow_fingerprints(cat.documents, k=3, window=4)


# md5-60 of an md5-hex column ``mh``: first 15 hex nibbles folded into a
# signed-64-safe BIGINT (the split-family convention), as inline SQL so
# it can sit inside a list_transform lambda
_HEX15_OF = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr({mh}, i+1, 1)) - 1 AS BIGINT)"
    " << ((14 - i) * 4))) AS BIGINT)"
)

ORACLE_DOC_WINNOW_STATS = rf"""
WITH d AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS grams
  FROM d
),
hs AS (
  SELECT doc_id,
         list_transform(grams, s -> {_HEX15_OF.format(mh="md5(s)")}) AS hv
  FROM g
),
sel AS (
  -- (fp, pos) pairs dedup via an injective string encoding (DuckDB's
  -- list_distinct cannot hash struct lists); min_fp over the
  -- NON-distinct window mins — identical to the distinct min
  SELECT doc_id, len(hv) AS n_grams,
         list_distinct(list_transform(
           range(greatest(len(hv) - 4, 0) + 1),
           j -> CAST(list_min(hv[j+1:j+4]) AS VARCHAR) || ':' ||
                CAST(j + list_position(hv[j+1:j+4], list_min(hv[j+1:j+4]))
                     AS VARCHAR)
         )) AS s,
         list_min(list_transform(
           range(greatest(len(hv) - 4, 0) + 1),
           j -> list_min(hv[j+1:j+4])
         )) AS mfp
  FROM hs
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(s) AS BIGINT) AS n_selected,
       CAST(mfp AS BIGINT) AS min_fp
FROM sel
"""


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators/split.weighted_sample_topk — Efraimidis-Spirakis
    exponential keys over md5-60 uniforms): the 25 documents drawn
    ∝ token count.  The quality-weighted counterpart of the uniform
    stratified draw; longer docs win proportionally more often, yet the
    draw is deterministic, rerun-stable, and hash-checked (9-dp key
    rounding keeps ln() ulps out of the rank)."""
    from graphdb_for_drones_spark.operators.split import weighted_sample_topk
    from graphdb_for_drones_spark.operators.text import token_count

    cat = Catalog(spark, sf_dir)
    docs = cat.documents.withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    return weighted_sample_topk(docs, "n_tokens", k=25)


_MD5_60_W = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(concat(CAST(doc_id AS VARCHAR), ':w42')), i+1, 1)) - 1 AS BIGINT)"
    " << ((14 - i) * 4))) AS BIGINT)"
)

ORACLE_DOC_WEIGHTED_SAMPLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter({_WORDS}, x -> x <> '')) AS BIGINT) AS w,
         ({_MD5_60_W} + 1) / 1152921504606846976.0 AS u
  FROM documents
)
SELECT doc_id, CAST(w AS DOUBLE) AS weight,
       ROUND(-ln(u) / w, 9) AS es_key
FROM t WHERE w > 0
ORDER BY es_key ASC, doc_id ASC LIMIT 25
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training merge scan (operators/text.bpe_merge_pairs):
    the 20 most frequent adjacent character pairs inside words — the
    statistic BPE vocab training computes to pick each merge.  Tie-free
    total order (count DESC, pair ASC); exact integers end to end."""
    from graphdb_for_drones_spark.operators.text import bpe_merge_pairs

    cat = Catalog(spark, sf_dir)
    return bpe_merge_pairs(cat.documents, k=20)


ORACLE_BPE_MERGE_CANDIDATES = rf"""
WITH d AS (
  SELECT {_WORDS} AS w FROM documents
),
t AS (SELECT unnest(w) AS word FROM d),
p AS (
  SELECT unnest([word[i+1:i+2] for i in range(len(word)-1)]) AS pair
  FROM t WHERE len(word) >= 2
)
SELECT pair, COUNT(*) AS pair_count
FROM p GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 20
"""


def q_source_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary (Heaps-law) report
    (operators/text.vocab_stats): token count, type count, hapax count,
    type-token ratio — what a vocab-size planner reads per corpus
    slice.  One (source, term) shuffle with map-side combine; no
    Expand (countDistinct deliberately avoided)."""
    from graphdb_for_drones_spark.operators.text import vocab_stats

    cat = Catalog(spark, sf_dir)
    return vocab_stats(cat.documents, group_col="source")


ORACLE_SOURCE_VOCAB_STATS = rf"""
WITH d AS (
  SELECT source, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
),
t AS (SELECT source, unnest(w) AS term FROM d),
per AS (SELECT source, term, COUNT(*) AS c FROM t GROUP BY 1, 2)
SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       COUNT(*) * 1.0 / SUM(c) AS type_token_ratio
FROM per GROUP BY source
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap (operators/text.vocab_overlap)
    — the dataset-similarity matrix a mixture planner reads before
    merging sources: shared/union type counts, jaccard, containment per
    unordered source pair.  One (source, term)-distinct shuffle; the
    term → sources posting lists are bounded by SOURCE cardinality, so
    pair enumeration is always the map-side array path (never a
    self-join) and the rollup is |sources|²-sized."""
    from graphdb_for_drones_spark.operators.text import vocab_overlap

    cat = Catalog(spark, sf_dir)
    return vocab_overlap(cat.documents, group_col="source")


ORACLE_SOURCE_VOCAB_OVERLAP = rf"""
WITH w AS (
  SELECT source AS g, unnest(list_filter({_WORDS}, x -> x <> '')) AS term
  FROM documents
),
t AS (SELECT DISTINCT g, term FROM w),
sz AS (SELECT g, COUNT(*) AS n_types FROM t GROUP BY g),
i AS (
  SELECT a.g AS sa, b.g AS sb, COUNT(*) AS inter_types
  FROM t a JOIN t b ON a.term = b.term AND a.g < b.g
  GROUP BY a.g, b.g
)
SELECT sa AS source_a, sb AS source_b,
       CAST(inter_types AS BIGINT) AS inter_types,
       CAST(x.n_types + y.n_types - inter_types AS BIGINT) AS union_types,
       ROUND(inter_types / CAST(x.n_types + y.n_types - inter_types AS DOUBLE),
             9) AS jaccard,
       ROUND(inter_types / CAST(LEAST(x.n_types, y.n_types) AS DOUBLE),
             9) AS containment
FROM i JOIN sz x ON x.g = i.sa JOIN sz y ON y.g = i.sb
"""


def q_source_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution DRIFT of document length against the
    reference slice src0 (operators/stats.distribution_drift): 10
    equal-width bins over the reference n_chars range, total-variation
    distance, Laplace-smoothed Pearson chi-square, and the worst
    single-bin gap — the PSI-family admission report for a new
    source, kept transcendental-free so every double is
    driver-hash-exact (ordered folds, integer binning).  Plan: one
    (source, bin) count shuffle + two broadcast scalars."""
    from graphdb_for_drones_spark.operators.stats import distribution_drift

    cat = Catalog(spark, sf_dir)
    return distribution_drift(
        cat.documents, "source", "n_chars", ref_group="src0", n_bins=10
    )


ORACLE_SOURCE_DRIFT_STATS = r"""
WITH mm AS (
  SELECT CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
  FROM documents WHERE source = 'src0'
),
b AS (
  SELECT source AS g,
         LEAST(9, GREATEST(0,
           (CAST(n_chars AS BIGINT) - lo) * 10 // (hi - lo + 1))) AS bin
  FROM documents, mm
),
counts AS (SELECT g, bin, COUNT(*) AS c FROM b GROUP BY g, bin),
dense AS (
  SELECT gs.g, r.rb AS bin, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT g FROM b) gs
  CROSS JOIN range(10) r(rb)
  LEFT JOIN counts c ON c.g = gs.g AND c.bin = r.rb
),
vec AS (
  SELECT g, list(c ORDER BY bin) AS cs, CAST(SUM(c) AS BIGINT) AS n
  FROM dense GROUP BY g
),
ref AS (SELECT cs AS rcs, n AS rn FROM vec WHERE g = 'src0'),
terms AS (
  SELECT g, n,
    list_transform(range(10), i ->
      ABS(cs[i+1] / CAST(n AS DOUBLE) - rcs[i+1] / CAST(rn AS DOUBLE)))
      AS gaps,
    list_transform(range(10), i ->
      (cs[i+1] / CAST(n AS DOUBLE) - (rcs[i+1] + 1) / CAST(rn + 10 AS DOUBLE))
      * (cs[i+1] / CAST(n AS DOUBLE) - (rcs[i+1] + 1) / CAST(rn + 10 AS DOUBLE))
      / ((rcs[i+1] + 1) / CAST(rn + 10 AS DOUBLE))) AS chi_terms
  FROM vec, ref
)
SELECT g AS source, n AS n_rows,
  ROUND(0.5 * list_reduce(list_prepend(0.0, gaps), (a, x) -> a + x), 9)
    AS tvd,
  ROUND(list_reduce(list_prepend(0.0, chi_terms), (a, x) -> a + x), 9)
    AS chi2,
  ROUND(list_max(gaps), 9) AS max_gap
FROM terms
"""


def q_source_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift of the LANGUAGE mix per source vs src0
    (operators/stats.categorical_drift): bins are src0's distinct
    languages in alphabetical order plus one trailing unseen-language
    bin, statistics from the shared ordered-fold math half — the
    admission gate's "did this crawl change the language balance"
    report beside the numeric-length drift."""
    from graphdb_for_drones_spark.operators.stats import categorical_drift

    cat = Catalog(spark, sf_dir)
    return categorical_drift(cat.documents, "source", "lang", "src0")


def q_source_drift_stats_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream==batch as an ORACLE-checked fact (VERDICT r10 task #7):
    drains the documents table through the STREAMING drift monitor
    (streaming/drift_monitor.start_drift_monitor — per-micro-batch
    (source, bin) counts landing idempotently per batch_id, state
    bounded at |sources| × 10 regardless of ingest volume) and returns
    ``drift_report`` over the accumulated counts, which recomputes
    TVD / smoothed chi-square / max-gap through the SAME math half as
    the batch operator (``drift_from_bin_counts``).  Gated against the
    IDENTICAL SQL oracle as the batch entry `source_drift_stats`, so
    the monitor's counts-are-the-only-state construction is
    driver-attested rather than pytest-only.

    Mechanics: documents.parquet is ``staged`` (streaming/util) and
    drained availableNow into FRESH out/checkpoint dirs under the stage
    root (the monitor truncates on a fresh checkpoint — its lifecycle
    contract); the |sources|-row report is settled (``_pin.settle``:
    one Arrow collect into a local frame) before the root is removed.  The '__ref__' geometry row is dropped
    from the report (the src0 stream row carries the same counts by
    construction)."""
    from graphdb_for_drones_spark.streaming.drift_monitor import (
        drain_drift_report,
    )

    cat = Catalog(spark, sf_dir)
    ref = cat.documents.filter(F.col("source") == "src0")
    with staged(spark, sf_dir, "documents") as (stream, root):
        # r13: measured with input-derived state partitions (the KS/W1
        # drains' win) — 1.64 s @32 parts vs 4.53 s @1 vs 2.09 s @8: the
        # monitor's foreachBatch ref-geometry work wants the cores, so
        # the session partitioning stays (see OPTIMIZATION_r13.md)
        report = (
            drain_drift_report(
                stream.select("source", "n_chars"),
                ref,
                root,
                group_col="source",
                value_col="n_chars",
            )
            .filter(F.col("g") != "__ref__")
            .select(
                F.col("g").alias("source"), "n_rows", "tvd", "chi2", "max_gap"
            )
        )
        return settle(report)[0]


def q_source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov drift of document length per
    source vs src0 (operators/stats.ks_drift) — the rank-based
    companion to the binned `source_drift_stats`: sup-norm CDF distance
    with no binning loss, every CDF value one IEEE division of exact
    cumulative counts so the statistic is driver-hash-exact.  Plan: one
    (source, n_chars) count shuffle, a |sources|-row broadcast grid,
    and the two-level range-bucketed prefix sum (r12 — no whole-group
    window; see stats._cdf_grid)."""
    from graphdb_for_drones_spark.operators.stats import ks_drift

    cat = Catalog(spark, sf_dir)
    return ks_drift(cat.documents, "source", "n_chars", ref_group="src0")


def _streamed_length_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents drained through a streaming (source, n_chars) COUNT
    into an update-mode memory sink, reconciled to one (g, x, cg) row
    per key: counts only grow, so latest-wins is MAX per (g, x)."""

    def counts(stream: DataFrame) -> DataFrame:
        return (
            stream.select(
                F.col("source").alias("g"),
                F.col("n_chars").cast("long").alias("x"),
            )
            .filter(F.col("x").isNotNull())
            .groupBy("g", "x")
            .agg(F.count(F.lit(1)).cast("long").alias("cg"))
        )

    # r13 (guide §2.5): state partitions sized to the staged input, not
    # the session constant — count-valued results are partitioning-
    # independent, so the drain is cheaper, not different
    updates = drain(
        spark, sf_dir, "documents", counts, output_mode="update", sized_state=True
    )
    return updates.groupBy("g", "x").agg(F.max("cg").alias("cg"))


def q_source_drift_ks_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT KS drift as a CONTINUOUS AGGREGATE, driver-attested: the
    KS grid needs only per-(group, value) counts, and counts are a
    streaming aggregation (monotone, mergeable) — so this entry drains
    documents through a streaming (source, n_chars) COUNT (update-mode
    memory sink; state is distinct-value-bounded, the same bound as the
    batch grid, never row-count-sized) and computes the statistic from
    the accumulated counts via stats.ks_drift_from_counts — the SAME
    math half as the batch entry, gated against `source_drift_ks`'s
    oracle VERBATIM.  Counts only grow, so latest-wins over the update
    sink is MAX per (group, value).  Completes the streaming drift
    story: binned (r11) and exact rank-based (r12) both stream==batch
    as driver-checked facts."""
    from graphdb_for_drones_spark.operators.stats import (
        ks_drift_from_counts,
    )

    counts = _streamed_length_counts(spark, sf_dir)
    return ks_drift_from_counts(counts, "source", "src0").orderBy("source")


ORACLE_SOURCE_DRIFT_KS = r"""
WITH v AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
gc AS (SELECT g, x, COUNT(*) AS cg FROM v GROUP BY g, x),
rc AS (SELECT x, cg AS cr FROM gc WHERE g = 'src0'),
gs AS (SELECT DISTINCT g FROM gc),
rp AS (SELECT gs.g, rc.x, rc.cr FROM gs CROSS JOIN rc),
allp AS (
  SELECT COALESCE(l.g, r.g) AS g, COALESCE(l.x, r.x) AS x,
         COALESCE(l.cg, 0) AS cg, COALESCE(r.cr, 0) AS cr
  FROM gc l FULL OUTER JOIN rp r ON l.g = r.g AND l.x = r.x
),
cum AS (
  SELECT g,
         SUM(cg) OVER (PARTITION BY g ORDER BY x) AS Cg,
         SUM(cr) OVER (PARTITION BY g ORDER BY x) AS Cr,
         SUM(cg) OVER (PARTITION BY g) AS n_g,
         SUM(cr) OVER (PARTITION BY g) AS n_r
  FROM allp
)
SELECT g AS source, CAST(MAX(n_g) AS BIGINT) AS n_rows,
       ROUND(MAX(CASE WHEN n_r > 0 THEN
         ABS(CAST(Cg AS DOUBLE) / CAST(n_g AS DOUBLE)
             - CAST(Cr AS DOUBLE) / CAST(n_r AS DOUBLE)) END), 9) AS ks
FROM cum GROUP BY g
"""


def q_doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of document length per source
    (operators/stats.gini_concentration): rank-form coefficient over
    ascending n_chars — "is a sliver of documents carrying most of the
    bytes" — with DECIMAL(38,0)-exact integer sums (tie-invariant
    rank fold) and one final IEEE division rounded to 9dp.  One
    group-partitioned sort window + a |sources|-row aggregate."""
    from graphdb_for_drones_spark.operators.stats import gini_concentration

    cat = Catalog(spark, sf_dir)
    return gini_concentration(cat.documents, "source", "n_chars")


ORACLE_DOC_LENGTH_GINI = r"""
WITH v AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
r AS (
  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS i FROM v
),
a AS (
  SELECT g, COUNT(*) AS n_rows, SUM(x) AS sx, SUM(2 * i * x) AS sxi2
  FROM r GROUP BY g
)
SELECT g AS source, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(sx AS BIGINT) AS total,
       ROUND(CASE WHEN sx > 0 THEN
         CAST(sxi2 - (n_rows + 1) * sx AS DOUBLE)
         / CAST(n_rows * sx AS DOUBLE) END, 9) AS gini
FROM a
"""


def q_source_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Wasserstein-1 (earth-mover) drift of document length per
    source vs src0 (operators/stats.wasserstein_drift): the integral
    companion to `source_drift_ks` — Σ |F_g − F_ref|·Δx over the
    pooled jump points, in characters ("how far does length mass have
    to move"), integer DECIMAL(38,0) segment terms until one final
    division so the value is driver-hash-exact.  Same plan shape as
    the KS entry plus a lead window on the shared sort."""
    from graphdb_for_drones_spark.operators.stats import wasserstein_drift

    cat = Catalog(spark, sf_dir)
    return wasserstein_drift(
        cat.documents, "source", "n_chars", ref_group="src0"
    )


def q_source_drift_w1_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed EXACT Wasserstein-1 drift — the integral companion to
    `source_drift_ks_streamed`, riding the identical construction: a
    streaming (source, n_chars) COUNT aggregation (distinct-value-
    bounded state), statistic from the accumulated counts via
    stats.wasserstein_drift_from_counts (the SAME math half as the
    batch entry), gated against `source_drift_w1`'s oracle VERBATIM.
    The whole rank-based drift pair now streams exactly."""
    from graphdb_for_drones_spark.operators.stats import (
        wasserstein_drift_from_counts,
    )

    counts = _streamed_length_counts(spark, sf_dir)
    return wasserstein_drift_from_counts(
        counts, "source", "src0"
    ).orderBy("source")


ORACLE_SOURCE_DRIFT_W1 = r"""
WITH v AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
gc AS (SELECT g, x, COUNT(*) AS cg FROM v GROUP BY g, x),
rc AS (SELECT x, cg AS cr FROM gc WHERE g = 'src0'),
gs AS (SELECT DISTINCT g FROM gc),
rp AS (SELECT gs.g, rc.x, rc.cr FROM gs CROSS JOIN rc),
allp AS (
  SELECT COALESCE(l.g, r.g) AS g, COALESCE(l.x, r.x) AS x,
         COALESCE(l.cg, 0) AS cg, COALESCE(r.cr, 0) AS cr
  FROM gc l FULL OUTER JOIN rp r ON l.g = r.g AND l.x = r.x
),
cum AS (
  SELECT g, x,
         SUM(cg) OVER (PARTITION BY g ORDER BY x) AS Cg,
         SUM(cr) OVER (PARTITION BY g ORDER BY x) AS Cr,
         SUM(cg) OVER (PARTITION BY g) AS n_g,
         SUM(cr) OVER (PARTITION BY g) AS n_r
  FROM allp
),
seg AS (
  SELECT g, n_g, n_r,
         ABS(CAST(Cg AS HUGEINT) * n_r - CAST(Cr AS HUGEINT) * n_g)
           * CAST(LEAD(x) OVER (PARTITION BY g ORDER BY x) - x AS HUGEINT)
           AS term
  FROM cum
),
a AS (
  SELECT g, MAX(n_g) AS n_g, MAX(n_r) AS n_r,
         COALESCE(SUM(term), 0) AS num
  FROM seg GROUP BY g
)
SELECT g AS source, CAST(n_g AS BIGINT) AS n_rows,
  CASE WHEN n_r > 0 THEN
    ROUND(CAST(num AS DOUBLE)
          / (CAST(n_g AS DOUBLE) * CAST(n_r AS DOUBLE)), 9) END AS w1
FROM a
"""


ORACLE_SOURCE_LANG_DRIFT = r"""
WITH ref_cats AS (
  SELECT cat, ROW_NUMBER() OVER (ORDER BY cat) - 1 AS idx
  FROM (SELECT DISTINCT lang AS cat FROM documents WHERE source = 'src0')
),
ncats AS (SELECT COUNT(*) AS b FROM ref_cats),
binned AS (
  SELECT d.source AS g, COALESCE(rc.idx, (SELECT b FROM ncats)) AS bin
  FROM documents d LEFT JOIN ref_cats rc ON rc.cat = d.lang
),
counts AS (SELECT g, bin, COUNT(*) AS c FROM binned GROUP BY g, bin),
bins AS (SELECT idx AS bin FROM ref_cats UNION ALL SELECT b FROM ncats),
dense AS (
  SELECT gs.g, bins.bin, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT g FROM binned) gs
  CROSS JOIN bins
  LEFT JOIN counts c ON c.g = gs.g AND c.bin = bins.bin
),
vec AS (
  SELECT g, list(c ORDER BY bin) AS cs, CAST(SUM(c) AS BIGINT) AS n
  FROM dense GROUP BY g
),
ref AS (SELECT cs AS rcs, n AS rn FROM vec WHERE g = 'src0'),
terms AS (
  SELECT g, n,
    list_transform(range(len(cs)), i ->
      ABS(cs[i+1] / CAST(n AS DOUBLE) - rcs[i+1] / CAST(rn AS DOUBLE)))
      AS gaps,
    list_transform(range(len(cs)), i ->
      (cs[i+1] / CAST(n AS DOUBLE)
         - (rcs[i+1] + 1) / CAST(rn + len(cs) AS DOUBLE))
      * (cs[i+1] / CAST(n AS DOUBLE)
         - (rcs[i+1] + 1) / CAST(rn + len(cs) AS DOUBLE))
      / ((rcs[i+1] + 1) / CAST(rn + len(cs) AS DOUBLE))) AS chi_terms
  FROM vec, ref
)
SELECT g AS source, n AS n_rows,
  ROUND(0.5 * list_reduce(list_prepend(0.0, gaps), (a, x) -> a + x), 9)
    AS tvd,
  ROUND(list_reduce(list_prepend(0.0, chi_terms), (a, x) -> a + x), 9)
    AS chi2,
  ROUND(list_max(gaps), 9) AS max_gap
FROM terms
"""


def q_mixture_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reshaping END-TO-END: `mixture_weights` (uniform token
    target) normalized by the max weight into per-source keep
    probabilities, applied by the deterministic md5 sampler, rolled up
    to kept docs/tokens and the ACHIEVED token share per source — the
    composition proving the weights operator actually reshapes the
    corpus (over-represented sources are downsampled hardest; the
    achieved shares flatten toward uniform).  Plan: the weight/keep_p
    frame is a domain-cardinality aggregate broadcast back onto the
    scan; the sample itself is a shuffle-free projection filter — one
    corpus scan, one tiny rollup."""
    from graphdb_for_drones_spark.operators.text import token_count

    cat = Catalog(spark, sf_dir)
    docs = cat.documents.withColumn("n_tokens", token_count(F.col("text")))
    wts = curation.mixture_weights(cat.documents, domain_col="source")
    wmax = F.max("weight").over(Window.partitionBy())
    kp = wts.select(
        "source",
        F.when(wmax > 0, F.col("weight") / wmax)
        .otherwise(F.lit(0.0))
        .alias("keep_p"),
    )
    kept = curation.deterministic_sample(
        docs.join(F.broadcast(kp), "source"), F.col("keep_p")
    )
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    total = F.sum("kept_tokens").over(Window.partitionBy())
    return agg.select(
        "source",
        "kept_docs",
        "kept_tokens",
        F.when(total > 0, F.col("kept_tokens") / total)
        .otherwise(F.lit(0.0))
        .alias("kept_token_share"),
    )


ORACLE_MIXTURE_RESAMPLE_STATS = rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(list_filter({_WORDS}, x -> x <> ''))) AS n_tokens
  FROM documents GROUP BY source
),
wts AS (
  SELECT source,
         CASE WHEN n_tokens > 0 AND SUM(n_tokens) OVER () > 0
              THEN (1.0 / COUNT(*) OVER ())
                   / (n_tokens * 1.0 / SUM(n_tokens) OVER ())
              ELSE 0.0 END AS weight
  FROM per
),
kp AS (
  SELECT source,
         CASE WHEN MAX(weight) OVER () > 0
              THEN weight / MAX(weight) OVER () ELSE 0.0 END AS keep_p
  FROM wts
),
d AS (
  SELECT doc_id, source,
         len(list_filter({_WORDS}, x -> x <> '')) AS n_tokens,
         {_MD5_60} * 1.0 / 1152921504606846976 AS u
  FROM documents
),
k AS (
  SELECT d.source, d.n_tokens
  FROM d JOIN kp USING (source) WHERE d.u < kp.keep_p
),
agg AS (
  SELECT source, COUNT(*) AS kept_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
  FROM k GROUP BY source
)
SELECT source, kept_docs, kept_tokens,
       CASE WHEN SUM(kept_tokens) OVER () > 0
            THEN kept_tokens * 1.0 / SUM(kept_tokens) OVER ()
            ELSE 0.0 END AS kept_token_share
FROM agg
"""



def q_doc_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering rollup
    (operators/text.hashed_logit_scores — fastText-style linear
    classifier over hashed bag-of-words features, exact integer
    arithmetic): per source, how many documents the model keeps and the
    token-weighted mean logit.  The heuristic twin is ``doc_quality``
    (rule scores); this is the TRAINED-FILTER shape — hash → bucket →
    weight lookup → fold — that corpus pruning runs at 100 TB, with a
    deterministic weight table standing in for fitted coefficients."""
    from graphdb_for_drones_spark.operators.text import hashed_logit_scores

    cat = Catalog(spark, sf_dir)
    scored = hashed_logit_scores(cat.documents, carry_cols=("source",))
    # ANSI guard: a source of only-empty documents has SUM(n_tokens)=0
    mean_logit = F.when(
        F.sum("n_tokens") > 0,
        F.round(
            F.sum("logit10").cast("double")
            / (F.lit(10.0) * F.sum("n_tokens").cast("double")),
            9,
        ),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("kept_docs"),
        mean_logit.alias("mean_logit"),
    )


_TOK_MD5_60_Q7 = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(concat(x, ':q7')), i+1, 1)) - 1 AS BIGINT)"
    " << ((14 - i) * 4))) AS BIGINT)"
)

ORACLE_DOC_QUALITY_LOGIT = rf"""
WITH d AS (
  SELECT doc_id, source, list_filter({_WORDS}, x -> x <> '') AS w
  FROM documents
),
t AS (
  SELECT source,
         CAST(len(w) AS BIGINT) AS n,
         CAST(COALESCE(list_sum(list_transform(w, x ->
           ((({_TOK_MD5_60_Q7} % 64) * 37 + 11) % 21) - 10)), 0) AS BIGINT)
           AS z10
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE z10 > 0) AS BIGINT) AS kept_docs,
       CASE WHEN SUM(n) > 0 THEN
         ROUND(CAST(CAST(SUM(z10) AS BIGINT) AS DOUBLE)
               / (10.0 * CAST(SUM(n) AS BIGINT)), 9)
       END AS mean_logit
FROM t GROUP BY source
"""



def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed BPE vocabulary training, 6 merges
    (operators/text.bpe_train): each round counts adjacent symbol pairs
    corpus-wide, picks the most frequent (count DESC, pair ASC — the
    tie-free trainer order) and merges every occurrence into a fresh
    private-use symbol.  The merges are DATA-DEPENDENT — round r's
    statistics run over text re-segmented by rounds 1..r-1 — yet the
    whole trainer stays oracle-checkable: the DuckDB twin unrolls the
    supersteps with scalar-subquery argmaxes and the same
    chr(0xE000+r-1) symbol minting.  ``bpe_merge_candidates`` is one
    superstep of this loop; this entry is the loop."""
    from graphdb_for_drones_spark.operators.text import bpe_train

    cat = Catalog(spark, sf_dir)
    return bpe_train(cat.documents, n_merges=6)


def _bpe_superstep_ctes(n_merges: int, carry: str = "") -> list:
    """The BPE trainer's per-round p/m/w CTE blocks — ONE generator
    shared by both BPE oracles so the superstep semantics (pair count,
    (count DESC, pair ASC) argmax, conditional replace with
    chr(0xE000+r-1)) cannot silently diverge between them.  ``carry``
    is the comma-terminated column list threaded through the w_r stages
    (e.g. ``"source, rawlen, "``)."""
    ctes = []
    for r in range(1, n_merges + 1):
        sym = 0xE000 + r - 1
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pair, CAST(count(*) AS BIGINT) AS pair_count FROM (
    SELECT unnest([w[i+1:i+2] for i in range(len(w)-1)]) AS pair
    FROM w{r-1} WHERE len(w) >= 2
  ) GROUP BY pair
),
m{r} AS MATERIALIZED (SELECT pair, pair_count FROM p{r}
         ORDER BY pair_count DESC, pair ASC LIMIT 1),
w{r} AS MATERIALIZED (
  SELECT {carry}CASE WHEN (SELECT count(*) FROM m{r}) = 0 THEN w
              ELSE replace(w, (SELECT pair FROM m{r}), chr({sym})) END AS w
  FROM w{r - 1}
)"""
        )
    return ctes


def _bpe_train_oracle_sql(n_merges: int = 6) -> str:
    """Unrolled BPE-trainer supersteps (see _bpe_superstep_ctes); the
    final select unions each stage's 1-row argmax."""
    ctes = [
        rf"""w0 AS MATERIALIZED (
  SELECT w FROM (SELECT unnest({_WORDS}) AS w FROM documents)
  WHERE len(w) >= 2
)"""
    ] + _bpe_superstep_ctes(n_merges)
    stage_selects = [
        f"SELECT {r} AS rank, pair, pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    ]
    union = "\nUNION ALL\n".join(stage_selects)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT rank, pair, pair_count FROM ({union})"
        + " WHERE pair IS NOT NULL ORDER BY rank"
    )


ORACLE_BPE_TRAIN_MERGES = _bpe_train_oracle_sql()



def q_doc_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression per source
    (operators/text.bpe_segment_stats): train 6 BPE merges on the corpus
    (the bpe_train_merges loop), segment the corpus with them
    (rank-order replace chain — pure codegen), and report words / raw
    chars / BPE symbols / symbols-per-char.  The end-to-end
    train-then-apply tokenizer lifecycle in one oracle-paired entry —
    the statistic that tells a pipeline whether its vocabulary actually
    compresses its corpus."""
    from graphdb_for_drones_spark.operators.text import (
        bpe_segment_stats,
        bpe_train_list,
    )

    cat = Catalog(spark, sf_dir)
    merges = bpe_train_list(cat.documents, n_merges=6)
    return bpe_segment_stats(cat.documents, merges)


def _bpe_compression_oracle_sql(n_merges: int = 6) -> str:
    """The trainer's unrolled supersteps (shared generator) with
    (source, raw length) carried through, then the per-source rollup
    over the final segmentation."""
    ctes = [
        rf"""w0 AS MATERIALIZED (
  SELECT source, CAST(len(w) AS BIGINT) AS rawlen, w
  FROM (SELECT source, unnest({_WORDS}) AS w FROM documents)
  WHERE len(w) >= 2
)"""
    ] + _bpe_superstep_ctes(n_merges, carry="source, rawlen, ")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(rawlen) AS BIGINT) AS n_chars,
       CAST(SUM(len(w)) AS BIGINT) AS n_symbols,
       CASE WHEN SUM(rawlen) > 0 THEN
         ROUND(CAST(CAST(SUM(len(w)) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(rawlen) AS BIGINT) AS DOUBLE), 9)
       END AS compression
FROM w{n_merges} GROUP BY source"""
    )


ORACLE_DOC_BPE_COMPRESSION = _bpe_compression_oracle_sql()



def q_corpus_stopword_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stopword induction (operators/text.doc_frequency_topk):
    top-20 words by document frequency with corpus fraction — the df
    table the hot-shingle caps prune against, as its own entry.  The
    one-row corpus count binds via the whitelisted scalar-broadcast
    shape."""
    from graphdb_for_drones_spark.operators.text import doc_frequency_topk

    cat = Catalog(spark, sf_dir)
    return doc_frequency_topk(cat.documents, k=20)


ORACLE_CORPUS_STOPWORD_CANDIDATES = rf"""
WITH w AS (
  SELECT unnest(list_distinct(list_filter({_WORDS}, x -> x <> ''))) AS word
  FROM documents
),
d AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM w GROUP BY word)
SELECT word, df,
       ROUND(CAST(df AS DOUBLE) / (SELECT count(*) FROM documents), 9)
         AS df_frac
FROM d ORDER BY df DESC, word ASC LIMIT 20
"""


CURATION_QUERIES = {
    "corpus_stopword_candidates": q_corpus_stopword_candidates,
    "doc_bpe_compression": q_doc_bpe_compression,
    "bpe_train_merges": q_bpe_train_merges,
    "doc_quality_logit": q_doc_quality_logit,
    "contamination_check": q_contamination_check,
    "contamination_check_bucketed": q_contamination_check_bucketed,
    "contamination_exact_13gram": q_contamination_exact_13gram,
    "doc_pack_stats": q_doc_pack_stats,
    "mixture_weights": q_mixture_weights,
    "lang_temperature_mixture": q_lang_temperature_mixture,
    "lang_unimax_mixture": q_lang_unimax_mixture,
    "doc_repetition": q_doc_repetition,
    "embedding_dup_clusters": q_embedding_dup_clusters,
    "doc_pack_greedy_stats": q_doc_pack_greedy_stats,
    "doc_quality_sample_stats": q_doc_quality_sample_stats,
    "contamination_containment": q_contamination_containment,
    "doc_dup_span_stats": q_doc_dup_span_stats,
    "doc_top_ngram_stats": q_doc_top_ngram_stats,
    "doc_gopher_rules": q_doc_gopher_rules,
    "doc_tfidf_topk": q_doc_tfidf_topk,
    "customer_pii_scrub": q_customer_pii_scrub,
    "source_bloom_probe_stats": q_source_bloom_probe_stats,
    "doc_chunk_stats": q_doc_chunk_stats,
    "curation_pipeline_stats": q_curation_pipeline_stats,
    "doc_difficulty_deciles": q_doc_difficulty_deciles,
    "doc_bm25_topk": q_doc_bm25_topk,
    "doc_lm_fluency": q_doc_lm_fluency,
    "doc_bpe_token_stats": q_doc_bpe_token_stats,
    "doc_dup_passages": q_doc_dup_passages,
    "doc_winnow_stats": q_doc_winnow_stats,
    "doc_weighted_sample": q_doc_weighted_sample,
    "bpe_merge_candidates": q_bpe_merge_candidates,
    "source_vocab_stats": q_source_vocab_stats,
    "source_vocab_overlap": q_source_vocab_overlap,
    "source_drift_stats": q_source_drift_stats,
    "source_drift_stats_streamed": q_source_drift_stats_streamed,
    "source_drift_ks": q_source_drift_ks,
    "source_drift_ks_streamed": q_source_drift_ks_streamed,
    "source_drift_w1_streamed": q_source_drift_w1_streamed,
    "source_drift_w1": q_source_drift_w1,
    "doc_length_gini": q_doc_length_gini,
    "source_lang_drift": q_source_lang_drift,
    "mixture_resample_stats": q_mixture_resample_stats,
}

CURATION_ORACLES = {
    "corpus_stopword_candidates": ORACLE_CORPUS_STOPWORD_CANDIDATES,
    "doc_bpe_compression": ORACLE_DOC_BPE_COMPRESSION,
    "bpe_train_merges": ORACLE_BPE_TRAIN_MERGES,
    "doc_quality_logit": ORACLE_DOC_QUALITY_LOGIT,
    "contamination_check": ORACLE_CONTAMINATION_CHECK,
    "contamination_check_bucketed": ORACLE_CONTAMINATION_CHECK,
    "contamination_exact_13gram": ORACLE_CONTAMINATION_EXACT_13GRAM,
    "doc_pack_stats": ORACLE_DOC_PACK_STATS,
    "doc_pack_greedy_stats": ORACLE_DOC_PACK_GREEDY_STATS,
    "mixture_weights": ORACLE_MIXTURE_WEIGHTS,
    "lang_temperature_mixture": ORACLE_LANG_TEMPERATURE_MIXTURE,
    "lang_unimax_mixture": ORACLE_LANG_UNIMAX_MIXTURE,
    "doc_repetition": ORACLE_DOC_REPETITION,
    "embedding_dup_clusters": ORACLE_EMBEDDING_DUP_CLUSTERS,
    "doc_quality_sample_stats": ORACLE_DOC_QUALITY_SAMPLE_STATS,
    "contamination_containment": ORACLE_CONTAMINATION_CONTAINMENT,
    "doc_dup_span_stats": ORACLE_DOC_DUP_SPAN_STATS,
    "doc_top_ngram_stats": ORACLE_DOC_TOP_NGRAM_STATS,
    "doc_gopher_rules": ORACLE_DOC_GOPHER_RULES,
    "doc_tfidf_topk": ORACLE_DOC_TFIDF_TOPK,
    "customer_pii_scrub": ORACLE_CUSTOMER_PII_SCRUB,
    "source_bloom_probe_stats": ORACLE_SOURCE_BLOOM_PROBE_STATS,
    "doc_chunk_stats": ORACLE_DOC_CHUNK_STATS,
    "curation_pipeline_stats": ORACLE_CURATION_PIPELINE_STATS,
    "doc_difficulty_deciles": ORACLE_DOC_DIFFICULTY_DECILES,
    "doc_bm25_topk": ORACLE_DOC_BM25_TOPK,
    "doc_lm_fluency": ORACLE_DOC_LM_FLUENCY,
    "doc_bpe_token_stats": ORACLE_DOC_BPE_TOKEN_STATS,
    "doc_dup_passages": ORACLE_DOC_DUP_PASSAGES,
    "doc_winnow_stats": ORACLE_DOC_WINNOW_STATS,
    "doc_weighted_sample": ORACLE_DOC_WEIGHTED_SAMPLE,
    "bpe_merge_candidates": ORACLE_BPE_MERGE_CANDIDATES,
    "source_vocab_stats": ORACLE_SOURCE_VOCAB_STATS,
    "source_vocab_overlap": ORACLE_SOURCE_VOCAB_OVERLAP,
    "source_drift_stats": ORACLE_SOURCE_DRIFT_STATS,
    # the streamed twin shares the batch oracle VERBATIM: stream==batch
    # is the checked contract, not a tolerance
    "source_drift_stats_streamed": ORACLE_SOURCE_DRIFT_STATS,
    "source_drift_ks": ORACLE_SOURCE_DRIFT_KS,
    # streamed twin gated against the batch oracle VERBATIM (counts are
    # a continuous aggregate; same math half)
    "source_drift_ks_streamed": ORACLE_SOURCE_DRIFT_KS,
    "source_drift_w1": ORACLE_SOURCE_DRIFT_W1,
    # streamed twin gated against the batch oracle VERBATIM
    "source_drift_w1_streamed": ORACLE_SOURCE_DRIFT_W1,
    "doc_length_gini": ORACLE_DOC_LENGTH_GINI,
    "source_lang_drift": ORACLE_SOURCE_LANG_DRIFT,
    "mixture_resample_stats": ORACLE_MIXTURE_RESAMPLE_STATS,
}
