"""Corpus-curation operators for LLM training-data pipelines.

Beyond dedup/similarity (operators/dedup.py, operators/similarity.py),
a production pretraining pipeline needs:

* **benchmark decontamination** — find training documents that overlap an
  evaluation set (n-gram jaccard across two corpora, not a self-join);
* **sequence packing** — assign documents to fixed-token-budget training
  sequences deterministically;
* **domain mixture weights** — per-source sampling weights that reshape
  the observed token distribution into a target mixture;
* **repetition scoring** — the Gopher-style within-document duplicate
  n-gram ratio used as a quality gate.

All of the above are pure DataFrame compositions (codegen expressions,
bucketed joins, windowed aggregation) — no Python on the row path — and
each has an exact ANSI-SQL twin in plans/curation_queries.py.  The one
deliberate exception is ``pack_sequences_greedy``: first-fit-decreasing
bin packing is a per-shard state machine no ANSI window can express, so
it runs as ``applyInPandas`` over the same bounded shards and is pinned
by invariant tests instead of an oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.operators import _index_store
from graphdb_for_drones_spark.operators.dedup import shingle_hash_array
from graphdb_for_drones_spark.operators.split import offset_rank
from graphdb_for_drones_spark.operators.text import token_count


def contamination_pairs(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Cross-corpus exact n-gram jaccard: (train_id, eval_id, jaccard)
    for every train document sharing ≥ ``threshold`` jaccard with an
    eval document.

    Same inverted-index discipline as ``dedup.ngram_jaccard_pairs`` but
    across two corpora: each side explodes its distinct shingle hashes,
    the equi join on the shingle meets only documents that share one,
    and the pair count recovers |A∩B| — never an all-pairs product.
    At scale the eval set is typically tiny (benchmarks): Catalyst's
    size estimate then broadcasts the exploded eval side, making this a
    map-side join against the training corpus.

    ``max_df`` (train-side document frequency cap) drops boilerplate
    shingles before the join — the same hot-shingle blowup control as
    the self-join dedup path.
    """
    tr = shingle_index(train, "train_id", text_col, id_col, shingle_n)
    ev = shingle_index(eval_set, "eval_id", text_col, id_col, shingle_n)
    return contamination_pairs_from_index(tr, ev, threshold, max_df, metric)


def shingle_index(
    df: DataFrame,
    name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exploded distinct-shingle inverted index for one corpus side:
    (``name``, ``n_<name>`` set size, ``h`` shingle hash).  For a static
    eval set, build once and reuse (e.g. ``localCheckpoint`` it for the
    streaming guard).

    Input is SPREAD to the cluster's parallelism before the shingle
    fold (`dedup._spread_input`): a single small parquet file reads as
    ONE partition, which would serialize all per-doc hash CPU onto one
    core — measured 11.7 → 2.9 s on the 13-gram entry at sf0.1; no-op
    at real corpus scale where the source already has enough splits."""
    from graphdb_for_drones_spark.operators.dedup import (
        _spread_input,
        with_shingle_hashes,
    )

    return (
        with_shingle_hashes(
            _spread_input(
                df.select(F.col(id_col).alias(name), F.col(text_col)),
                name,
                text_col,
            ),
            text_col,
            shingle_n,
            out_col="__sh",
            keep=(name,),
        )
        .select(name, F.array_distinct(F.col("__sh")).alias("hashes"))
        .select(
            name,
            F.size("hashes").alias(f"n_{name}"),
            F.explode("hashes").alias("h"),
        )
    )


def capped_train_index(tr: DataFrame, max_df: int) -> DataFrame:
    """Train-side document-frequency cap over a ``shingle_index`` frame.

    Both the df cap and the per-doc size recount are unbounded COUNT
    windows over ONE lineage: the groupBy + join-back form re-scans and
    re-shingles the corpus per branch (column pruning specializes each
    branch's exchange and defeats ReuseExchange), measured 4.1 → 2.4 s
    at sf0.1.  The window does shuffle a hot shingle's rows to one
    reducer before dropping them; the alternative (counters-only
    groupBy + anti-join of the hot set) avoids that at the price of a
    second corpus scan — measured SLOWER on both the uniform and the
    power-law corpora (PERF.md), because re-shingling costs more than
    moving the boilerplate rows once.  Window buffers spill rather
    than OOM."""
    w_h = Window.partitionBy("h")
    w_t = Window.partitionBy("train_id")
    return (
        tr.withColumn("__df", F.count(F.lit(1)).over(w_h))
        .filter(F.col("__df") <= max_df)
        .drop("__df", "n_train_id")
        .withColumn("n_train_id", F.count(F.lit(1)).over(w_t))
    )


def _canonical_location(loc: str) -> str:
    """Canonical form of a table/catalog location for equality checks.

    DESCRIBE FORMATTED renders locations as URIs (``file:/…`` with
    percent-escapes; ``hdfs://nn/…``; ``s3a://bucket/…``) while callers
    pass plain OS paths — naive ``split("file:")`` + ``abspath`` always
    mismatches on non-local filesystems and on escaped local paths,
    silently DROP/re-CREATE-ing the table on every warm open (round-8
    ADVICE).  Local/file locations normalize to ``file:<abspath>`` with
    escapes decoded; any other scheme compares as the unescaped URI with
    the trailing slash stripped."""
    import os as _os
    from urllib.parse import unquote, urlsplit

    parts = urlsplit(loc)
    if parts.scheme in ("", "file"):
        return "file:" + _os.path.abspath(unquote(parts.path))
    return unquote(loc).rstrip("/")


def bucketed_shingle_table_open(
    spark,
    builder,
    table: str,
    path: str,
    num_buckets: int = 16,
    build_params: dict | None = None,
) -> DataFrame:
    """Materialize a shingle-index side as an ``h``-BUCKETED, h-sorted
    table (``sources.io.write_bucketed``) and return it; on a warm open
    (path exists) re-register the table metadata over the existing
    bucketed files — the DDL's bucket count is taken from the
    ``_bucket_spec.json`` sidecar the cold build wrote (the persisted
    layout), NEVER from the argument, and a spec/argument mismatch
    raises instead of silently registering a layout the files don't
    have (a bucketed-join under a wrong declared layout drops matching
    rows with no error).  A spec-less legacy dir is rebuilt once aged
    past the reader-safety window; while still young it is never
    deleted (a possible active scan) — instead the open DETOURS to a
    ``-respec`` sibling dir so callers keep serving through the window,
    and the aged sweep collects the legacy dir later.  Cold builds
    publish through ``_index_store.build_once`` (private tmp dir +
    rename), so concurrent builders never interleave writes in the live
    directory (the persisted-index race contract,
    ``tests/test_failure_injection.py``).
    ``build_params`` records semantic build constants (shingle_n,
    max_df, …) in the sidecar and is asserted the same way — callers
    must ALSO encode every build param in ``path``/``table`` (the
    ``_index_store.path_for`` contract) so distinct param sets never
    share a dir.

    Two sides bucketed on ``h`` with the same bucket count join with NO
    shuffle exchange on either side: at 100 TB this converts the
    decontamination inverted-index join — the one recurring
    corpus-scale exchange of the contamination family — into a zip of
    pre-sorted buckets.  ``builder`` is a zero-arg callable returning
    the index DataFrame, invoked only on a cold build."""
    import json as _json
    import os as _os
    import shutil as _shutil

    spec_file = _os.path.join(path, "_bucket_spec.json")
    # Normalize through one JSON round-trip BEFORE both writing and
    # comparing: build_params values that don't survive json as-is
    # (tuples → lists, int keys → str) would otherwise make a fresh
    # index fail its own immediate warm-open forever (round-8 ADVICE).
    want = _json.loads(
        _json.dumps(
            {
                "num_buckets": num_buckets,
                "bucket_cols": ["h"],
                "sort_cols": ["h"],
                "build_params": build_params or {},
            }
        )
    )
    if _os.path.isdir(path) and not _os.path.isfile(spec_file):
        # pre-spec dir: layout unverifiable, rebuild (it is a cache) —
        # but only once AGED: a young spec-less dir may still be
        # mid-scan in another session (deleting under an active reader
        # fails ITS job), and age is how every sweep here stays safe
        if not _index_store.aged(path):
            # DEGRADED PATH, not an availability cliff (round-8 ADVICE):
            # build under a sibling dir and leave the legacy one for the
            # aged sweep — a mid-upgrade session keeps serving instead
            # of hard-failing for up to an hour.  Deterministic suffix,
            # so concurrent detours race on ONE dir (build_once
            # resolves that race as usual).
            return bucketed_shingle_table_open(
                spark,
                builder,
                f"{table}_respec",
                path.rstrip("/") + "-respec",
                num_buckets=num_buckets,
                build_params=build_params,
            )
        _shutil.rmtree(path)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    from graphdb_for_drones_spark.sources.io import write_bucketed

    def write(tmp: str) -> None:
        # CONCURRENT-BUILDER SAFE: the bucketed files are staged in the
        # private tmp dir under a throwaway table name — two racing cold
        # builds never interleave writes in the live dir, the loser's
        # rename fails cleanly and it opens the winner's identical
        # (deterministic builder) index below.
        tmp_table = f"{table}__stage_{_os.path.basename(tmp).split('.')[-1]}"
        try:
            write_bucketed(
                builder(), tmp_table, ["h"], num_buckets, sort_cols=["h"], path=tmp
            )
        finally:
            # metadata points at the tmp location; the real table is
            # registered over the FINAL path below
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        with open(_os.path.join(tmp, "_bucket_spec.json"), "w") as fh:
            _json.dump(want, fh)

    # path carries <...>-<source id>-<content fingerprint>, so the
    # publish also drops dead index dirs of the SAME source's older
    # corpus states
    _index_store.build_once(path, write)
    with open(spec_file) as fh:
        spec = _json.load(fh)
    if spec != want:
        raise ValueError(
            f"bucketed index at {path} was built with {spec}, opened with "
            f"{want}: encode build params in the path/table name so "
            "param sets never share a directory"
        )
    if spark.catalog.tableExists(table):
        # a registration may predate this open and point ELSEWHERE
        # (a caller that violated the path/table co-encoding, or a
        # failed test's leftover): serving rows from the wrong path is
        # exactly the silent-wrong-data class this function guards
        # against, so verify the catalog location against ``path`` and
        # re-register on mismatch
        loc_rows = (
            spark.sql(f"DESCRIBE FORMATTED {table}")
            .filter("col_name = 'Location'")
            .collect()
        )
        loc = loc_rows[0].data_type if loc_rows else ""
        if _canonical_location(loc) != _canonical_location(path):
            spark.sql(f"DROP TABLE {table}")
    if not spark.catalog.tableExists(table):
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema
        )
        # IF NOT EXISTS: two racers both reach the registration after
        # the rename settles (name + path encode the same params, so
        # whichever DDL lands declares the identical layout)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING parquet "
            f"CLUSTERED BY (h) SORTED BY (h) INTO {spec['num_buckets']} "
            f"BUCKETS LOCATION '{path}'"
        )
    return spark.table(table)


def sweep_legacy_shidx_dirs(root: str) -> None:
    """One-time migration sweep for PRE-param-token bucketed-index dirs
    (``shidx-<name>-<8 hex sid>-<16 hex fp>``): the round-8 naming puts
    the build params between name and sid, so the prefix keying of
    ``_index_store._sweep_stale_fingerprints`` can never collect the old
    dirs — without this they leak forever in a shared index root.  Same
    age guard as every index sweep (never delete under a possible
    active reader)."""
    import os as _os
    import re as _re
    import shutil as _shutil

    if not _os.path.isdir(root):
        return
    legacy_pat = _re.compile(r"shidx-(tr|ev)-[0-9a-f]{8}-[0-9a-f]{16}$")
    for entry in _os.listdir(root):
        d = _os.path.join(root, entry)
        if (
            legacy_pat.fullmatch(entry)
            and _os.path.isdir(d)
            and _index_store.aged(d)
        ):
            _shutil.rmtree(d, ignore_errors=True)


def contamination_pairs_from_index(
    tr: DataFrame,
    ev: DataFrame,
    threshold: float = 0.1,
    max_df: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """`contamination_pairs` over prebuilt ``shingle_index`` sides —
    the streaming guard rebuilds only the (small) batch side per
    micro-batch.

    ``metric='jaccard'`` scores symmetric overlap; ``'containment'``
    scores |A∩B| / |eval| — the asymmetric measure decontamination
    actually gates on (a short benchmark prompt quoted inside a long
    training document has low jaccard but containment ≈ 1)."""
    if max_df is not None:
        tr = capped_train_index(tr, max_df)
    common = (
        tr.join(ev, "h")
        .groupBy("train_id", "n_train_id", "eval_id", "n_eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if metric == "containment":
        score = F.col("inter") / F.col("n_eval_id")
    elif metric == "jaccard":
        score = F.col("inter") / (
            F.col("n_train_id") + F.col("n_eval_id") - F.col("inter")
        )
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    return (
        common.withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select("train_id", "eval_id", metric)
    )


def _shard_col(df: DataFrame, id_col: str, shard_size: int, num_shards):
    """Bounded-shard key: dense integral ids bin by ``id div shard_size``
    (≤ shard_size docs per shard); non-integral ids (string DIDs, UUIDs)
    hash-shard into ``num_shards`` buckets via xxhash64 — the caller sizes
    num_shards ≈ corpus/shard_size since no count is taken here."""
    dtype = dict(df.dtypes)[id_col]
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return F.expr(f"`{id_col}` div {int(shard_size)}")
    if num_shards is None:
        raise TypeError(
            f"id_col {id_col!r} has type {dtype}: div-sharding needs an "
            "integral id — pass num_shards to hash-shard instead"
        )
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(num_shards)))


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    group_cols: tuple[str, ...] = ("lang",),
    shard_size: int = 1_000,
    num_shards: int | None = None,
) -> DataFrame:
    """Deterministic sequence packing by token offset.

    Documents are laid out in ``id_col`` order within each
    (group, shard) stream; a document belongs to the pack where its
    first token lands: ``pack_id = (cumsum_tokens - tokens) div budget``.
    Token-offset binning (rather than greedy reset-on-overflow) keeps
    the assignment a single window cumsum — expressible in any engine,
    order-independent given the sort key, and each pack holds ~``budget``
    tokens.

    The window partitions on (group_cols…, shard) where
    ``shard = id div shard_size`` — cumulative sums never run over an
    unbounded partition, so the plan scales with corpus size instead of
    degrading to one task per group.  Returns one row per document:
    (group_cols…, shard, pack_id, doc_id, n_tokens).
    """
    toks = df.select(
        *group_cols,
        F.col(id_col).alias("doc_id"),
        # integer division (not `/`-then-cast: stays exact for any id)
        _shard_col(df, id_col, shard_size, num_shards).alias("shard"),
        # a NULL text packs as a 0-token document: unguarded, the NULL
        # poisons the window cumsum (silent NULL pack_ids) or crashes
        # the FFD int() conversion on the pandas NaN
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(*group_cols, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("n_tokens").over(w))
    return cum.select(
        *group_cols,
        "shard",
        F.expr(f"(cum - n_tokens) div {int(budget)}").alias("pack_id"),
        "doc_id",
        "n_tokens",
    )


def pack_stats(
    df: DataFrame,
    budget: int = 512,
    group_cols: tuple[str, ...] = ("lang",),
    **kwargs,
) -> DataFrame:
    """Per-pack rollup of ``pack_sequences``: docs and tokens per pack."""
    packed = pack_sequences(df, budget=budget, group_cols=group_cols, **kwargs)
    return packed.groupBy(*group_cols, "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    target: dict[str, float] | None = None,
) -> DataFrame:
    """Per-domain sampling weights to hit a target token mixture.

    ``weight = target_share / observed_token_share``: sampling each
    domain's documents proportionally to its weight yields the target
    mixture in expectation.  Default target is uniform over observed
    domains.  Shares and totals are computed with window aggregates over
    the per-domain rollup (domain cardinality, not corpus cardinality —
    nothing returns to the driver).

    An explicit ``target`` is validated driver-side (shares must be
    non-negative with a positive sum; they are normalized to 1) and an
    observed domain absent from it gets weight 0.0 — "sample none of it"
    — rather than a silent NULL that drops the domain downstream.
    """
    per = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        # an all-NULL-text domain must contribute 0 tokens, not a NULL
        # that poisons the window total and zeroes every weight
        F.coalesce(F.sum(token_count(F.col(text_col))), F.lit(0)).alias(
            "n_tokens"
        ),
    )
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    # ANSI guards (degenerate-fixture sweep): an all-empty corpus has
    # total 0; a zero-token domain has share 0 and cannot be upweighted
    # to any token target — both surface as 0.0, never a job failure
    share = F.when(total > 0, F.col("n_tokens") / total).otherwise(
        F.lit(0.0)
    )
    if target is None:
        tgt = F.lit(1.0) / F.count(F.lit(1)).over(w)
    else:
        if any(v < 0 for v in target.values()):
            raise ValueError(f"negative target share in {target!r}")
        total = sum(target.values())
        if total <= 0:
            raise ValueError(f"target shares must sum > 0: {target!r}")
        mapping = F.create_map(
            *[F.lit(x) for k, v in target.items() for x in (k, v / total)]
        )
        tgt = F.coalesce(mapping[F.col(domain_col)], F.lit(0.0))
    return per.select(
        domain_col,
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.when(share > 0, tgt / share).otherwise(F.lit(0.0)).alias("weight"),
    )


def temperature_mixture(
    df: DataFrame,
    domain_col: str = "lang",
    text_col: str = "text",
    alpha: float = 0.5,
    budget_docs: int = 10_000,
) -> DataFrame:
    """Temperature-scaled sampling mixture (the mT5/XLM-R low-resource
    upweighting rule): sampling weight w_i ∝ c_i^alpha over per-domain
    token counts c_i, alpha < 1 flattening the head so low-resource
    domains (languages) keep representation.  Returns per domain
    (n_docs, n_tokens, weight, planned_docs = floor(weight·budget)).

    alpha is restricted to {1.0, 0.5, 0.25}: IEEE-754 ``sqrt`` is
    correctly rounded, so c^0.5 and c^0.25 (sqrt∘sqrt) are bit-identical
    on every engine, while a general ``pow(c, 0.3)`` is
    implementation-defined in the last ulp — the difference between a
    driver-hash-checkable operator and a rows-only one.

    The denominator Σ c_i^alpha folds over the domain-SORTED collected
    array (double addition is not associative; an unordered SUM would
    be partition-dependent).  The fold is domain-cardinality work on a
    single row — languages/sources number in the hundreds at 100 TB —
    while the token counting is the one corpus-scale aggregation."""
    scalers = {1.0: lambda c: c, 0.5: F.sqrt, 0.25: lambda c: F.sqrt(F.sqrt(c))}
    if alpha not in scalers:
        raise ValueError(
            f"alpha={alpha}: only 1.0, 0.5 (sqrt) and 0.25 (sqrt∘sqrt) are"
            " cross-engine exact; other exponents make the weights"
            " implementation-defined in the last ulp"
        )
    per = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        # an all-NULL-text domain sums to NULL, and one NULL poisons
        # the whole folded denominator — every domain's weight would
        # silently collapse to 0.0
        F.coalesce(F.sum(token_count(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    scaled = scalers[alpha](F.col("n_tokens").cast("double"))
    # fold order pins double-addition order CROSS-ENGINE, including a
    # NULL domain: sort_array on a bare struct(domain, ...) would put a
    # NULL domain FIRST while SQL's ORDER BY domain defaults to NULLS
    # LAST (the DuckDB oracle's list(... ORDER BY lang)) — a NULL
    # domain carrying nonzero tokens would then fold in a different
    # position and break bit-identity.  Leading with an is-null flag
    # (false < true) makes the engine order NULLS LAST explicitly.
    denom_row = per.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(domain_col).isNull().alias("__dn"),
                        F.col(domain_col).alias("__d"),
                        F.col("n_tokens"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + scalers[alpha](x["n_tokens"].cast("double")),
        ).alias("__denom")
    )
    weight = F.when(
        F.col("__denom") > 0, scaled / F.col("__denom")
    ).otherwise(F.lit(0.0))
    return (
        per.join(F.broadcast(denom_row))
        .select(
            domain_col,
            "n_docs",
            "n_tokens",
            weight.alias("weight"),
            F.floor(weight * F.lit(float(budget_docs)))
            .cast("long")
            .alias("planned_docs"),
        )
    )


def unimax_allocation(
    df: DataFrame,
    domain_col: str = "lang",
    text_col: str = "text",
    budget_tokens: int = 100_000,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, the mT5-successor
    budget rule): spread a total token ``budget_tokens`` as UNIFORMLY as
    possible across domains, but never take more than ``max_epochs``
    passes over any domain's data — the epoch cap is what stops the
    uniform target from burning tiny languages to 100+ repeats the way
    plain uniform sampling does, and the leftover waterfills the
    bigger domains.

    Closed-form waterfill, no iteration: sort domains by capacity
    cap_l = max_epochs·c_l ascending; domain at rank i is CAPPED iff
    cap_i·(n−i+1) + S_{i−1} < B (S = capacity prefix sum) — the capped
    set is always a prefix of the sorted order and this predicate is
    exactly "cap_i below the running waterlevel", so one window pass
    decides it — then every uncapped domain gets the common level
    (B − S_k)/(n − k).  The predicate is pure BIGINT arithmetic and
    the level is ONE double division of exact integers, so the output
    is bit-identical across engines (driver-hash-checkable; the
    general iterative formulation would not be).

    Window shapes: the per-domain token count is the one corpus-scale
    aggregation; everything after runs on the domain DIMENSION (one
    row per language — hundreds at 100 TB), so the empty-partition
    global windows below are a few-hundred-row single task by design.

    Returns per domain: n_docs, n_tokens, cap_tokens, capped,
    alloc_tokens (double), weight = alloc/budget, epochs =
    alloc/n_tokens."""
    if max_epochs <= 0 or budget_tokens < 0:
        raise ValueError("max_epochs must be >= 1 and budget_tokens >= 0")
    per = (
        df.groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(token_count(F.col(text_col))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn("cap_tokens", F.col("n_tokens") * F.lit(int(max_epochs)))
    )
    w = Window.orderBy("cap_tokens", domain_col)
    all_w = Window.partitionBy()
    b = F.lit(int(budget_tokens))
    ranked = (
        per.withColumn("__i", F.row_number().over(w))
        .withColumn(
            "__s",
            F.sum("cap_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("__n", F.count(F.lit(1)).over(all_w))
        .withColumn(
            "capped",
            F.col("cap_tokens") * (F.col("__n") - F.col("__i") + 1)
            + (F.col("__s") - F.col("cap_tokens"))
            < b,
        )
    )
    ranked = ranked.withColumn(
        "__k", F.sum(F.col("capped").cast("long")).over(all_w)
    ).withColumn(
        "__sk",
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap_tokens"))).over(all_w),
            F.lit(0).cast("long"),
        ),
    )
    level = F.when(F.col("__n") == F.col("__k"), F.lit(0.0)).otherwise(
        (b - F.col("__sk")).cast("double") / (F.col("__n") - F.col("__k"))
    )
    alloc = F.when(
        F.col("capped"), F.col("cap_tokens").cast("double")
    ).otherwise(level)
    return ranked.select(
        domain_col,
        "n_docs",
        "n_tokens",
        "cap_tokens",
        "capped",
        alloc.alias("alloc_tokens"),
        (alloc / F.lit(float(budget_tokens))).alias("weight")
        if budget_tokens > 0
        else F.lit(0.0).alias("weight"),
        F.when(F.col("n_tokens") > 0, alloc / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("epochs"),
    )


def repetition_ratio(col: Column, n: int = 2) -> Column:
    """Gopher-style duplicate n-gram ratio: 1 − distinct/total word
    n-grams (0 = no repetition).  Hashed n-grams (codegen xxhash64, the
    shared shingle kernel) — exact modulo 64-bit collisions."""
    grams = shingle_hash_array(col, n)
    return F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams)
    )


def repetition_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document repetition quality signal: (doc_id, n_grams,
    rep_ratio).  The gram array is staged once and every size/distinct
    below reads the column — the inline form evaluated the shingle
    expression 4× per row (and each evaluation re-hashed the words
    ~2n+1×; see dedup.with_shingle_hashes)."""
    from graphdb_for_drones_spark.operators.dedup import with_shingle_hashes

    staged = with_shingle_hashes(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        n,
        out_col="__g",
        keep=("doc_id",),
    )
    g = F.col("__g")
    ratio = F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g)
    )
    return staged.select(
        "doc_id",
        F.size(g).cast("long").alias("n_grams"),
        ratio.alias("rep_ratio"),
    )


def pack_sequences_greedy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    group_cols: tuple[str, ...] = ("lang",),
    shard_size: int = 1_000,
    num_shards: int | None = None,
) -> DataFrame:
    """First-fit-decreasing sequence packing (the bin-packing heuristic a
    production packer actually runs), per (group, shard) stream.

    Unlike ``pack_sequences``'s token-offset binning — a pure window
    cumsum, SQL-expressible, but it lets a document straddle pack
    boundaries — FFD never splits a document: within each shard,
    documents are taken longest-first (doc_id tiebreak) and placed into
    the first open pack with room; a document longer than ``budget``
    gets a pack of its own.  Inherently sequential per shard, so it runs
    as ``applyInPandas`` over the same bounded (group, shard) partitions
    the window variant uses — state is one open-pack list of ≤ shard
    docs, never corpus-sized.  Deterministic for a given shard content;
    rows-only (no SQL twin — the per-pack state machine is exactly what
    ANSI SQL cannot express; invariants are pinned in tests instead).

    Returns (group_cols…, shard, pack_id, doc_id, n_tokens).
    """
    toks = df.select(
        *group_cols,
        F.col(id_col).alias("doc_id"),
        _shard_col(df, id_col, shard_size, num_shards).alias("shard"),
        # a NULL text packs as a 0-token document: unguarded, the NULL
        # poisons the window cumsum (silent NULL pack_ids) or crashes
        # the FFD int() conversion on the pandas NaN
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).alias("n_tokens"),
    )
    key_cols = [*group_cols, "shard"]
    dtypes = dict(toks.dtypes)
    out_fields = ", ".join(
        f"`{c}` {t}"
        for c, t in zip(
            [*key_cols, "pack_id", "doc_id", "n_tokens"],
            [
                *[dtypes[c] for c in key_cols],
                "long",
                # doc_id/n_tokens pass through the pandas frame unchanged:
                # derive their types (a string id_col must stay string)
                dtypes["doc_id"],
                dtypes["n_tokens"],
            ],
        )
    )

    def ffd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        opens: list[int] = []  # remaining capacity per pack
        assign: list[int] = []
        for t in pdf["n_tokens"]:
            t = int(t)
            for i, cap in enumerate(opens):
                if t <= cap:
                    opens[i] = cap - t
                    assign.append(i)
                    break
            else:
                opens.append(max(0, budget - t))
                assign.append(len(opens) - 1)
        out = pdf[[*key_cols, "doc_id", "n_tokens"]].copy()
        out.insert(len(key_cols), "pack_id", pd.Series(assign, dtype="int64"))
        return out

    return toks.groupBy(*key_cols).applyInPandas(ffd, schema=out_fields)


def duplicated_span_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document cross-document duplicated-span fraction: the share of
    a document's distinct word ``shingle_n``-grams that also occur in at
    least ``min_df - 1`` OTHER documents — the corpus-level duplicated-
    text signal (the n-gram approximation of suffix-array span dedup)
    that per-document repetition scoring cannot see.

    Plan shape at 100 TB: the posting list explodes (doc_id, hash) only
    — 16-byte rows; the per-shingle document frequency is an unbounded
    COUNT window over the hash, so the corpus is scanned and shingled
    exactly ONCE (a groupBy-df + join-back formulation re-scans it: the
    df branch's column pruning specializes its copy of the exchange and
    defeats ReuseExchange).  The window routes each shingle's rows to
    one reducer — the same placement the co-partitioned join would need
    — and Spark's window buffer is spill-backed, so a boilerplate
    shingle with a huge df degrades to a slow task, not an OOM; the
    16-byte rows keep even a df-in-the-millions partition ~tens of MB.

    Returns (doc_id, n_shingles, n_dup_shingles, dup_ratio) with
    ``dup_ratio`` an exact integer division (engine-stable).
    """
    posting = shingle_index(df, "doc_id", text_col, id_col, shingle_n)
    w = Window.partitionBy("h")
    per = (
        posting.withColumn("df", F.count(F.lit(1)).over(w))
        .groupBy("doc_id", "n_doc_id")
        .agg(
            F.sum(
                F.when(F.col("df") >= min_df, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup")
        )
    )
    return per.select(
        "doc_id",
        F.col("n_doc_id").cast("long").alias("n_shingles"),
        F.col("n_dup").cast("long").alias("n_dup_shingles"),
        F.when(F.col("n_doc_id") <= 0, F.lit(0.0))
        .otherwise(F.col("n_dup") / F.col("n_doc_id"))
        .alias("dup_ratio"),
    )


def top_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document TOP-N-GRAM CHARACTER FRACTION — the Gopher repetition
    signal (Rae et al. 2021 §A1.1) the duplicate-bigram ratio cannot see:
    the share of a document's characters covered by its single most
    covering word ``n``-gram, ``max over grams of (count × gram chars) /
    doc chars``.  A doc that is one phrase stamped 50 times scores ≈ 1
    here while its *distinct*-gram ratio can stay moderate.

    Determinism: coverage is MAX(count·len) — a pure integer — so ties
    between different grams are irrelevant (equal products), and the
    fraction is one IEEE division of exact integers.  Gram identity is
    the xxhash64 word-hash fold (``_shingle_hashes_from``); a SQL twin
    groups gram *strings* — equal modulo 64-bit collisions, the
    standing ngram contract.  Doc chars = normalized text length
    (Σ word chars + single spaces).

    Plan shape at 100 TB: words / word-hashes / word-lengths staged once
    behind projection boundaries (lambda-CSE rule), the explode carries
    only (doc_id, n_chars, hash, len) — 28-byte rows — and both groupBys
    share the doc_id-leading key, so the second is a partial-agg
    collapse on the same placement.  No joins, no windows.

    Returns (doc_id, n_chars, top_cover, top_ngram_frac).
    """
    from graphdb_for_drones_spark.operators.dedup import (
        _shingle_hashes_from,
        _spread_input,
        normalize_text,
    )

    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )
    staged = (
        _spread_input(df, id_col, text_col)  # r12: spread per-doc CPU
        .select(F.col(id_col).alias("doc_id"), words.alias("__w"))
        .select(
            "doc_id",
            "__w",
            F.transform(F.col("__w"), lambda t: F.xxhash64(t)).alias("__wh"),
            F.transform(F.col("__w"), lambda t: F.length(t)).alias("__wl"),
        )
    )
    wl = F.col("__wl")
    n_words = F.size(wl)
    n_chars = F.when(n_words <= 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(wl, F.lit(0).cast("long"), lambda a, x: a + x)
        + n_words
        - 1
    )
    # gram char lengths via the same shifted-slice zip fold as the hash
    # windows: m slices of the word-length array summed element-wise,
    # plus the n-1 joining spaces
    m = n_words - n + 1

    def win(j):
        return F.slice(wl, j + 1, m)

    acc = win(n - 1)
    for j in range(n - 2, -1, -1):
        acc = F.zip_with(win(j), acc, lambda a, b: a + b)
    glens = F.when(n_words < n, F.array(n_chars)).otherwise(
        F.transform(acc, lambda x: (x + n - 1).cast("long"))
    )
    grams = _shingle_hashes_from(F.col("__w"), F.col("__wh"), n)
    ex = (
        staged.select(
            "doc_id",
            n_chars.alias("n_chars"),
            grams.alias("__g"),
            glens.alias("__gl"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.explode(F.arrays_zip("__g", "__gl")).alias("z"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.col("z.__g").alias("h"),
            F.col("z.__gl").alias("glen"),
        )
    )
    per_gram = ex.groupBy("doc_id", "n_chars", "h", "glen").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = per_gram.groupBy("doc_id", "n_chars").agg(
        F.max(F.col("cnt") * F.col("glen")).cast("long").alias("top_cover")
    )
    return top.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        "top_cover",
        F.when(F.col("n_chars") <= 0, F.lit(0.0))
        .otherwise(F.col("top_cover") / F.col("n_chars"))
        .alias("top_ngram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
    keep_text: bool = False,
) -> DataFrame:
    """Deterministic fixed-size TOKEN CHUNKING with overlap — the
    context-window shaping step between curation and sharding (and the
    passage splitter of a retrieval corpus): chunk ``i`` covers tokens
    ``[i·stride, i·stride + chunk_tokens)`` of the whitespace token
    stream; ``stride < chunk_tokens`` gives overlapping windows, the
    last chunk is short, zero-token documents produce zero chunks.

    Pure projection + explode — one scan, no shuffle; chunk identity is
    a pure function of (doc, offsets), so reruns/repartitions produce
    identical chunks.  By default the chunk TEXT is not materialized
    (at 100 TB the chunk table is written partitioned and text is
    reconstructed or carried only into the writer); ``keep_text=True``
    adds it.  ``chunk_md5`` fingerprints the exact chunk string either
    way, which is what the SQL twin hash-checks.

    Returns (doc_id, chunk_idx, start_tok, n_tok_chunk, chunk_md5
    [, chunk_text]).
    """
    from graphdb_for_drones_spark.operators.dedup import normalize_text

    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )
    staged = df.select(F.col(id_col).alias("doc_id"), words.alias("__w"))
    n = F.size(F.col("__w"))
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1, F.lit(stride))
    )
    ex = staged.select(
        "doc_id", "__w", F.explode(starts).alias("start_tok")
    )
    chunk = F.slice(F.col("__w"), F.col("start_tok") + 1, chunk_tokens)
    txt = F.concat_ws(" ", chunk)
    cols = [
        F.col("doc_id"),
        F.expr(f"start_tok div {stride}").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long"),
        F.size(chunk).cast("long").alias("n_tok_chunk"),
        F.md5(txt).alias("chunk_md5"),
    ]
    if keep_text:
        cols.append(txt.alias("chunk_text"))
    return ex.select(*cols)


def write_training_shards(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("split", "lang"),
    max_records_per_file: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """The LAST pipeline step: write the curated corpus as training
    shards — Hive-partitioned by (split, lang) so a trainer's
    ``split='train' AND lang='en'`` read is pure directory pruning, and
    capped at ``max_records_per_file`` rows so shard files stay
    loader-sized regardless of partition skew (Spark splits an
    oversized task output into numbered files; no extra shuffle).

    Determinism note: which *rows* land in which numbered file within a
    partition depends on task scheduling — consumers must treat a
    partition directory as an unordered bag (every catalogued split
    is row-stable; file layout is not part of the contract).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"mode must be 'overwrite' or 'append', got {mode!r}"
        )
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", int(max_records_per_file))
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    from graphdb_for_drones_spark.catalog import invalidate_path

    invalidate_path(path)


def gopher_rule_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_frac: float = 0.05,
    max_rep_ratio: float = 0.2,
) -> DataFrame:
    """Per-document Gopher-style quality-rule flags (Rae et al. 2021,
    §A1.1 "quality filtering" heuristics, re-parameterized): word count
    in range, mean word length in range, stopword fraction floor, and a
    duplicate-bigram repetition ceiling.  Each flag is an exact integer
    comparison or an exact integer-division comparison, so any engine
    reproduces them bit-for-bit.

    Pure codegen: the token array, word-hash array, and bigram-hash
    array are each staged once behind projection boundaries (the
    lambda-CSE rule — see with_shingle_hashes) and every rule reads the
    staged columns."""
    from graphdb_for_drones_spark.operators.dedup import (
        _shingle_hashes_from,
        _spread_input,
        normalize_text,
    )
    from graphdb_for_drones_spark.operators.text import (
        STOPWORDS,
        stopword_ratio_from_tokens,
    )

    # normalize_text words ≡ tokens(lower(text)) (collapse-\s+-then-split
    # vs split-on-\s+), so one staged array serves both the word rules
    # and the repetition bigrams
    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )
    staged = (
        _spread_input(df, id_col, text_col)  # r12: spread per-doc CPU
        .select(F.col(id_col).alias("doc_id"), words.alias("__w"))
        .select(
            "doc_id",
            "__w",
            F.transform(F.col("__w"), lambda t: F.xxhash64(t)).alias("__wh"),
        )
        .select(
            "doc_id",
            "__w",
            _shingle_hashes_from(F.col("__w"), F.col("__wh"), 2).alias("__g"),
        )
    )
    w = F.col("__w")
    g = F.col("__g")
    n_words = F.size(w)
    # empty-doc guards: ANSI mode (Spark 4 default) makes x/0 a job
    # failure, and one empty document must not kill a 100 TB run —
    # empty docs score 0.0 and fail the range rules
    mean_len = F.when(n_words <= 0, F.lit(0.0)).otherwise(
        F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        / n_words
    )
    sw_frac = F.when(n_words <= 0, F.lit(0.0)).otherwise(
        stopword_ratio_from_tokens(w, STOPWORDS)
    )
    rep = F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g)
    )
    return staged.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        (n_words >= min_words) & (n_words <= max_words),
        (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len),
        sw_frac >= min_stopword_frac,
        rep <= max_rep_ratio,
    ).toDF(
        "doc_id", "n_words", "pass_word_count", "pass_word_len",
        "pass_stopword", "pass_repetition",
    )


def gopher_rule_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    **rule_kwargs,
) -> DataFrame:
    """Per-group Gopher-rule funnel: docs passing each rule and all
    rules — the pass-rate table a curation run reviews before committing
    a filter config.  Integer counts only (hash-stable everywhere)."""
    flags = gopher_rule_flags(df, text_col, id_col, **rule_kwargs)
    keyed = df.select(
        F.col(id_col).alias("doc_id"), F.col(group_col)
    ).join(flags, "doc_id")
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias(c.replace("pass_", "n_pass_"))  # noqa: E731
    return keyed.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt("pass_word_count"),
        cnt("pass_word_len"),
        cnt("pass_stopword"),
        cnt("pass_repetition"),
        F.sum(
            (
                F.col("pass_word_count")
                & F.col("pass_word_len")
                & F.col("pass_stopword")
                & F.col("pass_repetition")
            ).cast("long")
        ).alias("n_pass_all"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by a rank-preserving
    tf-idf score.  The idf factor is the RAW inverse document frequency
    ``N / df`` (no logarithm): monotone in the usual ``ln(N/df)``, so
    ranks are identical, but every arithmetic step is a single IEEE
    operation on exact integers — bit-identical across engines, where
    ``ln`` is libm-dependent.  Ties break by term (ascending).

    Scale shape: explode → (doc, term) tf groupBy (map-side combine on
    short keys), term df groupBy, broadcast-joined corpus size; the
    per-document top-k is a bounded rank window partitioned by doc.
    """
    from graphdb_for_drones_spark.operators.text import tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # term df as a COUNT window over the tf rows, not groupBy+join-back
    # (which re-derives tf — a second corpus scan + explode + groupBy);
    # n_corpus stays a separate one-row aggregate: it counts ALL
    # documents (including token-less ones tf cannot see) off a
    # column-pruned id-only scan
    docf = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_corpus")
    )
    scored = (
        tf.withColumn("df", docf)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.col("n_corpus") / F.col("df")).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


def bm25_topk(
    df: DataFrame,
    query_terms,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 query retrieval: the top-``k`` documents for a bag of query
    terms under Okapi BM25 (Robertson & Zaragoza 2009) —
    idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) summed over matched
    terms, idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Determinism: per-term weights are rounded to 9 dp and summed as
    DECIMAL(28,10) (order-independent — the repo's float-aggregate
    convention), the document score is rounded to 6 dp, and the top-k
    order is (score DESC, doc_id ASC); the only libm call (``ln``) sits
    before the 9-dp rounding, which absorbs sub-ulp engine differences.

    Scale shape: ONE corpus scan carries per-doc length through the
    explode, the ``term IN (...)`` filter prunes the exploded stream to
    query terms before any shuffle (a handful of keys), term df is a
    COUNT window over the tf rows (no join-back), and the one-row
    (N, Σdl) corpus aggregate binds via crossJoin(broadcast) — the
    constant-cost scalar-bind idiom (plan-shape whitelisted).  Top-k is
    a TakeOrdered, never a full sort.
    """
    from graphdb_for_drones_spark.operators.text import tokens

    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("bm25_topk: empty query_terms")
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__w"),
    )
    matched = staged.select(
        "doc_id",
        F.size("__w").cast("long").alias("dl"),
        F.explode("__w").alias("term"),
    ).filter(F.col("term").isin(*terms))
    tf = matched.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.first("dl").alias("dl"),
    )
    docf = F.count(F.lit(1)).over(Window.partitionBy("term"))
    stats = staged.select(F.size("__w").cast("long").alias("dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.sum("dl").alias("total_dl"),
    )
    avgdl = F.col("total_dl") * F.lit(1.0) / F.col("n_corpus")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_corpus") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    wgt = idf * (
        (F.col("tf") * F.lit(float(k1) + 1.0))
        / (
            F.col("tf")
            + F.lit(float(k1))
            * (F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("dl") / avgdl)
        )
    )
    per_doc = (
        tf.withColumn("df", docf)
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum(F.round(wgt, 9).cast("decimal(28,10)")).alias("__s"),
        )
    )
    score = F.round(F.col("__s").cast("double"), 6)
    return (
        per_doc.select("doc_id", "n_terms_matched", score.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-bigram-LM fluency score per document (the CCNet /
    perplexity-filter shape, Wenzek et al. 2020, with the corpus itself
    as the LM): estimate P(w2|w1) = c(w1 w2) / Σₓ c(w1 x) from corpus
    bigram counts, and score each document by the MEAN conditional
    probability over its bigram occurrences — low-fluency (rare-
    transition) documents score near 0, formulaic ones near 1.

    Arithmetic-mean-of-rationals instead of log-perplexity: every P is
    ONE IEEE division of exact integers (engine-identical, no libm),
    summed as 9-dp DECIMAL(28,10) (order-independent), divided by the
    bigram count, rounded to 6 dp — fully driver-hash-checkable.

    Scale shape: bigrams stream through xxhash64 keys (the string-free
    discipline; the SQL twin counts bigram STRINGS — equal modulo
    64-bit collisions, the ngram_jaccard contract).  Corpus counts are
    COUNT windows over the occurrence stream on (bigram) and (prefix)
    keys — two shuffles, no join-back, hot keys spill through the
    count-only window reducer (the dup_span precedent).  Zero-bigram
    docs surface with n_bigrams=0, fluency=0.0 via the left join
    (ANSI-safe: no division ever sees them).
    """
    from graphdb_for_drones_spark.operators.dedup import _spread_input
    from graphdb_for_drones_spark.operators.text import tokens

    # r12 (guide §2): tokenize+hash across the cluster's parallelism —
    # a single-split source serialized the bigram build onto one core
    staged = _spread_input(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__w"),
    )
    w = F.col("__w")
    # slice length greatest(n-1, 0) makes 0/1-token docs yield [] (ANSI-
    # safe: slice never sees a negative length) without a typed empty-
    # array branch
    shift = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(w, 1, shift),
        F.slice(w, 2, shift),
        lambda a, c: F.struct(
            F.xxhash64(a).alias("h1"), F.xxhash64(a, c).alias("h12")
        ),
    )
    ex = staged.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.h1", "p.h12"
    )
    c2 = F.count(F.lit(1)).over(Window.partitionBy("h12"))
    c1 = F.count(F.lit(1)).over(Window.partitionBy("h1"))
    prob = F.col("c2") * F.lit(1.0) / F.col("c1")
    per = (
        ex.withColumn("c2", c2)
        .withColumn("c1", c1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.round(prob, 9).cast("decimal(28,10)")).alias("__s"),
        )
    )
    fluency = F.round(
        F.col("__s").cast("double") / F.col("n_bigrams"), 6
    )
    return staged.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
            "n_bigrams"
        ),
        F.coalesce(fluency, F.lit(0.0)).alias("fluency"),
    )


def deterministic_sample(
    df: DataFrame,
    prob_col: Column,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Quality-weighted (importance) subsampling as a pure projection:
    keep a row iff ``u(key) < prob`` where ``u`` is the md5-60-bit
    uniform of "{key}:{seed}" scaled to [0, 1).

    Properties a corpus pipeline needs and rejection-by-rand() lacks:
    deterministic (rerun/repartition/engine-stable — the same doc is
    kept everywhere), shuffle-free, and exactly reproducible by any
    engine that can md5 (the split/sampling family's shared trick).
    ``prob_col`` is any Column in [0, 1] — e.g. a quality score — so
    expected kept-token share per domain is Σ p·tokens, the knob
    importance resampling turns."""
    from graphdb_for_drones_spark.operators.split import _md5_60bit

    u = _md5_60bit(
        F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))
    ) / F.lit(float(1 << 60))
    return df.filter(u < prob_col)


def equal_frequency_bins(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Equal-frequency binning (curriculum deciles): assign each row to
    bin ``rank * k // N`` under the total order (value, id) — the
    difficulty-bucketing step a curriculum-ordered training pipeline
    runs on a per-document score (token count, quality, loss proxy).

    NO single-partition global window: the rank is ``split.offset_rank``
    keyed on the VALUE itself — per-value counts (one row per distinct
    value) come to the driver, become cumulative offsets, and the
    residual window partitions by value and orders by id, so every
    window group is one value's rows.
    This is exact for bounded integer-ish score domains (token counts,
    rubric scores); for unbounded/continuous keys, pre-discretize or use
    sampled range cutpoints.  The bin formula ``floor(rank·k/N)`` is
    integer arithmetic — bit-identical on any engine — which is why the
    catalog entry defines bins this way instead of engine NTILE (whose
    long-bucket placement differs from the floor formula when k ∤ N).

    Returns one row per NON-NULL-valued row of ``df``: (id, value,
    bin int).  Null scores are EXCLUDED, not ranked — a null difficulty
    is unknowable rather than easiest/hardest, and engines disagree on
    null placement in ORDER BY (Spark NULLS FIRST vs DuckDB NULLS
    LAST), so ranking them would make the bins engine-dependent.
    """
    vals = df.select(
        F.col(id_col).alias("__id"), F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    ranked, total = offset_rank(vals, "__v", "__id")
    # DIV (not /): double division truncated to int can land one off the
    # integer-arithmetic floor the oracle computes; DIV is exact.  An
    # empty input bins no rows: max(total, 1) only keeps the divisor
    # literal nonzero
    return ranked.select(
        F.col("__id").alias(id_col),
        F.col("__v").alias(value_col),
        F.expr(
            f"CAST((CAST(__rank AS BIGINT) * {int(k)}) DIV {max(total, 1)} AS INT)"
        ).alias("bin"),
    )
