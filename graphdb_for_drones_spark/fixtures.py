"""Reference-shaped fixture generators (FIXTURES.md §A) with closed-form
expected traversal counts.  Id formats copy the reference exactly
(01_multi_layer/setup_scenario_a.py:86-122) so counts are reproducible:
R{i:03d}, U{i:04d}, S{i:05d}, D{squad:05d}_{j:02d}, M{i:06d}.

Generators build plain Python rows (deterministic, seed-free round-robin
like the reference) and return them as local frames (``local_rows``:
one Arrow ``LocalRelation``, re-read without a pin or a Python worker).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from graphdb_for_drones_spark.functions.crypto import (
    HAVE_CRYPTOGRAPHY,
    canonical_json_bytes,
    make_keypair,
)
from graphdb_for_drones_spark.local_frame import local_rows
from graphdb_for_drones_spark.operators._pin import pin


@dataclass
class Hierarchy:
    """A1 delegation tree: 1 HQ → R Regional → U Unit → S Squad → S×D Drone,
    round-robin parents (units[idx % R] etc.,
    reference 01_multi_layer/setup_scenario_a.py:86-122)."""

    hq: DataFrame
    delegation_relation: DataFrame
    mission_test: DataFrame
    counts: dict


def delegation_hierarchy(
    spark: SparkSession,
    num_regional: int = 10,
    num_unit: int = 20,
    num_squad: int = 50,
    drones_per_squad: int = 5,
    missions_per_drone: int = 1,
) -> Hierarchy:
    regionals = [f"R{i:03d}" for i in range(num_regional)]
    units = [f"U{i:04d}" for i in range(num_unit)]
    squads = [f"S{i:05d}" for i in range(num_squad)]
    edges = [("HQ1", r, "Regional") for r in regionals]
    edges += [(regionals[i % num_regional], u, "Unit") for i, u in enumerate(units)]
    edges += [(units[i % num_unit], s, "Squad") for i, s in enumerate(squads)]
    drones = []
    for i, s in enumerate(squads):
        for j in range(drones_per_squad):
            d = f"D{i:05d}_{j:02d}"
            drones.append(d)
            edges.append((s, d, "Drone"))
    missions = [
        (f"M{k:06d}", d, "CMD1", f"Payload for mission M{k:06d}")
        for k, d in enumerate(
            d for d in drones for _ in range(missions_per_drone)
        )
    ]
    return Hierarchy(
        hq=local_rows(spark, [("HQ1",)], "id string"),
        delegation_relation=local_rows(
            spark, edges, "parent_id string, child_id string, child_type string"
        ),
        mission_test=local_rows(
            spark,
            missions,
            "mission_id string, drone_id string, cid string, payload string",
        ),
        counts={
            "regional": num_regional,
            "unit": num_unit,
            "squad": num_squad,
            "drone": num_squad * drones_per_squad,
            "reachable_depth": lambda d: sum(
                n
                for lvl, n in enumerate(
                    [
                        num_regional,
                        num_unit,
                        num_squad,
                        num_squad * drones_per_squad,
                    ],
                    start=1,
                )
                if lvl <= d
            ),
        },
    )


def flat_delegation(spark: SparkSession, n: int = 1000, hq_id: str = "HQ1") -> DataFrame:
    """A3 star: delegation(drone_id, hq_id) all pointing at one HQ
    (02_topology_dynamic/setup_scenario_a.py:51-56).  The textbook skew
    key: one hq value over every row."""
    return local_rows(
        spark,
        [(i, hq_id) for i in range(n)],
        "drone_id long, hq_id string",
    )


def chain_delegation(spark: SparkSession, n: int = 50) -> DataFrame:
    """A3 chain variant: rows (i+1 → i) so level-k frontiers stay
    non-empty — guards the §7.4-1 'accidentally right' pitfall."""
    return local_rows(
        spark,
        [(i, str(i + 1)) for i in range(n)],
        "drone_id long, hq_id string",
    )


def web_trust_chain(spark: SparkSession, n: int = 30, anchor: str = "did:example:anchor") -> DataFrame:
    """A4 linear chain e0→e1→…→e(n-1)→anchor
    (04_web_of_trust/setup_scenario_a.py:74-91)."""
    dids = [f"did:example:e{i}" for i in range(n)] + [anchor]
    rows = [(dids[i], dids[i + 1]) for i in range(n)]
    return local_rows(spark, rows, "from_did string, to_did string")


# --------------------------------------------------------------------- #
# Engine-side twins of the protocol fixtures.  Row-identical to the
# driver-built versions above (asserted by tests/test_fixtures_dist.py)
# but generated with spark.range — no driver materialization, so the
# scale-up sweep can build 10^6-node graphs the same way a cluster
# would.  ``partitions`` sizes the layout: 1 for dimension-sized tables,
# more for graphs the distributed kernel should scan in parallel.
# --------------------------------------------------------------------- #


def _parts_for(n: int) -> int:
    return 1 if n <= 10_000 else 32


def flat_delegation_dist(
    spark: SparkSession, n: int, hq_id: str = "HQ1", partitions: int | None = None
) -> DataFrame:
    """A3 star, engine-side: every drone points at one HQ."""
    p = partitions or _parts_for(n)
    return pin(
        spark.range(0, n, 1, p).selectExpr("id AS drone_id", f"'{hq_id}' AS hq_id")
    )


def web_trust_chain_dist(
    spark: SparkSession,
    n: int,
    anchor: str = "did:example:anchor",
    partitions: int | None = None,
) -> DataFrame:
    """A4 linear chain e0→e1→…→e(n-1)→anchor, engine-side."""
    p = partitions or _parts_for(n)
    return pin(
        spark.range(0, n, 1, p).selectExpr(
            "concat('did:example:e', id) AS from_did",
            f"CASE WHEN id < {n - 1} THEN concat('did:example:e', id + 1) "
            f"ELSE '{anchor}' END AS to_did",
        )
    )


def delegation_hierarchy_edges_dist(
    spark: SparkSession,
    num_regional: int,
    num_unit: int,
    num_squad: int,
    drones_per_squad: int,
    partitions: int | None = None,
) -> DataFrame:
    """The ``delegation_relation`` edge table of ``delegation_hierarchy``,
    engine-side (same round-robin parents, same id formats)."""
    n_drone = num_squad * drones_per_squad
    p = partitions or _parts_for(num_regional + num_unit + num_squad + n_drone)
    reg = spark.range(num_regional).selectExpr(
        "'HQ1' AS parent_id",
        "format_string('R%03d', id) AS child_id",
        "'Regional' AS child_type",
    )
    unit = spark.range(num_unit).selectExpr(
        f"format_string('R%03d', pmod(id, {num_regional})) AS parent_id",
        "format_string('U%04d', id) AS child_id",
        "'Unit' AS child_type",
    )
    squad = spark.range(num_squad).selectExpr(
        f"format_string('U%04d', pmod(id, {num_unit})) AS parent_id",
        "format_string('S%05d', id) AS child_id",
        "'Squad' AS child_type",
    )
    drone = spark.range(0, n_drone, 1, p).selectExpr(
        f"format_string('S%05d', id DIV {drones_per_squad}) AS parent_id",
        f"format_string('D%05d_%02d', id DIV {drones_per_squad}, "
        f"pmod(id, {drones_per_squad})) AS child_id",
        "'Drone' AS child_type",
    )
    return pin(
        reg.unionByName(unit).unionByName(squad).unionByName(drone).repartition(p)
    )


@dataclass
class Abac:
    user: DataFrame
    group: DataFrame
    resource: DataFrame
    member: DataFrame
    subgroup: DataFrame
    permission: DataFrame


def abac_tables(
    spark: SparkSession, num_users: int = 100, num_groups: int | None = None
) -> Abac:
    """A5 six-table ABAC schema (04_web_of_trust/setup_scenario_a.py:94-121):
    users round-robin into groups, linear subgroup chain, top group holds
    every permission.  ``num_groups`` defaults to users/10 (the reference
    ratio); pass it explicitly to pin the subgroup-chain length for
    depth sweeps."""
    if num_groups is None:
        num_groups = max(num_users // 10, 2)
    users = [f"did:example:u{i}" for i in range(num_users)]
    groups = [f"g{i}" for i in range(num_groups)]
    resources = [f"res{i}" for i in range(num_groups)]
    return Abac(
        user=local_rows(spark, [(u,) for u in users], "did string"),
        group=local_rows(spark, [(g,) for g in groups], "id string"),
        resource=local_rows(spark, [(r,) for r in resources], "id string"),
        member=local_rows(
            spark,
            [(u, groups[i % num_groups]) for i, u in enumerate(users)],
            "user_did string, group_id string",
        ),
        subgroup=local_rows(
            spark,
            [(groups[i], groups[i + 1]) for i in range(num_groups - 1)],
            "from_id string, to_id string",
        ),
        permission=local_rows(
            spark,
            [(groups[-1], r) for r in resources],
            "group_id string, resource_id string",
        ),
    )


def abac_tables_dist(
    spark: SparkSession,
    num_users: int,
    num_groups: int | None = None,
    partitions: int | None = None,
) -> Abac:
    """Engine-side twin of ``abac_tables`` — row-identical, spark.range
    generated, so the user/member tables scale without a driver loop."""
    if num_groups is None:
        num_groups = max(num_users // 10, 2)
    p = partitions or _parts_for(num_users)
    top = f"g{num_groups - 1}"
    users = spark.range(0, num_users, 1, p).selectExpr(
        "concat('did:example:u', id) AS did"
    )
    return Abac(
        user=pin(users),
        group=pin(spark.range(num_groups).selectExpr("concat('g', id) AS id")),
        resource=pin(spark.range(num_groups).selectExpr("concat('res', id) AS id")),
        member=pin(
            spark.range(0, num_users, 1, p).selectExpr(
                "concat('did:example:u', id) AS user_did",
                f"concat('g', pmod(id, {num_groups})) AS group_id",
            )
        ),
        subgroup=pin(
            spark.range(max(num_groups - 1, 0)).selectExpr(
                "concat('g', id) AS from_id", "concat('g', id + 1) AS to_id"
            )
        ),
        permission=pin(
            spark.range(num_groups).selectExpr(
                f"'{top}' AS group_id", "concat('res', id) AS resource_id"
            )
        ),
    )


# --------------------------------------------------------------------- #
# A2: DID/VC tables with real Ed25519 signatures
# --------------------------------------------------------------------- #


def make_vc(issuer_did: str, subject_did: str, mission_id: str, drone_id: str, sk) -> dict:
    """W3C VC skeleton exactly as common/did_utils.py:30-52: sign the
    canonical (sort_keys) serialization of the proof-less document, then
    attach the proof with the hex signature."""
    vc = {
        "@context": ["https://www.w3.org/2018/credentials/v1"],
        "type": ["VerifiableCredential", "MissionCredential"],
        "issuer": issuer_did,
        "issuanceDate": "2024-01-01T00:00:00Z",
        "credentialSubject": {
            "id": subject_did,
            "mission_id": mission_id,
            "drone_id": drone_id,
        },
    }
    sig = sk.sign(canonical_json_bytes(vc))
    vc["proof"] = {
        "type": "Ed25519Signature2020",
        "verificationMethod": f"{issuer_did}#key-1",
        "signatureValue": sig.hex(),
    }
    return vc


@dataclass
class VcTables:
    did_issuer: DataFrame
    did_subject: DataFrame
    vc_test: DataFrame
    issuer_pubkey: bytes


def vc_tables(spark: SparkSession, num_subjects: int = 50) -> VcTables:
    """A2: one issuer (HQ), one VC per drone subject
    (01_multi_layer/setup_scenario_b.py:52-164)."""
    if not HAVE_CRYPTOGRAPHY:  # pragma: no cover
        raise NotImplementedError("cryptography unavailable")
    sk, pk = make_keypair()
    issuer = "did:example:HQ1"
    subjects = [f"did:example:d{i:05d}" for i in range(num_subjects)]
    vcs = [
        (
            f"vc{i:06d}",
            issuer,
            s,
            json.dumps(
                make_vc(issuer, s, f"M{i:06d}", f"D{i:05d}", sk)
            ),
        )
        for i, s in enumerate(subjects)
    ]
    return VcTables(
        did_issuer=local_rows(
            spark,
            [(issuer, json.dumps({"publicKeyHex": pk.hex()}))],
            "did string, public_key string",
        ),
        did_subject=local_rows(
            spark,
            [(s, "{}") for s in subjects],
            "did string, public_key string",
        ),
        vc_test=local_rows(
            spark,
            vcs,
            "vc_id string, issuer_did string, subject_did string, vc_json string",
        ),
        issuer_pubkey=pk,
    )


def skewed_corpus_dist(
    spark: SparkSession,
    n_docs: int,
    boilerplate_words: int = 8,
    unique_words: int = 40,
    partitions: int | None = None,
) -> DataFrame:
    """Power-law shingle-df corpus for the PPJoin prefix-filter crossover.

    Every document opens with the SAME ``boilerplate_words``-word template
    (think license headers / scraped-page chrome), so its 3-gram shingles
    have document frequency ``n_docs`` — the d² candidate-blowup worst
    case for a plain inverted-index join.  The remainder is
    ``unique_words`` words private to the document, except that odd docs
    reuse their predecessor's tail (a planted near-dup pair at jaccard
    ≈ 0.88).  Shingle df is therefore two-point power-law:
    ``boilerplate_words - 2`` shingles at df=n and the rest at df≤2 — the
    skew regime where indexing only each doc's rarest prefix shingles
    (PPJoin) must beat enumerating C(n,2) pairs per hot shingle.

    Defaults size the boilerplate so an UNRELATED pair's jaccard
    (≈ (b−2) / (2·(b+u−2) − (b−2)) ≈ 0.068) stays below the 0.1 working
    threshold: the result set is the ~n_docs/2 planted pairs at every
    threshold, while the candidate space the counting plan enumerates is
    still Θ(n²) per hot shingle — output size and candidate blowup are
    deliberately decoupled.

    Built engine-side (``spark.range`` + string exprs, no driver rows);
    schema matches the ``documents`` table (doc_id, text).
    """
    p = partitions or _parts_for(n_docs)
    boiler = " ".join(f"tmpl{i}" for i in range(boilerplate_words))
    # odd doc 2k+1 copies doc 2k's unique words except the last one →
    # shared shingles ≫ threshold while staying distinct documents.
    uniq = ", ".join(
        f"concat('u', base, 'w{j}')" for j in range(unique_words - 1)
    )
    return (
        spark.range(0, n_docs, 1, p)
        .selectExpr(
            "id AS doc_id",
            f"CAST(id - id % 2 AS STRING) AS base",
            "id % 2 AS parity",
        )
        .selectExpr(
            "doc_id",
            f"concat('{boiler} ', concat_ws(' ', {uniq}), "
            "' tail', base, 'p', parity) AS text",
        )
    )


def scaled_documents(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """``factor`` copies of a scale factor's ``documents`` table.  Copy 0
    is verbatim; copy c>0 re-keys doc_ids by ``c * 10_000_000`` and
    prefixes every word with a copy tag (``c7w…``), so within a copy the
    shingle sets are a bijective renaming of the base corpus (every
    exact-jaccard relationship holds copy by copy) and across copies no
    two documents share a shingle: exact-semantics plans return exactly
    ``factor ×`` the base rows, and every shingle's document frequency
    stays unchanged as the corpus grows."""
    import os as _os

    from pyspark.sql import functions as F

    base = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    parts = []
    for c in range(factor):
        text = (
            F.col("text")
            if c == 0
            else F.regexp_replace(F.col("text"), r"(\S+)", f"c{c}w$1")
        )
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(c * 10_000_000)).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.repartition(32)


def scaled_embeddings_dist(
    spark: SparkSession, sf_dir: str, factor: int, copy_stride: int = 10_000_000
) -> DataFrame:
    """``factor`` copies of a scale factor's ``embeddings`` table — the
    embedding twin of ``scaled_documents``.  Copy 0 is
    verbatim; copy c>0 re-keys vec_ids and flips coordinate signs by the
    WALSH-HADAMARD pattern ``(-1)^popcount(c & i)``.  A per-copy sign
    pattern cancels inside every within-copy dot product, so norms and
    all WITHIN-copy pairwise cosines are preserved EXACTLY (every copy
    carries the base corpus's near-pair structure); across copies c1,c2
    the cross cosine of the same base vector is the signed sum
    ``Σ x_i² (-1)^popcount((c1 XOR c2) & i)`` — a Walsh coefficient,
    near zero for generic vectors (a cyclic-shift scheme was measured
    first: embedding autocorrelation kept shifted copies ABOVE the 0.3
    near-pair threshold and the sf1 pair graph blew up 102× instead of
    10×; the sign pattern fixes exactly that).  LSH signatures still
    differ per copy (fixed hyperplanes, flipped vectors), exercising
    fresh buckets — the "more data, same density" regime the ANN scale
    measurements need."""
    import os as _os

    from pyspark.sql import functions as F

    base = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(base.select("embedding").first()[0])
    # per-copy label space (round 10): verbatim labels made every
    # label BLOCK span all copies — blocked-cosine entries
    # (embedding_dup_clusters) saw 10x blocks plus rare Walsh
    # cross-copy matches merging copies into mega-clusters, a fixture
    # artifact that re-flagged every sweep.  Shifting labels by a
    # next-pow10 stride per copy keeps within-copy structure exact and
    # makes cross-copy blocked pairs impossible: counts scale exactly
    # `factor`x.
    max_label = base.agg(F.max("label")).first()[0]
    label_stride = _next_pow10(int(max_label if max_label is not None else 0))
    parts = []
    for c in range(factor):
        if c == 0:
            vec = F.col("embedding")
        else:
            signs = F.array(
                *[
                    F.lit(float((-1) ** bin(c & i).count("1")))
                    for i in range(dim)
                ]
            )
            vec = F.zip_with(
                F.col("embedding"), signs, lambda x, s: (x * s).cast("float")
            )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(c * copy_stride)).alias("vec_id"),
                vec.alias("embedding"),
                (F.col("label") + F.lit(c * label_stride))
                .cast("int")
                .alias("label"),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def write_scaled_sf(
    spark: SparkSession,
    base_sf_dir: str,
    out_dir: str,
    factor: int = 10,
) -> None:
    """Persist an sf×``factor`` LLM-pipeline corpus (documents +
    embeddings) derived from ``base_sf_dir`` — the sf1 tier when base is
    sf0.1.  Deterministic (copy-tag words; embeddings via Walsh-Hadamard
    SIGN-FLIP copies — cyclic-shift was the measured-and-rejected scheme
    that blew the sf1 pair graph up ~102×, see test_fixtures_dist), so
    regenerating yields byte-equivalent content; written as real parquet
    directories so every measurement reads from disk exactly like the
    driver testdata."""
    import os as _os

    _os.makedirs(out_dir, exist_ok=True)
    scaled_documents(spark, base_sf_dir, factor).write.mode(
        "overwrite"
    ).parquet(_os.path.join(out_dir, "documents.parquet"))
    scaled_embeddings_dist(spark, base_sf_dir, factor).repartition(
        32
    ).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "embeddings.parquet")
    )
    _write_scaler_version(out_dir)


def _next_pow10(n: int) -> int:
    s = 1
    while s <= n:
        s *= 10
    return s


# Bumped whenever write_scaled_sf/_full CONTENT changes (v2 = round-10
# per-copy name-suffix + embedding-label perturbation): cached tiers in
# spark-warehouse/ were previously invalidated only by deleting the
# directory, so a scheme change silently benchmarked stale data.
SCALER_VERSION = 2


def _write_scaler_version(out_dir: str) -> None:
    import json as _json
    import os as _os

    with open(_os.path.join(out_dir, "scaler_version.json"), "w") as f:
        _json.dump({"version": SCALER_VERSION}, f)


def scaled_tier_current(out_dir: str, marker_table: str) -> bool:
    """True iff ``out_dir`` holds ``marker_table`` AND was generated by
    the current scaling scheme — the regen gate for cached tiers."""
    import json as _json
    import os as _os

    if not _os.path.isdir(_os.path.join(out_dir, f"{marker_table}.parquet")):
        return False
    try:
        with open(_os.path.join(out_dir, "scaler_version.json")) as f:
            return _json.load(f).get("version") == SCALER_VERSION
    except (OSError, ValueError):
        return False


def _copy_name_mult(c: int) -> int:
    """Per-copy multiplier for NAME-suffix deltas, encoding each base-10
    digit ``d`` of the copy index into TWO decimal digits ``(d, 3d%10)``
    (3 is coprime to 10, so both coordinates are injective in ``d``).
    Any two distinct copies therefore differ in >= 2 digit positions of
    the shifted suffix — a hamming-1 / one-substitution fuzzy blocker
    can never pair rows ACROSS copies, while digits below the stride
    stay untouched so within-copy pair structure is byte-identical to
    the base.  A plain ``c x stride`` shift (the key scheme) differs in
    only ONE digit across copies, which let every base name fuzzy-match
    its ``factor-1`` twins — the round-9 sweep's 100x-bucket fixture
    artifact."""
    m, p = 0, 1
    while True:
        d = c % 10
        m += d * p + ((3 * d) % 10) * p * 10
        c //= 10
        p *= 100
        if c == 0:
            return m


def write_scaled_sf_full(
    spark: SparkSession,
    base_sf_dir: str,
    out_dir: str,
    factor: int = 10,
) -> None:
    """Persist an sf×``factor`` tier for ALL ten tables — the corpus
    tables via ``write_scaled_sf`` (copy-tag words / Walsh-Hadamard
    sign-flip), the relational star via key-shifted copies.

    Scaling scheme (TPC-H convention: dims fixed, facts scale):

    * ``region``/``nation`` are copied verbatim — 5/25-row dimensions
      stay dimensions at any scale factor.
    * Each other table gets ``factor`` copies; copy ``c`` shifts every
      PRIMARY and FOREIGN key by ``c × stride(key)`` where ``stride`` is
      the next power of 10 above the base table's max key.  The same
      stride is applied to a key wherever it appears (``o_custkey``
      moves with ``c_custkey``, lineitem's three FKs move with their
      parents), so referential integrity holds within every copy and no
      cross-copy join rows exist: joins, aggregates and windows scale
      exactly linearly in input size.
    * Non-key attributes (names, segments, dates, amounts, props JSON)
      are copied verbatim — group-by-attribute cardinalities stay fixed
      while group sizes grow 10×, the realistic "more data, same
      domain" regime a 100 TB perf sweep needs.
    * ``events``: ``event_id`` and ``user_id`` both shift (10× users,
      same per-user activity — session/window state per key is scale-
      invariant, matching how a real event stream grows).

    Deterministic: strides derive from the base data, copies are pure
    column arithmetic — regenerating yields byte-equivalent content."""
    import os as _os

    from pyspark.sql import functions as F

    def rd(t: str) -> DataFrame:
        if t == "events":
            # events.parquet may carry TIMESTAMP(NANOS) depending on the
            # generator version; load_table normalizes (catalog.py:80) —
            # a bare read would crash the whole tier build on that
            # variant before any table is written
            from graphdb_for_drones_spark.catalog import load_table

            return load_table(spark, base_sf_dir, "events")
        return spark.read.parquet(_os.path.join(base_sf_dir, f"{t}.parquet"))

    stride: dict[str, int] = {}
    for t, key_cols in (
        ("customer", ["c_custkey"]),
        ("supplier", ["s_suppkey"]),
        ("part", ["p_partkey"]),
        ("orders", ["o_orderkey"]),
        ("events", ["event_id", "user_id"]),
    ):
        row = rd(t).agg(*[F.max(c) for c in key_cols]).first()
        for c, v in zip(key_cols, row):
            stride[c] = _next_pow10(int(v))

    shifted_cols: dict[str, dict[str, int]] = {
        "customer": {"c_custkey": stride["c_custkey"]},
        "supplier": {"s_suppkey": stride["s_suppkey"]},
        "part": {"p_partkey": stride["p_partkey"]},
        "orders": {
            "o_orderkey": stride["o_orderkey"],
            "o_custkey": stride["c_custkey"],
        },
        "lineitem": {
            "l_orderkey": stride["o_orderkey"],
            "l_partkey": stride["p_partkey"],
            "l_suppkey": stride["s_suppkey"],
        },
        "events": {
            "event_id": stride["event_id"],
            "user_id": stride["user_id"],
        },
    }

    # NAME perturbation (round 10): c_name/s_name copied verbatim made
    # every fuzzy-linkage bucket span all copies (100x pair blowup, a
    # fixture artifact re-flagged every sweep).  Copy c adds
    # _copy_name_mult(c) x name_stride to the 9-digit name suffix: the
    # delta digits sit ABOVE both tables' base suffix digits (shared
    # stride), so within-copy and within-copy CROSS-TABLE hamming
    # structure is preserved exactly while any cross-copy pair differs
    # in >= 2 digits — one-substitution blockers yield exactly
    # factor x the base pair count.
    name_stride = max(stride["c_custkey"], stride["s_suppkey"])
    name_cols = {"customer": "c_name", "supplier": "s_name"}

    # Validate EVERY copy's name delta before any table is written:
    # %09d WIDENS past 9 digits instead of truncating, so a suffix
    # >= 1e9 would change name LENGTH for that copy and silently break
    # the documented equal-length >=2-substitution cross-copy hamming
    # property.  Base suffix digits sit below name_stride, so
    # delta + stride bounds the shifted suffix.  (_copy_name_mult is
    # not monotone in c — d=7 encodes smaller than d=4 — hence the
    # full sweep, O(factor) ints.)
    for c in range(factor):
        name_delta = _copy_name_mult(c) * name_stride
        if name_delta + name_stride > 10**9:
            raise ValueError(
                f"scale factor {factor} overflows the 9-digit name "
                f"suffix (copy {c}: delta {name_delta} + stride "
                f"{name_stride} > 1e9); the cross-copy hamming "
                "guarantee would degrade — use a smaller factor"
            )

    write_scaled_sf(spark, base_sf_dir, out_dir, factor)

    def shift_name(col: str, delta: int):
        num = F.substring(F.col(col), -9, 9).cast("bigint") + F.lit(delta)
        prefix = F.col(col).substr(
            F.lit(1), F.length(F.col(col)) - F.lit(9)
        )
        return F.concat(prefix, F.format_string("%09d", num)).alias(col)

    for t in ("region", "nation"):
        rd(t).write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"{t}.parquet")
        )
    for t, shifts in shifted_cols.items():
        base = rd(t)
        parts = []
        for c in range(factor):
            name_delta = _copy_name_mult(c) * name_stride
            parts.append(
                base.select(
                    *[
                        (F.col(col) + F.lit(c * shifts[col])).alias(col)
                        if col in shifts
                        else shift_name(col, name_delta)
                        if col == name_cols.get(t)
                        else F.col(col)
                        for col in base.columns
                    ]
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"{t}.parquet")
        )
    _write_scaler_version(out_dir)
