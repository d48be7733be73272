"""The engine-side (spark.range) fixture twins must be ROW-IDENTICAL to
the driver-built originals — the scale sweep's correctness assertions
are only meaningful if the big graphs have exactly the reference shape."""

from graphdb_for_drones_spark.fixtures import (
    abac_tables,
    abac_tables_dist,
    delegation_hierarchy,
    delegation_hierarchy_edges_dist,
    flat_delegation,
    flat_delegation_dist,
    web_trust_chain,
    web_trust_chain_dist,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_flat_delegation_dist_identical(spark):
    assert _rows(flat_delegation_dist(spark, 37)) == _rows(
        flat_delegation(spark, 37)
    )


def test_web_trust_chain_dist_identical(spark):
    assert _rows(web_trust_chain_dist(spark, 13)) == _rows(
        web_trust_chain(spark, 13)
    )


def test_hierarchy_edges_dist_identical(spark):
    h = delegation_hierarchy(
        spark, num_regional=3, num_unit=5, num_squad=8, drones_per_squad=2
    )
    got = delegation_hierarchy_edges_dist(
        spark, num_regional=3, num_unit=5, num_squad=8, drones_per_squad=2
    )
    assert _rows(got) == _rows(h.delegation_relation)


def test_abac_tables_dist_identical(spark):
    a = abac_tables(spark, num_users=23, num_groups=5)
    b = abac_tables_dist(spark, num_users=23, num_groups=5)
    for field in ("user", "group", "resource", "member", "subgroup", "permission"):
        assert _rows(getattr(b, field)) == _rows(getattr(a, field)), field


def test_scaled_embeddings_sign_flip_invariants(spark, tmp_path):
    """The sf1 embedding scaling scheme's two load-bearing properties:
    (1) within-copy pairwise cosines are EXACTLY the base corpus's (the
    Walsh sign pattern cancels in every same-copy dot product), so each
    copy carries the base near-pair structure; (2) cross-copy cosines of
    the same base vector are Walsh coefficients — zero-mean and MOSTLY
    below the 0.3 near-pair threshold (a distributional property, not a
    per-pair bound: the sf0.1 corpus measured ~5% of same-base cross
    pairs above 0.3, vs the cyclic-shift scheme where autocorrelation
    kept enough pairs above threshold to blow the sf1 graph up 102×)."""
    import os

    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.fixtures import scaled_embeddings_dist

    # small deterministic base written as parquet (the function reads a dir)
    import math
    import random

    rng = random.Random(9)
    dim = 64  # the real corpus width — Walsh spread shrinks with dim
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 3)
        for i in range(20)
    ]
    base_dir = str(tmp_path / "sfbase")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(base_dir, "embeddings.parquet"))

    scaled = scaled_embeddings_dist(spark, base_dir, factor=4).collect()
    by_id = {r.vec_id: list(r.embedding) for r in scaled}
    assert len(by_id) == 80

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    stride = 10_000_000
    # (1) within-copy cosine == base cosine, bit-for-bit on the float32 grid
    for c in range(4):
        for i, j in ((0, 1), (2, 7), (5, 19)):
            got = cos(by_id[c * stride + i], by_id[c * stride + j])
            want = cos(by_id[i], by_id[j])
            assert abs(got - want) < 1e-6, (c, i, j)
    # (2) cross-copy same-base cosines: zero-mean Walsh coefficients,
    # mostly sub-threshold — assert the DISTRIBUTION (deterministic for
    # this seed), not a per-pair bound that doesn't exist
    xs = [
        cos(by_id[c1 * stride + i], by_id[c2 * stride + i])
        for c1 in range(4)
        for c2 in range(c1 + 1, 4)
        for i in range(20)
    ]
    mean_abs = sum(abs(x) for x in xs) / len(xs)
    frac_over = sum(1 for x in xs if abs(x) >= 0.3) / len(xs)
    assert mean_abs < 0.15, mean_abs
    assert frac_over <= 0.15, frac_over
    # (3) per-copy label space (round 10): copy c's labels shift by
    # c x next_pow10(max) so label BLOCKS never span copies — the
    # blocked-cosine fixture artifact (mega-clusters) cannot form
    labels = {r.vec_id: r.label for r in scaled}
    for c in range(4):
        for i in range(20):
            assert labels[c * stride + i] == (i % 3) + c * 10, (c, i)


def test_write_scaled_sf_full_integrity(spark, tmp_path):
    """The full-tier scaler must scale every fact table exactly
    ``factor``× with referential integrity intact WITHIN each copy and
    zero cross-copy join rows — the property that makes the sf1 catalog
    sweep's ratios interpretable as input-size scaling."""
    import os

    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.fixtures import write_scaled_sf_full

    base = "/root/testdata/sf0.001"
    out = str(tmp_path / "sf_scaled")
    write_scaled_sf_full(spark, base, out, factor=3)

    def rd(d, t):
        return spark.read.parquet(os.path.join(d, f"{t}.parquet"))

    # dims verbatim, facts exactly 3x
    for t in ("region", "nation"):
        assert rd(out, t).count() == rd(base, t).count()
    for t in (
        "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings",
    ):
        assert rd(out, t).count() == 3 * rd(base, t).count(), t

    # documents (fixtures.scaled_documents): copy 0 is the base table
    # verbatim, and no word of a tagged copy c>0 occurs in copy 0, so
    # the copies share no shingle and exact pair counts scale factor x
    stride = 10_000_000
    docs = {r.doc_id: r.text for r in rd(out, "documents").collect()}
    base_docs = {r.doc_id: r.text for r in rd(base, "documents").collect()}
    assert {i: t for i, t in docs.items() if i < stride} == base_docs
    copy0_words = {w for t in base_docs.values() for w in t.split()}
    shared = {
        w for i, t in docs.items() if i >= stride for w in t.split()
    } & copy0_words
    assert not shared, sorted(shared)[:5]

    # keys stay unique after shifting
    for t, k in (
        ("customer", "c_custkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("documents", "doc_id"),
    ):
        df = rd(out, t)
        assert df.count() == df.select(k).distinct().count(), (t, k)

    # FK integrity: no orphans anywhere in the scaled star
    orders, cust = rd(out, "orders"), rd(out, "customer")
    li = rd(out, "lineitem")
    assert (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_anti"
        ).count()
        == 0
    )
    for fk, dim, pk in (
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ):
        d = rd(out, dim)
        assert (
            li.join(d, F.col(fk) == F.col(pk), "left_anti").count() == 0
        ), fk

    # join-row linearity: orders x customer join count scales exactly 3x
    b_orders, b_cust = rd(base, "orders"), rd(base, "customer")
    base_join = b_orders.join(
        b_cust, b_orders.o_custkey == b_cust.c_custkey
    ).count()
    scaled_join = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()
    assert scaled_join == 3 * base_join

    # name perturbation (round 10): copy c adds _copy_name_mult(c) x
    # shared-stride to the 9-digit suffix — copy 0 byte-verbatim, low
    # digits (within-copy structure) untouched, and every cross-copy
    # pair >= 2 substitutions apart so one-substitution fuzzy blockers
    # scale pair counts exactly factor x
    from graphdb_for_drones_spark.fixtures import (
        _copy_name_mult,
        _next_pow10,
    )

    mc = rd(base, "customer").agg(F.max("c_custkey")).first()[0]
    ms = rd(base, "supplier").agg(F.max("s_suppkey")).first()[0]
    nstride = max(_next_pow10(int(mc)), _next_pow10(int(ms)))
    base_suffix = sorted(
        int(r[0][-9:]) for r in rd(base, "customer").select("c_name").collect()
    )
    expect = sorted(
        s + _copy_name_mult(c) * nstride
        for c in range(3)
        for s in base_suffix
    )
    got = sorted(int(r[0][-9:]) for r in cust.select("c_name").collect())
    assert got == expect  # exact scheme: verbatim copy 0, unique, low digits kept
    # empirical cross-copy distance spot-check on the string forms
    per_copy = [
        ["%09d" % (s + _copy_name_mult(c) * nstride) for s in base_suffix[:40]]
        for c in range(3)
    ]
    for i in range(3):
        for j in range(i + 1, 3):
            for a in per_copy[i]:
                for b in per_copy[j]:
                    d = sum(1 for x, y in zip(a, b) if x != y)
                    assert d >= 2, (a, b)


def test_scaled_name_suffix_overflow_fails_loudly(spark, tmp_path):
    """%09d WIDENS past 9 digits, so an out-of-range factor would
    change name length for high copies and silently degrade the
    equal-length cross-copy hamming guarantee — the scaler must refuse
    BEFORE writing any table (ADVICE r10)."""
    import os

    import pytest

    from graphdb_for_drones_spark.fixtures import write_scaled_sf_full

    out = str(tmp_path / "sf_overflow")
    # copy 1000 is the first 4-digit index: its digit-pair encoding
    # jumps to 3.1e7 x stride, far past the 9-digit budget (copy 999
    # still fits at 797979 x stride)
    with pytest.raises(ValueError, match="9-digit name suffix"):
        write_scaled_sf_full(spark, "/root/testdata/sf0.001", out, factor=1001)
    assert not os.path.isdir(out)  # validation precedes every write
