#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Protocol mirrors the reference's bench_utils (one warm-up action to prime
the JVM + file-system caches, then timed runs); per-query time is the
wall-clock of plan construction + execution + collect, like the
reference's execute+fetchone loop (common/bench_utils.py:37-60).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graphdb_for_drones_spark.session import get_spark  # noqa: E402
from graphdb_for_drones_spark.plans import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline set: one per operator family (traversal, path-multiplicity,
# web-of-trust, ABAC, scan+agg, multi-way joins, anti/semi, rollup,
# windows (ranking/tumbling/sliding/session), as-of, CDC apply, plus the
# LLM-pipeline families: dedup, text analysis, similarity search)
HEADLINE = [
    "mission_count",
    "delegation_reachable",
    "path_count_diamond",
    "wot_path_count",
    "abac_check",
    "pricing_summary",
    "top_customers",
    "shipping_priority",
    "region_volume",
    "orders_rollup",
    "latest_event_per_user",
    "event_type_stats",
    "cdc_apply_events",
    "events_tumbling_hourly",
    "events_sliding_windows",
    "user_sessions",
    "asof_signup_before_purchase",
    "events_in_windows",
    "user_event_hash_chain",
    "min_price_supplier",
    "minhash_pairs",
    "ngram_jaccard",
    "ngram_jaccard_prefix",
    "doc_token_stats",
    "embedding_topk",
    "ann_topk",
    "ivf_topk",
    "event_value_hist_quantiles",
    "doc_split_counts",
    "corpus_curation_stats",
    # round-4 curation family
    "contamination_check",
    "contamination_containment",
    "doc_pack_stats",
    "doc_pack_greedy_stats",
    "mixture_weights",
    "doc_repetition",
    "doc_quality_sample_stats",
    "embedding_dup_clusters",
]

# the literal block above IS the round-4 bench set — frozen for the
# cross-round "value_headline38" metric no matter what gets appended
# to HEADLINE later
ROUND4_HEADLINE = tuple(HEADLINE)

# r11 (VERDICT r10 #2): headline38 sums entries whose PLANS keep
# evolving (minhash grew verification legs, ngram restructured its
# pins), so its cross-round drift mixes engine changes with host noise.
# HEADLINE_V2 is the FROZEN-SEMANTICS metric: 20 entries, one per
# operator family, whose code+data have been stable since round 7 or
# earlier and which the engine commits to not changing — if one ever
# must change, the metric versions to v3 rather than silently shifting.
# Their sum is emitted raw (value_headline_v2) and host-normalized
# (value_headline_v2_norm = raw / host_factor) so a contended driver
# run stays comparable to an idle one.
HEADLINE_V2 = (
    "mission_count",
    "delegation_reachable",
    "path_count_diamond",
    "wot_path_count",
    "abac_check",
    "pricing_summary",
    "top_customers",
    "latest_event_per_user",
    "event_type_stats",
    "cdc_apply_events",
    "events_tumbling_hourly",
    "asof_signup_before_purchase",
    "min_price_supplier",
    "doc_token_stats",
    "ann_topk",
    "ivf_topk",
    "event_value_hist_quantiles",
    "contamination_check",
    "doc_repetition",
    "embedding_topk",
)

# r9 (VERDICT r8 #2): make the HOST factor machine-readable.  This
# container shares its host; byte-identical plans have measured 1.5-10×
# slower under external load (PERF.md rounds 4 and 8), and adjudicating
# that took a forensic cross-round diff each time.  The calibration
# queries are code+data-frozen since round 3 — their drift IS the host
# factor.  CALIBRATION_REF pins an idle-host measurement (min over two
# min-of-3 sessions, warm JVM, sf0.1, local[32]; external load avg 0.5
# at start, 2026-08-15 round-9 session; cross-checked against BENCH_r07
# ann_topk 0.851 / min_price_supplier 1.896 / doc_token_stats 0.404);
# host_factor = median(now / ref).  A factor ≈1 means timings are
# comparable to the idle-host baseline; ≈2 means the host was contended
# and absolute numbers should be read through that lens.  Only emitted
# at sf0.1 (the refs' scale).
CALIBRATION = ("ann_topk", "min_price_supplier", "doc_token_stats")
# r13 measurement-bug fix (disclosed in OPTIMIZATION_r13.md): round 12
# re-planned min_price_supplier (3 Exchange → 1, ~2.4× faster), so its
# r9-pinned ref (1.779) stopped measuring the host — its ratio read
# ~0.45 at any load and the median host_factor was effectively decided
# by the other two queries alone.  Re-pinned to 0.564: the best min-of-3
# observed this round, taken in a window where the two genuinely-frozen
# refs read ratios 1.04-1.14 (so the new ref may sit a few percent high
# of true-idle; the median across three live ratios absorbs that).  The
# old value is kept here for the record: 1.779 (r9 idle, pre-r12 plan).
CALIBRATION_REF = {
    "ann_topk": 0.738,
    "min_price_supplier": 0.564,
    "doc_token_stats": 0.368,
}

# r5 (VERDICT r4 #6): the bench sweeps the FULL catalog — headline
# entries above keep their historical order (BENCH_r{N} comparability),
# every other registered query is appended so a regression in a
# previously un-benched entry cannot hide.  The floor is therefore
# len(QUERIES): adding a catalog query automatically adds a bench entry.
HEADLINE += [q for q in QUERIES if q not in HEADLINE]


MAX_LINE = 1700  # < the 2000-char output tail that is parsed, with margin for a newline
# r13: the cross-round comparison diffs the printed `queries` dict and
# flags any name that disappears as "dropped_from_bench" (PERF_r12
# listed 48 such artifacts when the r12 metric-line change shifted
# the truncation point).  The names BENCH_r12 printed are therefore
# pinned to print FIRST — a timing that grows a digit pushes out the
# catalog extras, and pinned names only once they alone overflow — and
# the remaining space is filled with the rest of the catalog in
# HEADLINE order as before.
# All 166 entries are still TIMED (sidecar file); only the printed
# subset is capped by the 2000-char tail.
PRINT_FIRST = (
    "mission_count", "delegation_reachable", "path_count_diamond",
    "wot_path_count", "abac_check", "pricing_summary", "top_customers",
    "shipping_priority", "region_volume", "orders_rollup",
    "latest_event_per_user", "event_type_stats", "cdc_apply_events",
    "events_tumbling_hourly", "events_sliding_windows", "user_sessions",
    "asof_signup_before_purchase", "events_in_windows",
    "user_event_hash_chain", "min_price_supplier", "minhash_pairs",
    "ngram_jaccard", "ngram_jaccard_prefix", "doc_token_stats",
    "embedding_topk", "ann_topk", "ivf_topk",
    "event_value_hist_quantiles", "doc_split_counts",
    "corpus_curation_stats", "contamination_check",
    "contamination_containment", "doc_pack_stats",
    "doc_pack_greedy_stats", "mixture_weights", "doc_repetition",
    "doc_quality_sample_stats", "embedding_dup_clusters",
    "source_drift_ks", "source_drift_w1", "event_hll_rollup_md5",
    "event_funnel_streamed", "user_retention_cohorts_streamed",
    "event_hll_rollup_md5_streamed", "source_drift_ks_streamed",
    "source_drift_w1_streamed", "user_funnel_counts",
    "event_user_cm_counts",
)


def capped_line(
    timings: dict[str, float], line_for: Callable[[dict[str, float]], str]
) -> str:
    """The printed result line, at most ``MAX_LINE`` characters:
    ``line_for`` over the ``PRINT_FIRST`` timings, then as many further
    HEADLINE entries as fit.  If the pinned names alone overflow (a
    timing grew digits), trailing pinned names are dropped and named on
    stderr."""
    subset = {name: timings[name] for name in PRINT_FIRST if name in timings}
    dropped = []
    while subset and len(line_for(subset)) > MAX_LINE:
        dropped.append(subset.popitem()[0])
    if dropped:
        print(
            "bench: line cap dropped pinned entries "
            + ", ".join(reversed(dropped)),
            file=sys.stderr,
        )
        return line_for(subset)
    for name in HEADLINE:
        if name in subset:
            continue
        trial = dict(subset)
        trial[name] = timings[name]
        if len(line_for(trial)) > MAX_LINE:
            break
        subset = trial
    return line_for(subset)


def main() -> None:
    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(sf_match.group(1)) if sf_match else None
    load_before = [round(x, 2) for x in os.getloadavg()]

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    def drop_leftover_caches():
        # free localCheckpoint/persist blocks left by the previous query so
        # its GC debt doesn't tax the next measurement (the reference
        # resets state between scenarios the same way)
        sc = spark.sparkContext
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        sc._jvm.System.gc()

    # JVM warm-up preamble: in a fresh JVM the FIRST measured query
    # reads 2-4x slow even after its own warm-up pass (JIT tier-up,
    # codegen caches — mission_count measured 4.2 s in-bench vs 1.55 s
    # isolated-warm, round 10).  Run the calibration trio untimed first
    # so the headline loop starts on a warm runtime; their own
    # measurement still happens LAST per the pinned-ref protocol.
    for name in CALIBRATION:
        QUERIES[name](spark, SF_DIR).collect()
    drop_leftover_caches()

    # r11 (VERDICT r10 #2): the calibration trio is INTERLEAVED through
    # the run — one timed mini-pass after the preamble and after each
    # catalog quartile — so a load spike hitting the middle of the
    # sweep shows up as a per-segment host factor instead of being
    # invisible to a single quiet-moment calibration block (BENCH_r10:
    # host_factor 0.89 beside load1 5.45 and ~2× in-bench timings).
    calibration_segments: list[dict] = []

    def calibration_sample(position: float) -> None:
        sample: dict[str, float] = {}
        for name in CALIBRATION:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, SF_DIR).collect()
                best = min(best, time.time() - t0)
                drop_leftover_caches()
            sample[name] = round(best, 3)
        factor = None
        if sf == 0.1:
            ratios = sorted(
                sample[n] / CALIBRATION_REF[n] for n in CALIBRATION
            )
            factor = round(ratios[len(ratios) // 2], 2)
        calibration_segments.append(
            {
                "position": position,
                "load1": round(os.getloadavg()[0], 2),
                "times": sample,
                "host_factor": factor,
            }
        )

    calibration_sample(0.0)

    timings: dict[str, float] = {}
    quartiles = {
        (len(HEADLINE) * q) // 4 for q in (1, 2, 3)
    }
    for idx, name in enumerate(HEADLINE):
        # reference protocol (common/bench_utils.py): one untimed warm-up
        # execution (primes codegen/JIT, page cache), then timed runs.
        # min-of-2 timed runs: the shared host's load spikes on a
        # minutes scale — a single-shot sweep randomly catches 10-20×
        # slowdowns on a few queries (different victims each run); the
        # min is the reproducible engine cost.
        QUERIES[name](spark, SF_DIR).collect()
        drop_leftover_caches()
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).collect()
            best = min(best, time.time() - t0)
            drop_leftover_caches()
        timings[name] = round(best, 3)
        if idx + 1 in quartiles:
            calibration_sample(round((idx + 1) / len(HEADLINE), 2))

    # Calibration pass LAST (fully-warm JVM, the same state the pinned
    # refs were measured in): min-of-3 fresh-plan runs per query.
    calibration: dict[str, float] = {}
    for name in CALIBRATION:
        QUERIES[name](spark, SF_DIR).collect()
        drop_leftover_caches()
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).collect()
            best = min(best, time.time() - t0)
            drop_leftover_caches()
        calibration[name] = round(best, 3)
    host_factor = None
    if sf == 0.1:
        # median over EVERY ratio this run produced — the 4+ interleaved
        # segment samples plus the final warm pass — so the factor sees
        # mid-run contention, not just the end-of-run state
        ratios = sorted(
            [calibration[n] / CALIBRATION_REF[n] for n in CALIBRATION]
            + [
                seg["times"][n] / CALIBRATION_REF[n]
                for seg in calibration_segments
                for n in CALIBRATION
            ]
        )
        host_factor = round(ratios[len(ratios) // 2], 2)
    load_after = [round(x, 2) for x in os.getloadavg()]

    # Full per-query timings go to a sidecar file (committed history lives
    # in PERF.md); the stdout line is capped because the driver captures
    # only the LAST 2000 characters of output and json-parses that tail —
    # round 5's full-catalog line (~4 KB) overflowed it and BENCH_r05
    # recorded "parsed": null.  The printed line keeps the historical
    # headline prefix first, then as many catalog extras as fit.
    # SPARK_GRAFT_BENCH_OUT names the sidecar so the builder's idle-host
    # run and the driver's per-round run stay independent artifacts
    # (round-8 lesson: the driver run overwrote the builder's sidecar).
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_full_results.json")
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), sidecar),
        "w",
    ) as fh:
        json.dump(
            {
                "metric": "full catalog wall-clock at sf on local[%s]" % CPUS,
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "load_1m_5m_15m": {"before": load_before, "after": load_after},
                "calibration": calibration,
                "calibration_ref": dict(CALIBRATION_REF),
                "calibration_segments": calibration_segments,
                "host_factor": host_factor,
                "value_headline_v2": round(
                    sum(timings[n] for n in HEADLINE_V2 if n in timings), 3
                ),
            },
            fh,
            indent=1,
        )

    # the frozen round-4 bench set, for cross-round comparability (the
    # full-catalog "value" grows every time the catalog does)
    headline38 = round(
        sum(timings[n] for n in ROUND4_HEADLINE if n in timings), 3
    )
    headline_v2 = round(
        sum(timings[n] for n in HEADLINE_V2 if n in timings), 3
    )
    headline_v2_norm = (
        round(headline_v2 / host_factor, 3)
        if host_factor and host_factor > 0
        else None
    )

    def line_for(subset: dict[str, float]) -> str:
        return json.dumps(
            {
                # r12 (VERDICT r11 #7): headline_v2 IS the primary metric
                # — 20 frozen-semantics entries, raw seconds as "value",
                # host-normalized beside it.  headline38 appears one
                # last time for r4-r12 continuity (retired hereafter:
                # its members' plans keep evolving, so its drift mixes
                # engine changes with host noise); the full-catalog sum
                # stays as value_full_catalog (it grows with the
                # catalog, so it is a coverage metric, not a trend).
                "metric": "headline_v2 wall-clock local[%s] "
                "(20 frozen-semantics entries)" % CPUS,
                "value": headline_v2,
                "value_headline_v2_norm": headline_v2_norm,
                "value_full_catalog": round(sum(timings.values()), 3),
                "value_headline38_final": headline38,
                "unit": "sec",
                # host-state annotation (VERDICT r8 #2, r10 #2): 1-min
                # loadavg at start/end, per-quartile calibration samples
                # (position/load1/host_factor each), and host_factor =
                # median ratio over EVERY sample — ≈1 comparable,
                # ≫1 contended host, segment spread shows WHEN
                "load1": [load_before[0], load_after[0]],
                "host_factor": host_factor,
                "host_factor_segments": [
                    seg["host_factor"] for seg in calibration_segments
                ],
                "calibration": calibration,
                "queries": subset,
                "n_total": len(timings),
                "sf": sf,
            },
            separators=(",", ":"),
        )

    print(capped_line(timings, line_for))


if __name__ == "__main__":
    main()
