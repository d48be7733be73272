"""FULL-catalog sf0.1 → sf1 sweep (VERDICT r8 #4).

Before this sweep only the dedup / contamination / ANN families had
run at sf1, and the round-8 ANN knee
proved sf0.1 can hide saturation (a fixed LSH geometry looked fine at
sf0.1 and fell off a 36× cliff at sf1).  This sweep times EVERY
registered query at both tiers under the fresh-plan thunk protocol and
reports each entry's 10×-data wall-clock ratio, so any super-linear
entry is machine-visible.

Reading the ratio: sub-second sf0.1 entries are overhead-bound (Spark
job scheduling ≈ 0.2-0.4 s floors the numerator), so the flag threshold
applies to entries with sf1 time above FLOOR_SEC; a ratio ≤ ~3× for 10×
data means the plan's scaling term is linear-ish with healthy constants;
≥ 10× means a super-linear stage (the thing this sweep exists to catch).

The sf1 tier is persisted parquet for ALL ten tables
(`fixtures.write_scaled_sf_full`): documents/embeddings via the proven
copy-tag / Walsh-Hadamard schemes, the relational star via key-shifted
copies (dims verbatim, every PK/FK shifted by a per-key power-of-10
stride so referential integrity holds within each copy — joins and
windows scale exactly linearly in input).

Each query gets a watchdog (default 600 s, SPARK_GRAFT_SWEEP_TIMEOUT):
the count runs in a worker thread under its own job group; on timeout
the group is cancelled and the entry is recorded as "timeout" instead
of hanging the sweep — at sf1 a super-linear entry can be arbitrarily
slow, and a hung sweep reports nothing.

Run:  python -m graphdb_for_drones_spark.bench_catalog_sf1 [--regen]
      [--only name1,name2] [--sf0.1-only | --sf1-only]
Output: one JSON line per (query, sf); summary lines with per-query
ratios + flags; full payload to bench_catalog_sf1_results.json.
"""

from __future__ import annotations

import gc
import json
import os
import threading
import time

from pyspark.sql import SparkSession

from graphdb_for_drones_spark.catalog import DEFAULT_SF_DIR as SF01_DIR

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR", os.path.join(_REPO_ROOT, "spark-warehouse", "sf1")
)

TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_SWEEP_TIMEOUT", "600"))
# entries whose sf1 wall is below this are overhead-bound: their ratio
# is scheduling noise, not a scaling signal
FLOOR_SEC = 2.0
FLAG_RATIO = 3.0

RESULTS_PATH = os.path.join(_REPO_ROOT, "bench_catalog_sf1_results.json")


def ensure_sf1_full(spark: SparkSession, regen: bool = False) -> str:
    from graphdb_for_drones_spark.fixtures import (
        scaled_tier_current,
        write_scaled_sf_full,
    )

    # events is the LAST shifted table write_scaled_sf_full emits and
    # the version file is written after it, so a current version +
    # events dir certifies a complete tier built by the CURRENT scheme
    # — a build killed mid-way, or a tier from an older scaler,
    # regenerates instead of serving stale/partial data
    if regen or not scaled_tier_current(SF1_DIR, "events"):
        write_scaled_sf_full(spark, SF01_DIR, SF1_DIR, factor=10)
    return SF1_DIR


def timed_query(
    spark: SparkSession, fn, sf_dir: str, timeout_s: float = TIMEOUT_S
) -> dict:
    """Warm run + timed run of a fresh plan each (the fresh-plan thunk
    protocol), under a cancellable job group.  Returns
    {sec, rows} | {error} | {error: 'timeout', sec}."""
    out: dict = {}

    def one_pass(tag: str) -> dict:
        res: dict = {}

        def work() -> None:
            try:
                spark.sparkContext.setJobGroup(
                    tag, tag, interruptOnCancel=True
                )
                res["rows"] = fn(spark, sf_dir).count()
            except BaseException as e:  # noqa: BLE001 - recorded, not raised
                res["error"] = f"{type(e).__name__}: {str(e)[:200]}"

        th = threading.Thread(target=work, daemon=True)
        t0 = time.time()
        th.start()
        th.join(timeout_s)
        took = round(time.time() - t0, 2)
        if th.is_alive():
            spark.sparkContext.cancelJobGroup(tag)
            th.join(30)
            # the zombie worker still holds `res` and may mutate it
            # later (job-group cancellation can outlast the grace join);
            # publish a snapshot the caller owns exclusively so a late
            # write can't race json.dumps or resurrect a timed-out entry
            return {"sec": took, "error": "timeout"}
        out_pass = dict(res)
        out_pass["sec"] = took
        return out_pass

    warm = one_pass("sweep-warm")
    gc.collect()
    if "error" in warm:
        return warm
    timed = one_pass("sweep-timed")
    gc.collect()
    out["sec"] = timed["sec"]
    # per-measurement host state: this container shares its host and
    # external load spikes on a minutes scale (observed 0.1 → 14.5
    # WITHIN one sweep) — a per-row load figure makes a contended
    # window machine-attributable instead of poisoning the whole run
    out["load"] = round(os.getloadavg()[0], 1)
    if "error" in timed:
        out["error"] = timed["error"]
    else:
        out["rows"] = timed["rows"]
    return out


def run(
    spark: SparkSession,
    regen: bool = False,
    only: list[str] | None = None,
    tiers: tuple[str, ...] = ("sf0.1", "sf1"),
) -> dict:
    from graphdb_for_drones_spark.plans import QUERIES

    dirs = {"sf0.1": SF01_DIR}
    if "sf1" in tiers:
        # only build the 10× tier when this invocation will read it —
        # an --sf0.1-only smoke run shouldn't spend minutes writing it
        dirs["sf1"] = ensure_sf1_full(spark, regen)
    if only is not None:
        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            raise SystemExit(
                f"--only names not in catalog: {unknown}; "
                f"catalog has {len(QUERIES)} entries"
            )
    names = [n for n in QUERIES if only is None or n in only]
    results: dict[str, dict] = {n: {} for n in names}
    for sf_name in tiers:
        for name in names:
            row = timed_query(spark, QUERIES[name], dirs[sf_name])
            results[name][sf_name] = row
            print(
                json.dumps({"query": name, "sf": sf_name, **row}),
                flush=True,
            )

    flagged = []
    for name, r in results.items():
        a, b = r.get("sf0.1", {}), r.get("sf1", {})
        if "rows" in a and "rows" in b:
            ratio = round(b["sec"] / max(a["sec"], 1e-3), 2)
            r["ratio"] = ratio
            if b["sec"] >= FLOOR_SEC and ratio >= FLAG_RATIO:
                flagged.append((name, ratio, b["sec"]))
        elif "error" in a or "error" in b:
            # an error at EITHER tier is a finding — including sf0.1
            # failures under an sf1 success, and single-tier runs
            err = b if "error" in b else a
            flagged.append((name, None, err.get("sec")))
    flagged.sort(key=lambda x: -(x[1] or 1e9))
    payload = {
        "load_1m": round(os.getloadavg()[0], 2),
        "timeout_s": TIMEOUT_S,
        "floor_sec": FLOOR_SEC,
        "flag_ratio": FLAG_RATIO,
        "results": results,
        "flagged": [
            {"query": n, "ratio": r, "sf1_sec": s} for n, r, s in flagged
        ],
    }
    # partial invocations (--only / one tier) get a sidecar name so a
    # smoke run can never clobber the committed full-sweep artifact.
    # Full sweeps land in a PER-ROUND file when SPARK_GRAFT_ROUND is
    # set (bench_catalog_sf1_r{N}.json) so cross-round sweep history
    # lives beside, not over, the previous round's artifact
    # (VERDICT r10 #6); without the env var the legacy fixed name is
    # kept for ad-hoc runs.
    full = only is None and tiers == ("sf0.1", "sf1")
    round_tag = os.environ.get("SPARK_GRAFT_ROUND")
    if full and round_tag:
        path = os.path.join(
            _REPO_ROOT, f"bench_catalog_sf1_r{round_tag}.json"
        )
    else:
        path = RESULTS_PATH if full else RESULTS_PATH + ".partial"
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps({"flagged": payload["flagged"]}), flush=True)
    return payload


def main() -> None:
    import sys

    from graphdb_for_drones_spark.session import get_spark

    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only":
            if i + 1 >= len(sys.argv) or sys.argv[i + 1].startswith("--"):
                raise SystemExit("--only requires a comma-separated name list")
            only = sys.argv[i + 1].split(",")
    if "--sf0.1-only" in sys.argv and "--sf1-only" in sys.argv:
        raise SystemExit("--sf0.1-only and --sf1-only are mutually exclusive")
    tiers: tuple[str, ...] = ("sf0.1", "sf1")
    if "--sf0.1-only" in sys.argv:
        tiers = ("sf0.1",)
    if "--sf1-only" in sys.argv:
        tiers = ("sf1",)
    spark = get_spark(
        "bench_catalog_sf1", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, regen="--regen" in sys.argv, only=only, tiers=tiers)


if __name__ == "__main__":
    main()
