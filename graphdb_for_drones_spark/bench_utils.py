"""Measurement harness replicating the reference's protocol
(common/bench_utils.py:37-60 and BASELINE.md):

* one untimed warm-up execution, then N timed runs;
* p50/p95/p99 from ``statistics.quantiles(latencies, n=100)`` positions
  49/94/98 (exact reference indices), reported in ms;
* TPS = iterations / total elapsed;
* CSV rows ``scenario, scale_up, depth|length, p50_ms, p95_ms, p99_ms,
  tps`` (02_topology_dynamic/benchmark_scenario_a.py:141), extended with
  the reference's resource-usage columns (CPU%/RSS avg/max/p95 sampled
  at 1 Hz — 01_local_cdc_capture.py:17-26,138-145).
"""

from __future__ import annotations

import csv
import statistics
import time
from dataclasses import dataclass, field

from graphdb_for_drones_spark.resource_monitor import ResourceMonitor


@dataclass
class BenchResult:
    scenario: str
    scale_up: int | float | None
    depth: int | None
    iterations: int
    p50_ms: float
    p95_ms: float
    p99_ms: float
    tps: float
    total_s: float
    resources: dict = field(default_factory=dict)

    def row(self) -> dict:
        r = {
            "scenario": self.scenario,
            "scale_up": self.scale_up,
            "depth": self.depth,
            "p50_ms": round(self.p50_ms, 3),
            "p95_ms": round(self.p95_ms, 3),
            "p99_ms": round(self.p99_ms, 3),
            "tps": round(self.tps, 3),
        }
        for k in (
            "cpu_avg_pct",
            "cpu_max_pct",
            "cpu_p95_pct",
            "rss_avg_mb",
            "rss_max_mb",
            "rss_p95_mb",
        ):
            r[k] = self.resources.get(k)
        return r


def percentiles(xs: list[float]) -> tuple[float, float, float]:
    """(p50, p95, p99) of a non-empty sample: ``statistics.quantiles(xs,
    n=100)`` positions 49/94/98 (the reference's indices); a single
    sample is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    qs = statistics.quantiles(xs, n=100)
    return qs[49], qs[94], qs[98]


def benchmark_query(
    run,
    iterations: int = 100,
    warmup: int = 1,
    scenario: str = "query",
    scale_up=None,
    depth: int | None = None,
    monitor: bool = True,
) -> BenchResult:
    """Time ``run()`` (a thunk that executes one full query, e.g.
    ``lambda: df.collect()``) under the reference protocol.  With
    ``monitor`` a 1 Hz CPU%/RSS sampler covers the timed loop."""
    for _ in range(warmup):
        run()
    mon = ResourceMonitor().start() if monitor else None
    latencies = []
    t_start = time.time()
    for _ in range(iterations):
        t0 = time.time()
        run()
        latencies.append(time.time() - t0)
    total = time.time() - t_start
    resources = mon.stop() if mon is not None else {}
    p50, p95, p99 = percentiles(latencies)
    return BenchResult(
        scenario=scenario,
        scale_up=scale_up,
        depth=depth,
        iterations=iterations,
        p50_ms=p50 * 1000,
        p95_ms=p95 * 1000,
        p99_ms=p99 * 1000,
        tps=iterations / total if total > 0 else float("inf"),
        total_s=total,
        resources=resources,
    )


def write_results_csv(results: list[BenchResult], path: str) -> None:
    """The reference's CSV sink shape."""
    if not results:
        return
    with open(path, "w", newline="") as f:
        writer = csv.DictWriter(f, fieldnames=list(results[0].row().keys()))
        writer.writeheader()
        writer.writerows(r.row() for r in results)
