#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving a local[N] session.

    python3 perfbench/run.py --workload graph_traversal --seed 1 --seconds 12 --trace 0

Run from the repository root.  Workloads: graph_traversal and write_path
(``perfbench/scenarios.py``; why these, in ``perfbench/README.md``).
``--smoke`` shrinks the catalog tables to sf0.01 and the churn to 2,000
drones for the benchmark's own tests.

One run: start the session, stage the seeded inputs, run one warm-up pass
whose answers are checked against the DuckDB oracles, then run whole
passes until ``--seconds`` have passed (at least two); the metrics are
medians over them.
Every request's answer is checked (outside its timed span), and after
every request a leak probe counts and removes what it left behind (temp
dirs, catalog tables, persisted RDDs, session-conf changes).

Output on stdout: a ``host`` line (nproc, load, versions), a ``report``
line with every metric and per-entry detail, and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  With ``--trace 1`` untraced and traced passes alternate,
starting and ending untraced, the Spark event log and a
StreamingQueryListener are on for the whole run, and ``trace.overhead``
compares each traced pass with the untraced passes on either side.
Everything the run writes goes under ``perfbench/.work/`` and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROCESS_START = time.time()
TIME_CAP_S = 150  # stop starting passes after this; the hard limit is 180
MIN_PASSES = 2  # untraced passes a run measures, however long they take
LEAK_KEYS = ("leak.tmp_dirs", "leak.tables", "leak.persisted_rdds", "leak.conf_changes")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


# ------------------------------------------------------------------- host


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for this process
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == pid and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return {pid: stats[pid] for pid in tree if pid in stats}


def tree_rss_kb() -> int:
    pages = sum(int(f[21]) for f in _tree_stats().values())
    return pages * os.sysconf("SC_PAGE_SIZE") // 1024


class RssSampler(threading.Thread):
    def __init__(self, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.every_s, self.peak_kb = every_s, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb())
            self._stop_evt.wait(self.every_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


# ------------------------------------------------------------- leak probe


class LeakProbe:
    """Counts what a request left behind, then removes it."""

    def __init__(self, spark, tmp_dir: str):
        self.spark, self.tmp_dir = spark, tmp_dir
        self.reset_baseline()

    def reset_baseline(self) -> None:
        self.tmp = set(os.listdir(self.tmp_dir))
        self.tables = self._tables()
        self.conf = dict(self.spark.conf.getAll)
        self.rdds = set(self._persisted())

    def _tables(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables()}

    def _persisted(self) -> dict:
        return dict(self.spark.sparkContext._jsc.getPersistentRDDs())

    def sweep(self, keeps_state: bool = False) -> dict[str, int]:
        """Count and remove what appeared since the baseline.  RDDs that a
        state-keeping request (a commit) persisted join the baseline."""
        new_tmp = set(os.listdir(self.tmp_dir)) - self.tmp
        for name in new_tmp:
            path = os.path.join(self.tmp_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        new_tables = self._tables() - self.tables
        for name in new_tables:
            if not self.spark.catalog.dropTempView(name):
                self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        conf = dict(self.spark.conf.getAll)
        changed = [k for k in set(conf) | set(self.conf) if conf.get(k) != self.conf.get(k)]
        for k in changed:
            if k in self.conf:
                self.spark.conf.set(k, self.conf[k])
            else:
                self.spark.conf.unset(k)
        persisted = self._persisted()
        new_rdds = [rid for rid in persisted if rid not in self.rdds]
        if keeps_state:
            self.rdds.update(new_rdds)
            new_rdds = []
        for rid in new_rdds:
            persisted[rid].unpersist(True)
        counts = (len(new_tmp), len(new_tables), len(new_rdds), len(changed))
        return dict(zip(LEAK_KEYS, counts))


# ----------------------------------------------------------------- runner


class Context:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed


def run_request(req, probe, tracer, rid: int) -> dict:
    if tracer is not None:
        tracer.request = rid
    marks: dict[str, float] = {}
    t0 = time.time()
    answer = error = None
    ok = False
    try:
        answer = req.fn(lambda: marks.setdefault("built", time.time()))
    except Exception:  # a failed request is counted, not fatal
        error = traceback.format_exc(limit=5)
    t1 = time.time()  # the answer check is not part of the latency
    if error is None:
        try:
            ok = bool(req.check(answer))
        except Exception:
            error = traceback.format_exc(limit=5)
    leaks = probe.sweep(req.keeps_state)
    rec = dict(
        id=rid, name=req.name, kind=req.kind, start=t0, built=marks.get("built"),
        end=t1, ms=(t1 - t0) * 1e3, ok=ok, events=req.events, leaks=leaks,
        stats=req.stats,
    )
    if error:
        rec["error"] = error
        print(json.dumps({"request_failed": rec}), file=sys.stderr)
    elif not ok:
        print(json.dumps({"wrong_answer": req.name}), file=sys.stderr)
    return rec


def start_session(work: str, cores: int, trace: bool):
    from graphdb_for_drones_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Py4JError:  # already gone: the stdin close below still applies
        pass
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def pctl_tail(values: list[float], beyond: int = 10):
    """Highest percentile with at least ``beyond`` samples above it."""
    xs = sorted(values)
    if len(xs) <= beyond:
        return None
    k = len(xs) - beyond - 1
    return xs[k], round(100.0 * (k + 1) / len(xs), 1), len(xs)


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(recs, setup_s, peak_mb, measured_s) -> tuple[dict, dict]:
    """(result-object metrics, full report) from the untraced passes."""
    ms = [r["ms"] for r in recs]
    by_kind = lambda k: [r for r in recs if r["kind"] == k]  # noqa: E731
    # a pass's time, from each request's median latency over the passes
    names = {r["name"] for r in recs}
    pass_p50_s = sum(median([r["ms"] for r in recs if r["name"] == n]) for n in names) / 1e3
    headline = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_p50_s, "s"),
    }
    report = dict(headline)
    # the process tree's peak memory swung by 1.5 GB between runs of the
    # same code (forked Python workers, JVM heap growth), more than a
    # bound could allow, so it is reported, not a result
    report["peak_rss_mb"] = (peak_mb, "MB")
    # one request per pass on graph_traversal, four of different kinds on
    # write_path: a pooled median adds nothing to pass_s on the first and
    # jumps between kinds on the second, so it is reported, not a result
    report["request_p50_ms"] = (median(ms), "ms")
    report["failed_frac"] = (sum(not r["ok"] for r in recs) / max(1, len(recs)), "fraction")
    queries = [r["ms"] for r in by_kind("query")]
    if queries:
        report["query_p50_ms"] = (median(queries), "ms")
        tail = pctl_tail(queries)
        if tail:
            report["query_tail_ms"] = (tail[0], "ms", {"percentile": tail[1], "samples": tail[2]})
    if by_kind("commit"):
        report["commit_p50_ms"] = (median([r["ms"] for r in by_kind("commit")]), "ms")
        report["read_after_commit_p50_ms"] = (median([r["ms"] for r in by_kind("read")]), "ms")
        report["rounds_per_s"] = (len(by_kind("commit")) / measured_s, "1/s")
    if by_kind("cdc"):
        rs = by_kind("cdc")
        report["recovery_drain_ev_per_s"] = (sum(r["events"] for r in rs) / (sum(r["ms"] for r in rs) / 1e3), "ev/s")
    if by_kind("drain"):
        report["stream_drain_p50_ms"] = (median([r["ms"] for r in by_kind("drain")]), "ms")
    return headline, report


def trace_overhead(order: list[bool], pass_s: dict) -> float:
    """Median over traced passes of the traced pass time over the mean of
    the untraced passes just before and after it."""
    seq, k = [], {False: 0, True: 0}
    for traced in order:
        seq.append((traced, pass_s[traced][k[traced]]))
        k[traced] += 1
    return median(
        [t / ((seq[i - 1][1] + seq[i + 1][1]) / 2) for i, (traced, t) in enumerate(seq) if traced]
    )


def per_layer(traced_recs, n_traced, overhead, tracer, jobs, stages,
              stream_batches, cores) -> tuple[dict, dict]:
    """(result-object per-layer metrics, per-request detail), per traced pass."""
    from layertrace import KERNELS, PHASES, layer_totals, self_times, spark_totals, stream_totals

    ids = {r["id"] for r in traced_recs}
    spans = [s for s in tracer.spans if s.request in ids]
    totals = layer_totals(spans)
    windows = [(r["start"], r["built"], r["end"]) for r in traced_recs]
    totals.update(spark_totals(jobs, stages, windows, cores))
    drain_windows = [(r["start"], r["built"], r["end"]) for r in traced_recs if r["kind"] == "drain"]
    totals.update(stream_totals(stream_batches, drain_windows))
    totals["plans.build_ms"] = sum((r["built"] - r["start"]) * 1e3 for r in traced_recs if r["built"])
    totals["plans.exec_ms"] = sum((r["end"] - r["built"]) * 1e3 for r in traced_recs if r["built"])

    names = [
        "plans.build_ms", "plans.exec_ms",
        "spark.jobs", "spark.jobs_in_build", "spark.stages", "spark.tasks",
        *(f"graph_algorithms.{k}_{s}" for k in KERNELS for s in ("ms", "calls")),
        "traversal.ms", "traversal.calls",
        "pin.calls", "pin.ms", "pin.local_checkpoints", "pin.bypass",
        "snapshot.commit_ms", "mutation.redelegate_calls",
        "cdc.encode_ms", "cdc.parse_ms", "cdc.apply_ms", "cdc.poll_ms", "cdc.batches",
        *(f"streaming.{p}_ms" for p in PHASES),
        "streaming.batches", "streaming.state_rows", "streaming.startup_ms",
        "spark.executor_cpu_ms", "spark.executor_run_ms", "spark.gc_ms",
        "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.failed_tasks",
    ]
    units = lambda n: "ms" if n.endswith("ms") else "MB" if n.endswith("_mb") else "count"  # noqa: E731
    metrics = {n: (totals.get(n, 0.0) / n_traced, units(n)) for n in names}
    # a ratio, and leaks per request, rather than totals per pass
    metrics["spark.core_util"] = (totals["spark.core_util"], "ratio")
    for key in LEAK_KEYS:
        metrics[key] = (sum(r["leaks"][key] for r in traced_recs) / max(1, len(traced_recs)), "count")
    # rows the commits wrote (their version files' row counts) over the
    # rows the rounds re-pointed
    commits = [r for r in traced_recs if r["kind"] == "commit"]
    changed = sum(r["stats"]["rows_changed"] for r in commits)
    written = sum(r["stats"]["rows_written"] for r in commits)
    metrics["mutation.rows_rewritten_per_row_changed"] = (written / changed if changed else 0.0, "ratio")
    metrics["trace.overhead"] = (overhead, "ratio")

    # per-request detail: build/exec split, jobs and layer self times for
    # each request, micro-batch phases for each drain (medians over passes)
    detail: dict[str, dict] = {}
    for r in traced_recs:
        win = [(r["start"], r["built"], r["end"])]
        sp = spark_totals(jobs, stages, win, cores)
        row = {
            "ms": r["ms"],
            "build_ms": ((r["built"] or r["end"]) - r["start"]) * 1e3,
            "exec_ms": (r["end"] - (r["built"] or r["end"])) * 1e3,
            "jobs": sp["spark.jobs"],
            "jobs_in_build": sp["spark.jobs_in_build"],
            "tasks": sp["spark.tasks"],
        }
        row.update({f"self_ms.{k}": v for k, v in self_times([s for s in spans if s.request == r["id"]]).items()})
        if r["kind"] == "drain":
            row.update(stream_totals(stream_batches, win))
        for k, v in row.items():
            detail.setdefault(r["name"], {}).setdefault(k, []).append(v)
    detail = {n: {k: median(v) for k, v in d.items()} for n, d in detail.items()}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphdb_for_drones_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, sub))
    cores = nproc()
    # every temp file of the engine, Spark and the JVM lands in the work dir
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = None
    try:
        return measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str, cores: int) -> int:
    import pyspark

    import scenarios as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    host = {
        "nproc": cores,
        "load1_before": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }
    rss = RssSampler()
    rss.start()
    rng = random.Random(args.seed)

    marks = {"imported": time.time()}
    t0 = time.time()
    spark = start_session(work, cores, trace)
    session_s = time.time() - t0
    try:
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        ctx = Context(spark, work, args.seed)
        workload = wl.make(args.workload, ctx, wl.SMOKE if args.smoke else wl.BENCH, rng)
        listener = None
        if trace:
            from layertrace import make_stream_listener

            listener = make_stream_listener()
            spark.streams.addListener(listener)
        t0 = time.time()
        workload.stage()
        stage_s = time.time() - t0
        probe = LeakProbe(spark, os.path.join(work, "tmp"))

        # warm-up pass: also the oracle check of every answer
        t0 = time.time()
        warm = [run_request(r, probe, None, -1 - i) for i, r in enumerate(workload.pass_requests())]
        oracle_s = workload.oracle_s
        setup_s = session_s + stage_s + (time.time() - t0) - oracle_s
        probe.reset_baseline()
        marks["set_up"] = time.time()

        from layertrace import Tracer

        tracer = Tracer() if trace else None
        recs = {False: [], True: []}
        pass_s = {False: [], True: []}
        order: list[bool] = []  # traced or not, pass by pass
        t_measure = time.time()
        rid = 0
        while True:
            # with --trace 1 untraced and traced passes alternate, starting
            # and ending untraced, so each traced pass has an untraced one
            # on either side
            traced = trace and bool(order) and not order[-1]
            order.append(traced)
            if traced:
                tracer.install()
            done = []
            for req in workload.pass_requests():
                done.append(run_request(req, probe, tracer if traced else None, rid))
                rid += 1
            recs[traced] += done
            # the engine's time: the leak probe's sweeps are left out
            pass_s[traced].append(sum(r["ms"] for r in done) / 1e3)
            if traced:
                tracer.uninstall()
                continue
            # whole passes until --seconds have passed and at least
            # MIN_PASSES untraced ones are done (a traced run also needs one
            # traced pass)
            if time.time() - PROCESS_START > TIME_CAP_S:
                break
            if trace and not pass_s[True]:
                continue
            if time.time() - t_measure >= args.seconds and len(pass_s[False]) >= MIN_PASSES:
                break
        measured_s = sum(pass_s[False])
        if trace:
            jvm_sc = spark.sparkContext._jsc.sc()
            jvm_sc.listenerBus().waitUntilEmpty(10_000)
    finally:
        peak_mb = rss.stop()
        t_stop = time.time()
        stop_session(spark)
    marks["measured"], marks["stopped"] = t_stop, time.time()
    host["load1_after"] = os.getloadavg()[0]
    print(json.dumps({"host": host}))

    headline, report = end_to_end(recs[False], setup_s, peak_mb, measured_s)
    report["setup_parts_s"] = {
        "session": session_s, "stage": stage_s, "oracle_excluded": oracle_s,
    }
    all_recs = warm + recs[False] + recs[True]
    if trace:
        from layertrace import read_event_log

        jobs, stages = read_event_log(os.path.join(work, "eventlog"))
        headline, detail = per_layer(
            recs[True], len(pass_s[True]), trace_overhead(order, pass_s),
            tracer, jobs, stages, listener.batches, cores,
        )
        report = {**report, **headline, "per_request": detail}
    report["passes_s"] = {"untraced": pass_s[False], "traced": pass_s[True]}
    report["request_ms"] = {}
    for r in recs[False]:
        report["request_ms"].setdefault(r["name"], []).append(r["ms"])
    report["process_s"] = {k: v - PROCESS_START for k, v in marks.items()}
    report["warm_up_ms"] = [(r["name"], r["ms"]) for r in warm]
    print(json.dumps({"report": report}, default=float))

    failed = sum(not r["ok"] for r in all_recs)
    result = {
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in headline.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
