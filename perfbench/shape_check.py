#!/usr/bin/env python3
"""Compare datagen's tables with a reference set of the catalog tables.

    python3 perfbench/shape_check.py REFERENCE_DIR --sf 0.1 [--seed 7]

REFERENCE_DIR holds the ten ``<table>.parquet`` files at scale factor
``--sf``.  Prints, for the reference and for datagen's tables at the same
scale, the row count of every table and the shape of the trade graph the
graph entries run on: distinct customer-supplier pairs, the min / median /
max number of partners per customer and per supplier, the size of the
40-core ``trade_kcore`` returns (from its DuckDB oracle) and the number of
peel rounds after the initial degree filter; and the events the streamed
drain reads: distinct users, events per type (min / max) and the drain
entry's answer.  Not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
from graphdb_for_drones_spark.catalog import TABLES  # noqa: E402
from graphdb_for_drones_spark.plans import ORACLES  # noqa: E402

PAIRS = "SELECT DISTINCT o_custkey AS c, l_suppkey AS s FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
DEGREES = "SELECT MIN(n), MEDIAN(n), MAX(n) FROM (SELECT COUNT(*) AS n FROM pairs GROUP BY {})"
K = 40


def peel_rounds(con) -> int:
    """Peel rounds k_core runs after its initial degree filter."""
    und = "SELECT 'c' || c AS a, 's' || s AS b FROM pairs UNION ALL SELECT 's' || s, 'c' || c FROM pairs"
    con.sql(f"CREATE TEMP TABLE und AS {und}")
    con.sql(f"CREATE TEMP TABLE alive AS SELECT a AS id FROM und GROUP BY a HAVING COUNT(*) >= {K}")
    rounds = 0
    while con.sql("SELECT COUNT(*) FROM alive").fetchone()[0]:
        rounds += 1
        con.sql(
            "CREATE OR REPLACE TEMP TABLE nxt AS SELECT u.a AS id FROM und u "
            "JOIN alive x ON x.id = u.a JOIN alive y ON y.id = u.b "
            f"GROUP BY u.a HAVING COUNT(*) >= {K}"
        )
        same = con.sql("SELECT (SELECT COUNT(*) FROM nxt) = (SELECT COUNT(*) FROM alive)").fetchone()[0]
        con.sql("CREATE OR REPLACE TEMP TABLE alive AS SELECT * FROM nxt")
        if same:
            break
    return rounds


def shape(sf_dir: str) -> dict:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {t: con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in TABLES}
    con.sql(f"CREATE TEMP TABLE pairs AS {PAIRS}")
    out["trade_pairs"] = con.sql("SELECT COUNT(*) FROM pairs").fetchone()[0]
    out["partners_per_customer"] = list(con.sql(DEGREES.format("c")).fetchone())
    out["partners_per_supplier"] = list(con.sql(DEGREES.format("s")).fetchone())
    out["kcore_rows"] = len(con.sql(ORACLES["trade_kcore"]).fetchall())
    out["kcore_peel_rounds"] = peel_rounds(con)
    out["event_users"] = con.sql("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    out["events_per_type"] = list(
        con.sql("SELECT MIN(n), MAX(n) FROM (SELECT COUNT(*) AS n FROM events GROUP BY event_type)").fetchone()
    )
    out["event_funnel_streamed"] = sorted(con.sql(ORACLES["event_funnel_streamed"]).fetchall())
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("reference")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        ours = shape(datagen.write_tables(tmp, args.sf, args.seed))
    ref = shape(args.reference)
    for key in ref:
        print(json.dumps({"key": key, "reference": ref[key], "datagen": ours[key]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
