"""bench.py's printed result line: only the last 2000 characters of
its output are parsed, so the line must stay within MAX_LINE even when
the pinned names alone no longer fit."""

from __future__ import annotations

import json

import bench
from graphdb_for_drones_spark.plans import QUERIES


def _line_for(subset):
    # the shape of bench.main's line: a ~350-character header of
    # metrics and calibration figures around the printed timings
    return json.dumps(
        {"metric": "headline_v2 wall-clock", "header": "x" * 300, "queries": subset},
        separators=(",", ":"),
    )


def test_print_first_names_are_catalog_entries():
    assert set(bench.PRINT_FIRST) <= set(QUERIES)
    assert len(set(bench.PRINT_FIRST)) == len(bench.PRINT_FIRST)


def test_line_capped_when_pinned_names_overflow(capsys):
    timings = {name: 123456789.123 for name in QUERIES}  # 9-digit seconds
    assert len(_line_for({n: timings[n] for n in bench.PRINT_FIRST})) > bench.MAX_LINE
    line = bench.capped_line(timings, _line_for)
    assert len(line) <= bench.MAX_LINE
    printed = list(json.loads(line)["queries"])
    # a prefix of the pinned names; the rest are named on stderr
    assert printed == list(bench.PRINT_FIRST[: len(printed)])
    dropped = bench.PRINT_FIRST[len(printed):]
    assert dropped and ", ".join(dropped) in capsys.readouterr().err


def test_line_fills_with_headline_entries_when_room():
    timings = {name: 1.5 for name in QUERIES}
    line = bench.capped_line(timings, _line_for)
    printed = list(json.loads(line)["queries"])
    assert len(line) <= bench.MAX_LINE
    assert printed[: len(bench.PRINT_FIRST)] == list(bench.PRINT_FIRST)
    assert len(printed) > len(bench.PRINT_FIRST)
    extra = [n for n in bench.HEADLINE if n not in bench.PRINT_FIRST]
    assert printed[len(bench.PRINT_FIRST):] == extra[: len(printed) - len(bench.PRINT_FIRST)]
