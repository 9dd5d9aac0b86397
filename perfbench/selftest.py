"""Self-test of the output checks and failure accounting (no Spark).

    python3 perfbench/selftest.py

Feeds each workload's output checks a correct output and a corrupted
copy of it, and checks that the harness counts the op with the corrupted
output, and only that op, as failed. Exits non-zero on the first miss.
"""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus_batch  # noqa: E402
import lake_cdc  # noqa: E402
from harness import Harness  # noqa: E402


class FeedRow(dict):
    """A collected change-feed row: read by column name."""


def _accounting(check_ok: bool) -> tuple[int, int]:
    h = Harness()
    h.start_pass()
    op_id, _ = h.timed("op", lambda: None)
    h.check(op_id, check_ok, "op: output check failed")
    h.check(op_id, check_ok, "op: checked twice, counted once")
    return h.attempted, h.failed


def _lake_cases():
    day = datetime.datetime(1996, 3, 4)
    us = int(day.timestamp() * 1e6)
    rows = {1: (1, 7, "F", 10.5, us, "1-URGENT"),
            2: (2, 8, "O", 20.25, us, "5-LOW")}
    hashes = {1: 111, 2: -222}
    scan = [("F", 1, 111), ("O", 1, -222)]
    yield "lake scan", lake_cdc.check_scan(scan, rows, hashes), True
    bad_scan = [("F", 1, 111), ("O", 1, -223)]
    yield "lake scan corrupted", lake_cdc.check_scan(
        bad_scan, rows, hashes), False

    before = [rows[1]]
    after = [rows[1][:3] + (11.5,) + rows[1][4:]]

    def feed(kind, price):
        return FeedRow(o_orderkey=1, o_custkey=7, o_orderstatus="F",
                       o_totalprice=price, o_orderdate=day,
                       o_orderpriority="1-URGENT", _change_type=kind)

    good = [feed("update_preimage", 10.5), feed("update_postimage", 11.5)]
    yield "lake feed", lake_cdc.check_feed(good, before, after), True
    bad = [feed("delete", 10.5), feed("insert", 11.25)]
    yield "lake feed corrupted", lake_cdc.check_feed(bad, before, after), \
        False
    yield "lake feed missing image", lake_cdc.check_feed(
        good[:1], before, after), False


def _corpus_cases():
    exact = set(range(1, 11))
    rows = [{"vec_id": i, "pq_sim": 1.0 - i / 100} for i in range(1, 11)]
    yield "ivf", corpus_batch.check_ivf(rows, exact), True
    low_recall = [{"vec_id": i + 100, "pq_sim": r["pq_sim"]}
                  for i, r in enumerate(rows)]
    yield "ivf low recall", corpus_batch.check_ivf(low_recall, exact), False
    with_query = [{"vec_id": 0, "pq_sim": 2.0}] + rows[:9]
    yield "ivf returns the query", corpus_batch.check_ivf(
        with_query, exact), False


def main() -> int:
    misses = []
    for name, got, want in [*_lake_cases(), *_corpus_cases()]:
        if got != want:
            misses.append(f"{name}: check returned {got}, expected {want}")
    if _accounting(True) != (1, 0):
        misses.append("a correct op was counted as failed")
    if _accounting(False) != (1, 1):
        misses.append("a corrupted output was not counted as one failed op")
    for m in misses:
        print("FAIL", m)
    print("selftest:", "ok" if not misses else f"{len(misses)} failed")
    return 1 if misses else 0


if __name__ == "__main__":
    sys.exit(main())
