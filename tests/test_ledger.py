"""Gate on the cumulative driver-correctness ledger.

LEDGER.json (built by scripts/make_ledger.py from the per-round
CORRECTNESS_r{N}.json files) is the ever-green record. These tests make
coverage regressions loud:

- a query the driver ever verified must still be registered (deleting a
  green query silently shrinks coverage);
- an oracle-backed green query must still carry an oracle (downgrading
  to rows-only silently weakens its check);
- a round-over-round driver regression (green then failed) fails CI.
"""

from __future__ import annotations

import json
import os

import pytest

from laser_hadoop_spark import registry
from scripts.make_ledger import ROOT, build_ledger


@pytest.fixture(scope="module")
def ledger():
    return build_ledger()


def test_ledger_file_is_current(ledger):
    """Assert-only freshness gate (round-3 ADVICE: a test that rewrote
    the tracked file could mask a stale committed ledger). When a new
    CORRECTNESS_r{N}.json lands, run ``python scripts/make_ledger.py``
    and commit the result; set LH_REGEN_LEDGER=1 to let this test do
    the regeneration explicitly."""
    path = os.path.join(ROOT, "LEDGER.json")
    if os.environ.get("LH_REGEN_LEDGER") == "1":
        with open(path, "w") as f:
            json.dump(ledger, f, indent=1)
            f.write("\n")
    # Round-boundary accommodation (round-6 VERDICT item 1, made
    # CONTENT-based per round-7 ADVICE — mtimes are arbitrary after git
    # checkout/rebase and could silently disable the staleness gate):
    # the driver writes CORRECTNESS_r{N}.json AFTER the builder session
    # closes, so the committed ledger cannot include it by construction.
    # Skip ONLY when the committed ledger is a faithful merge of exactly
    # the rounds it CLAIMS (rounds_merged) and the regenerated ledger
    # differs solely by rounds absent from that claim. Any other
    # difference is genuine staleness and fails.
    with open(path) as f:
        committed = json.load(f)
    if committed != ledger:
        claimed = committed.get("rounds_merged", [])
        new_rounds = sorted(set(ledger["rounds_merged"]) - set(claimed))
        if new_rounds and build_ledger(only_rounds=claimed) == committed:
            pytest.skip(
                f"LEDGER.json predates driver-written round(s) {new_rounds} "
                "(written after the session closed) but faithfully merges "
                "the rounds it claims; the next session opens with "
                "`python scripts/make_ledger.py`"
            )
    assert committed == ledger, (
        "LEDGER.json is stale — run `python scripts/make_ledger.py` "
        "(or re-run pytest with LH_REGEN_LEDGER=1) and commit it"
    )


def test_no_driver_regressions(ledger):
    assert ledger["regressions"] == []


def test_every_ledger_query_still_registered(ledger):
    specs = registry.specs()
    missing = [n for n in ledger["queries"] if n not in specs]
    assert not missing, f"driver-verified queries dropped from registry: {missing}"


def test_green_queries_keep_their_oracles(ledger):
    specs = registry.specs()
    downgraded = [
        n
        for n, e in ledger["queries"].items()
        if e["status"] == "green" and n in specs and specs[n].oracle is None
    ]
    assert not downgraded, f"oracle-backed green queries downgraded to rows-only: {downgraded}"


def test_driver_window_follows_ledger(ledger):
    """The driver verifies the first 50 entries of queries() order. The
    window is derived from the CORRECTNESS files, not hand-rotated:
    registered queries sorted by the last round that verified them
    (never verified = round 0), ties in registration order — so every
    never-verified query leads the window."""
    specs = registry.specs()
    last = {
        n: max(e["green_rounds"] + e["rows_only_rounds"] + e["failed_rounds"])
        for n, e in ledger["queries"].items()
    }
    window = list(registry.all_queries())[:50]
    assert window == sorted(specs, key=lambda n: last.get(n, 0))[:50]
    never = [n for n in specs if n not in last]
    assert window[: len(never)] == never[:50]
    assert sorted(registry.all_queries()) == sorted(specs)
