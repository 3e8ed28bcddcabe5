"""Meta-test: every catalog query has a second-witness test (round-4
verdict ask #4, made structural).

Round 4 shipped two bugs (Durbin-Watson, Gumbel) that were ORACLE-GREEN
and answer-wrong — the Spark plan and its DuckDB twin share an author,
so mirrored algebra survives the hash gate. Python replay tests caught
both. This test makes that second witness mandatory: every name in the
query catalog must appear in some test module other than the driver-
contract test (and this file), or sit on the documented exemption list
below.

The check is a name scan with IDENTIFIER boundaries ([a-z0-9_] on
either side disqualifies a hit), deliberately: a replay/property test
that never names the query it certifies is not discoverable evidence;
the boundary requirement stops a longer name from covering its
substring (personalized_pagerank_knn must not certify pagerank_knn —
the exact loophole a round-5 review found live). A test-function name
like test_pagerank_knn_replay does NOT count (underscore-adjacent);
the call it contains — run(spark, "pagerank_knn") or
pagerank_knn(spark, ...) — does.
"""

from __future__ import annotations

import pathlib
import re

import __spark_entry__ as m

# Files that may mention every catalog name without being evidence of a
# replay: the driver-contract test (lists the window), and this file.
_NON_EVIDENCE = {"test_entry_contract.py", "test_replay_coverage.py"}

# Queries exempted from the replay-test requirement, each with a reason.
# Keep this list SHORT (<20 per the round-4 verdict); new catalog queries
# must ship with a replay/property test, not an exemption.
EXEMPT: dict[str, str] = {}


def _test_blob() -> str:
    here = pathlib.Path(__file__).parent
    return "".join(
        p.read_text()
        for p in here.glob("*.py")
        if p.name not in _NON_EVIDENCE
    )


def _named(name: str, blob: str) -> bool:
    return re.search(rf"(?<![a-z0-9_]){re.escape(name)}(?![a-z0-9_])", blob) is not None


def test_every_catalog_query_has_a_replay_or_property_test():
    blob = _test_blob()
    catalog = list(m.queries())
    missing = [n for n in catalog if not _named(n, blob) and n not in EXEMPT]
    assert not missing, (
        f"{len(missing)} catalog queries have no replay/property test and "
        f"no documented exemption: {missing}"
    )


def test_exemption_list_stays_short_and_live():
    assert len(EXEMPT) < 20, "exemption list must stay under 20"
    catalog = set(m.queries())
    stale = [n for n in EXEMPT if n not in catalog]
    assert not stale, f"exemptions for queries no longer in the catalog: {stale}"
    blob = _test_blob()
    covered = [n for n in EXEMPT if _named(n, blob)]
    assert not covered, f"exemptions that now HAVE tests (remove them): {covered}"
