"""Registry invariants — locks the driver-window evidence policy.

The driver hash-checks only the first 50 keys of ``queries()``, and
``ordered_queries()`` derives that order from the CORRECTNESS ledgers on
every call.  These tests make policy drift loud: a key missing from or
repeated in the order, a non-oracle key inside the 50-slot window, a
window that is not the stalest by the ledgers (checked here with an
independent ledger read), or a committed next-round ledger that does not
rotate the window each fail immediately.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from spark_streaming_kafka_offset_spark.plans import registry
from spark_streaming_kafka_offset_spark.plans.registry import (
    ORACLE_SQL,
    QUERIES,
    REPROOF_VOID,
    ordered_queries,
)

WINDOW = 50
ROOT = os.path.join(os.path.dirname(__file__), "..")


def _newest_hard_rounds(ledger_dir: str) -> dict[str, int]:
    """key → newest round with a hard (hash-match) ledger row; read
    independently of the registry so the freshness checks below are not
    a restatement of the code under test."""
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for key, row in json.load(open(path)).items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def _assert_window_is_stalest(window: list[str], newest: dict[str, int]) -> None:
    def effective(k: str) -> int:
        n = newest.get(k, 0)
        return 0 if n <= REPROOF_VOID.get(k, -1) else n

    outside = set(ORACLE_SQL) - set(window)
    max_in = max(effective(k) for k in window)
    min_out = min(effective(k) for k in outside)
    assert max_in <= min_out, (
        "window holds a fresher key than one left outside: "
        f"freshest-in-window={max_in} vs stalest-outside={min_out}; "
        f"over-fresh in-window keys="
        f"{sorted(k for k in window if effective(k) > min_out)}"
    )


def test_priority_covers_registry_exactly():
    keys = set(ordered_queries())
    assert keys == set(QUERIES), (
        f"missing from the driver order: {sorted(set(QUERIES) - keys)}; "
        f"not registered: {sorted(keys - set(QUERIES))}"
    )


def test_priority_has_no_duplicates():
    keys = list(ordered_queries())
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert len(keys) == len(set(keys)), f"repeated in the driver order: {dupes}"


def test_first_window_slots_are_all_oracle_backed():
    not_oracle = [k for k in list(ordered_queries())[:WINDOW] if k not in ORACLE_SQL]
    assert not not_oracle, (
        f"non-oracle keys inside the {WINDOW}-slot driver window would waste "
        f"hard-signal slots: {not_oracle}"
    )


def test_every_oracle_key_is_registered():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_survey_section2_enumerates_registry():
    """SURVEY §2 is the contract; the registry is the implementation —
    they must enumerate the SAME key set, 1:1 (VERDICT r4 #7).  Every
    first-column backticked key in a §2 table row must be a registered
    query and vice versa."""
    import re

    survey = open(os.path.join(ROOT, "SURVEY.md")).read()
    sec2 = survey.split("## 2. Operator inventory")[1].split("\n## 3.")[0]
    doc_keys = re.findall(r"^\| `([^`]+)`", sec2, re.M)
    assert len(doc_keys) == len(set(doc_keys)), "duplicate §2 rows"
    assert set(doc_keys) == set(QUERIES), (
        f"doc-only={sorted(set(doc_keys) - set(QUERIES))}, "
        f"registry-only={sorted(set(QUERIES) - set(doc_keys))}"
    )


def test_window_targets_stalest_oracle_keys():
    """Freshness rule (VERDICT r4 #2 / r5 #8): the 50-slot window must
    hold oracle keys whose effective newest hard row is no fresher than
    that of ANY oracle key left outside it.  Never-proven keys count as
    round 0, and keys named in REPROOF_VOID count as never-proven while
    their newest row is at or below the voided round — ledger rows
    proving superseded semantics are not evidence.  The old
    "never-proven ⊆ window ∪ deferred" clause is implied: a never-proven
    key left outside makes min_out 0, so the rule then demands an
    all-never-proven window."""
    newest = _newest_hard_rounds(ROOT)

    # an inert REPROOF_VOID entry (a row newer than the voided round has
    # landed) must be pruned, not accumulate
    for k, voided in REPROOF_VOID.items():
        assert k in ORACLE_SQL and newest.get(k, 0) <= voided, (
            f"REPROOF_VOID entry for {k} is inert (newest row "
            f"{newest.get(k, 0)} > voided {voided}); prune it"
        )

    _assert_window_is_stalest(list(ordered_queries())[:WINDOW], newest)


def test_next_round_ledger_rotates_window(tmp_path, monkeypatch):
    """Committing a ledger that hard-proves the current window moves the
    window to the next-stalest keys with no code edit; with no ledgers at
    all the window is the first 50 oracle keys in registration order."""
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    monkeypatch.setattr(registry, "LEDGER_DIR", tmp_path)
    old = list(ordered_queries())[:WINDOW]
    nxt = 1 + max(_newest_hard_rounds(str(tmp_path)).values())
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / f"CORRECTNESS_r{nxt}.json").write_text(
        json.dumps({k: row for k in old})
    )

    new = list(ordered_queries())[:WINDOW]
    assert not set(new) & set(old)
    _assert_window_is_stalest(new, _newest_hard_rounds(str(tmp_path)))

    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.setattr(registry, "LEDGER_DIR", empty)
    oracle_first = [k for k in QUERIES if k in ORACLE_SQL]
    assert list(ordered_queries())[:WINDOW] == oracle_first[:WINDOW]
