"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers itself here with its key and
(when oracle-able) the DuckDB-dialect ANSI SQL the driver runs side-by-side.
``__spark_entry__.py`` simply re-exports these dicts.

Driver window: the driver's correctness harness hash-checks only the
FIRST 50 keys of ``queries()`` and records the result in
``CORRECTNESS_r{N}.json`` at the repo root.  Those ledgers are this
registry's stored offsets — ``ordered_queries()`` reads them on every
call and puts the oracle keys with the stalest hard-green row first, so
committing round N's ledger rotates round N+1's window with no edit here.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}

#: Where the driver's ``CORRECTNESS_r*.json`` ledgers live (the repo root).
LEDGER_DIR = Path(__file__).resolve().parents[2]

#: Re-proof register: keys whose semantics changed AFTER their newest
#: hard CORRECTNESS row, so ledger rows up to and including the named
#: round prove SUPERSEDED semantics and the key counts as never-proven
#: until a newer row lands.  The ledgers cannot show a semantics change,
#: so this is the one hand-kept input to the window order.  An entry is
#: inert once a newer row lands; tests/test_registry.py then asks for it
#: to be pruned (dedup_semantic's r13 entry, pruned after
#: CORRECTNESS_r14, is the precedent).
REPROOF_VOID: dict[str, int] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``key`` with optional oracle SQL.

    Oracle-authoring rules (SURVEY.md §5.1 — learned dialect gap):
    alias every computed column identically on both sides; exact DECIMAL
    arithmetic for money sums; ROUND(...,N) floats on BOTH sides; UTC tz.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE_SQL[key] = oracle
        return fn

    return deco


def _newest_hard_rounds() -> dict[str, int]:
    """key → newest round whose ledger row is a hard (hash-match) green."""
    newest: dict[str, int] = {}
    for path in LEDGER_DIR.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.rsplit("_r", 1)[1])
        for key, row in json.loads(path.read_text()).items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def ordered_queries() -> dict[str, QueryFn]:
    """Registry in driver-window order, derived from the ledgers.

    Stable sort of ``QUERIES`` by: oracle keys before rows-only keys;
    then newest hard-green round, ascending (never-proven keys and keys
    voided by ``REPROOF_VOID`` count as round 0); then registration order.
    """
    newest = _newest_hard_rounds()

    def rank(key: str) -> tuple[bool, int]:
        rnd = newest.get(key, 0)
        if rnd <= REPROOF_VOID.get(key, -1):
            rnd = 0  # the proven semantics were superseded
        return key not in ORACLE_SQL, rnd

    return {k: QUERIES[k] for k in sorted(QUERIES, key=rank)}
