"""Window total-order audit — the r11 ROW_NUMBER-tie hazard, mechanized.

SURVEY §8 (r11) records the hazard class this module closes: the
fixture's (l_orderkey, l_linenumber) is NOT unique at sf0.1, so a
window ordered by a column list ASSUMED unique is non-total, and every
tie-sensitive window function (ROW_NUMBER, NTILE, LAG/LEAD, bounded
ROWS frames) becomes engine-arbitrary on the ties — eval_ndcg/eval_mrr/
eval_map passed three-SF parity BY LUCK until eval_rbo's 2-ppm
divergence surfaced it.  The fix pattern (append the remaining value
column until the ordering is total) is easy; KNOWING where it is needed
is the hard part.  This audit makes that mechanical:

1. walk every registered query's OPTIMIZED logical plan for Window
   nodes (the same introspection posture as plans/audit.py, one level
   deeper: structured nodes instead of plan strings);
2. classify each window function as tie-sensitive or tie-insensitive
   (a RANK/RANGE-frame/whole-partition aggregate cannot see tie order;
   a ROW_NUMBER/NTILE/LAG/LEAD/bounded-ROWS aggregate can);
3. for every spec that carries at least one tie-sensitive function,
   PROVE totality on the actual fixture: group the window's own child
   (reconstructed as a DataFrame via Dataset.ofRows) by
   partitionSpec ∪ orderSpec and assert the max group size is 1.

A spec that fails totality is a latent cross-engine divergence even if
parity is green today — the ledgers only prove the engines happened to
agree on THIS physical layout.  tests/test_plans.py runs the sweep;
tools/audit_windows.py is the CLI twin.  No allowlist is seeded: a
reviewed exception must argue why tie order provably cannot reach the
output (and say so here).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from .audit import _simple, sweep, walk

#: window functions whose OUTPUT differs when equal-order rows swap.
TIE_SENSITIVE_FNS = {"RowNumber", "NTile", "Lag", "Lead", "NthValue"}

#: rank-family functions where peers share one output value — immune.
TIE_INSENSITIVE_FNS = {"Rank", "DenseRank", "PercentRank", "CumeDist"}

#: aggregate functions that read ROW ORDER even over a whole-partition
#: frame (first/last/positional collection).
ORDER_DEPENDENT_AGGS = {"First", "Last", "CollectList", "CollectSet"}

#: key → reviewed reason a non-total tie-sensitive spec is acceptable.
#: The fix (append a tie-breaking column) is always available; an entry
#: here needs a PROOF that tie order cannot reach the operator's
#: output, not a "parity is green" observation.
TOTAL_ORDER_ALLOWED: dict[str, str] = {
    # Sweep-line running sum: rows tied under (day, sec, delta) are
    # IDENTICAL rows and the summand IS delta, so every permutation of
    # a tie group produces the same running-sum value at each position
    # (equal addends); the emitted MAX over those values is invariant.
    # The proof is also in the op's docstring ("equal-(sec,delta)
    # groups are same-sign").
    "events_peak_concurrency": "ties are identical (sec, delta) rows "
    "with equal addends - the running-sum multiset is "
    "permutation-invariant, so MAX(conc) cannot see tie order",
    # Median-by-rank-select: row_number picks rank (m+1) div 2 and the
    # projection keeps ONLY the ordering column (w2 / c).  The k-th
    # order statistic of a multiset is tie-permutation-invariant, and
    # tied rows agree on every projected attribute, so WHICH tied row
    # wins rank k is unobservable downstream.
    "events_hodges_lehmann_daily": "rank-select of the ordering key "
    "only (lower-median order statistic); tied rows are "
    "indistinguishable in the projected column",
}

def _frame_is_whole_partition(frame) -> bool:
    if _simple(frame) != "SpecifiedWindowFrame":
        return False
    return (
        _simple(frame.lower()) == "UnboundedPreceding"
        and _simple(frame.upper()) == "UnboundedFollowing"
    )


def _frame_is_range(frame) -> bool:
    return (
        _simple(frame) == "SpecifiedWindowFrame"
        and _simple(frame.frameType()) == "RangeFrame"
    )


def classify_fn(win_expr) -> tuple[str, bool]:
    """(function label, tie_sensitive?) for one WindowExpression.

    Tie-sensitive: the function's output on at least one row can change
    when rows equal under the orderSpec are permuted.
    """
    fn = win_expr.windowFunction()
    name = _simple(fn)
    if name in TIE_SENSITIVE_FNS:
        return name, True
    if name in TIE_INSENSITIVE_FNS:
        return name, False
    if name == "AggregateExpression":
        agg = _simple(fn.aggregateFunction())
        frame = win_expr.windowSpec().frameSpecification()
        if agg in ORDER_DEPENDENT_AGGS:
            return agg, True
        if _frame_is_range(frame) or _frame_is_whole_partition(frame):
            # RANGE frames admit all order-peers together; an unbounded
            # ROWS frame sees the whole partition — commutative
            # aggregates cannot observe tie order in either case.
            return agg, False
        # bounded ROWS frame: the row SET in-frame at a tie row depends
        # on tie order, so even SUM/MIN/MAX are position-dependent.
        return f"{agg}[rows-frame]", True
    # unknown function (e.g. a future offset fn): conservative.
    return name, True


def iter_sensitive_specs(df):
    """Yield one dict per distinct window spec in ``df``'s optimized
    plan that carries ≥1 tie-sensitive function.  Dedupes by
    (child, partition, order) text."""
    opt = df._jdf.queryExecution().optimizedPlan()
    seen: set[tuple[str, str, str]] = set()
    for w in walk(opt):
        if _simple(w) != "Window":
            continue
        parts = [
            w.partitionSpec().apply(i)
            for i in range(w.partitionSpec().size())
        ]
        orders = [
            w.orderSpec().apply(i) for i in range(w.orderSpec().size())
        ]
        fns: list[str] = []
        for i in range(w.windowExpressions().size()):
            for wx in walk(w.windowExpressions().apply(i), subqueries=False):
                if _simple(wx) != "WindowExpression":
                    continue
                label, sensitive = classify_fn(wx)
                if sensitive:
                    fns.append(label)
        if not fns:
            continue
        key = (
            w.child().toString(),
            ";".join(p.toString() for p in parts),
            ";".join(o.toString() for o in orders),
        )
        if key in seen:
            continue
        seen.add(key)
        yield {
            "window": w,
            "functions": sorted(set(fns)),
            "partition": [p.toString() for p in parts],
            "order": [o.toString() for o in orders],
        }


def check_spec_totality(spark, spec) -> tuple[int, int]:
    """(max_group_size, n_groups) of the spec's child grouped by
    partition ∪ order expressions — 1 max means the ordering is total
    on this fixture."""
    from pyspark.sql import functions as F
    from pyspark.sql.column import Column as PyCol
    from pyspark.sql.dataframe import DataFrame as PyDF

    jvm = spark._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils
    ds = jvm.org.apache.spark.sql.classic.Dataset
    w = spec["window"]
    child = PyDF(ds.ofRows(spark._jsparkSession, w.child()), spark)
    exprs = [
        w.partitionSpec().apply(i) for i in range(w.partitionSpec().size())
    ]
    exprs += [
        w.orderSpec().apply(i).child()
        for i in range(w.orderSpec().size())
    ]
    cols = [PyCol(eu.column(e)) for e in exprs]
    row = (
        child.groupBy(*cols)
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    return int(row.mx), int(row.n)


def audit_windows(
    spark,
    sf_dir: str,
    keys: Iterable[str] | None = None,
    report: Callable[[str], None] | None = None,
    frames: dict | None = None,
) -> list[tuple[str, str]]:
    """Sweep registered batch queries; return (key, detail) pairs whose
    tie-sensitive window specs are NOT total on ``sf_dir``'s fixture
    and are not on the reviewed allowlist.  Empty list == clean.
    ``frames`` shares one query-construction pass across sweeps (see
    plans.audit.sweep)."""

    def check(key: str, df, say: Callable[[str], None]) -> list[str]:
        flagged = []
        # list(): a plan-walk error must surface (as one ERR) before any
        # totality job runs
        for spec in list(iter_sensitive_specs(df)):
            try:
                mx, n = check_spec_totality(spark, spec)
            except Exception as e:  # noqa: BLE001
                say(f"ERR   {key}: {type(e).__name__}: {e}")
                flagged.append("ERR")
                continue
            detail = (
                f"{'/'.join(spec['functions'])} over "
                f"partition={spec['partition']} order={spec['order']}"
            )
            if mx == 1:
                say(f"ok    {key}: total ({n} rows) {detail}")
            elif key in TOTAL_ORDER_ALLOWED:
                say(
                    f"ok    {key}: NON-TOTAL allowed "
                    f"({TOTAL_ORDER_ALLOWED[key]}) {detail}"
                )
            else:
                say(f"FLAG  {key}: max tie group {mx} — {detail}")
                flagged.append(f"ties(max={mx}): {detail}")
        return flagged

    return sweep(spark, sf_dir, check, keys, report, frames)
