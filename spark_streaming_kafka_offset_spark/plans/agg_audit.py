"""Aggregate determinism audit — float accumulation and collection
order, mechanized (the r12 companion to plans/window_audit.py).

Two aggregate-level hazards are invisible to oracle parity until they
flake on a boundary case (the eval_rbo lesson, one level down):

1. **SUM/AVG over DOUBLE.**  IEEE addition is not associative, so a
   float sum's ulps depend on partition count, merge-tree shape, and
   row arrival order — and the two engines never add in the same
   order.  The house discipline is integer/DECIMAL accumulation with
   terminal division (the KW e6/e12 floors); every float-sum site that
   remains must be REVIEWED: bounded-frame (≤k terms) with ROUND
   absorption, or exactly-representable summands.  A new corpus-grain
   float sum is a latent cross-engine divergence and fails the gate.

2. **collect_list / collect_set.**  Array content order is partition-
   arrival order — nondeterministic.  Safe only when the collection is
   immediately sorted (``array_sort(collect_...)``) or consumed
   order-insensitively (``array_intersect``/``size``).  Every site
   must be reviewed.

The sweep walks every registered batch query's OPTIMIZED plan (the
plans/audit.py posture, at expression grain inside Aggregate AND
Window nodes — windowed float sums carry the same cross-engine ulp
hazard, since DuckDB's segment-tree frames need not associate the
additions like Spark's per-row folds; ADVICE r12 #1 closed the
original Aggregate-only blind spot), inventories the sites, and fails
on any key not in the allowlists.
tests/test_plans.py runs the sweep; tools/audit_aggregates.py is the
CLI twin.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from .audit import _simple, sweep, walk

#: key → reviewed reason its SUM/AVG-over-double sites are acceptable.
#: Reason classes: BOUNDED (≤k-term rollup frame, ROUND-absorbed ulps),
#: EXACT (summands and partial sums exactly representable — order-free
#: by IEEE), FANIN (corpus-grain fan-in accepted with attribution).
FLOAT_SUM_ALLOWED: dict[str, str] = {
    "agg_entropy_categorical": "BOUNDED: Σ c·ln c over the ≤|types| "
    "(5-row) category frame, ROUND(4)-absorbed",
    "events_bot_score": "BOUNDED: per-user Σ c·ln c over ≤|types| "
    "terms, ROUND(4)-absorbed",
    "events_user_day_entropy": "BOUNDED: per-(user,day) Σ c·ln c over "
    "≤|types| terms, ROUND(4)-absorbed",
    "agg_theil_inequality": "BOUNDED: Σ w·ln(w/f) over the "
    "≤|nations×bands| cell rollup, ROUND(6)-absorbed",
    "text_entropy": "BOUNDED: per-doc Σ p·log2 p over the doc's "
    "char-class frame, ROUND-absorbed",
    "agg_ljung_box": "BOUNDED: Σ over the 8-row lag dim of "
    "ROUND-floored autocorrelation terms",
    "agg_partial_corr": "BOUNDED: 1-row nine-moment reduce; the two "
    "double sums fold ≤9 exact-integer-derived terms",
    "docs_bradley_terry": "BOUNDED: per-iteration Σ n_ij/(s_i+s_j) "
    "over the ≤8-row band contest frame",
    "eval_brier_decomposition": "BOUNDED: Σ over the 10-row bin "
    "rollup of exact-integer-derived quotients, ROUND(6)-absorbed",
    "eval_pr_auc": "BOUNDED: trapezoid Σ over the RANGE-bounded "
    "(≤~500-row) score rollup, ROUND-absorbed",
    "events_lead_lag_cmh": "BOUNDED: Σ over the ≤|types|²×days "
    "calendar grid of e-scaled integer-derived terms",
    "events_markov_stationary": "BOUNDED: row-normalized iteration "
    "sums over the ≤|types|² (25-row) transition frame",
    "orders_croston_demand": "BOUNDED: Σ over the ≤150-row e12 "
    "literal weight dim per part (exact dyadic weights × integer "
    "demands)",
    "orders_diff_in_diff": "BOUNDED: 1-row 2×2 cell reduce of "
    "e6-integer-derived quotients",
    "orders_eoq": "BOUNDED: Σ over the ≤|brands|-row annualized "
    "demand frame, ROUND-absorbed",
    "orders_logrank_delay": "BOUNDED: Σ (d1 − E) over the latency-"
    "RANGE-bounded day rollup, ROUND(4)-absorbed",
    "orders_newsvendor": "BOUNDED: Σ over the ≤|brands×days| "
    "densified grid of integer-derived terms",
    "orders_price_elasticity": "BOUNDED: OLS sums over the "
    "calendar-bounded (price, demand) rollup",
    "q17_small_quantity": "EXACT: AVG of integer-valued-double "
    "l_quantity — summands and partial sums exactly representable "
    "below 2^53, order-free",
    "scan_schema_evolution": "EXACT: AVG over integer-valued doubles "
    "(schema-migrated column), order-free below 2^53",
    "text_stats": "EXACT: AVG of integer-valued-double per-doc "
    "counts, order-free below 2^53",
    "text_tokens": "EXACT: AVG of integer-valued-double token "
    "counts, order-free below 2^53",
    "graph_pagerank": "FANIN: per-node Σ of in-edge rank/out_deg "
    "contributions IS corpus-grain fan-in; contributions are "
    "dyadic-adjacent doubles, output ppm-floored, hash-stable since "
    "r6 across 12 parity rounds — accepted with attribution "
    "(BASELINE.md r9 pagerank note)",
    "graph_triangle_count": "BOUNDED: 1-row global coefficient "
    "reduce (the Σ is over the 1-row triangle/wedge scalar frame)",
    "text_textrank_keywords": "BOUNDED: per-iteration Σ of "
    "rank/out_deg over each word's vocab-graph in-edges (vocab-sized "
    "frame, top-k output rank-separated)",
    # -- windowed sites (r13: iter_sites now walks Window nodes too) --
    "corpus_psi_drift": "BOUNDED: win:Σ term OVER () over the "
    "densified fixed 10-bin frame, ROUND(6)-absorbed",
    "events_kaplan_meier": "BOUNDED: win:Σ ln(1−d/n) prefix sums over "
    "the ≤12-row duration-support rollup (fup spans 3..11 days), "
    "summed in the SAME duration order on both engines, ppm-floored",
    "agg_mutual_information": "BOUNDED: win:Σ c·pmi OVER () over the "
    "≤|x×y| contingency-cell rollup, ROUND-absorbed",
}

#: key → reviewed reason its collect_list/collect_set sites are safe.
COLLECT_ALLOWED: dict[str, str] = {
    "agg_collect": "array_sort(collect_set(..)) — sorted before any "
    "read (the op exists to demo exactly this discipline)",
    "agg_kmv_bottomk": "slice(array_sort(collect_list(h)), 1, K) — "
    "sorted before the slice, deterministic bottom-k",
    "corpus_dedup_rate_curve": "collected shingle arrays consumed "
    "set-wise (array_intersect/size) — content order never read",
    "dedup_containment": "shingle arrays consumed via "
    "array_intersect/size only — order never read",
    "dedup_ngram_jaccard": "shingle arrays consumed via "
    "array_intersect/size only — order never read",
    "events_pattern_match": "array_sort(collect_list(struct(ts, "
    "event_id, sym))) — total-ordered before the regex walk",
    "graph_triangle_count": "array_sort(collect_list(t)) adjacency "
    "arrays — sorted before intersection",
    "graph_clustering_coefficient": "array_sort(collect_list(t)) "
    "adjacency arrays — sorted before intersection",
    "sim_topk_pq": "rows-only op: codebook collect is sorted before "
    "quantization; recall gate in BENCH_ann20k",
    # -- windowed sites (r13: iter_sites now walks Window nodes too) --
    "win_median_sliding": "win:array_sort(collect_list(rev).over(w7)) "
    "— sorted before the median element_at, ≤7-value frame",
}

def _classify_exprs(exprs, tag: str):
    """Yield hazard sites from a Seq of named expressions.

    ``tag`` marks the hosting node kind ('' for Aggregate, 'win:' for
    Window) so a reviewer can tell a grouped sum from a windowed one.
    """
    for i in range(exprs.size()):
        for e in walk(exprs.apply(i), subqueries=False):
            name = _simple(e)
            if name in ("CollectList", "CollectSet"):
                yield "collect", f"{tag}{name}"
            elif name in ("Sum", "Average"):
                try:
                    dt = e.children().apply(0).dataType().toString()
                except Exception:  # noqa: BLE001
                    dt = "?"
                if "Double" in dt or "Float" in dt:
                    yield "float_sum", f"{tag}{name}({dt})"


def iter_sites(df):
    """Yield ('float_sum'|'collect', detail) for every hazardous
    aggregate expression in ``df``'s optimized plan.

    Walks BOTH Aggregate and Window nodes (ADVICE r12 #1): a windowed
    SUM/AVG over DOUBLE is evaluated over the sorted frame, but the two
    engines need not associate the additions identically (DuckDB's
    segment-tree sliding frames vs Spark's per-row folds), so windowed
    float sums carry the same cross-engine ulp hazard as grouped ones
    and must clear the same FLOAT_SUM_ALLOWED review.
    """
    opt = df._jdf.queryExecution().optimizedPlan()
    for node in walk(opt):
        kind = _simple(node)
        if kind == "Aggregate":
            yield from _classify_exprs(node.aggregateExpressions(), "")
        elif kind == "Window":
            yield from _classify_exprs(node.windowExpressions(), "win:")


def audit_aggregates(
    spark,
    sf_dir: str,
    keys: Iterable[str] | None = None,
    report: Callable[[str], None] | None = None,
    frames: dict | None = None,
) -> list[tuple[str, str]]:
    """Sweep registered batch queries; return (key, detail) pairs with
    non-allowlisted float-sum or collect sites.  Empty == clean.
    ``frames`` shares one query-construction pass across sweeps (see
    plans.audit.sweep)."""
    return sweep(spark, sf_dir, _check_sites, keys, report, frames)


def _check_sites(key: str, df, say: Callable[[str], None]) -> list[str]:
    flagged = []
    for kind, detail in sorted(set(iter_sites(df))):
        allow = FLOAT_SUM_ALLOWED if kind == "float_sum" else COLLECT_ALLOWED
        if key in allow:
            say(f"ok    {key}: {kind} {detail} allowed ({allow[key]})")
        else:
            say(f"FLAG  {key}: {kind} {detail}")
            flagged.append(f"{kind}:{detail}")
    return flagged
