"""Aggregate determinism audit CLI: sweep every registered BATCH
query's optimized plan for SUM/AVG-over-DOUBLE accumulation (IEEE
order-dependent — the engines never add in the same order) and
collect_list/collect_set sites (partition-arrival array order), and
fail on any site without a reviewed reason — the r12 companion to
tools/audit_windows.py, one level down (Aggregate instead of Window).

The policy (site classification, allowlists with reviewed reasons)
lives in ``spark_streaming_kafka_offset_spark.plans.agg_audit`` and the
sweep loop and skip prefixes in ``plans.audit`` — the SAME modules
tests/test_plans.py asserts against (the plans/audit.py anti-drift
lesson, VERDICT r5 #2).

Usage: python tools/audit_aggregates.py [sf_dir] [key ...]
Exit code 1 if any non-allowlisted site fires (CI-able).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    from spark_streaming_kafka_offset_spark.plans.agg_audit import (
        audit_aggregates,
    )
    from spark_streaming_kafka_offset_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = (
        args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.001"
    )
    unexplained = audit_aggregates(
        get_spark(), sf_dir, keys=args or None, report=print
    )
    n = len(unexplained)
    print(f"\naggregate audit {'FAILED' if n else 'clean'} ({n} unexplained)")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main())
