"""Window total-order audit CLI: sweep every registered BATCH query's
optimized plan for tie-sensitive window functions (ROW_NUMBER / NTILE /
LAG / LEAD / NTH_VALUE / order-dependent or bounded-ROWS aggregates) and
PROVE each such spec's ordering is total on the given fixture — the
mechanized form of the r11 eval_rbo tie hazard (SURVEY §8).

The policy (sensitivity classification, allowlist) lives in
``spark_streaming_kafka_offset_spark.plans.window_audit`` and the sweep
loop and skip prefixes in ``plans.audit`` — the SAME modules
tests/test_plans.py asserts against, so the tool and the CI gate cannot
drift (the plans/audit.py lesson, VERDICT r5 #2).

Usage: python tools/audit_windows.py [sf_dir] [key ...]
Exit code 1 if any spec has ties and is not allowlisted (CI-able).
Run at sf0.1 per round: uniqueness at a small SF does not imply it at a
bigger one — the hazard class was CAUGHT at sf0.1 after passing sf0.01.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    from spark_streaming_kafka_offset_spark.plans.window_audit import (
        audit_windows,
    )
    from spark_streaming_kafka_offset_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    unexplained = audit_windows(
        get_spark(), sf_dir, keys=args or None, report=print
    )
    n = len(unexplained)
    print(f"\nwindow audit {'FAILED' if n else 'clean'} ({n} unexplained)")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main())
