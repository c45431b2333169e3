"""Benchmark entry point.

    python3 perfbench/run.py --workload typed_gate --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints per-metric lines on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Exits non-zero without a result when the
``sparkschema`` package or a required tool is missing.
"""

from __future__ import annotations

import sys

from common import use_checkout


def main() -> int:
    use_checkout()
    try:
        import duckdb  # noqa: F401  the typed_gate oracle
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
        import sparkschema  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import {e.name}: run from a checkout of "
              f"the repository", file=sys.stderr)
        return 2

    import harness
    from workloads import WORKLOADS

    return harness.main(WORKLOADS, sys.argv[1:])


if __name__ == "__main__":
    sys.exit(main())
