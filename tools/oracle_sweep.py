"""Full-registry oracle sweep at an arbitrary SF dir (driver-contract
mirror, like tests/test_oracle_parity but pointable at sf0.01/sf0.1).

Usage: python tools/oracle_sweep.py [sf_dir] [name ...]
Prints one line per entry; exits non-zero if any diverge.  Managed tables
(x26's bucketed facts) go to a temporary warehouse, removed on exit.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import duckdb

    from sqlrs_spark.registry import all_specs
    from sqlrs_spark.session import build_spark
    from tests.oracle import compare, register_duck_views

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    with tempfile.TemporaryDirectory(prefix="oracle_sweep_warehouse_") as warehouse:
        spark = build_spark(
            "oracle_sweep",
            cores=cores,
            extra_conf={"spark.sql.warehouse.dir": warehouse},
        )
        duck = duckdb.connect()
        register_duck_views(duck, sf_dir)
        bad = 0
        for name, spec in all_specs().items():
            if only and name not in only:
                continue
            if not spec.oracle:
                print(f"{name:32s} SKIP (no oracle)")
                continue
            try:
                ok, msg = compare(spec.fn(spark, sf_dir), duck, spec.oracle)
            except Exception as e:  # noqa: BLE001 — sweep must report, not die
                ok, msg = False, f"exception: {e!r}"[:300]
            print(f"{name:32s} {'OK' if ok else 'FAIL: ' + msg}")
            if not ok:
                bad += 1
        print(f"# sweep done: {bad} failures")
        spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
