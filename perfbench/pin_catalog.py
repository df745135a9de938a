#!/usr/bin/env python3
"""Pin the ``catalog_mix`` query list and its expected outputs.

Usage (from the repository root):

    python3 perfbench/pin_catalog.py

Selects every ``STRIDE``-th query of ``QUERIES`` in registry order,
starting at index ``OFFSET``, runs
each twice on the base tables, and writes ``catalog_mix.json`` with each
query's row count and order-insensitive checksum. A query whose checksum
differs between the two runs is pinned by its row count alone
(``"checksum": null``). Re-run this only on purpose: the benchmark reads
the pinned list, so a catalog edit cannot change the workload silently.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

STRIDE = 32
OFFSET = 16


def main() -> int:
    import datagen
    import run

    tmp = os.path.join(run.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    run.set_environment(tmp)
    base = datagen.ensure_base(run.WORK)

    from pramen_spark.queries.catalog import QUERIES
    from pramen_spark.session import build_session
    from workloads import MIX_FILE, fingerprint

    names = list(QUERIES)[OFFSET::STRIDE]
    spark = build_session(app_name="perfbench-pin")
    try:
        pinned = []
        for name in names:
            first = fingerprint(QUERIES[name].build(spark, base))
            spark.catalog.clearCache()
            second = fingerprint(QUERIES[name].build(spark, base))
            if first[0] != second[0]:
                raise SystemExit(f"{name}: row count differs between runs: {first} {second}")
            stable = first[1] == second[1]
            pinned.append({"name": name, "rows": first[0], "checksum": first[1] if stable else None})
            print(name, first, "" if stable else "(count only)", flush=True)
    finally:
        run.stop_spark(spark)
    with open(MIX_FILE, "w") as f:
        json.dump(
            {
                "rule": f"every {STRIDE}th query of QUERIES in registry order, from index {OFFSET}",
                "tables": "perfbench base tables (datagen.py, seed 42)",
                "queries": pinned,
            },
            f,
            indent=1,
        )
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
