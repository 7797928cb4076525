#!/usr/bin/env python3
"""Phase decomposition for one store-backed render query: times the
store build (Engine.write, which also observes the render window's
bounds) and the render evaluation separately, so write-cost claims are
measurable per phase.

Usage: python tools/store_decompose.py [--sf DIR] [--reps N]
Prints one JSON line per rep: {"write": s, "render": s, "total": s}.
Uses graphite_render_group_order's store (the heaviest store-family
query) rebuilt the same way the query builds it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    while args:
        if args[0] == "--sf":
            sf_dir = args[1]
            args = args[2:]
        elif args[0] == "--reps":
            reps = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown arg {args[0]}")

    from kenshin_backup_spark.api import Engine
    from kenshin_backup_spark.cache import clear_tracked
    from kenshin_backup_spark.operators.policies import Policy
    from kenshin_backup_spark.queries.batch80 import _store_points
    from kenshin_backup_spark.queries.batch83 import _T_BRANCH, _T_SORTED
    from kenshin_backup_spark.session import get_spark
    from kenshin_backup_spark.sources.tables import staged_path

    spark = get_spark("kenshin-store-decompose")
    for _ in range(reps):
        clear_tracked()
        spark.catalog.clearCache()
        pts = _store_points(spark, sf_dir)
        eng = Engine(
            spark,
            staged_path(sf_dir, "grouporder_store", tables=("events",)),
            policies=[Policy(name="hourly", pattern=".*", steps=(3600,),
                             agg="max")],
        )
        t0 = time.perf_counter()
        bounds = eng.write(pts, observe_bounds=True)
        t1 = time.perf_counter()
        lo = bounds[0] - bounds[0] % 86400
        out = eng.render_many([_T_SORTED, _T_BRANCH], lo, bounds[1] + 1)
        out.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        print(json.dumps({
            "write": round(t1 - t0, 3),
            "render": round(t2 - t1, 3),
            "total": round(t2 - t0, 3),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
