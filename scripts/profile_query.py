#!/usr/bin/env python3
"""Profile registry rows in one shared session, as the bench runs them.

Each named row runs once cold and twice warm through
``telemetry.run_row``, which splits its wall time into ``build`` (the
``fn(spark, sf_dir)`` call: eager training, driver collects and whole
streaming runs happen here) and ``execute`` (the noop write), and counts
the Spark jobs, stages and tasks each part started.  Prints one JSON
line ``{name: {"cold": record, "warm": record}}``, warm being the faster
warm run.

Usage: SPARK_GRAFT_SF_DIR=/path/to/sf0.1 python scripts/profile_query.py q1 q2 ...
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(names: list[str]) -> int:
    from data_pipelines_using_llm_spark.registry import all_queries
    from data_pipelines_using_llm_spark.session import get_spark
    from data_pipelines_using_llm_spark.telemetry import run_row

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    registry = all_queries()
    out = {}
    for name in names:
        if name not in registry:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        fn = registry[name].fn
        cold = run_row(spark, fn, sf_dir)
        warm = min((run_row(spark, fn, sf_dir) for _ in range(2)), key=lambda r: r["wall_s"])
        out[name] = {"cold": cold, "warm": warm}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
