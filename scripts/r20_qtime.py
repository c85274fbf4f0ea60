"""Time a subset of headline queries with bench.py's methodology.

Usage: python scripts/r20_qtime.py [passes] query [query ...]

Same contract as bench.py (warmup of every fixture table + the Python
worker pool, min over N passes of fn(spark, SF_DIR).collect()), so a
number printed here is directly comparable to a bench.py entry. Used
for fast per-change A/B legs during the optimization round; the
committed evidence is always a full bench.py run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    passes = int(sys.argv[1]) if sys.argv[1].isdigit() else 5
    names = sys.argv[2:] if sys.argv[1].isdigit() else sys.argv[1:]
    from jobminer_spark import QUERIES, load_all_operators
    from jobminer_spark.operators.common import forget_scenarios
    from jobminer_spark.session import get_spark
    from jobminer_spark.sources.parquet import FIXTURE_TABLES, load_table

    load_all_operators()
    spark = get_spark("jobminer-qtime")
    for t in FIXTURE_TABLES:
        load_table(spark, SF_DIR, t).count()

    def _ident(batches):
        yield from batches

    spark.range(64).repartition(32).mapInPandas(_ident, "id long").count()

    timings: dict[str, float] = {}
    for _pass in range(passes):
        for name in names:
            fn = QUERIES[name]
            if name == "lakehouse_merge_parity":
                forget_scenarios("lake")  # as bench.py: time a build
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"passes": passes, "queries": timings}))


if __name__ == "__main__":
    main()
