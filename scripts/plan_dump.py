"""Dump .explain('formatted') for registered queries → plans/<round>/.

Usage:
    python scripts/plan_dump.py r13 before q_dedup_ngram q_sim_topk ...
    python scripts/plan_dump.py r13 after  q_dedup_ngram
    SPARK_GRAFT_SF_DIR=<fixture dir> python scripts/plan_dump.py r12 before --all-bench

Writes plans/<round>/<query>_{before,after}.txt. Plan claims (Exchange
counts, join strategies, PushedFilters, BatchEvalPython nodes) are
checked against those files — this script is how they are produced, so
the evidence is reproducible. To compare two commits, run the script
from each checkout with the same round name.

Queries whose fn eagerly runs jobs while building the DataFrame (iterative
CC, KMeans fits, sink round-trips) still work here: the explain captures
the plan of the RETURNED frame, which is the timed artifact.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 2 or args[1] not in ("before", "after"):
        raise SystemExit(
            "usage: plan_dump.py <round> {before|after} [--all-bench] [query ...]"
        )
    rnd, tag, names = args[0], args[1], args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_open_source_spark.registry import get_registry
    from etl_open_source_spark.session import get_spark

    registry = get_registry()
    if "--all-bench" in names:
        names = [n for n in sorted(registry) if registry[n].bench]
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name=f"{rnd}-plan-dump")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # bench.py clearCache()s between samples — match those conditions so
        # a previous query's persist() can't ride into this plan as an
        # InMemoryRelation via CacheManager plan-matching
        spark.catalog.clearCache()
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({tag})\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
