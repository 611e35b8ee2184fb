"""Capture `.explain("formatted")` for graded queries to plans/<round>/.

Usage: python tools/capture_plans.py <round> <suffix> [query ...]
  round  = output directory under plans/ (e.g. "r16").
  suffix = "before" | "after"; with no query list, captures every
  graded query (a named query may also be a demoted one).  Queries
  whose builder performs eager work (index builds, streaming gates)
  still run that work; the captured plan is the returned (final)
  frame's.  Session counters (expression ids ``#123``, ``plan_id=45``)
  are normalized to ``N`` so two captures of the same plan compare
  byte-for-byte with ``diff``; file locations under temporary or
  generation-stamped index directories still differ run to run.

Environment: SPARK_GRAFT_SF_DIR (required: the dataset directory) and
SPARK_GRAFT_CPUS (default 32; also the shuffle-partition count).
"""

from __future__ import annotations

import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from minivectordb_spark.session import get_spark

_COUNTERS = [(re.compile(r"#\d+"), "#N"), (re.compile(r"plan_id=\d+"), "plan_id=N")]


def main():
    rnd, suffix = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"plans_{suffix}", cores=cpus, shuffle_partitions=int(cpus)
    )
    from __spark_entry__ import _fixed_index_dir

    for kind in ("ivf", "ddidx", "ndidx"):
        shutil.rmtree(_fixed_index_dir(kind, sf_dir), ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entry.queries()
    names = only or list(qs)
    for name in names:
        fn = qs.get(name) or entry.demoted_queries()[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # capture the failure instead of dying
            plan = f"ERROR building {name}: {e}"
        for pattern, repl in _COUNTERS:
            plan = pattern.sub(repl, plan)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
