"""Dump every registry entry's optimized plan and oracle SQL to one file.

    python scripts/plan_dump.py <out-file> [sf_dir] [master]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``; ``master`` to local[2].
For every ``entry_queries._REGISTRY`` entry and every
``perfbench.workloads._analyst_shapes()`` build, step and statistic, the
file holds the optimized logical plan, with expression IDs and lambda
variable names masked (``mask``), and the DuckDB oracle SQL string.  Two dumps
taken at two commits are compared with ``diff``: an empty diff means the
change kept every plan and every oracle string.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def mask(plan: str) -> str:
    """Expression IDs become ``#``, lambda variable names ``_`` (``acc_23``
    from a Python lambda and ``acc`` from SQL text agree) and the counters
    of common-subexpression names are dropped."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_", plan)
    return re.sub(r"lambda \w+", "lambda _", plan)


def optimized(df) -> str:
    return mask(df._jdf.queryExecution().optimizedPlan().toString())


def registry_items(spark, sf_dir):
    from xarray_histogram_spark import entry_queries as eq

    for name in sorted(eq._REGISTRY):
        fn, sql = eq._REGISTRY[name]
        yield name, (lambda fn=fn: fn(spark, sf_dir)), sql


def analyst_items(spark, sf_dir):
    """Each analyst shape as the workload runs it, over the fixture
    tables: the histogram build, then its step or its statistic."""
    import xarray_histogram_spark as xhs
    from perfbench.workloads import _analyst_shapes
    from xarray_histogram_spark import oracle as orc

    for name, s in _analyst_shapes().items():
        group_by = list(s.kw.get("group_by", []))
        common = dict(group_by=group_by, group_exprs=s.group_exprs,
                      weights=s.kw.get("weights"))

        def build(s=s):
            df = spark.read.parquet(f"{sf_dir}/{s.table}.parquet")
            if s.group_exprs:
                df = df.withColumn("ship_month", F.month("l_shipdate").cast("int"))
            return xhs.histogramdd(df, list(s.cols), list(s.specs), **s.kw)

        yield f"analyst:{name}:build", (lambda b=build: b().df), None
        if s.deliver == "stat":
            kw = dict(s.stat_sql)
            sql = orc.stats_oracle_sql(
                kw.pop("kind"), s.table, list(s.cols), list(s.specs),
                s.cols[0], **common, **kw)
            yield (f"analyst:{name}:stat",
                   lambda b=build, s=s: s.stat(b()), sql)
        else:
            density = s.oracle_density or s.kw.get("density", False)
            sql = orc.histogram_oracle_sql(
                s.table, list(s.cols), list(s.specs), density=density,
                flow=s.kw.get("flow", False), **common)
            yield (f"analyst:{name}:step",
                   lambda b=build, s=s: s.step(b()).df, sql)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    out = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("no sf_dir given and SPARK_GRAFT_SF_DIR is unset")
        return 2
    master = sys.argv[3] if len(sys.argv) > 3 else "local[2]"
    spark = (
        SparkSession.builder.master(master)
        .appName("xhs-plan-dump")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = 0
    with open(out, "w") as f:
        for items in (registry_items, analyst_items):
            for name, make, sql in items(spark, sf_dir):
                try:
                    plan = optimized(make())
                except Exception as e:  # recorded, so a diff shows it
                    plan = f"ERROR {type(e).__name__}: {e}".splitlines()[0]
                f.write(f"== {name}\n-- plan\n{plan}\n-- sql\n{sql}\n")
                n += 1
    print(f"wrote {n} entries to {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
