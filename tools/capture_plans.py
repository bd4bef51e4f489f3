"""Capture .explain('formatted') for named queries -> plans/r<N>/.

Usage:
    python tools/capture_plans.py --round N before q1 q2 ...
    python tools/capture_plans.py --round N after q1 q2 ...

Writes plans/r<N>/<query>_<tag>.txt. Runs at $SPARK_GRAFT_SF_DIR
(default sf0.1) on the bench's own session builder so the plans match
what bench.py executes. Queries whose build triggers execution
(streaming runs, ML fits, scratch writes) still produce the plan of the
returned DataFrame — the part the noop sink times after the build; the
txt notes nothing extra.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("--round", type=int, required=True, help="plans/r<N>/")
ap.add_argument("tag", choices=("before", "after"))
ap.add_argument("names", nargs="+", metavar="query")
args = ap.parse_args()
tag, names, rnd = args.tag, args.names, f"r{args.round}"

from a3_fp_bigdata_spark import registry  # noqa: E402
from a3_fp_bigdata_spark.session import local_session  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", rnd)
os.makedirs(OUT, exist_ok=True)

spark = local_session(app_name=f"plan-capture-{rnd}")
spark.sparkContext.setLogLevel("ERROR")

queries = registry.exposed_queries()
for want in names:
    name = want if want in queries else registry.exposure_name(want)
    df = queries[name](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    path = os.path.join(OUT, f"{name}_{tag}.txt")
    with open(path, "w") as fh:
        fh.write(f"# {name} — explain('formatted') at {SF}, {tag} {rnd}\n\n")
        fh.write(plan)
    print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
          f"{plan.count('EvalPython') + plan.count('MapInPandas') + plan.count('ArrowEval')} py-nodes)")
    try:
        registry.release_pinned()
    except Exception:
        pass
spark.stop()
