"""Time queries through the noop sink and dump their formatted plans.

Usage::

    python scripts/plan_dump.py <tag> [query ...] [--passes N]

Runs in bench.py's warmed session (``bench.warm_session``) at
``$SPARK_GRAFT_SF_DIR``, times each query for ``--passes`` interleaved
passes (default 2) and writes, under ``plans/`` (git-ignored):

* ``<name>_<tag>.txt``: the query's ``explain("formatted")`` from pass 1;
* ``timings_<tag>.json``: per-pass seconds per query, merged into an
  existing file so a run over a subset keeps the other entries.

With no query names it dumps ``bench.HEADLINE``.  Run it with tag
``before`` and ``after`` around a change to diff the plans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag", help="file suffix, e.g. before / after")
    ap.add_argument("queries", nargs="*", help="query names (default: bench.HEADLINE)")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()
    names = list(dict.fromkeys(args.queries or bench.HEADLINE))

    from iceberg_data_gen_spark import operators

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    spark = bench.warm_session("plan-dump", sf_dir)
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plans_dir = os.path.join(REPO, "plans")
    os.makedirs(plans_dir, exist_ok=True)

    results: dict[str, list[float]] = {}
    for i in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} pass {i}")
            t0 = time.perf_counter()
            df = operators.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            results.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            if i == 0:
                path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
                with open(path, "w") as f:
                    f.write(df._jdf.queryExecution().explainString(formatted))
            spark.sparkContext.setJobDescription(None)

    print(f"== {args.tag} ==")
    for name, ts in sorted(results.items(), key=lambda kv: -min(kv[1])):
        print(f"{min(ts):7.3f}  {' '.join(f'{t:.3f}' for t in ts)}  {name}")
    path = os.path.join(plans_dir, f"timings_{args.tag}.json")
    merged: dict[str, list[float]] = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged.update(results)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
