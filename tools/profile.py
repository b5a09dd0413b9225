#!/usr/bin/env python
"""Optimization profiler: isolated timings + formatted plans.

Usage:
    python tools/profile.py plans  [name ...]   # dump explain("formatted")
    python tools/profile.py time   [name ...]   # warm + min-of-2 count()
    python tools/profile.py both   [name ...]

Defaults to the bench HEADLINE list. Plans go to plans/<tag>/<name>.txt
(tag via $PROFILE_TAG, default "before"). Timing methodology matches
bench.py exactly (warm count, then min of two timed counts, clearCache
between queries) so numbers are comparable to BENCH_r0N.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from bench import HEADLINE  # noqa: E402
from bigdataamazon_spark import queries as registry  # noqa: E402
from bigdataamazon_spark.session import get_spark  # noqa: E402


def explain_formatted(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "both"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("PROFILE_TAG", "before")
    out_dir = os.path.join(_REPO_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("bigdataamazon-profile")
    qs = registry.queries()
    timings: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if mode in ("plans", "both"):
            try:
                txt = explain_formatted(fn(spark, sf_dir))
                with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                    f.write(txt)
            except Exception as e:  # noqa: BLE001
                print(f"PLAN-ERR {name}: {type(e).__name__}: {e}", file=sys.stderr)
        if mode in ("time", "both"):
            try:
                fn(spark, sf_dir).count()  # warm
                best = float("inf")
                for _ in range(2):
                    start = time.perf_counter()
                    fn(spark, sf_dir).count()
                    best = min(best, time.perf_counter() - start)
                timings[name] = round(best, 4)
                print(f"{timings[name]:8.3f}  {name}", flush=True)
            except Exception as e:  # noqa: BLE001
                print(f"TIME-ERR {name}: {type(e).__name__}: {e}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
    if timings:
        print(json.dumps({"total": round(sum(timings.values()), 4),
                          "queries": timings}))


if __name__ == "__main__":
    main()
