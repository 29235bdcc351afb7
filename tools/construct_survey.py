"""Survey driver-side construction cost for every HEADLINE query (r13).

In ONE warm session, calls each registry builder (no action for lazy
queries; eager queries run their driver loops — flagged by the job-count
delta) and prints the per-query construction wall time, sorted. The bench
pays construction twice per query, so this is the suite's pure-driver
overhead map.

Usage: python tools/construct_survey.py [min_ms]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, _clear_state  # noqa: E402
from options_data_pipeline_spark import registry  # noqa: E402
from options_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    min_ms = float(sys.argv[1]) if len(sys.argv) > 1 else 100.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("construct-survey")
    qs = registry.queries()
    qs["buffer_stats"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out = []
    for name in HEADLINE:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir)
        dt = (time.perf_counter() - t0) * 1000
        out.append((round(dt, 1), name))
        _clear_state(spark)
    out.sort(reverse=True)
    total = sum(d for d, _ in out)
    print(json.dumps({"total_construct_s": round(total / 1000, 1), "n": len(out)}))
    for dt, name in out:
        if dt >= min_ms:
            print(f"{dt:9.1f} ms  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
