"""Capture .explain("formatted") for registry queries into plans/<tag>/.

Usage: python tools/capture_plan.py <tag> <suffix> <query> [query ...]
e.g.   python tools/capture_plan.py r12 before bootstrap_mean_ci

Writes plans/<tag>/<query>_<suffix>.txt. Expression ids (``#N``) and
``plan_id=N`` are renumbered in the order they first appear in each
plan, so a file does not depend on which queries ran before it in the
process. Note: queries with EAGER construction (driver-loop
trajectories, CC) run their jobs during capture — plan capture is not
free for those.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from options_data_pipeline_spark import registry  # noqa: E402
from options_data_pipeline_spark.session import get_spark  # noqa: E402


_IDS = re.compile(r"(#|plan_id=)(\d+)")


def renumber(txt: str) -> str:
    """Map each ``#N`` / ``plan_id=N`` to its first-appearance rank."""
    seen: dict[str, dict[str, int]] = {"#": {}, "plan_id=": {}}

    def sub(m: re.Match) -> str:
        ids = seen[m.group(1)]
        return f"{m.group(1)}{ids.setdefault(m.group(2), len(ids))}"

    return _IDS.sub(sub, txt)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"plans-{tag}")
    qs = registry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = renumber(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
