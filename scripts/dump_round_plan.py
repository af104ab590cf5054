"""Dump normalized explain("formatted") for named queries to
plans/<round>/<query>_<tag>.txt — the before/after plan evidence for
the optimization-round notes (OPTIMIZATION_r*.md). Renamed from
dump_r12_plan.py in round 13 with the ADVICE r12 fixes: the sibling
import no longer depends on the implicit sys.path[0], and every path
derives from __file__ instead of a hardcoded checkout path.

Usage: python scripts/dump_round_plan.py <round> <tag> <query> [query ...]
       python scripts/dump_round_plan.py <round> <tag> --all
e.g.:  python scripts/dump_round_plan.py r13 before x24_url_curation
"""

from __future__ import annotations

import os
import sys

_SCRIPT_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_SCRIPT_DIR)
sys.path.insert(0, _SCRIPT_DIR)
sys.path.insert(0, _REPO_ROOT)

# Import the package BEFORE the sibling script, so this checkout's
# package is the one in sys.modules whatever the sibling puts on
# sys.path.
from mapreduce_stockheadlines_spark.plans.guard import formatted_plan  # noqa: E402
from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES  # noqa: E402
from mapreduce_stockheadlines_spark.session import get_spark  # noqa: E402

from dump_plans import _normalize  # noqa: E402  (sibling script)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if names == ["--all"]:
        names = list(ALL_QUERIES)
    out_dir = os.path.join(_REPO_ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = ALL_QUERIES[name].builder(spark, SF_DIR)
        plan = _normalize(formatted_plan(df))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
