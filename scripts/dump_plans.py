"""Dump the formatted physical plan of every registered query to PLANS.md
— the reviewable artifact behind the engine's 'the plan IS the product'
claim (tests/test_plans.py asserts the load-bearing properties; this file
lets a human audit all of them).

Usage: python scripts/dump_plans.py [--verify] [sf_dir]

``--verify`` re-derives the dump and exits 1 if the committed PLANS.md
differs (VERDICT r7 #4: the regeneration invariant — a plans/ change
without a regen must fail loudly, not rely on the builder remembering).
The dump is only reproducible from a FRESH session in registry order
(expression and checkpoint-RDD ids are allocated sequentially), which is
why verification re-runs this script rather than reusing a live session.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES
from mapreduce_stockheadlines_spark.session import get_spark

PLANS_PATH = os.path.join(_REPO_ROOT, "PLANS.md")


def _normalize(plan: str) -> str:
    """Renumber volatile counters per plan: expression ids (#N) become
    sequential in first-appearance order and plan_id is masked — both
    are global session counters whose absolute values depend on how
    many plans (and AQE re-plans of eager checkpoints) ran before, so
    raw dumps are not reproducible even from a fresh session. Column
    identity WITHIN a plan is preserved (same old id → same new id)."""
    mapping: dict[str, str] = {}

    def renum(m: re.Match) -> str:
        key = m.group(0)
        if key not in mapping:
            mapping[key] = f"#{len(mapping) + 1}"
        return mapping[key]

    plan = re.sub(r"#\d+", renum, plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=X", plan)
    # HOF lambda variables render as `lambda x_<N>#<id>` where N is
    # another session-global counter (NamedLambdaVariable's),
    # scheduling-dependent since round 12's concurrent builder stages:
    # mask the name counter (the #id part is renumbered above).
    plan = re.sub(r"\blambda ([a-z]+)_\d+(?=#)", r"lambda \1_X", plan)
    # A checkpoint leaf's Arguments also embed the RDD's creation call
    # site (`at localCheckpoint at <file:line>`), which varies with
    # which driver thread first materialized it: mask it. (Runs before
    # the RDD-id mask below, so match the raw numeric id form.)
    plan = re.sub(
        r"(RDD\[\d+\]) at .*?, ExistingRDD", r"\1 at CALLSITE, ExistingRDD",
        plan,
    )
    # checkpoint leaves render their RDD id (MapPartitionsRDD[322]) — a
    # session-global counter like expression ids, and additionally
    # scheduling-dependent since builders submit independent eager
    # stages concurrently (round 12): mask it.
    return re.sub(r"RDD\[\d+\]", "RDD[X]", plan)


def render(sf_dir: str) -> str:
    # plan shapes (scan splits, shuffle partitions) follow the session's
    # parallelism, so the dump pins the size PLANS.md was generated at
    # rather than following $SPARK_GRAFT_CPUS
    spark = get_spark("plan-dump", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# Physical plans (auto-generated by scripts/dump_plans.py)",
        "",
        f"Pre-execution formatted plans at `{sf_dir}` (AQE re-plans at",
        "runtime; load-bearing properties are pinned in tests/test_plans.py).",
        "",
    ]
    for name, spec in ALL_QUERIES.items():
        df = spec.builder(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [
            f"## {name}",
            "",
            "```",
            _normalize(buf.getvalue().rstrip()),
            "```",
            "",
        ]
    return "\n".join(out)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--verify"]
    verify = "--verify" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    content = render(sf_dir)
    if verify:
        with open(PLANS_PATH) as f:
            committed = f.read()
        if committed != content:
            got, want = committed.splitlines(), content.splitlines()
            first = next(
                (
                    i
                    for i in range(max(len(got), len(want)))
                    if i >= len(got) or i >= len(want) or got[i] != want[i]
                ),
                -1,
            )
            print(
                f"PLANS.md is STALE (first divergence at line {first + 1}) "
                "— run: python scripts/dump_plans.py"
            )
            return 1
        print(f"PLANS.md is current ({len(ALL_QUERIES)} plans)")
        return 0
    with open(PLANS_PATH, "w") as f:
        f.write(content)
    print(f"wrote PLANS.md ({len(ALL_QUERIES)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
