"""Generate PLANS.md: the formatted physical plan of every headline
(bench=True) query at sf0.001, as reviewable evidence of plan quality
(broadcasts, pushdown, pruned schemas, no BNLJ).

Run: ``python tools/gen_plans.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from ppdb_parser_spark.plans.checks import plan_string
    from ppdb_parser_spark.queries import REGISTRY
    from ppdb_parser_spark.session import get_spark

    spark = get_spark(app_name="gen-plans", master="local[8]", shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.001"
    out = [
        "# PLANS — physical plans of the headline query set",
        "",
        "Generated by `python tools/gen_plans.py` (sf0.001 inputs; plan",
        "*shape* is scale-invariant for these patterns). Things to check:",
        "`BroadcastHashJoin` on dictionary/dimension sides, `PushedFilters`",
        "and pruned `ReadSchema` on parquet scans, `TakeOrderedAndProject`",
        "for top-k, and no `BroadcastNestedLoopJoin`/`CartesianProduct`",
        "EXCEPT the guarded 1-row (or 1-row-per-B-shard) broadcast-context",
        "pattern (a probe vector, seed set, or GEMM B-shard riding in as a",
        "tiny broadcast relation cross-joined onto every row/block — the",
        "seeds_row idiom; every such BNLJ in this file has a bounded",
        "build side declared in its operator's docstring). Any OTHER",
        "cartesian is a plan bug.",
        "",
    ]
    for name, spec in REGISTRY.items():
        if not spec.bench:
            continue
        plan = plan_string(spec.fn(spark, sf_dir))
        # readability: collapse embedded constant vectors / giant exprs and
        # cap plan length — the operator tree and scan details are the point
        lines = []
        for line in plan.strip().splitlines():
            if len(line) > 240:
                line = line[:240] + " …<truncated>"
            lines.append(line)
            if len(lines) >= 120:
                lines.append(f"…<{len(plan.splitlines()) - 120} more lines>")
                break
        out += [f"## {name}", "", "```", "\n".join(lines), "```", ""]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({sum(1 for s in REGISTRY.values() if s.bench)} plans)")


if __name__ == "__main__":
    main()
