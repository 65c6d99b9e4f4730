#!/usr/bin/env python
"""Dump formatted physical plans for the headline queries → BENCH/PLANS.md.

Planning only (no jobs) — evidence that the plans are the designed ones:
broadcast joins for dims, PushedFilters on scans, pruned ReadSchema, Arrow
(not row-at-a-time) Python stages, whole-stage codegen spans.
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

QUERIES = [
    "tpch_q1_agg",
    "join_star_revenue",
    "dedup_minhash_lsh_pairs",
    "er_cc_clusters",
    "ann_cosine_topk",
    "ann_srp_topk",
    "events_overlap_join",
    "spans_mark",
    "window_running_total",
]


def main() -> int:
    import __spark_entry__ as entrymod
    from belb_spark.plans import plan_string
    from belb_spark.session import get_spark

    # dedup ops are lazy, so .explain shows the designed plan — no
    # checkpoint-RDD scans to work around

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("explain", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    out = ["# Physical plans (headline queries, sf0.01)\n"]
    out.append(
        "Generated by `scripts/explain_queries.py` — `.explain('formatted')`\n"
        "of the exact DataFrames exposed in `__spark_entry__.queries()`.\n"
    )
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        s = plan_string(df, "formatted")
        out.append(f"\n## {name}\n\n```\n{s}\n```\n")

    dest = pathlib.Path(__file__).resolve().parent.parent / "BENCH" / "PLANS.md"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text("\n".join(out))
    print(f"wrote {dest} ({sum(len(o) for o in out)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
