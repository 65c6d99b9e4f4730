#!/usr/bin/env python
"""spark-submit entry point for the ER pipeline (north rule launch mode).

Usage:
    spark-submit --py-files dist/belb_spark.zip scripts/run_pipeline.py \
        --scale tiny --checkpoint-dir /tmp/ckpt [--master local[8]]

Generates (or reuses) the seeded synthetic corpus, runs
normalize → block → pairs → score → cluster → eval, prints one JSON line of
metrics (incl. per-split pairwise F1) and exits non-zero if the test-split
F1 misses the BASELINE.json target.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import tempfile


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--scale", choices=["tiny", "small", "bench", "scaling"], default="tiny")
    ap.add_argument("--data-dir", default=None, help="reuse pre-generated tables")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--master", default=None, help="e.g. local[8]; default env SPARK_GRAFT_CPUS")
    ap.add_argument("--f1-floor", type=float, default=0.99)
    ap.add_argument("--tune", action="store_true", help="tune edge threshold on dev split")
    args = ap.parse_args()

    from belb_spark import datagen
    from belb_spark.pipeline import run_pipeline
    from belb_spark.session import get_spark

    spark = get_spark("belb_spark_pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    cfg = datagen.SCALES[args.scale]
    if args.data_dir is None:
        args.data_dir = tempfile.mkdtemp(prefix=f"belb_data_{args.scale}_")
    data = pathlib.Path(args.data_dir)
    if not (data / "repos.parquet").exists():
        datagen.generate_and_save(str(data), cfg)

    repos = spark.read.parquet(str(data / "repos.parquet"))
    syn = spark.read.parquet(str(data / "synonym_dict.parquet"))
    lp = spark.read.parquet(str(data / "labeled_pairs.parquet"))

    from belb_spark.pipeline import ERConfig

    er_cfg = ERConfig(tune_on_dev=args.tune)
    # only res.metrics is read below, so a run without --checkpoint-dir
    # drops its checkpoints when the call returns
    with tempfile.TemporaryDirectory() as tmp:
        res = run_pipeline(
            spark, repos, syn, lp, checkpoint_dir=args.checkpoint_dir or tmp, cfg=er_cfg
        )
    print(json.dumps({"scale": args.scale, **res.metrics}, default=str))

    f1 = res.metrics["eval"]["test"]["f1"]
    if f1 < args.f1_floor:
        print(f"FAIL: test F1 {f1:.4f} < {args.f1_floor}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
