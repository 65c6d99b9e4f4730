#!/usr/bin/env python
"""Scaling evidence: the same ER job at local[N] and local[4N] on one box.

Runs K interleaved (local[N], local[4N]) pairs back to back. Each run is its
own spark-submit (fresh JVM, ``--py-files dist/belb_spark.zip``) over the
same seeded input, with shuffle partitions = 3 × cores and the same driver
heap at both levels. Every pair is reported, with no best-of: per run the
wall, pairs scored per second of scoring-stage wall, test F1, CPU steal %
and loadavg before/after; per pair the wall speedup and the pairs-scored/s
scaling efficiency (4N rate / (4 × N rate)). N defaults to 1, so 4N = 4
cores fits a 4-core box.

    python scripts/scaling_bench.py --scale tiny --pairs 1

Writes BENCH/evidence_<scale>.json.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# one heap at both levels, sized to leave room for the Python workers of a
# local[4] run on a 15 GB box
DRIVER_MEMORY = "4g"

RUNNER = r"""
import json, pathlib, shutil, sys, tempfile, time
from belb_spark.pipeline import run_pipeline
from belb_spark.session import cores_from_master, get_spark
master, data = sys.argv[1], pathlib.Path(sys.argv[2])
cores = cores_from_master(master)
spark = get_spark("scaling", master=master, shuffle_partitions=3 * cores)
spark.sparkContext.setLogLevel("ERROR")
repos, syn, lp = (
    spark.read.parquet(str(data / f"{t}.parquet"))
    for t in ("repos", "synonym_dict", "labeled_pairs")
)
ckpt = tempfile.mkdtemp(prefix="belb_scaling_ckpt_")
t0 = time.time()
res = run_pipeline(spark, repos, syn, lp, checkpoint_dir=ckpt)
wall = time.time() - t0
shutil.rmtree(ckpt, ignore_errors=True)
m = res.metrics
print("RESULT " + json.dumps({
    "master": master, "cores": cores,
    "wall_sec": round(wall, 2),
    "rows": m["rows_in"],
    "pairs_scored": m["pairs_scored"],
    "score_wall_sec": round(m["scoring_wall_sec"], 2),
    "pairs_scored_per_sec": round(m["pairs_scored"] / m["scoring_wall_sec"], 1),
    "test_f1": m["eval"]["test"]["f1"],
    "stage_walls": {s["stage"]: round(s["wall_sec"], 2) for s in res.stages},
}))
"""
RUNNER_PATH = REPO / "scripts" / "_scaling_runner.py"


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat. Guest loadavg cannot see a
    hypervisor neighbour; CPU steal is the in-guest signal that the physical
    cores were taken mid-run."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:9]))
    return vals[7], sum(vals)


def prepare(scale: str) -> str:
    """Write the runner, build the py-files zip and the shared input once;
    return the input dir."""
    RUNNER_PATH.write_text(RUNNER)
    (REPO / "dist").mkdir(exist_ok=True)
    zip_path = REPO / "dist" / "belb_spark.zip"
    zip_path.unlink(missing_ok=True)
    subprocess.run(
        ["zip", "-qr", str(zip_path), "belb_spark", "-x", "*__pycache__*"],
        cwd=REPO,
        check=True,
    )
    from belb_spark import datagen

    data_dir = datagen.cache_dir(scale)
    if not pathlib.Path(data_dir, "repos.parquet").exists():
        datagen.generate_and_save(data_dir, datagen.SCALES[scale])
    return data_dir


def run_level(master: str, data_dir: str) -> dict:
    """One spark-submit of the pipeline at ``master``; its RESULT line plus
    the load and steal stamps of the window it ran in."""
    load_before = _loadavg()
    steal0, total0 = _cpu_jiffies()
    # the builder's spark.driver.memory is ignored once the JVM is up; it
    # must be a submit-time flag
    out = subprocess.run(
        [
            "spark-submit", "--master", master,
            "--driver-memory", DRIVER_MEMORY,
            "--py-files", str(REPO / "dist" / "belb_spark.zip"),
            str(RUNNER_PATH), master, data_dir,
        ],
        capture_output=True,
        text=True,
    )
    steal1, total1 = _cpu_jiffies()
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    if not line:
        print(out.stdout[-8000:], out.stderr[-8000:], file=sys.stderr)
        raise RuntimeError(f"no RESULT from {master} (exit {out.returncode})")
    r = json.loads(line[-1][len("RESULT "):])
    r["driver_memory"] = DRIVER_MEMORY
    r["load_before"] = load_before
    r["load_after"] = _loadavg()
    r["steal_pct"] = round(100 * (steal1 - steal0) / max(1, total1 - total0), 2)
    return r


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", default="bench", choices=["tiny", "small", "bench", "scaling", "xl", "xxl"])
    ap.add_argument("--pairs", type=int, default=3, metavar="K", help="interleaved (N, 4N) pairs to run")
    ap.add_argument("--n-cores", type=int, default=1, metavar="N", help="the run compares local[N] vs local[4N]")
    args = ap.parse_args()

    data_dir = prepare(args.scale)
    pairs = []
    for k in range(args.pairs):
        n = run_level(f"local[{args.n_cores}]", data_dir)
        n4 = run_level(f"local[{4 * args.n_cores}]", data_dir)
        pair = {
            "pair": k,
            "N": n,
            "4N": n4,
            "speedup_wall": round(n["wall_sec"] / n4["wall_sec"], 3),
            "eff_pairs_scored": round(
                n4["pairs_scored_per_sec"] / (4 * n["pairs_scored_per_sec"]), 3
            ),
        }
        pairs.append(pair)
        print(json.dumps(pair))
    summary = {
        "scale": args.scale,
        "n_cores": args.n_cores,
        "driver_memory": DRIVER_MEMORY,
        "pairs": pairs,
        "median_speedup_wall": statistics.median(p["speedup_wall"] for p in pairs),
        "median_eff_pairs_scored": statistics.median(p["eff_pairs_scored"] for p in pairs),
    }
    out = REPO / "BENCH" / f"evidence_{args.scale}.json"
    out.write_text(json.dumps(summary, indent=2) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
