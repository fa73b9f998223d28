"""Wall time of one query across corpus scales, on the benchmark's session.

Usage, from the repository root:

    python3 graftbench/curve.py --query dedup_ngram_jaccard --scales 1,1.5,2 --seed 1

For each scale it generates the seeded corpus, runs the query once
untimed (staging and warm-up), then ``--reps`` timed runs (build plus
noop-sink write), and prints one JSON line with the median per scale.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import run as R  # noqa: E402
from graftbench import workloads as W  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--query", required=True)
    ap.add_argument("--scales", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    a = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(R.WORK, f"curve-{os.getpid()}")
    R._configure_env(run_dir, cpus)
    os.chdir(run_dir)
    try:
        from argodb_mapreduce_spark import catalog, registry
        from argodb_mapreduce_spark.session import get_spark

        fn = registry.queries()[a.query]
        spark = get_spark("graftbench-curve", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        curve = {}
        for scale in (float(x) for x in a.scales.split(",")):
            corpus = os.path.join(run_dir, f"s{scale:g}-seed{a.seed}")
            W.generate_corpus(R.ROOT, corpus, scale, a.seed)
            fn(spark, corpus).write.format("noop").mode("overwrite").save()
            times = []
            with catalog.timed_region():
                for _ in range(a.reps):
                    t0 = time.perf_counter()
                    fn(spark, corpus).write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - t0)
            curve[f"{scale:g}"] = {"median_s": statistics.median(times), "runs_s": times}
    finally:
        R._stop_spark()
        os.chdir(R.ROOT)
        R._rmtree(run_dir)
    print(json.dumps({"query": a.query, "seed": a.seed, "cpus": cpus, "reps": a.reps,
                      "curve": curve}))


if __name__ == "__main__":
    main()
