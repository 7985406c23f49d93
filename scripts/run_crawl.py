"""spark-submit entrypoint: run the crawl engine for N waves.

    spark-submit --master <cluster> \
        --py-files dist/gocrawler_spark.zip \
        scripts/run_crawl.py \
        --steps 12 --output /path/out \
        [--profile covid|neutral|test] \
        [--global-yaml crawler.yaml --profile-yaml topic.yaml] \
        [--checkpoint /path/ckpt] [--bloom] [--bucketed] \
        [--wave-size 1000] [--shuffle-partitions 256]

No master is hardcoded: spark-submit supplies it, so the same script
runs on local[N] and on a multi-executor cluster. Outputs: frontier /
accepted / corpus_freq / crawl_log parquet under --output, plus a
metrics.json with per-wave counters.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--steps", type=int, default=12)
    ap.add_argument("--output", required=True)
    ap.add_argument("--profile", default="test",
                    choices=["covid", "neutral", "test"])
    ap.add_argument("--global-yaml")
    ap.add_argument("--profile-yaml")
    ap.add_argument("--checkpoint")
    ap.add_argument("--bloom", action="store_true")
    ap.add_argument("--bucketed", action="store_true")
    ap.add_argument("--wave-size", type=int, default=1)
    ap.add_argument("--shuffle-partitions", type=int, default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("gocrawler-spark")
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()

    from gocrawler_spark import config as C
    from gocrawler_spark.plans.crawl import CrawlEngine

    if bool(args.global_yaml) != bool(args.profile_yaml):
        # one without the other silently fell through to the named
        # --profile, launching a DIFFERENT config than the operator
        # asked for — refuse instead
        raise SystemExit(
            "--global-yaml and --profile-yaml must be passed together"
        )
    if args.global_yaml and args.profile_yaml:
        cfg = C.load_profile_yaml(args.global_yaml, args.profile_yaml)
        # the synthetic web only answers its own seed in this sandbox;
        # a real deployment keeps the YAML's bootstrapingLinks
    else:
        cfg = {
            "covid": C.covid_profile,
            "neutral": C.neutral_profile,
            "test": C.test_profile,
        }[args.profile]()
    if args.wave_size != 1:
        cfg = cfg.with_(wave_size=args.wave_size)

    t0 = time.time()
    try:
        eng = CrawlEngine(
            spark,
            cfg,
            checkpoint_dir=args.checkpoint,
            use_bloom=args.bloom,
            use_bucketed_frontier=args.bucketed,
        )
    except ValueError as e:  # e.g. --bloom with --bucketed
        raise SystemExit(str(e))
    st = eng.run(max_steps=args.steps)

    os.makedirs(args.output, exist_ok=True)
    tables = {
        "frontier": st.frontier,
        "accepted": st.accepted,
        "corpus_freq": st.corpus_freq,
        "crawl_log": st.crawl_log,
    }
    metrics = {"waves": st.wave, "wall_sec": round(time.time() - t0, 3)}
    for name, df in tables.items():
        path = os.path.join(args.output, name)
        df.write.mode("overwrite").parquet(path)
        # count the ARTIFACT, not the lineage: re-counting df would
        # re-execute the crawl-state plan (roughly doubling post-crawl
        # wall time) and could even report a different number than the
        # files written; a parquet read counts from footers
        metrics[f"{name}_rows"] = spark.read.parquet(path).count()
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
