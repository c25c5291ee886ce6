"""spark-submit entry for the extraction pipeline.

Usage (north_rule launch shape):

    spark-submit --py-files sparkx.zip jobs/extract.py \
        --input /path/to/transcripts_parquet --output /path/to/out \
        --mode fastpath --groups 8 [--synth-convs 1000 --synth-turns 100]

With ``--synth-convs`` the input table is generated distributed on the
executors (deterministic, seeded) instead of being read — used for bench runs
where no external data may be consumed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="sparkx extraction job")
    p.add_argument("--input", help="transcripts parquet/Iceberg path")
    p.add_argument("--output", required=True)
    p.add_argument("--mode", choices=["fastpath", "agentic"], default="fastpath")
    p.add_argument("--no-validate", action="store_true")
    p.add_argument("--groups", type=int, default=8, help="checkpoint commit groups")
    p.add_argument("--run-id", default=None)
    p.add_argument("--master", default=None, help="e.g. local[8]; default from env")
    p.add_argument("--synth-convs", type=int, default=0)
    p.add_argument("--synth-turns", type=int, default=100)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--fail-after-groups", type=int, default=None,
                   help="test hook: die after N group commits")
    args = p.parse_args(argv)

    from sparkx.checkpoint import run_resumable
    from sparkx.session import build_session
    from sparkx.synth import synth_spark

    spark = build_session("sparkx-extract", master=args.master)
    try:
        if args.synth_convs:
            transcripts = synth_spark(
                spark, args.synth_convs, args.synth_turns, seed=args.seed
            )
        elif args.input:
            transcripts = spark.read.parquet(args.input)
        else:
            p.error("--input or --synth-convs required")

        t0 = time.time()
        summary = run_resumable(
            spark,
            transcripts,
            args.output,
            mode=args.mode,
            validate=not args.no_validate,
            run_id=args.run_id,
            n_groups=args.groups,
            fail_after_groups=args.fail_after_groups,
        )
        wall = time.time() - t0
        print(
            json.dumps(
                {
                    "run_id": summary["run_id"],
                    "groups_executed": summary["groups_executed_this_run"],
                    "groups_total": summary["groups_total"],
                    "surviving_blocks": sum(
                        m["n_surviving"] for m in summary["ledger"].values()
                    ),
                    "wall_sec": round(wall, 2),
                    "blocks": sum(
                        sum(m["status_counts"].values())
                        for m in summary["ledger"].values()
                    ),
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
