#!/usr/bin/env python
"""Cluster-shaped job for spark-submit — the north-rule deployment path:

    scripts/package.sh
    spark-submit --master <cluster> --py-files dist/tric_spark.zip \
        scripts/submit_job.py <n_pages> <out_dir>

Builds the deterministic pages table, runs the full pipeline (extraction →
graph → TC/PR/CC/LP with checkpoints), writes parquet + metrics.
"""

import json
import sys

from tric_spark.session import get_spark


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/tric_spark_job_out"
    # spark-submit provides the master; get_spark contributes the engine conf
    spark = get_spark(app_name="tric-spark-job")

    from tric_spark import synth
    from tric_spark.pipeline import run_pipeline

    pages = synth.pages_table(spark, n_pages, seed=42)
    metrics = run_pipeline(
        spark, pages, out_dir,
        checkpoint_dir=out_dir + "/_checkpoints",
        pr_max_iter=5, pr_tol=0.0, lp_iters=2,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
