"""spark-submit entry point: run the full indexing pipeline on a
web_pages parquet/Iceberg path (north rule: `spark-submit --py-files`
on a multi-executor cluster).

    spark-submit --py-files graphrag_kb_server_spark.zip \
        tools/submit_index_job.py <web_pages_path> <out_dir>

If <web_pages_path> has no ``url`` column (e.g. the sandbox testdata
dirs), a deterministic synthetic corpus is generated instead so the job
is runnable anywhere.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/kgspark_submit_out"
    spark = SparkSession.builder.appName("kgspark_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from graphrag_kb_server_spark import corpus as corpus_mod
    from graphrag_kb_server_spark.plans.index_pipeline import run_index

    try:
        pages = spark.read.parquet(src)
        if "url" not in pages.columns:
            raise ValueError("not a web_pages table")
    except Exception:
        pages = corpus_mod.generate(spark, 1000)

    t0 = time.time()
    res = run_index(spark, pages, out)
    n = spark.read.parquet(f"{out}/doc_status").count()
    print(json.dumps({
        "out": out, "docs": n, "seconds": round(time.time() - t0, 2),
        "stages": res.metrics,
    }))


if __name__ == "__main__":
    main()
