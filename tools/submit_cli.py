"""spark-submit entrypoint for the engine CLI — the north rule's literal
launch mechanism.

`python -m search_engine_trec_fair_ranking_19_spark ...` owns its own
SparkSession (local mode by default). On a cluster the same CLI runs under
spark-submit, which owns the master, the driver JVM, and ships the package
to executors via --py-files:

    # from the repo root
    python -m zipfile -c /tmp/engine_pkg.zip search_engine_trec_fair_ranking_19_spark

    spark-submit \
      --master spark://127.0.0.1:7077 \
      --py-files /tmp/engine_pkg.zip \
      --conf spark.executor.memory=4g \
      tools/submit_cli.py build --input /data/webtext.parquet --index /data/idx

    spark-submit --master spark://127.0.0.1:7077 --py-files /tmp/engine_pkg.zip \
      tools/submit_cli.py query --index /data/idx "spark shuffle" --k 10

Do NOT pass the CLI's own --master flag here: `session.get_spark` detects
the spark-submit environment (PYSPARK_GATEWAY_PORT, exported only by
PythonRunner) and leaves the master to spark-submit's conf. --py-files
puts the zip on both the driver's and every executor's sys.path, so this
shim needs no sys.path edits of its own.
"""

import sys

from search_engine_trec_fair_ranking_19_spark.__main__ import main

if __name__ == "__main__":
    sys.exit(main())
