#!/usr/bin/env python3
"""Production entry point: spark-submit --py-files fa_spark.zip jobs/extract_job.py

    spark-submit --master <cluster> --py-files fa_spark.zip \
        jobs/extract_job.py --input <pages parquet/iceberg path> \
        --output <analysis base dir> --run-id <id> [--committed-at ISO]

Resumable: re-running with the same --input/--output skips already-processed
(url, sha) pairs via the lineage anti-join (fa_spark.lineage). The run
timestamp is an explicit parameter — never wall clock inside the job
(SURVEY.md §7.3 determinism discipline). This is ``fa_spark.cli analyze``:
the same flags, and the run's summary as one JSON line on stdout.
"""

import sys

from fa_spark.cli import main

if __name__ == "__main__":
    main(["analyze", *sys.argv[1:]])
