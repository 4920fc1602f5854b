"""Stages the product rows of ``stream_ingest``, in a process of its own.

    python3 perfbench/stage.py <part.parquet> <out_dir> <buckets>

Derives the pro-zone product rows of every ``part`` row with
tools/streaming_scale_bench.py's ``product_json_from_part`` and writes
them as JSON lines, split into ``<buckets>`` buckets by a hash of the
part key: ``<out_dir>/json/bucket=<k>/part-*.json``, plus
``<out_dir>/rows.json`` with the row count of each bucket.  The seed of
a run only groups whole buckets into drops, so the stage does not depend
on it and is built once per checkout.

It runs in its own Spark session so that the measured process never
runs these jobs: a measured run then starts from the same JVM state
whether or not the stage existed before it.  The output is published by
renaming a finished temporary directory.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build(spark, part_path: str, out: str, buckets: int) -> None:
    from pyspark.sql import functions as F

    from tools.streaming_scale_bench import product_json_from_part

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    parts = os.path.join(tmp, "part")
    bucket = F.pmod(F.xxhash64("p_partkey"), F.lit(buckets))
    spark.read.parquet(part_path).withColumn("bucket", bucket).write.partitionBy("bucket").parquet(parts)
    # the select in product_json_from_part drops the partition column;
    # each row still knows its file, and so its bucket
    of_file = F.regexp_extract(F.input_file_name(), r"bucket=(\d+)", 1).cast("int")
    rows = product_json_from_part(spark, parts).withColumn("bucket", of_file)
    rows.write.partitionBy("bucket").json(os.path.join(tmp, "json"))
    counts = dict(spark.read.parquet(parts).groupBy("bucket").count().collect())
    with open(os.path.join(tmp, "rows.json"), "w") as fh:
        json.dump([counts.get(b, 0) for b in range(buckets)], fh)
    shutil.rmtree(parts)
    os.rename(tmp, out)


def main(argv: list[str]) -> int:
    part_path, out, buckets = argv[0], argv[1], int(argv[2])
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from run import stop_session

    from specialsid_spark import session

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}"}
    spark = session.get_spark("perfbench-stage", extra_conf=conf)
    try:
        build(spark, part_path, out, buckets)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
