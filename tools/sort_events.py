#!/usr/bin/env python3
"""Write an event-time-ordered copy of the sf100 events table (dev
tooling, driver-side pyspark): range-partition by ts so file k holds
the k-th time range, then set mtimes in filename order so Spark's
FileStreamSource (which feeds oldest-mtime first) ingests the corpus
in event-time order under maxFilesPerTrigger=1. This is the
"time-bucketed files" ingestion shape the watermarked-stream
divergence writeup prescribes — built to MEASURE that prescription.
"""
import glob
import os
import time

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = f"{REPO}/target/scale/sf100/events.parquet"
DST = f"{REPO}/target/scale/sf100_sorted/events.parquet"

spark = (SparkSession.builder.master("local[16]")
         .config("spark.sql.shuffle.partitions", "49")
         .config("spark.local.dir", f"{REPO}/target/spark-tmp")
         .config("spark.driver.memory", "32g")
         .getOrCreate())
df = spark.read.parquet(SRC)
(df.repartitionByRange(49, "ts")
   .sortWithinPartitions("ts")
   .write.mode("overwrite").parquet(DST))
spark.stop()

base = time.time() - 10000
for i, f in enumerate(sorted(glob.glob(f"{DST}/part-*.parquet"))):
    os.utime(f, (base + i * 10, base + i * 10))
print("sorted copy ready:", len(glob.glob(f"{DST}/part-*.parquet")), "files")
