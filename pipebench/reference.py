"""The reference job: a fixed Spark job, independent of the program,
timed right before every timed op so that op time can be read in
units of it.

The benchmark runs on a shared host whose speed moves by a third
within minutes at an unchanged input and with no hypervisor steal
(see ``pipebench/README.md``).  Raw op seconds carry that drift; op
seconds divided by the seconds of a job of the same shape, timed a
moment earlier in the same session, mostly do not.  The reference has
the pipeline's shape: parquet scan, a hash shuffle on a string key, an
Arrow pandas UDF running regexes in the Python workers, a sort within
partitions, a parquet write and a re-read count.  It uses only PySpark,
pandas and numpy, and pins the SQL settings it depends on, so a change
to the pipeline's code or to the session's SQL settings does not move
it.  What moves it is the host and the JVM the session runs in,
JVM-wide session settings included.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed input: the same rows for every seed and every run.
DATA_SEED = 0
FILES = 4
KEYS = 400
WORDS = ("alpha", "beta", "gamma", "delta", "status=ok", "status=err",
         "dur=12ms", "dur=340ms", "id=7f3a", "id=0b9c", "GET", "POST", "->")
TEXT_WORDS = 24


def _conf(cpus: int) -> dict[str, str]:
    """SQL settings the reference runs under, whatever the session's."""
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "snappy",
    }


def generate(path: str, rows: int) -> None:
    """Write the reference input: ``rows`` rows in ``FILES`` files."""
    rng = np.random.default_rng(DATA_SEED)
    words = np.array(WORDS)
    text = [" ".join(ws) for ws in words[rng.integers(0, len(WORDS), (rows, TEXT_WORDS))]]
    table = pa.table({
        "key": [f"k{k:04d}" for k in rng.integers(0, KEYS, rows)],
        "idx": np.arange(rows, dtype=np.int64),
        "text": text,
    })
    os.makedirs(path, exist_ok=True)
    step = -(-rows // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


def _extract_udf():
    """Python-side work per row, like the parser's: a few regexes.  Made
    in a function so the workers get it by value: they cannot import
    this module."""
    from pyspark.sql.functions import pandas_udf

    def extract(text):
        import pandas as pd

        status = text.str.extract(r"status=(\w+)", expand=False).fillna("-")
        dur = text.str.extract(r"dur=(\d+)ms", expand=False).fillna("0")
        ids = text.str.count(r"id=[0-9a-f]{4}")
        return pd.DataFrame({"status": status, "dur_ms": dur.astype("int64"), "ids": ids})

    return pandas_udf(extract, "status string, dur_ms long, ids int")


def run(spark, path: str, rows: int, out: str) -> float:
    """Seconds of one reference job over the ``rows``-row input at
    ``path``, written to ``out`` (deleted before and after, outside the
    timer)."""
    from pyspark.sql import functions as F

    udf = _extract_udf()
    cpus = int(spark.sparkContext.defaultParallelism)
    saved = {k: spark.conf.get(k, None) for k in _conf(cpus)}
    shutil.rmtree(out, ignore_errors=True)
    for k, v in _conf(cpus).items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        df = spark.read.parquet(path).repartition(cpus, "key")
        df = df.withColumn("x", udf("text")).select("key", "idx", "x.*")
        df.sortWithinPartitions("key", "idx").write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).agg(F.count("*")).collect()[0][0]
        s = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    shutil.rmtree(out, ignore_errors=True)
    if n != rows:
        raise RuntimeError(f"reference job wrote {n} rows, not {rows}")
    return s
