"""Multi-process writer safety: two OS processes update the same
index concurrently; the lock + atomic manifest commits must yield a
complete, uncorrupted index (reference category: IndexLockTests +
Delta optimistic concurrency)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from ariadne_spark import Index

WORKER = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("writer-{tag}").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.ariadne.storagePath", {storage!r})
from ariadne_spark import Index

idx = Index.for_name("conc", spark=spark)
idx.add_files({files!r})
idx.update()
spark.stop()
print("WORKER-OK")
"""


def test_two_processes_update_same_index(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("conc", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = []
    for tag, subset in (("a", files[:2]), ("b", files[2:])):
        code = WORKER.format(repo=repo, tag=tag, storage=storage, files=list(subset))
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", code],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
        )
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, err[-2000:]
        assert "WORKER-OK" in out

    # both writers' files indexed exactly once, values answer correctly
    idx._invalidate()
    assert idx.index_df.count() == len(files)
    assert idx.unindexed_files() == []
    values = [5, 6, 7]
    res = idx.read_matching({"o_custkey": values})
    exp = df.where(F.col("o_custkey").isin(values))
    assert res.count() == exp.count()
