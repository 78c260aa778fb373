"""Session + configuration access.

All engine configuration lives under ``spark.ariadne.*`` Spark confs,
the same surface the reference exposes (reference:
src/main/scala/dev/cjfravel/ariadne/AriadneContext.scala:18-30, with
identical key names and defaults). Read lazily so tests can flip confs
between operations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .exceptions import StoragePathNotSetError

_PREFIX = "spark.ariadne."


def get_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("No active SparkSession; create one first")
    return spark


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``ariadne_spark`` importable on executors no matter where
    the driver was launched from: zip the package once per
    SparkContext and ``addPyFile`` it. Engine UDF closures
    (bloom probe/build, minhash/simhash signatures, media decode) are
    pickled with references to package modules, so Python workers must
    be able to import the package; on a cluster this automates what
    ``--py-files`` would do, and in local mode it covers drivers whose
    working directory is not the repo root."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(prefix="ariadne_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


# Sentinel default so unset keys return instead of raising: the raise
# path costs a py4j exception conversion (~25 ms per key), which
# multiplies across the 12-key snapshot on every Index open.
_UNSET = "\x00unset\x00"


def _conf(spark: SparkSession, key: str, default: str | None = None) -> str | None:
    raw = spark.conf.get(_PREFIX + key, _UNSET)
    return default if raw == _UNSET else raw


@dataclass(frozen=True)
class AriadneConf:
    """Snapshot of the spark.ariadne.* configuration surface."""

    storage_path: str
    large_index_limit: int = 500_000
    staging_consolidation_threshold: int = 50
    index_repartition_count: int | None = None
    debug: bool = False
    repartition_data_files: bool = False
    lock_timeout: int = 1800
    lock_retry_interval: int = 60
    lock_max_wait: int = 3600
    auto_compact_threshold: int | None = None
    auto_bloom_fpr: float = 0.01
    # Cost-model floor for bloom probing: when the index's total
    # indexed bytes are below this, locate skips the probe — for a
    # DataFrame query source the probe EXECUTES that frame (the SQL
    # rewriter hands over a live join side), which costs more than
    # just scanning a few MB of data. The 32 MiB default only ever
    # disables probing at toy scale; at lake scale indexes are far
    # past it and always probe. Skips are never silent (locate stats
    # + prune metrics record them). 0 = always probe.
    min_bloom_prune_bytes: int = 32 * 1024 * 1024

    @staticmethod
    def load(spark: SparkSession) -> "AriadneConf":
        storage = _conf(spark, "storagePath")
        if not storage:
            raise StoragePathNotSetError(
                "set spark.conf spark.ariadne.storagePath before using indexes"
            )

        def _int(key: str, default: int | None) -> int | None:
            raw = _conf(spark, key)
            return int(raw) if raw is not None else default

        def _bool(key: str, default: bool) -> bool:
            raw = _conf(spark, key)
            return raw.lower() == "true" if raw is not None else default

        raw_fpr = _conf(spark, "autoBloomFpr")
        return AriadneConf(
            storage_path=storage.rstrip("/"),
            large_index_limit=_int("largeIndexLimit", 500_000),
            staging_consolidation_threshold=_int("stagingConsolidationThreshold", 50),
            index_repartition_count=_int("indexRepartitionCount", None),
            debug=_bool("debug", False),
            repartition_data_files=_bool("repartitionDataFiles", False),
            lock_timeout=_int("lockTimeout", 1800),
            lock_retry_interval=_int("lockRetryInterval", 60),
            lock_max_wait=_int("lockMaxWait", 3600),
            auto_compact_threshold=_int("autoCompactThreshold", None),
            auto_bloom_fpr=float(raw_fpr) if raw_fpr is not None else 0.01,
            min_bloom_prune_bytes=_int("minBloomPruneBytes", 32 * 1024 * 1024),
        )
