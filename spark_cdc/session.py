"""SparkSession factory tuned for the CDC engine.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan + skew-join splitting),
shuffle partitions sized to cores (locally) / 2-3x total cores
(cluster), Arrow enabled for every pandas-UDF boundary, UTC session
timezone so timestamps compare bit-exactly against the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _package_zip(pkg_dir: str) -> str:
    """Zip of every ``.py`` file under ``pkg_dir`` (as ``spark_cdc/...``)
    in the system temp dir, named by a hash of each file's relative
    path and bytes: checkouts with different code never share a zip,
    and an edit always gets a new one whatever its mtime. The zip is
    written under a temp name and renamed into place, so a concurrent
    session never reads a half-written file."""
    root = pathlib.Path(pkg_dir)
    blobs = {p.relative_to(root).as_posix(): p.read_bytes() for p in sorted(root.rglob("*.py"))}
    digest = hashlib.sha256()
    for rel, data in blobs.items():
        digest.update(rel.encode() + b"\0" + len(data).to_bytes(8, "little") + data)
    name = f"spark_cdc_pyfiles_{digest.hexdigest()[:16]}.zip"
    zip_path = os.path.join(tempfile.gettempdir(), name)
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(zip_path))
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as z:
                for rel, data in blobs.items():
                    z.writestr(f"spark_cdc/{rel}", data)
            os.replace(tmp, zip_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make ``spark_cdc`` importable on executors regardless of cwd —
    the programmatic equivalent of ``spark-submit --py-files`` (which
    is how the engine is deployed on a real cluster). Needed by any
    pandas-UDF / mapInPandas closure that references package symbols."""
    spark.sparkContext.addPyFile(_package_zip(os.path.dirname(os.path.abspath(__file__))))


def get_spark(
    master: str | None = None,
    app_name: str = "spark_cdc",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32).
    On a real cluster this is whatever ``spark-submit --master`` gave
    us: the builder only *adds* conf, it never overrides a live session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_CDC_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which carries NO footer min/max statistics — that silently
        # disables both parquet row-group skipping and the manifest
        # zone maps (col_stats) on timestamp columns. int64 micros is
        # the modern encoding every reader (Iceberg, DuckDB, pyarrow)
        # expects and keeps stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_CDC_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # snapshot reads pass explicit file lists (one or two per
        # bucket); above the default threshold (32 paths) Spark
        # schedules a distributed LISTING JOB per read — measured
        # ~250-400ms of pure overhead per CoW micro-batch. Driver-side
        # listing of O(100) paths is microseconds; on a real cluster
        # with object storage, tune back down only if manifests grow
        # to many thousands of files (compaction bounds that here).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # task-side output commit (v2): the v1 job-commit merges every
        # task's directory sequentially on the driver — measurable per
        # micro-batch when each merge writes one file per bucket. The
        # v2 caveat (partially-committed files visible after a job
        # failure) does not apply to the lake: readers only see files
        # the MANIFEST commit publishes, never by listing.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        _ship_package(spark)
    except Exception:
        pass  # already shipped via --py-files: workers import from PYTHONPATH
    return spark
