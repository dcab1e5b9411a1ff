"""SparkSession factory tuned for the extraction workload.

Local-mode defaults follow the sandbox (local[32], single JVM); on a real
cluster only `master` changes — the SQL-level knobs (AQE, Arrow, shuffle
partition sizing) are the scale levers.  SURVEY.md §4.2/§4.3.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from cloud_ocr_summarizer_spark import config


def get_spark(
    app_name: str = "cloud-ocr-summarizer-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` pins ``local[N]`` — used by bench.py to measure scaling
    efficiency between two parallelism levels (north_rule: N vs 4N).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~1 partition per core in local mode; AQE coalesces further.
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


_PKG_ZIP: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in Python WORKERS regardless of the
    launcher's cwd.

    cloudpickle serializes pandas/Arrow UDF closures by module name, so
    workers must import ``cloud_ocr_summarizer_spark`` themselves.  When
    the driver process is launched from the repo root, workers inherit
    it on sys.path implicitly — which silently masks the bug until
    someone runs bench.py (or any entry point using this factory) from
    another directory and every mapInPandas/mapInArrow stage dies with
    ModuleNotFoundError.  Ship a zip via addPyFile once per session —
    ``__spark_entry__`` calls this for sessions it did not build; the
    spark-submit jobs use ``--py-files`` for the same effect."""
    if getattr(spark, "_cos_pkg_shipped", False):
        return
    import shutil
    import tempfile

    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect sessions have no sparkContext; there the classic
        # cwd/PYTHONPATH route is the only option — row-local plans
        # still work without the worker import.  Quiet by design.
        spark._cos_pkg_shipped = True  # type: ignore[attr-defined]
        return
    try:
        global _PKG_ZIP
        if _PKG_ZIP is None:
            pkg_dir = os.path.dirname(os.path.abspath(__file__))
            base = os.path.join(
                tempfile.mkdtemp(prefix="cos_spark_pkg_"), "pkg"
            )
            _PKG_ZIP = shutil.make_archive(
                base,
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir=os.path.basename(pkg_dir),
            )
        sc.addPyFile(_PKG_ZIP)
    except Exception as exc:
        # A real shipping failure (full or unwritable TMPDIR, addPyFile
        # refusal) must stay AUDIBLE: the session is still marked
        # shipped (retrying per call would spam a broken host), but a
        # later worker-side ModuleNotFoundError needs this warning to
        # point at the real cause.
        import warnings

        warnings.warn(
            "could not ship cloud_ocr_summarizer_spark to workers "
            f"({type(exc).__name__}: {exc}); pandas/Arrow UDF stages "
            "will require the package on worker PYTHONPATH",
            RuntimeWarning,
            stacklevel=2,
        )
    spark._cos_pkg_shipped = True  # type: ignore[attr-defined]


def runtime_bloom_filter_conf(
    *,
    creation_side_threshold: str = "100MB",
    application_side_threshold: str = "10GB",
) -> dict[str, str]:
    """Configs enabling Catalyst's runtime row-level bloom filtering.

    On a shuffle join whose build side carries a selective filter, the
    optimizer injects bloom_filter_agg on the build side and
    might_contain on the probe side — probe rows that cannot match are
    dropped BEFORE the probe shuffle.  This is the big-big join lever at
    100 TB (broadcast joins don't need it; they prune at the hash table):
    a dim filtered to 1% cuts the fact shuffle ~99% without any manual
    pre-join or semi-join stage.

    Spark's defaults only fire when the probe scan exceeds 10 GB, so the
    effect is invisible at test SF tiers; tests pass
    ``application_side_threshold="0"`` to force injection and assert the
    plan shape (test_plans).  Production should keep the defaults and
    simply merge this dict into ``get_spark(extra_conf=...)``.
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            creation_side_threshold
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": (
            application_side_threshold
        ),
    }
