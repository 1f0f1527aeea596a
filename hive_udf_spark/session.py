"""SparkSession construction tuned for this engine.

Local-mode defaults follow the driver environment (local[32], single JVM).
At cluster scale the same settings remain correct: AQE handles runtime
re-planning (partition coalescing, skew-join splitting), and shuffle
partition counts should be overridden per deployment via --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Generated classes the JVM keeps compiled (Spark's default is 100); the
# get_spark docstring gives the working set this is sized for.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "hive_udf_spark", shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime coalescing + skew-join handling (LSH band joins skew).
    - Arrow on: every Python-boundary crossing is batched, never per-row.
    - UTC session timezone: parity with DuckDB's UTC-naive timestamps.
    - shuffle.partitions ~ cores in local mode; at cluster scale set to
      ~2-3x total executor cores via submit conf.
    - Generated-class cache of ``CODEGEN_CACHE_ENTRIES`` (1000): a
      repeated operator call compiles nothing. One pass of perfbench's
      corpus_pipeline (exact dedup, near-dup pairs, clusters, IVF
      training and search, hyperplane LSH) compiles about 135 classes,
      so under Spark's default of 100 every warm pass evicted and
      recompiled 99 of them, 39 in dedup_clusters alone. 1000 holds
      several such working sets; a class averages 2.4 KB of bytecode.
      The setting is static (read when the JVM first generates code),
      so it only takes effect when this builder creates the session; a
      session that already exists keeps the cache it started with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Spark 4's PYTHON DATA SOURCE planner workers (the streaming
    # source runner behind streaming/delta_changes_source.py) are
    # spawned by the JVM and unpickle registered sources by module
    # reference — they need this package on PYTHONPATH, which the
    # addPyFile zip below does NOT cover (it reaches executor workers
    # only).  Export the package's parent dir BEFORE the JVM launches
    # so every spawned worker inherits it; a no-op when the package is
    # pip-installed (site-packages is always importable) or the JVM
    # already exists.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing_pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (
            os.pathsep + existing_pp if existing_pp else ""
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Corpus parquet has carried TIMESTAMP(NANOS) in some generations;
        # Spark's vectorized reader rejects it. Read as long nanos;
        # sources.tables converts to micro-truncated timestamps (same
        # truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Other generations write TIMESTAMP(MICROS, isAdjustedToUTC=false),
        # which Spark 4 infers as TIMESTAMP_NTZ — breaking unix_micros &c.
        # Read as session-tz TIMESTAMP (session tz is UTC, so wall-clock
        # values are identical to DuckDB's naive timestamps).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Deliberate input/shuffle sizing (spill-aware defaults): 128 MiB
        # scan splits keep a partition's decompressed batch well inside
        # executor memory at any SF; AQE's advisory size governs post-
        # shuffle coalescing so reducers see ~64 MiB, not 32 slivers.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


_SHIPPED_APP_IDS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make hive_udf_spark importable on executors regardless of cwd.

    Pandas-UDF closures reference this package by module name; cloudpickle
    serializes them by reference, so workers must be able to import it.
    Zipping the package and ``addPyFile``-ing it is the same mechanism as
    ``spark-submit --py-files`` on a real cluster.

    Idempotent per SparkContext: addPyFile is keyed by file NAME, so
    shipping a freshly built zip twice into one context makes executors
    reject the second copy ("exists and does not match") whenever the
    package source changed between the two calls — every task needing a
    Python worker then fails. Ship exactly once per application.
    """
    import shutil
    import tempfile

    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.mkdtemp(prefix="hive_udf_spark_"), "hive_udf_spark")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APP_IDS.add(app_id)
