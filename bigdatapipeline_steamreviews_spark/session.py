"""SparkSession factory with scale-oriented defaults.

The reference engine (``/root/reference/summarizer.py:16-18``) builds a bare
``SparkSession`` and relies on cluster defaults.  Here we centralize the
settings that matter at 100 TB so every entry point (tests, bench, driver
smoke) runs the same, deliberately-tuned session:

* **AQE on** (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast demotion/promotion based on observed sizes).
* **shuffle.partitions** sized for the local harness; on a real cluster this
  is overridden per-deploy (rule of thumb: 2-3x total cores, or rely on AQE
  coalescing from a high initial count).
* **Session timezone UTC** so event-time windowing is reproducible and
  matches the DuckDB oracle, which treats parquet timestamps as naive.
* **ANSI off**: permissive Spark-3-style casts (the reference targets Spark
  3.5.2, ``/root/reference/spark_server_setup.sh:5``); our expressions are
  written to be exact regardless.
* **Arrow on** for the few pandas-interop edges (multimodal UDF plumbing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ensure_parity_conf", "DEFAULT_SHUFFLE_PARTITIONS"]


def ensure_parity_conf(spark: SparkSession) -> SparkSession:
    """Set the runtime confs correctness depends on, idempotently.

    Query functions are handed arbitrary sessions (the driver harness
    builds a bare one), so every table load routes through this instead of
    assuming our tuned factory:

    * ``nanosAsLong`` — kept for drift-resilience: if the driver testdata
      ever reverts to parquet TIMESTAMP(NANOS) (as in rounds 1–2), Spark
      reads it as a long instead of failing PARQUET_TYPE_ILLEGAL, and the
      adaptive loader (``sources.tables.normalize_event_ts``) converts it.
      Harmless for micros/NTZ data.
    * ``UTC session timezone`` — event-time windows and date_trunc must
      agree with the DuckDB oracle, which treats timestamps as naive; also
      makes the NTZ→TIMESTAMP normalization cast wall-clock-identity.
    * ``ANSI off`` — the engine's expressions assume Spark-3 permissive
      cast semantics; PySpark 4 defaults ANSI on, so a bare driver session
      would otherwise diverge (error-on-overflow, strict casts).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "bigdatapipeline-steamreviews-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: pack small test files into few tasks; at 100 TB the same
        # knob bounds per-task input so scans stay within executor memory.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Drift-resilience: if events.ts ever arrives as TIMESTAMP(NANOS)
        # again (rounds 1-2 testdata), read it as long instead of failing;
        # the adaptive loader converts whatever type shows up.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No per-call call-site capture.  With it on, PySpark wraps every
        # Column and functions call (pyspark.errors.utils._with_origin) in
        # several py4j calls (active session, conf read, origin set/clear),
        # a stack walk and a failing `import IPython` search — paid on
        # every call while a query is built.  ANSI is off (above and
        # ensure_parity_conf), so runtime errors carry no DataFrame context
        # anyway; an AnalysisException keeps its error class, and the
        # Python traceback still names the line.  Only getQueryContext()'s
        # callSite shows a JVM frame instead of the Python file:line.
        # SPARK_GRAFT_EXTRA_CONF can turn capture back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" perturbs any conf from the
    # environment (applied last, so it wins).  This is the hook the
    # execution-decomposition audit uses (DIRTYDATA.md §8): rerun the
    # full oracle sweep under hostile shuffle-partition / input-split /
    # Arrow-batch-size settings and hash-diff against the clean sweep —
    # results must not depend on HOW the plan was parallelized.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def set_unless_pinned(spark, key: str, value: str) -> None:
    """Set a session conf unless ``SPARK_GRAFT_EXTRA_CONF`` pins the key.

    Operator builders that tune a session conf (the Arrow seams set
    ``spark.sql.execution.arrow.maxRecordsPerBatch``) must NOT override a
    perturbation-audit pin: the env hook above is how DIRTYDATA §8 forces
    hostile Arrow batch sizes across a whole sweep, and a builder-time
    ``conf.set`` would silently undo it for every query that runs after
    the first seam query (round-10 ADVICE fix)."""
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    pinned = {
        p.partition("=")[0].strip()
        for p in env_conf.split(";")
        if p.strip()
    }
    if key not in pinned:
        spark.conf.set(key, value)
