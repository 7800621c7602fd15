"""SparkSession construction with scale-appropriate defaults.

The engine targets multi-executor clusters at 10^12-turn scale; these
defaults encode the knobs that matter there (AQE, skew-join handling,
Arrow batches) while remaining correct on local[N] for tests.

`spark.sql.shuffle.partitions` defaults to the session's task slots
(`sparkContext.defaultParallelism`: N for local[N], the executor cores
on a cluster) — the reference's per-bolt `par=N`. AQE coalesces batch
shuffles, but it never re-plans a stateful streaming stage, where every
partition is one Python task per microbatch with a fixed worker-setup
cost; one partition per slot keeps that cost at one task per core. A
streaming checkpoint fixes its state layout when it first starts: its
offset log records the partition count, and every restart uses that
count whatever the session conf says.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_py_files(spark: SparkSession) -> None:
    """Ship this package to executor Python workers — the in-process
    analog of `spark-submit --py-files app.zip` (reference deploy path:
    `sparse submit`, src/cli/spamscope_topology.py:127-142).

    UDF closures reference spamscope_spark module functions, which
    cloudpickle serializes *by module name*; a worker whose PYTHONPATH
    lacks the repo root (any driver not launched from /root/repo) would
    fail to unpickle them. addPyFile distributes a zip and every Python
    worker adds it to sys.path per task, on a real cluster and in
    local mode alike. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_spamscope_shipped", False):
        return
    import tempfile
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"spamscope_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    zf.write(p, os.path.relpath(p, os.path.dirname(pkg)))
    sc.addPyFile(zpath)
    sc._spamscope_shipped = True


def build_session(
    app_name: str = "spamscope-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    On a real cluster the master/executor sizing comes from spark-submit;
    everything set here is cluster-size independent. With no master and
    no SPARK_MASTER, the session runs local[N] over the usable CPUs, or
    over SPARK_GRAFT_CPUS when that is set. shuffle_partitions defaults
    to the session's task slots.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime re-plan, shuffle coalescing, skew-join splitting —
        # mandatory at 100TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf exchange (the only Python boundary we allow).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Session timezone pinned so ts semantics are deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or spark.sparkContext.defaultParallelism),
    )
    ensure_py_files(spark)
    return spark
