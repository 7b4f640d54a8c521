"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set fleet-wide on a real cluster:
AQE on (runtime skew/coalesce re-planning), shuffle partitions sized to the
parallelism actually available, Arrow enabled for the few pandas-UDF eval
operators, UTC session timezone (bar timestamps are epoch-ms).

ANSI mode is deliberately OFF: the reference engine's semantics are
permissive (ClickHouse ``nullIf`` guards everywhere, NULL on bad division),
and every denominator in this codebase is explicitly ``nullif``-guarded, so
we want NULL-propagation rather than task-killing exceptions at 100 TB.

Cache lifetime: every persisted relation that outlives the function that
built it goes through :func:`hold`, and :func:`release` (called by
``catalog.reset_plan_caches``) is the one path that unpersists them.
Nothing drops Spark's whole cache, so a caller's own cached frames
survive a reset.  A persist that its own function unpersists
before it returns needs no hold; these are:

- ``catalog._doc_arrs``: the ``sh`` posting relation, dropped once
  ``arrs`` is counted;
- ``dedup.duplicate_clusters``: ``pre_edges`` (dropped once ``edges`` is
  counted) and ``edges`` (dropped once the labels converge);
- ``similarity.pq_train``: ``sv``;
- ``similarity.kmeans_train``: ``v``;
- ``classifier.logreg_score``: ``raw`` when the caller passed none.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


#: minimum free bytes on /dev/shm before it is used as shuffle scratch —
#: spill landing on a nearly-full tmpfs fails with ENOSPC *and* eats the
#: RAM the spill was meant to relieve, so a small tmpfs is worse than disk
_SHM_MIN_FREE_BYTES = 16 * 1024**3


def _local_scratch_dir() -> str:
    """Default ``spark.local.dir``: /dev/shm when it exists with ≥16 GiB
    free, else /tmp.  Overridable via ``SPARK_LOCAL_DIRS``."""
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
                return "/dev/shm/spark-scratch"
        except OSError:
            pass
    return "/tmp"


#: driver heap ceiling when ``SPARK_DRIVER_MEMORY`` is unset
_DRIVER_MEMORY_CAP_MIB = 48 * 1024


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: half the host's MemTotal, capped
    at 48 GiB — the JVM grows its heap toward this ceiling, and a ceiling
    above physical RAM gets the driver killed mid-run.  48 GiB when the
    host's memory cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except OSError:
        return f"{_DRIVER_MEMORY_CAP_MIB}m"
    return f"{min(_DRIVER_MEMORY_CAP_MIB, kib // 2 // 1024)}m"


def get_spark(
    app_name: str = "rangebar_patterns_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 64 MB broadcast ceiling (default 10 MB): the engine's dimension
        # relations — config grids, shingle-array sides of dedup verify
        # joins, centroid tables — are tens of MB at any corpus scale,
        # and shuffling the *fact* side of those joins twice costs far
        # more than shipping a 64 MB table to each executor.  At sf1 the
        # ngram-Jaccard verify join (12.7M candidate pairs × 50K-doc
        # array side) drops ~5× from this alone.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # shuffle/spill scratch on tmpfs when available: local-mode
        # shuffle writes otherwise contend with the host's virtio disk
        # (observed as D-state stalls with idle CPUs); on a real cluster
        # this is "put spark.local.dir on the fast local NVMe", the
        # standard deployment guidance.  tmpfs spill consumes RAM, so
        # the default only picks /dev/shm when it has headroom
        # (_local_scratch_dir); memory-constrained hosts should set
        # SPARK_LOCAL_DIRS explicitly.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", _local_scratch_dir()),
        )
        .config("spark.ui.enabled", "false")
        # 128 MB input splits: at 100 TB this yields ~800K tasks; pair with
        # dynamic allocation on a real cluster.  Local tests never notice.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the driver's testdata uses TIMESTAMP(NANOS) parquet, which Spark
        # only reads as raw int64 — the bars adapter converts to epoch ms
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: persisted frames that outlive the function that built them, in hold
#: order (every session's; see :func:`release`)
_HELD: list[DataFrame] = []


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the next :func:`release` of its session and
    return it.  Lazy like ``persist``: the caller decides whether to
    materialize now."""
    df.persist()
    _HELD.append(df)
    return df


def release(spark: SparkSession) -> None:
    """Unpersist ``spark``'s held frames, newest first, and forget every
    held frame.  Newest first because ``unpersist`` does not cascade:
    uncaching a frame re-plans every cached, not yet materialized plan
    that reads it, so the dependents should already be gone.  Frames of
    any other session (one since stopped, say) are forgotten without a
    JVM call."""
    while _HELD:
        df = _HELD.pop()
        if df.sparkSession is spark:
            df.unpersist()
