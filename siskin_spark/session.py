"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-vs-oracle parity and for scale:

- UTC session timezone so timestamp values agree with the DuckDB oracle
  (parquet timestamps are naive; both engines must interpret them the
  same way).
- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle partition count is always wrong for some stage.
- Arrow on for the few pandas-UDF paths (language id, vector ops).
- shuffle partitions sized from the cpu budget for local runs; on a
  real cluster AQE coalescing makes the initial number mostly a cap.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _scratch_dir() -> str | None:
    """Shuffle/spill scratch directory: the fastest local storage
    available. Shuffle-file create/write/fetch latency is a fixed cost
    on EVERY exchange (measured ~100 ms per action on this sandbox's
    disk-backed /tmp vs tmpfs for a small shuffle, and −36% on a 3M-row
    shuffle) — the same reason production clusters point
    ``spark.local.dir`` at local NVMe instead of the OS disk. Order:
    ``$SPARK_GRAFT_LOCAL_DIR`` (cluster operators set this to the fast
    device), else RAM-backed ``/dev/shm`` when present and writable
    (this sandbox: 126 G tmpfs vs a virtio disk), else None (Spark's
    default). Scratch only — no query results or intermediates outlive
    the session."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark-local")
    return None


def _is_tmpfs(path: str) -> bool:
    """True when ``path`` (or its nearest existing parent) lives on a
    RAM-backed filesystem — the signal that shuffle compression buys
    no I/O. Linux: statvfs has no fs type, so read /proc/mounts for
    the longest mount-point prefix; anything unreadable means 'assume
    a real device' (the safe, compressing side)."""
    try:
        p = os.path.abspath(path)
        while p and not os.path.exists(p):
            p = os.path.dirname(p)
        best, fstype = "", ""
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 3 and (p == parts[1] or p.startswith(parts[1].rstrip("/") + "/") or parts[1] == "/"):
                    if len(parts[1]) >= len(best):
                        best, fstype = parts[1], parts[2]
        return fstype in ("tmpfs", "ramfs")
    except OSError:
        return False


def get_spark(
    app_name: str = "siskin-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster you would drop ``master`` and submit normally; every
    other setting is cluster-safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # the Janino compiled-class cache holds 100 codegen units by
        # default; a session that cycles through the 50-query suite
        # (several WholeStageCodegen + expression units per query)
        # evicts constantly, so every re-run of a query regenerates and
        # recompiles its classes — churning the JIT code cache and
        # re-triggering C2 tier-up (the measured bimodal 1.3s/4.5s
        # flips on the hash-heavy queries). Process-level JVM health,
        # not a scale tunable: ~5000 entries is a few hundred MB of
        # metaspace at worst and is far above any one pipeline's
        # distinct-plan count.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # AQE coalesces post-shuffle partitions by BYTES (parallelism-
        # first down to minPartitionSize=1m). Text/token stages here are
        # CPU-dense per byte: a window/group stage whose shuffle input
        # is a few MB coalesces to a handful of tasks and serializes
        # interpreted expression work while the rest of the cores idle.
        # A 64k floor only changes stages with < ~cores MB of shuffle
        # data (at real scale partitions are far above 1m either way);
        # measured −10..20% on every shuffle-bearing doc query at sf0.1
        # with no effect on large stages.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # 512m ReservedCodeCacheSize: the JVM default (~240m) fills after
        # a few dozen distinct whole-stage-codegen'd queries in one
        # application; once full the JIT stops compiling (or flushes hot
        # methods) and generated code runs interpreted — measured as a
        # bimodal 2.6s/5s flip on the minhash query and a +50% drift
        # across a 50-query benchmark session. CodeCacheFlushing keeps
        # the JIT alive if the larger cache still fills.
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=/tmp -XX:ReservedCodeCacheSize=512m "
            "-XX:+UseCodeCacheFlushing",
        )
    )
    scratch = _scratch_dir()
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    # Shuffle-block compression trades CPU for scratch I/O; when the
    # scratch device is RAM (tmpfs) there is no I/O to save, so the
    # lz4 encode/decode on every exchange is pure overhead (measured
    # −5..10% on every shuffle-bearing doc query at sf0.1). Keep the
    # default (compress) whenever scratch is a real device — exactly
    # the posture a disk/NVMe-backed cluster wants — and let
    # $SPARK_GRAFT_SHUFFLE_COMPRESS override either way.
    comp = os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS")
    if comp is None and scratch and _is_tmpfs(scratch):
        comp = "false"
    if comp is not None:
        builder = (
            builder.config("spark.shuffle.compress", comp)
            .config("spark.shuffle.spill.compress", comp)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, rows, schema):
    """Literal driver-side rows as a JVM LocalRelation (LocalTableScan).

    ``spark.createDataFrame(list, schema)`` routes literals through a
    defaultParallelism-sliced Python RDD: every materialization
    occupies (and under concurrency, forks) one Python worker per
    slice just to unpickle a handful of rows — measured ~330 ms per
    pass at 32 cores, and thread dumps showed bench queries blocked in
    ``createPythonWorker``. The pandas/Arrow path costs ~50 ms, plans
    as ``LocalTableScan`` and executes JVM-only with zero Python
    workers. Values are identical (object-dtype columns keep None as
    NULL; lists/arrays ride Arrow) — pinned by tests. Arrow is pinned
    on around the conversion (vanilla sessions may have it off); an
    empty list keeps the classic path (nothing executes either way)."""
    import pandas as pd

    from pyspark.sql.types import StructType

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=st.names, dtype=object)
    with arrow_pinned(spark):
        return spark.createDataFrame(pdf, st)


@contextmanager
def arrow_pinned(spark: SparkSession):
    """Arrow on for the driver<->JVM conversions inside the block
    (``toPandas``, ``createDataFrame`` from pandas), the caller's
    setting restored after. Vanilla sessions may have it off and would
    silently take the ~10x slower Row path; every such conversion in
    the engine runs under this one pin."""
    ak = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(ak, "false")
    spark.conf.set(ak, "true")
    try:
        yield
    finally:
        spark.conf.set(ak, prev)
