"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM, but every config here is chosen
to also be the right default on a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the few pandas-UDF
operators, UTC session timezone so results are oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_JAVA_OPTIONS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``$SPARK_GRAFT_DRIVER_MEM`` is unset:
    a quarter of physical memory (``MemTotal`` in ``meminfo``), between
    1 and 4 GiB, so the driver heap never exceeds the host's RAM. Hosts
    without ``/proc/meminfo`` get 4g."""
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return "4g"
    return f"{max(1, min(4, int(kib / 2**20 // 4)))}g"


def _with_code_cache(java_options: str | None) -> str:
    """``java_options`` with the JIT code-cache reservation appended; an
    explicit ``-XX:ReservedCodeCacheSize`` already in them wins."""
    flag = "-XX:ReservedCodeCacheSize=" + os.environ.get(
        "SPARK_GRAFT_CODE_CACHE", "512m"
    )
    if not java_options:
        return flag
    if "-XX:ReservedCodeCacheSize=" in java_options:
        return java_options
    return f"{java_options} {flag}"


def get_spark(
    app_name: str = "auto_data_linkage_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — correct for local mode; on a real
    cluster callers pass ~2-3x total executor cores instead. The driver heap
    is ``$SPARK_GRAFT_DRIVER_MEM`` or :func:`_default_driver_memory`.
    ``extra_conf`` entries override the defaults, except that JVM options
    given for ``spark.driver/executor.extraJavaOptions`` keep the code-cache
    flag appended.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # limit/take probes start at ONE partition and scale up 4x per
        # round — over an expensive lineage (e.g. the CC size probe on a
        # blocking-join edge list) the early low-parallelism rounds cost
        # 20x a full parallel scan. Start at the core count instead.
        .config("spark.sql.limit.initialNumPartitions", str(cpus))
        # Spark 4 rejects parquet TIMESTAMP(NANOS) outright; read the raw
        # int64 and let loaders rebuild µs timestamps (see load_tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Iterative algorithms (connected components, EM) checkpoint to
        # truncate lineage; local dir works in local mode, DFS on a cluster.
        .config("spark.checkpoint.compress", "true")
        # Runtime bloom-filter join pruning (off by default): when a
        # selective join's build side is too large to broadcast — e.g.
        # a delta-vs-corpus anti-join whose delta outgrew the broadcast
        # threshold — the optimizer injects a bloom filter on the probe
        # side, pruning shuffle input at the scan. Free locally, decisive
        # at cluster scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # AQE coalescing floor. The 1m default sizes post-shuffle
        # partitions by BYTES, which collapses compute-dense, byte-light
        # intermediates (exploded postings, pair lists, scored
        # candidates) onto 1-2 cores. A lower floor restores parallelism
        # for those stages; at cluster scale real intermediates exceed
        # the floor either way, so the setting is only ever binding on
        # small data where extra tasks are nearly free. Overridable per
        # deployment (e.g. back to "1m" for very high-latency shuffle
        # services) via $SPARK_GRAFT_AQE_MIN_PARTITION.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        # Generated-class cache. Spark caches compiled codegen classes
        # keyed on source text, default 100 entries. A session that
        # cycles through more than ~100 distinct query shapes (this
        # engine's catalog alone is 138) evicts every class between
        # repetitions and pays full Janino recompilation per run —
        # measured 137.9 s → 97.5 s on the 74-query headline pass with
        # the cache raised. Cached classes are small (KBs of bytecode);
        # 5000 entries is well inside a multi-GB driver/executor heap.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
    )
    # JIT code cache. The JVM default (240 MB) fills under thousands of
    # distinct compiled codegen units; once full the JIT stops compiling
    # and hot query loops run interpreted (flushing also discards
    # still-hot methods). Raising the reservation is free (virtual until
    # used): measured 97.5 s → 80.3 s on the same pass, on top of the
    # class-cache fix. Applied to executors too — they compile the same
    # generated sources — and appended to any JVM options the caller
    # passes. No-op when the JVM is already running (getOrCreate reuse).
    extra_conf = dict(extra_conf or {})
    for key in _JAVA_OPTIONS:
        extra_conf[key] = _with_code_cache(extra_conf.get(key))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Small driver-local DataFrame via the Arrow path (guide §4:
    eliminate the Python boundary).

    A plain-list ``createDataFrame`` pickles the rows into a Python RDD;
    EVERY consumer stage of that relation then launches Python workers
    just to unpickle a handful of rows — measured 0.3–1.7 s per
    materialization for a 50-row table on local[32], paid again whenever
    the worker pool has gone cold. Converting the rows driver-side to an
    Arrow table keeps execution JVM-only: same rows, order and schema.
    ``schema`` is a DDL string (columns mapped positionally) or a list of
    column names (types inferred: int→bigint, float→double, str→string,
    list of float→array<double>, all-None→void). Rows Arrow cannot
    convert raise: no silent fallback to the pickle path. Empty inputs
    use ``createDataFrame([], schema)``, which costs one empty task.
    """
    import pyarrow as pa
    from pyspark.sql.types import DataType

    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    names = (
        list(schema) if isinstance(schema, (list, tuple))
        else DataType.fromDDL(schema).names
    )
    table = pa.table([pa.array(col) for col in zip(*rows)], names=names)
    return spark.createDataFrame(table, schema)


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES):
    """Read the driver-generated parquet tables and register temp views.

    Returns a dict name -> DataFrame. Parquet scans get predicate pushdown
    and column pruning from Catalyst for free.
    """
    # sessions not built by get_spark() would reject TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df = rebuild_nanos_timestamps(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def epoch_seconds(col):
    """Epoch seconds as DOUBLE (µs precision) for a TIMESTAMP *or*
    TIMESTAMP_NTZ column.

    Spark 4 reads the testdata's parquet ``ts`` (µs, not adjusted to UTC)
    as TIMESTAMP_NTZ and forbids a direct NTZ→DOUBLE cast
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION). The intermediate
    ``cast("timestamp")`` is an identity cast on TIMESTAMP and
    reinterprets an NTZ wall clock in the session zone — which this
    engine pins to UTC (get_spark), exactly how the DuckDB oracle's
    ``epoch()`` treats naive timestamps. Every operator that needs
    epoch arithmetic on an event-time column must route through this
    helper rather than casting directly.

    The UTC pin is a CORRECTNESS precondition, not a convention: on a
    session someone else built with a non-UTC zone, the NTZ
    reinterpretation silently shifts every event time by the zone
    offset. So the helper verifies the active session's zone instead of
    trusting the engine pin (raises with the fix rather than shifting
    silently; plain-TIMESTAMP callers on a deliberately non-UTC session
    can cast directly — they don't need this helper)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.getActiveSession()
    if spark is not None:
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"epoch_seconds requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}): TIMESTAMP_NTZ event times would silently "
                "shift by the zone offset. Build the session with "
                "get_spark() or set the conf to 'UTC'."
            )
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def rebuild_nanos_timestamps(df, cols=("ts",)):
    """Rebuild TIMESTAMP(NANOS) columns read as long under
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (Spark 4 rejects nanos
    natively). Applies to each named column that surfaced as bigint;
    integer div keeps the sub-µs bits from corrupting the value (float
    division loses precision at ns magnitudes). Shared by load_tables and
    the event-stream query loaders."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df
