"""SparkSession builder tuned for the extraction workload.

Arrow on (all kernels are pandas-on-Arrow), AQE on (runtime skew backstop),
and an optional Iceberg catalog that activates only when the runtime ships the
Iceberg Spark extension (not present in this sandbox; the parquet snapshot
ledger in ``sparkx.checkpoint`` provides the same transactional semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batches sized for text-heavy rows (SURVEY.md §4.2): large enough to
# amortize Arrow round-trip + per-batch pandas overhead (measured: 16k beats
# 4k by ~10% on the extraction kernel), small enough to bound executor memory
# when turns carry multi-KB payloads (16k rows × ~1KB ≈ 16MB per batch).
ARROW_BATCH_ROWS = 16384


_SPREAD_PROBE_CACHE: dict = {}


def spread_narrow_input(df, min_parts: int = 8, cache_key: str | None = None):
    """Scale-adaptive parallelism repair for narrow scans (guide §1.2/§2.5).

    A small or single-row-group parquet table plans as one (or very few)
    scan tasks, which serializes ALL downstream per-row map work before the
    first exchange — shingling, hashing, vector scoring — onto one core
    (measured: a 2000-row single-file embeddings scan made every frozen-
    quantizer op evaluate on 1 task of a 32-core session).  Round-robin
    repartition such inputs to the session's default parallelism; the
    shuffle moves only the tiny table.  Wide inputs (a healthy 100 TB scan
    arrives in thousands of byte-range splits) pass through untouched, so
    the scale plan shape is unchanged.  The probe is planning-only (no
    job), the same idiom as extract_blocks' salt probe.
    Explicit-numPartitions repartition is exempt from AQE coalescing, so
    the spread survives adaptive re-planning.

    ``cache_key``: stable identity of the INPUT (e.g. the parquet path) —
    the partition probe costs a full plan build (df.rdd), so repeated
    probes of the same table within a process are answered from a cache."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    floor = min(min_parts, target)
    if cache_key is not None:
        key = (id(sc), cache_key)
        n = _SPREAD_PROBE_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _SPREAD_PROBE_CACHE[key] = n
    else:
        # un-keyed (op-internal) callers may receive arbitrary mid-plan
        # frames; only scan-shaped inputs (a relation, optionally under a
        # few Filters/Projects) are probed.  Anything bigger is assumed
        # caller-shaped: the partition probe itself would build the whole
        # plan (measured ~0.3-0.5 s of driver time on the corpus funnel's
        # extraction DAG), and repartitioning a mid-plan frame second-
        # guesses upstream exchanges.
        if not _plan_is_small(df):
            return df
        n = df.rdd.getNumPartitions()
    if n < floor:
        return df.repartition(target)
    return df


_SHAPED_NODES = frozenset(
    ["Aggregate", "Join", "Generate", "Window", "Union", "Sort",
     "Distinct", "Deduplicate", "GroupingSets", "MapInPandas",
     "Repartition", "RepartitionByExpression"]
)


def _plan_is_small(df, max_nodes: int = 8) -> bool:
    """True iff the (unanalyzed) logical plan is scan-shaped: a bounded
    number of nodes and none that already shape the data (aggregates,
    joins, generators, windows, repartitions) — those frames are
    caller-shaped and must not be re-spread."""
    try:
        stack = [df._jdf.queryExecution().logical()]
    except Exception:
        return False
    count = 0
    while stack:
        node = stack.pop()
        count += 1
        if count > max_nodes or node.nodeName() in _SHAPED_NODES:
            return False
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return True


def _iceberg_available() -> bool:
    """True iff an iceberg-spark-runtime jar is on the classpath."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars))
    except OSError:
        return False


def build_session(
    app_name: str = "sparkx",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARKX_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; 2x cores keeps shuffle tasks small without tiny-file blowup
        n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = 2 * (cpus if n in ("*", "") else int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # parquet scan parallelism at 100TB: default 128MB splits; keep default
        # but make it explicit so the knob is visible to operators.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARKX_DRIVER_MEM", "8g"))
    )
    if warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
    if _iceberg_available():
        # Real-cluster path: a hadoop-backed Iceberg catalog named `ice`.
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.ice.type", "hadoop")
            .config(
                "spark.sql.catalog.ice.warehouse",
                warehouse or os.environ.get("SPARKX_ICEBERG_WAREHOUSE", "/tmp/sparkx_ice"),
            )
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
