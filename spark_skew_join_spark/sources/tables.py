"""Table catalog over the driver-provided parquet layout (TESTDATA.md).

One place that knows the physical layout (``{sf_dir}/{table}.parquet``) and
pins the session settings every query needs for oracle parity:

* ``spark.sql.session.timeZone=UTC`` — Spark timestamps are session-TZ,
  DuckDB's are UTC-naive; without this, every timestamp value-hash differs.
* AQE on (runtime re-plan, built-in skew-join available).

At 100 TB this module is where partition discovery / bucketing metadata
would live; parquet scans already give column pruning + predicate pushdown
for free through the DataSource V2 path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


# Partition-count memo keyed by (session id, analyzed-plan semantic hash):
# ``df.rdd`` forces a full logical->physical->RDD conversion, so probing the
# same scan shape repeatedly (shingles / kgram_hashes hot paths) would pay
# that planning cost on every call. ``semanticHash()`` only needs the
# analyzed plan and is stable across re-constructions of the same query.
_NPARTS_MEMO: dict = {}


def fan_out_narrow(df: DataFrame, min_fraction: float = 0.5,
                   by: str | None = None) -> DataFrame:
    """Repartition a NARROW scan up to the cluster's parallelism.

    The test fixtures are single-row-group parquet files, so every scan
    arrives as ONE partition and any explode-heavy stage (shingling,
    tokenization, md5 fingerprints) serializes onto one core until its
    first exchange — `spark.sql.files.maxPartitionBytes` cannot help
    because splits align to row groups. The guard repartitions only
    when the scan is narrower than ``min_fraction`` of
    defaultParallelism; a production corpus (many files / row groups,
    100 TB) already exceeds it, so this is a no-op at scale and the
    added exchange moves only the narrow input's rows (kilobytes to a
    few MB here).

    ``by`` hash-partitions on that column instead of round-robin. Every
    row of one ``by`` value then sits in one partition, which satisfies
    any later ``groupBy`` whose keys include ``by``: those aggregates
    plan no exchange. The explicit partition count keeps AQE from
    coalescing the fan-out back onto one task.

    Spark Connect has no SparkContext and no ``.rdd``; there we derive
    the target width from ``spark.sql.shuffle.partitions`` and assume
    the input is narrow (one extra exchange on a few MB, never a
    failure)."""
    spark = df.sparkSession
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext — conf-derived width
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    floor = max(2, int(par * min_fraction))
    try:
        key = (id(spark), df.semanticHash())
        nparts = _NPARTS_MEMO.get(key)
        if nparts is None:
            nparts = df.rdd.getNumPartitions()
            if len(_NPARTS_MEMO) < 4096:
                _NPARTS_MEMO[key] = nparts
    except Exception:  # .rdd / semanticHash unsupported (Connect) — assume narrow
        nparts = 1
    if nparts < floor:
        return df.repartition(par) if by is None else df.repartition(par, by)
    return df


def configure(spark: SparkSession) -> SparkSession:
    """Pin runtime confs required for deterministic, oracle-comparable runs.

    Safe on a shared session: only runtime-settable keys."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # ANSI off, deliberately and measured: Spark 4 defaults true, and the
    # runtime overflow/cast checks it injects into EVERY codegen expression
    # cost 10-50% per arithmetic-heavy line (A/B at r11 HEAD, BASELINE.md
    # "Round 11": warm subset 84.4 s ANSI-on vs 56.6 s off — ~1.26x across
    # the suite). Correctness does not ride the flag: every EXACT entry is
    # hash-checked against DuckDB (which always errors on overflow), and
    # the one operator family with a long-accumulator loud-failure contract
    # (embedding_covariance's micro-unit sums) enforces it IN-PLAN with an
    # ANSI-independent raise_error envelope guard (operators/pca.py), so
    # the contract holds on Spark 3.5 (ANSI default off) and 4.x alike.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # events.parquet carries timestamp[ns]; Spark rejects TIMESTAMP(NANOS)
    # unless told to surface it as bigint (we convert in load_table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def events_ts_is_long(sf_dir: str) -> bool:
    """True when events.parquet stores ts as raw int64 / nanosecond
    timestamps (surfaced as bigint under nanosAsLong); False for
    microsecond parquet timestamps. Fixture generators have shipped both."""
    import pyarrow.parquet as pq

    t = str(pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type)
    return t == "int64" or t.startswith("timestamp[ns")


def normalize_events_ts(df: DataFrame, raw_is_long: bool) -> DataFrame:
    """Expose both a session-TZ microsecond ``ts`` timestamp and exact
    integer epoch nanos ``ts_ns`` regardless of the fixture encoding."""
    from pyspark.sql import functions as F

    if raw_is_long:
        # integer `div`, NOT floor(x/1000): epoch nanos exceed 2^53, double
        # division silently loses the low microsecond digit
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # timestamp[us] parquet loads as TIMESTAMP_NTZ; with the session pinned
    # to UTC the cast preserves the instant DuckDB sees
    return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "ts_ns", F.unix_micros(F.col("ts")) * 1000
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df, raw_is_long=dict(df.dtypes)["ts"] == "bigint")
    return df


class _TableMap(dict):
    """Table name → DataFrame, each table opened by ``load_table`` on its
    first lookup and kept in this map. Only subscripting opens a table:
    ``get``, ``in``, ``len`` and iteration see the tables opened so far."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        df = self[name] = load_table(self._spark, self._sf_dir, name)
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The ``TABLES`` of ``sf_dir`` as a lazy map: a query opens only the
    tables it reads (opening a parquet table lists its files and reads its
    footer, so opening all ten cost about 1 s per call against 0.1 s for
    one). Unknown names raise ``KeyError``. Nothing is cached beyond the
    returned map, so each call sees the files as they are then."""
    configure(spark)
    return _TableMap(spark, sf_dir)


def _usable_cpus() -> int:
    """CPUs this process may run on (``nproc``), not the host's count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 4


def get_spark(app_name: str = "spark_skew_join_spark", cpus: int | None = None) -> SparkSession:
    """Local session tuned per the build contract (local[N], shuffle
    partitions ≈ cores, AQE on, Arrow on, UTC). N is ``cpus``, else
    ``SPARK_GRAFT_CPUS``, else the CPUs this process may use."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or _usable_cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout clean for the driver's JSON tail capture (VERDICT r3 #1)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # keep forked Python workers warm across Python-path queries —
        # the default 60 s idle kill makes the NEXT mapInPandas query pay
        # a ~1 s pool re-fork (seen as multimodal_frame_sample noise)
        .config("spark.python.worker.idleTimeoutSeconds", "1800")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)


