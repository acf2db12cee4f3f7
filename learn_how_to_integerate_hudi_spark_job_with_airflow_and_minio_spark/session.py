"""SparkSession bootstrap (reference parity: O2).

The reference builds a session per job with Kryo serializer, the Hudi SQL
extension, and S3A/MinIO Hadoop conf
(``AirflowHudiLabs/Lab2/jobs/python/create_hudi_tables.py:26-40``,
``incremental_etl_orders.py:49-63``). Our engine keeps one shared helper:
the S3A conf surface is preserved (opt-in), the Hudi extension and
Kryo-for-Avro tuning are dropped (we shuffle Tungsten rows), and the
scale-relevant defaults (AQE, UTC session timezone, Arrow) are on by
default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Half of physical RAM: local mode runs every executor inside the
    driver JVM, and a heap larger than the machine gets the JVM killed
    by the OS instead of failing a task."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def build_session(
    app_name: str = "lakehouse-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3: dict[str, str] | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Parameters
    ----------
    s3:
        Optional MinIO/S3 endpoint config, same observable surface as the
        reference's ``spark._jsc.hadoopConfiguration().set`` block:
        ``{"endpoint": ..., "access_key": ..., "secret_key": ...}``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime coalescing, skew-join splitting — the 100 TB knobs.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python boundary (createDataFrame, pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Dynamic partition overwrite: the upsert writer rewrites only the
        # partitions a merge touches (SURVEY §2 K1 engine mapping).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if s3:
        # Reference parity: incremental_etl_orders.py:55-63 (endpoint,
        # access/secret key, path-style access, SSL off, S3A impl).
        hconf = spark._jsc.hadoopConfiguration()
        hconf.set("fs.s3a.endpoint", s3.get("endpoint", "http://localhost:9000"))
        hconf.set("fs.s3a.access.key", s3.get("access_key", ""))
        hconf.set("fs.s3a.secret.key", s3.get("secret_key", ""))
        hconf.set("fs.s3a.path.style.access", "true")
        hconf.set("fs.s3a.connection.ssl.enabled", "false")
        hconf.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
        hconf.set(
            "fs.s3a.aws.credentials.provider",
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def normalize_event_ts(spark: SparkSession, df, col: str = "ts"):
    """Normalize an event-time column to TIMESTAMP (LTZ) regardless of the
    file's physical type. The driver's testdata has shipped ``events.ts``
    as both ns-as-long (rounds 1-2) and µs TIMESTAMP_NTZ (round 3+);
    downstream plans (``F.unix_micros``, ``withWatermark``) require LTZ.

    - bigint (ns read under ``nanosAsLong``): truncate to µs — exactly
      what DuckDB does natively, so both engines see identical values.
    - timestamp_ntz: reinterpret in the session zone. Value-identical to
      DuckDB's naive timestamps ONLY under UTC. ``build_session`` already
      pins UTC; on a foreign non-UTC session this helper WARNS and repins
      — a session-wide mutation (timestamp rendering for every other
      table in that session changes too), surfaced loudly instead of
      silently because a repin mid-session can change other queries'
      results depending on load order.

    Shared by the batch loader (here) and the streaming loader
    (``streaming/windows.py``) so the two paths can never diverge on the
    same input again.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            import warnings

            warnings.warn(
                f"normalize_event_ts: session timeZone is {tz!r}; repinning "
                "to UTC so NTZ event times keep their face value. This is a "
                "SESSION-WIDE mutation — other queries on this session now "
                "render timestamps in UTC. Build sessions with "
                "build_session() to pin UTC up front.",
                stacklevel=2,
            )
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str, views: bool = False):
    """Load driver testdata parquet tables; optionally register temp views.

    Temp-view registration mirrors the reference's universal
    ``createOrReplaceTempView`` catalog pattern (SURVEY §1.1).
    """
    out = {}
    for name in names:
        if name == "events":
            # events.parquet has shipped as timestamp[ns], which Spark's
            # parquet reader rejects (PARQUET_TYPE_ILLEGAL) — read nanos
            # as long, then normalize whatever type arrived.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            df = normalize_event_ts(spark, df)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
