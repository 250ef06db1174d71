"""Table catalog for the driver's synthetic star schema.

``TESTDATA.md``: ten parquet tables per scale factor directory.
Loading is lazy (``spark.read.parquet``) so filters/projections in
downstream plans push into the scan. At 100 TB these would be
partitioned/bucketed tables behind a metastore; the API shape
(``load_table(name)``) stays the same.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # engine semantic: event-time is UTC regardless of caller session
    # (date_trunc/window/to_date otherwise shift with the harness TZ)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) and
        # timestamp[us] across driver testdata generations. The conf
        # makes NANOS files readable (as ns-epoch longs) and is a
        # no-op for µs files; normalize_event_time() canonicalizes
        # either encoding. Runtime-settable, so this works under any
        # caller-provided session (the driver's harness builds its own).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin rebalance before a compute-bound narrow stage.

    A parquet scan parallelizes at file/row-group granularity; a table
    written as one row group (the driver's testdata, or any coarsely
    compacted input) arrives as ONE task, serializing every downstream
    per-row expression with it. For scan-bound queries that's fine —
    never pay a shuffle to redistribute a cheap filter — but for
    CPU-bound text/vector kernels (chunking, shingling, lang-id,
    mapInPandas decodes) the one-off shuffle of the input bytes buys
    full-cluster parallelism for the expensive stage. Same recipe at
    100 TB: rebalance when upstream split granularity << cores,
    e.g. after reading few huge compacted files.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _literal(v, t: str, key: str, args: dict) -> str:
    """SQL text for value ``v`` of declared type ``t``. Numbers are
    inlined: a double as its shortest round-trip repr with a ``D``
    suffix (the parser reads it with a correctly rounded
    ``parseDouble``, so the bits come back unchanged), non-finite
    doubles through CAST of their name, integers as digits. Anything
    else binds as the named parameter ``key``."""
    if v is None:
        return "NULL"
    if t == "DOUBLE":
        x = float(v)
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"
    if t == "BIGINT":
        return str(int(v))
    if t == "ARRAY<DOUBLE>":
        return f"array({', '.join(_literal(x, 'DOUBLE', '', args) for x in v)})"
    args[key] = v
    return f":{key}"


def local_frame(spark: SparkSession, cols: list[tuple[str, str]], rows: list[tuple]) -> DataFrame:
    """A small driver-built result as a ``VALUES`` relation: ``cols``
    is [(name, SQL type)], each row one tuple of Python values
    (None → NULL; lists → arrays).

    The plan is a LocalRelation, so collecting it runs no Spark job
    under any session conf. ``createDataFrame(list)`` (and non-Arrow
    ``createDataFrame(pandas)``) instead launch a reserialize job
    whose Python workers start cold (~1.1 CPU-s measured). BIGINT,
    DOUBLE and ARRAY<DOUBLE> values are written into the SQL text,
    bit-exact (see _literal); other types bind as parameters, each of
    which costs the driver a round of py4j calls.
    """
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t in cols)
        return spark.sql(f"SELECT {sel} WHERE false")
    sel = ", ".join(f"CAST(c{j} AS {t}) AS `{n}`" for j, (n, t) in enumerate(cols))
    names = ", ".join(f"c{j}" for j in range(len(cols)))
    args: dict = {}
    values = ", ".join(
        "(" + ", ".join(_literal(v, t, f"p{i}_{j}", args) for j, (v, (_, t)) in enumerate(zip(r, cols))) + ")"
        for i, r in enumerate(rows)
    )
    return spark.sql(f"SELECT {sel} FROM VALUES {values} AS t({names})", args=args or None)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Normalize an events frame to (``ts_ns`` long, ``ts`` timestamp).

    Handles both physical encodings the driver has shipped for
    `events.ts`:

    - parquet TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong`` → an ns-epoch LONG;
    - parquet timestamp[us] → Spark TIMESTAMP/TIMESTAMP_NTZ.

    ``ts_ns`` is the exact, total-ordered integer clock — used for
    as-of joins and session gaps so results are bit-identical to
    engines keeping full precision. ``ts`` is a µs TIMESTAMP for
    calendar bucketing (UTC session; truncation ns→µs can never move
    a value across a whole-µs window boundary).

    .. warning:: SESSION-GLOBAL side effect: this sets
       ``spark.sql.session.timeZone`` to UTC (required so the NTZ
       branch reads the same instant under the driver's vanilla
       session — the conf is session-wide; Spark has no per-query
       override for it). Every other timestamp rendering in the
       calling session flips to UTC from this call on — also via
       :func:`load_events` and :func:`register_views`, which route
       here. A caller that needs a non-UTC session zone must restore
       it afterwards.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # self-sufficient UTC contract: the NTZ branch interprets the
    # wall-clock under the SESSION zone — a non-UTC caller that skipped
    # load_table would get silently shifted ts_ns without this
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    if isinstance(df.schema["ts"].dataType, LongType):
        # integer div, NOT "/": ns-epoch longs (~1.7e18) exceed
        # double's 2^53 exact range; float division corrupts µs
        df = df.withColumnRenamed("ts", "ts_ns")
    else:
        # NTZ wall-clock == UTC instant under the UTC session;
        # µs→ns ×1000 stays exact in long range (|µs| < 2^53 ≪ 2^63/1000)
        df = df.withColumn(
            "ts_ns",
            F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000).cast("long"),
        ).drop("ts")
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with both exact (``ts_ns``) and wall-clock (``ts``) time.

    See :func:`normalize_event_time` for the dual-encoding contract.
    """
    return normalize_event_time(load_table(spark, sf_dir, "events"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for ``spark.sql`` use.

    ``events`` registers through :func:`normalize_event_time`, so SQL
    consumers always see the canonical (``ts_ns`` long, ``ts``
    timestamp) pair regardless of which physical encoding the parquet
    shipped with — never a generation-dependent raw ``ts``. Note the
    session-global UTC side effect documented on
    :func:`normalize_event_time`."""
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if name == "events":
            df = normalize_event_time(df)
        df.createOrReplaceTempView(name)
