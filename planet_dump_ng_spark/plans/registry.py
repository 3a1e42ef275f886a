"""Query registry backing ``__spark_entry__.queries()`` / ``oracle_sql()``.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL string a DuckDB oracle can run over the same parquet
tables.  Ops whose semantics are not SQL-expressible (stateful streaming,
no SQL equivalent) may register ``oracle=None`` for a rows-only check;
as of round 3 every registered query carries a full oracle.

Determinism rules (the driver hash-compares values):
- every computed column is aliased identically on both sides;
- float aggregates are quantized via ``SUM(CAST(x AS DECIMAL(38,6)))`` then
  cast back to double — exact decimal addition makes Spark and DuckDB agree
  bit-for-bit regardless of summation order;
- list-valued results are rendered as canonical sorted strings
  (``array_join(array_sort(...))`` vs ``string_agg(... ORDER BY ...)``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic parquet table.

    ``events.parquet`` stores TIMESTAMP(NANOS).  Depending on the Spark
    build this surfaces either as TIMESTAMP_NTZ (4.1+: read natively,
    ns floor-truncated to Spark's internal µs) or, under the legacy
    ``nanosAsLong`` conf, as raw long nanos.  Both paths normalize to a
    session-TZ (UTC) TIMESTAMP at µs precision — exactly DuckDB's
    ns->us cast, so oracles agree.
    """
    path = f"{sf_dir}/{name}.parquet"
    # The driver calls queries() under ITS OWN vanilla session, not
    # session.get_spark — pin the timezone here so timestamp/date
    # expressions (date_trunc, to_date, unix_timestamp) match the
    # TZ-naive DuckDB oracles even if the host JVM default ever
    # drifts from UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the synthetic parquet tables as a dict of DataFrames and
    register each as a temp view (mirrors DuckDB's pre-registered views
    so ``spark.sql`` text matches ``oracle_sql`` text closely)."""
    import os

    names = names or [
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
    ]
    out = {}
    for name in names:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
