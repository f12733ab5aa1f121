"""Sources: Parquet testdata loader + semicolon-CSV ride reader.

Re-expresses the reference ingestion surface (SURVEY.md section 2.1
ops 1-8) Spark-first:

  * op 1 (CSV scan, ';' delimiter, header, pandas-inferred dtypes ->
    /root/reference/src/create_db_from_csv.py:10) becomes
    ``read_ride_csv``: explicit schema, lenient timestamp parse with
    a null audit (SURVEY section 2.3 op 24 — the reference's strict
    '%f' parse raises on rows without fractional seconds; we keep
    the rows and count them instead).
  * Parquet is the engine's native at-rest format — columnar, with
    predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from citybikedatawarehouse_spark.schemas import (
    RIDE_SCHEMA,
    TESTDATA_SCHEMAS,
    TESTDATA_TABLES,
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) as a DataFrame.

    The nine tables of ``schemas.TESTDATA_SCHEMAS`` are read with
    their declared schema, so loading one (and building a query over
    it) runs no Spark job; an inferred Parquet schema costs one job
    per table.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark rejects by
    default; we read it as a long (``nanosAsLong``, set defensively at
    runtime in case the session wasn't built by :func:`get_spark`) and
    convert to a microsecond TIMESTAMP_NTZ — the same truncation DuckDB
    applies, so oracle comparisons agree. Its schema is inferred,
    because which of the two types ``ts`` reads as depends on the file.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables and register them as temp views."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_ride_csv(
    spark: SparkSession,
    path: str,
    parse_timestamps: bool = True,
    strict: bool = False,
) -> DataFrame:
    """Read a semicolon-delimited ride CSV with the declared schema.

    Timestamps arrive as strings and are parsed *leniently* by
    default: ``try_to_timestamp`` handles both ``yyyy-MM-dd
    HH:mm:ss.SSS`` and fraction-less rows (the reference's strict
    ``%f`` format raises on those — check_and_create_db_v4.py:184;
    we keep all rows). Use :func:`timestamp_parse_audit` to count
    unparseable values.

    ``strict=True`` restores the reference's fail-fast contract: any
    non-null raw value the parse cannot handle raises at execution
    time with the offending string in the message. Implemented as a
    plan-embedded ``raise_error`` guard, NOT an upfront audit pass —
    zero extra scans, the job dies on the first bad row each executor
    meets (the distributed analogue of pandas' eager
    ``to_datetime(format=...)`` raise), and the check lives in
    whole-stage codegen next to the parse itself. Being part of the
    parse expression, it fires whenever the parsed column is
    evaluated; an action that column-prunes the timestamps away
    (e.g. a bare ``count()``) never computes the parse and so cannot
    trip it — which is exactly lazy-evaluation semantics, not a leak.
    """
    df = (
        spark.read.option("sep", ";")
        .option("header", True)
        .schema(RIDE_SCHEMA)
        .csv(path)
    )
    if parse_timestamps:
        for c in ("started_at", "ended_at"):
            parsed = F.try_to_timestamp(F.col(c))
            if strict:
                parsed = F.when(
                    F.col(c).isNotNull() & parsed.isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"strict timestamp parse failed on {c}="
                            ),
                            F.col(c),
                        )
                    ).cast("timestamp"),
                ).otherwise(parsed)
            df = df.withColumn(c, parsed)
    return df


def timestamp_parse_audit(raw: DataFrame, cols: tuple[str, ...] = ("started_at", "ended_at")) -> dict[str, int]:
    """Count rows where the raw string was non-null but the lenient
    parse produced null — the data-loss audit that replaces the
    reference's hard failure."""
    parsed = raw
    checks = []
    for c in cols:
        parsed = parsed.withColumn(f"__parsed_{c}", F.try_to_timestamp(F.col(c)))
        checks.append(
            F.sum(
                (F.col(c).isNotNull() & F.col(f"__parsed_{c}").isNull()).cast("long")
            ).alias(c)
        )
    row = parsed.agg(*checks).collect()[0]
    return {c: int(row[c] or 0) for c in cols}


DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a documents corpus from JSON-lines — the wire format
    crawls actually arrive in — with the lenient-ingest contract of
    :func:`read_ride_csv`: a malformed line becomes one row whose
    ``_corrupt_record`` holds the raw line (PERMISSIVE mode) instead
    of failing the job or silently vanishing (DROPMALFORMED). Schema
    is declared, never inferred (inference is a second full pass and
    nondeterministic under schema drift).

    Callers split the result: ``df.filter(col('_corrupt_record')
    .isNull())`` is the clean corpus, :func:`jsonl_corrupt_audit`
    counts the quarantine. At scale the quarantine rows are written
    to a dead-letter table for inspection, not dropped."""
    return (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def jsonl_corrupt_audit(df: DataFrame) -> int:
    """Count quarantined (malformed) rows from a PERMISSIVE JSON
    read. The cache() is load-bearing: Spark refuses any query whose
    only reference into the JSON scan is the corrupt-record column
    (SPARK-26108 — the internal column has no provenance without the
    full row), and the documented workaround is caching the FULL
    frame before filtering on it."""
    cached = df.cache()
    try:
        return cached.filter(F.col("_corrupt_record").isNotNull()).count()
    finally:
        cached.unpersist()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read an ORC dataset (Hive interchange; see write_orc)."""
    return spark.read.orc(path)
