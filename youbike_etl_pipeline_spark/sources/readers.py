"""Schema-first readers (SURVEY §2.1 S1-S6).

Every production read declares its schema; inference is allowed only in the
tolerant-CSV exploration path, mirroring the reference's encoding/separator
sniffing loop (``notebooks/06_tableau_master_dataset.ipynb:L32-L47``) while
keeping the fast path (Parquet) fully pushdown-capable: with an explicit
schema + ``select``/``filter``, Catalyst emits ``ReadSchema``/``PushedFilters``
into the parquet scan, so a 100 TB table only materializes the referenced
columns and row groups.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Native columnar scan (S5). Pushdown-friendly: callers should chain
    ``select``/``filter`` immediately so pruning reaches the scan."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str]) -> dict[str, DataFrame]:
    """Load several testdata tables at once: ``t = load_tables(...); t['lineitem']``."""
    return {n: read_events(spark, sf_dir) if n == "events" else read_parquet_table(spark, sf_dir, n) for n in names}


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` stream table, robust to the file's physical ``ts`` type.

    The testdata has shipped ``ts`` both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read nanos as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncate to micros, matching
    DuckDB's ns→us cast) and as plain ``timestamp[us]`` (which Spark reads as
    TIMESTAMP_NTZ). Either way the output contract is the same: ``ts`` is a
    session-tz TIMESTAMP (sessions pin UTC), so downstream epoch-seconds
    casts (``cast("double")``/``cast("long")``) and windowing keep working
    regardless of the footer's physical type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_table(spark, sf_dir, "events")
    return df.withColumn("ts", normalize_event_ts(df.schema["ts"].dataType))


def normalize_event_ts(dtype: T.DataType, col: str = "ts") -> F.Column:
    """Column expression mapping a raw events ``ts`` of physical type
    ``dtype`` to a session-tz TIMESTAMP: long = epoch nanos (truncate to
    micros); TIMESTAMP_NTZ = naive UTC wall clock (session tz is pinned UTC,
    so the cast preserves the instant); TIMESTAMP passes through."""
    if isinstance(dtype, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    return F.col(col).cast("timestamp")


def read_json_records(spark: SparkSession, records: list[dict], schema: T.StructType) -> DataFrame:
    """JSON list-of-dicts → DataFrame with declared schema (S2).

    The reference flattens the API payload with ``pd.DataFrame(raw_data)``
    (``etl_job.py:88``); here the driver-side payload becomes a driver-local
    relation (:func:`local_relation`) with an explicit schema — missing keys
    surface as nulls and are caught by the required-column validator. No
    Python worker ever touches the rows: the plan starts at a
    ``LocalTableScan``, so writing the frame twice re-reads JVM memory.
    """
    if not records:
        raise ValueError("empty extract: no records returned from source")
    return local_relation(spark, records, schema)


def local_relation(spark: SparkSession, records: Iterable[dict], schema: T.StructType) -> DataFrame:
    """Driver-side dict rows → JVM ``LocalRelation`` through one Arrow table.

    ``createDataFrame(list_of_dicts)`` pickles the rows into an RDD that
    Python workers unpickle on every action. An Arrow table instead becomes
    a ``LocalRelation``: the plan shows ``LocalTableScan`` and the optimizer
    folds projections over it at plan time.

    Arrow alone would loosen validation (it truncates ``30.5`` into an int
    column and accepts ints in double columns), so each row first goes
    through the verifier ``createDataFrame`` applies to Python rows — same
    accept/reject outcome and ``TypeError``/``ValueError`` classes — and the
    same converter, which stringifies non-``str`` values in string fields
    (``True`` → ``"true"``, ``5001`` → ``"5001"``). Meant for flat schemas of
    atomic types (the API and weather payloads).
    """
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    names = schema.names
    rows = []
    for rec in records:
        row = tuple(rec.get(n) for n in names)
        verify(row)
        rows.append(convert(row))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema=schema)


#: Encoding/separator candidates the reference cycles through
#: (``notebooks/06_tableau_master_dataset.ipynb:L32-L47``).
CSV_ENCODINGS = ["utf-8", "big5", "cp950", "utf-8-sig"]
CSV_SEPARATORS = [",", "\t"]


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encodings: list[str] | None = None,
    separators: list[str] | None = None,
) -> DataFrame:
    """CSV scan tolerant to separator/encoding variants (S4).

    Tries each (sep, encoding) pair until a read yields >1 column, then
    normalizes headers: strips whitespace (reference
    ``notebooks/01_youbike_analysis.ipynb:L47-L48``) and drops duplicated
    column names keeping the first occurrence
    (``notebooks/06_tableau_master_dataset.ipynb:L40``).
    """
    last_err: Exception | None = None
    for sep in separators or CSV_SEPARATORS:
        for enc in encodings or CSV_ENCODINGS:
            try:
                reader = spark.read.option("header", True).option("sep", sep).option("encoding", enc)
                df = reader.schema(schema).csv(path) if schema else reader.option("inferSchema", True).csv(path)
                if len(df.columns) > 1:
                    return _normalize_headers(df)
            except Exception as exc:  # noqa: BLE001 - sniffing loop by design
                last_err = exc
    if last_err:
        raise last_err
    raise ValueError(f"could not read CSV at {path} with any (sep, encoding) candidate")


def _normalize_headers(df: DataFrame) -> DataFrame:
    seen: set[str] = set()
    keep_idx: list[int] = []
    names: list[str] = []
    for i, c in enumerate(df.columns):
        stripped = c.strip()
        if stripped in seen:
            continue
        seen.add(stripped)
        keep_idx.append(i)
        names.append(stripped)
    cols = [df[df.columns[i]].alias(n) for i, n in zip(keep_idx, names)]
    return df.select(*cols)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan (S6) — parallelized when a numeric partition column is given.

    Reference reads existing dimension PKs with ``pd.read_sql``
    (``etl_job.py:121``); at scale the read is split into ``num_partitions``
    range slices so executors pull concurrently.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1_000_000))
        )
    return reader.load()


def read_images(
    spark: SparkSession,
    path: str,
    drop_invalid: bool = True,
    recursive: bool = False,
) -> DataFrame:
    """Image-directory scan via Spark's built-in ``format("image")`` source
    — the preferred 100 TB decode path: the JVM (ImageIO) decodes
    JPEG/PNG/GIF/BMP executor-side with zero Python in the loop, yielding
    ``image.(origin, height, width, nChannels, mode, data)`` where ``data``
    is the row-major BGR(A) pixel buffer. Undecodable files surface as a
    sentinel row (all dims −1), dropped by default so downstream feature
    math never sees them; pass ``drop_invalid=False`` to audit them.

    The numpy decoders in ``operators.multimodal`` (PPM/BMP/PNG/baseline
    JPEG) serve the other regime — payloads already sitting in a binary
    COLUMN of a table — and are conformance-tested against this source's
    pixels, so the two decode paths agree.
    """
    reader = spark.read.format("image").option("dropInvalid", str(drop_invalid).lower())
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
