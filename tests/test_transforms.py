"""Transform-contract tests mirroring the reference's suite
(``tests/test_etl.py`` — empty raises / missing columns raise / success), plus
property checks for tz normalization and dedup idempotence (SURVEY §5)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.functions.scalar import to_utc_from_tz
from youbike_etl_pipeline_spark.sources.http import snapshot_to_df
from youbike_etl_pipeline_spark.sources.writers import append_dedup, upsert_insert_if_absent

FULL_RECORD = {
    "sno": "500101001",
    "sna": "YouBike2.0_測試站",
    "sarea": "中正區",
    "latitude": 25.04,
    "longitude": 121.52,
    "Quantity": 30,
    "available_rent_bikes": 5,
    "available_return_bikes": 25,
    "srcUpdateTime": "2025-12-10 15:00:00",
}


def test_transform_empty_raises(spark):
    with pytest.raises(ValueError):
        snapshot_to_df(spark, [])


def test_transform_missing_columns_raises(spark):
    with pytest.raises(KeyError):
        snapshot_to_df(spark, [{"sno": "1", "sna": "x"}])


def test_transform_success(spark):
    df = snapshot_to_df(spark, [FULL_RECORD])
    assert df.count() == 1
    assert df.columns == list(FULL_RECORD.keys())
    row = df.collect()[0]
    assert row["sno"] == "500101001"
    assert row["Quantity"] == 30


def _outcome(build):
    """``("ok", rows)`` or ``("err", TypeError | ValueError)`` of a frame build."""
    try:
        return "ok", [r.asDict() for r in build().collect()]
    except (TypeError, ValueError) as exc:
        return "err", TypeError if isinstance(exc, TypeError) else ValueError


def _rec(**overrides):
    return {**FULL_RECORD, **overrides}


# Edge payloads and what the pickled-row ``createDataFrame`` path did with
# them: the exception base class, or the loaded value of one field.
VALIDATION_CASES = {
    "sno_none": ([FULL_RECORD, _rec(sno=None)], ValueError),
    "latitude_str": ([_rec(latitude="25.04")], TypeError),
    "latitude_int": ([_rec(latitude=25)], TypeError),
    "quantity_str": ([_rec(Quantity="30")], TypeError),
    "quantity_float": ([_rec(Quantity=30.5)], TypeError),
    "quantity_bool": ([_rec(Quantity=True)], TypeError),
    "quantity_out_of_range": ([_rec(Quantity=2**31)], ValueError),
    "rent_bikes_below_range": ([_rec(available_rent_bikes=-(2**31) - 1)], ValueError),
    "sno_int": ([_rec(sno=500101001)], ("sno", "500101001")),
    "sno_bool": ([_rec(sno=True)], ("sno", "true")),
    "sna_float": ([_rec(sna=1e20)], ("sna", "1e+20")),
    "sna_missing_in_one": ([FULL_RECORD, {k: v for k, v in FULL_RECORD.items() if k != "sna"}], ("sna", None)),
}


@pytest.mark.parametrize("case", sorted(VALIDATION_CASES))
def test_snapshot_validation_parity(spark, case):
    """The Arrow-built snapshot accepts and rejects exactly what the pickled
    ``createDataFrame(list_of_dicts, schema)`` path does, with the same
    exception base class and the same loaded values."""
    from youbike_etl_pipeline_spark.schemas import RAW_STATION_SNAPSHOT

    records, expected = VALIDATION_CASES[case]
    names = RAW_STATION_SNAPSHOT.names
    legacy = _outcome(
        lambda: spark.createDataFrame([{n: r.get(n) for n in names} for r in records], RAW_STATION_SNAPSHOT)
    )
    got = _outcome(lambda: snapshot_to_df(spark, records))
    assert got == legacy
    if isinstance(expected, tuple):
        field, value = expected
        assert got[0] == "ok" and got[1][-1][field] == value
    else:
        assert got == ("err", expected)


@pytest.mark.parametrize("with_existing", [False, True])
def test_ingest_plans_scan_local_relation(spark, tmp_path, with_existing):
    """The ingest tick starts from a driver-local relation: no pickled-row
    RDD, so no Python worker runs when the new rows are written."""
    from youbike_etl_pipeline_spark.pipelines.youbike import ingest_snapshot

    existing_info = existing_status = None
    if with_existing:
        info, status = ingest_snapshot(spark, [FULL_RECORD])
        info.write.parquet(str(tmp_path / "info"))
        status.write.parquet(str(tmp_path / "status"))
        existing_info = spark.read.parquet(str(tmp_path / "info"))
        existing_status = spark.read.parquet(str(tmp_path / "status"))
    batch = [FULL_RECORD, _rec(sno="500101002", srcUpdateTime="2025-12-10 15:10:00")]
    new_info, new_status = ingest_snapshot(spark, batch, existing_info, existing_status)
    for df in (new_info, new_status):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert (new_info.count(), new_status.count()) == ((1, 1) if with_existing else (2, 2))


def test_tz_normalize_taipei_to_utc(spark):
    df = spark.createDataFrame([("2025-12-10 15:00:00",)], "ts_str string").select(
        to_utc_from_tz(F.to_timestamp("ts_str")).alias("utc")
    )
    assert df.collect()[0]["utc"] == datetime.datetime(2025, 12, 10, 7, 0, 0)


def test_append_dedup_idempotent(spark):
    batch = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 11), ("b", 2, 20)], "k string, t int, v int"
    )
    first = append_dedup(batch, None, ["k", "t"])
    assert first.count() == 2
    # re-running the same batch against what was loaded inserts nothing
    second = append_dedup(batch, first, ["k", "t"])
    assert second.count() == 0


def test_anti_joins_tolerate_duplicate_existing_keys(spark):
    """Both anti-joins read the existing side without deduplicating it;
    duplicate keys there must still exclude, and never multiply, rows."""
    existing = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 11), ("c", 3, 30), ("c", 3, 30)], "k string, t int, v int"
    )
    batch = spark.createDataFrame([("a", 1, 99), ("b", 2, 20), ("b", 2, 21)], "k string, t int, v int")
    rows = append_dedup(batch, existing, ["k", "t"]).collect()
    assert [(r["k"], r["t"]) for r in rows] == [("b", 2)]

    incoming = spark.createDataFrame([("s1", "x"), ("s2", "y")], "station_no string, name string")
    existing_keys = spark.createDataFrame([("s1",), ("s1",), ("s3",)], "station_no string")
    rows = upsert_insert_if_absent(incoming, existing_keys, "station_no").collect()
    assert [(r["station_no"], r["name"]) for r in rows] == [("s2", "y")]


def test_upsert_insert_if_absent(spark):
    incoming = spark.createDataFrame([("s1", "x"), ("s2", "y"), ("s2", "y2")], "station_no string, name string")
    existing = spark.createDataFrame([("s1",)], "station_no string")
    new = upsert_insert_if_absent(incoming, existing, "station_no")
    rows = new.collect()
    assert len(rows) == 1 and rows[0]["station_no"] == "s2"


def test_rename_synonyms_guarded(spark):
    from youbike_etl_pipeline_spark.operators.relational import rename_synonyms

    df = spark.createDataFrame([("x", "y", 1)], "sno string, StationUID string, v int")
    out = rename_synonyms(df)
    # first synonym wins; second is left alone to avoid duplicate targets
    assert out.columns == ["station_no", "StationUID", "v"]


def test_coerce_numeric_invalid_to_null(spark):
    from youbike_etl_pipeline_spark.operators.relational import coerce_numeric

    df = spark.createDataFrame([("1.5",), ("oops",), (None,)], "x string")
    vals = [r["x"] for r in coerce_numeric(df, ["x"]).collect()]
    assert vals == [1.5, None, None]


def test_dedup_by_key_deterministic_survivor(spark):
    from youbike_etl_pipeline_spark.operators.relational import dedup_by_key

    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b")], "key string, ord int, v string"
    )
    out = dedup_by_key(df, ["key"], order_by=["ord"]).collect()
    assert len(out) == 1 and out[0]["v"] == "a"


def test_stream_reader_tolerates_directory_layout(spark, tmp_path):
    """The stream readers must read a table shipped as BOTH a single
    `events.parquet` file in the sf dir (driver testdata) and an
    `events.parquet/part-*.parquet` directory (any real warehouse) — the
    old leaf-filename glob silently read ZERO files from the directory
    layout (caught when the 1000x probe 'processed' 100M events in 0.3s)."""
    import os

    from pyspark.sql import functions as F

    from youbike_etl_pipeline_spark.sources.readers import read_events
    from youbike_etl_pipeline_spark.streaming.ingest import read_events_stream

    src = read_events(spark, "/root/testdata/sf0.001").limit(500)
    d = str(tmp_path / "sfdir")
    os.makedirs(d, exist_ok=True)
    src.repartition(3).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    stream = read_events_stream(spark, d)
    name = "t_dirlayout"
    q = (
        stream.groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table(name).first()["n"]
    finally:
        q.stop()
    assert got == 500
