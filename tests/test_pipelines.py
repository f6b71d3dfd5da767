"""End-to-end pipeline tests over the reference-domain fixtures
(FIXTURES.md §A): ingest tick → gold merge → tableau export."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.pipelines.youbike import (
    build_gold_table,
    ingest_snapshot,
    run_ingest_cli,
    tableau_master_dataset,
    weather_to_df,
)


def _snapshot(sno: str, bikes: int, total: int, ts: str) -> dict:
    return {
        "sno": sno,
        "sna": f"YouBike2.0_站{sno}",
        "sarea": "中正區" if sno < "5002" else "大安區",
        "latitude": 25.04,
        "longitude": 121.52,
        "Quantity": total,
        "available_rent_bikes": bikes,
        "available_return_bikes": total - bikes,
        "srcUpdateTime": ts,
    }


def test_ingest_tick_and_idempotence(spark):
    batch = [
        _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),
        _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),  # dup within batch
        _snapshot("5002", 0, 0, "2025-12-10 15:00:00"),  # zero-capacity edge
    ]
    info, status = ingest_snapshot(spark, batch)
    assert info.count() == 2  # in-batch dedup on station_no
    assert status.count() == 2
    # tz normalization: Asia/Taipei 15:00 → UTC 07:00
    ts = status.filter(F.col("station_no") == "5001").collect()[0]["record_time"]
    assert ts == datetime.datetime(2025, 12, 10, 7, 0, 0)
    # re-ingesting the same batch against the previous load is a no-op
    info2, status2 = ingest_snapshot(spark, batch, existing_info=info, existing_status=status)
    assert info2.count() == 0 and status2.count() == 0


def test_gold_table_features(spark):
    batch = [
        _snapshot("5001", 6, 30, "2025-12-10 15:00:00"),  # Wed → weekday
        _snapshot("5001", 12, 30, "2025-12-10 15:10:00"),
        _snapshot("5002", 0, 0, "2025-12-10 15:00:00"),
    ]
    info, status = ingest_snapshot(spark, batch)
    weather = weather_to_df(
        spark,
        {
            "time": ["2025-12-10 07:00:00"],
            "temperature_2m": [21.5],
            "precipitation": [3.0],
        },
    )
    gold = build_gold_table(status, info, weather)
    rows = {
        (r["station_no"], r["record_time"].minute): r
        for r in gold.collect()
    }
    r0 = rows[("5001", 0)]
    assert r0["filling_rate"] == 0.2
    assert r0["temperature"] == 21.5  # hour-bucket weather join hit
    assert r0["rain_cat"] == 2  # 3.0 mm → (2,10] bucket
    assert r0["is_weekday"] is True and r0["hour"] == 7
    assert r0["filling_rate_lag1"] is None
    r1 = rows[("5001", 10)]
    assert r1["filling_rate"] == 0.4 and r1["filling_rate_lag1"] == 0.2
    # zero-capacity guard: null, not inf (reference filters rate<=1.0)
    assert rows[("5002", 0)]["filling_rate"] is None


def test_tableau_export(spark, tmp_path):
    batch = [_snapshot("5001", 6, 30, "2025-12-10 15:00:00")]
    info, status = ingest_snapshot(spark, batch)
    weather = weather_to_df(
        spark, {"time": ["2025-12-10 07:00:00"], "temperature_2m": [20.0], "precipitation": [0.0]}
    )
    gold = build_gold_table(status, info, weather)
    out = tableau_master_dataset(gold, out_path=str(tmp_path / "tableau"))
    assert "filling_rate" in out.columns and "hour_key" not in out.columns
    csvs = list((tmp_path / "tableau").glob("*.csv"))
    assert len(csvs) == 1
    assert csvs[0].read_bytes().startswith(b"\xef\xbb\xbf")  # utf-8-sig BOM


@pytest.mark.parametrize(
    "temperature, precipitation, want",
    [
        ([21, 22], [0, 3], [(21.0, 0.0), (22.0, 3.0)]),  # all ints
        ([20.5, 22], [0, 3.0], [(20.5, 0.0), (22.0, 3.0)]),  # ints mixed with floats
        (["21.5", "22"], ["0.5", 1], [(21.5, 0.5), (22.0, 1.0)]),  # numeric strings
        ([21.0, 22.0], [None, None], [(21.0, None), (22.0, None)]),  # all-null column
    ],
    ids=["all_int", "mixed_int_float", "numeric_str", "all_null"],
)
def test_weather_to_df_coerces_readings(spark, temperature, precipitation, want):
    weather = weather_to_df(
        spark,
        {
            "time": ["2025-12-10T07:00", "2025-12-10T08:00"],
            "temperature_2m": temperature,
            "precipitation": precipitation,
        },
    )
    assert [(f.name, f.dataType.simpleString()) for f in weather.schema.fields] == [
        ("record_time", "timestamp"),
        ("temperature", "double"),
        ("rain", "double"),
    ]
    rows = weather.orderBy("record_time").collect()
    assert [r["record_time"].hour for r in rows] == [7, 8]
    assert [(r["temperature"], r["rain"]) for r in rows] == want


def test_ingest_cli_rerun_is_noop(spark, tmp_path, monkeypatch, capsys):
    """The cron path: a second run on the same snapshot appends nothing."""
    from youbike_etl_pipeline_spark import session

    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    snapshot = tmp_path / "snapshot.json"
    snapshot.write_text(
        json.dumps(
            [
                _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),
                _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),
                _snapshot("5002", 3, 20, "2025-12-10 15:00:00"),
            ]
        ),
        encoding="utf-8",
    )
    wh = tmp_path / "wh"
    argv = ["--snapshot-json", str(snapshot), "--warehouse", str(wh)]

    def counts():
        return tuple(spark.read.parquet(str(wh / t)).count() for t in ("station_info", "station_status"))

    assert run_ingest_cli(argv) == 0
    assert json.loads(capsys.readouterr().out) == {"new_stations": 2, "new_status_rows": 2}
    assert counts() == (2, 2)
    assert run_ingest_cli(argv) == 0
    assert capsys.readouterr().out.strip() == '{"new_stations": 0, "new_status_rows": 0}'
    assert counts() == (2, 2)
