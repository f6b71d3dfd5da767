"""Checks of the benchmark's input generator.

Run with ``python3 -m pytest perfbench/test_gen.py``. At scale 0.1 the
generated tables must have the graded sf0.1 data's column names, physical
types and row counts (``SF01``, read from that data's parquet footers). When
``SPARK_GRAFT_SF_DIR`` names a directory of graded parquet files, the
schemas and counts are also compared against those footers directly.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

_TS = pa.timestamp("us")
#: table -> (rows at sf0.1, [(column, arrow type)])
SF01 = {
    "region": (5, [("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": (25, [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                    ("n_regionkey", pa.int32())]),
    "customer": (15_000, [("c_custkey", pa.int64()), ("c_name", pa.string()),
                          ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                          ("c_mktsegment", pa.string())]),
    "supplier": (1_000, [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": (20_000, [("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": (150_000, [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", _TS), ("o_orderpriority", pa.string())]),
    "lineitem": (600_000, [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", _TS)]),
    "events": (100_000, [("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": (5_000, [("doc_id", pa.int64()), ("text", pa.string()),
                          ("lang", pa.string()), ("source", pa.string()),
                          ("n_chars", pa.int64())]),
    "embeddings": (2_000, [("vec_id", pa.int64()),
                           ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
}


@pytest.fixture(scope="module")
def sf01(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf01"))
    gen.write_tables(out, seed=7, scale=0.1)
    return out


def _footer(path: str) -> tuple[int, pa.Schema]:
    f = pq.ParquetFile(path)
    return f.metadata.num_rows, f.schema_arrow.remove_metadata()


@pytest.mark.parametrize("table", sorted(SF01))
def test_sf01_schema_and_rows(sf01, table):
    rows, schema = _footer(os.path.join(sf01, f"{table}.parquet"))
    want_rows, fields = SF01[table]
    assert rows == want_rows
    assert schema == pa.schema(fields)
    ref = os.environ.get("SPARK_GRAFT_SF_DIR")
    if ref:
        assert (rows, schema) == _footer(os.path.join(ref, f"{table}.parquet"))


def test_row_counts_by_scale():
    assert gen.table_rows(0.01)["lineitem"] == 60_000
    assert gen.table_rows(0.01)["documents"] == 500
    assert {t: n for t, (n, _) in SF01.items()} == gen.table_rows(0.1)


def test_same_seed_same_tables(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.write_tables(a, seed=3, scale=0.001)
    gen.write_tables(b, seed=3, scale=0.001)
    gen.write_tables(c, seed=4, scale=0.001)
    for table in SF01:
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{table}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        if table not in ("region", "nation"):
            assert not ta.equals(tc)


def test_youbike_ticks_counts():
    ticks, expected = gen.youbike_ticks(seed=5, n_ticks=7)
    assert len(ticks) == 7
    keys = {(r["sno"], r["srcUpdateTime"]) for tick in ticks for r in tick}
    assert expected["status_rows"] == len(keys)
    assert expected["stations"] == len({r["sno"] for tick in ticks for r in tick})
    assert expected["records_offered"] == sum(map(len, ticks))
    stale = sum(r["srcUpdateTime"] == p["srcUpdateTime"]
                for r, p in zip(ticks[3], ticks[2]))
    assert 0.05 < stale / len(ticks[2]) < 0.15
    assert gen.youbike_ticks(seed=5, n_ticks=7) == (ticks, expected)
