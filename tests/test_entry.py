"""``__spark_entry__.entry``: the flagship NIK-repair + date query over
sf0.001, checked row by row against the pure-Python oracle."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

import __spark_entry__ as E
from indonesian_id_ocr_service_spark.oracle import scalars as S

SF = "/root/testdata/sf0.001"

SCHEMA = (
    "struct<k:bigint,nik_true:string,nik_ocr:string,nik_repaired:string,"
    "nik_conf:double,nik_source:string,tgl_lahir:string,"
    "jenis_kelamin:string>"
)


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)``: HALF_UP on the decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-4"), ROUND_HALF_UP))


def test_entry_matches_oracle(spark):
    df = E.entry(spark)
    assert df.schema.simpleString() == SCHEMA
    rows = df.collect()
    assert len(rows) == 1500

    orders = pq.read_table(f"{SF}/orders.parquet",
                           columns=["o_orderkey", "o_orderdate"])
    date_raw = {
        k: d.strftime("%d-%m-%Y").replace("-19", "-13")
        for k, d in zip(orders.column("o_orderkey").to_pylist(),
                        orders.column("o_orderdate").to_pylist())
    }
    for r in rows:
        exp = S.nik_best_candidate(r["nik_ocr"])
        if exp is None:
            assert (r["nik_repaired"], r["nik_conf"], r["nik_source"]) == (
                None, None, None), r
        else:
            assert r["nik_repaired"] == exp["value"], (r, exp)
            assert r["nik_conf"] == _round4(exp["confidence"]), (r, exp)
            assert r["nik_source"] == exp["source"], (r, exp)
        raw = date_raw[r["k"]]
        assert r["tgl_lahir"] == S.normalize_date(raw)["normalized"], (
            r, raw)
