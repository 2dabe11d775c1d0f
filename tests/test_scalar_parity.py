"""Production scalar normalizers ↔ pure-Python oracle parity: the JVM
column expressions (char sub N1, NIK clean/structural N5/N10, place/date
split N24) and the pandas engines the extraction kernel runs (date
chain N14-N23, NIK best candidate N6-N13).

Inputs include every golden pair documented in the reference plus a
grid of OCR-noise shapes (FIXTURES.md §3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.functions import chars as C
from indonesian_id_ocr_service_spark.functions import fields as FX
from indonesian_id_ocr_service_spark.functions import nik as N
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.functions.pandas_dates import (
    normalize_date_frame,
)
from indonesian_id_ocr_service_spark.oracle import scalars as S

DATE_INPUTS = [
    "23 3 1392",            # docstring golden: 23-03-1992 via year repair
    "15-08-1990",
    "15/08/1990",
    "15.08.1990",
    "15 08 1990",
    "1-1-2001",
    "31-12-1999",
    "12-03-988",            # 3-digit year 900-999 → 1988
    "23-10-198",            # 100-199 → 1980
    "05-07-025",            # 0-25 → 2025
    "05-07-030",            # 26-99 → 1930
    "O5-O7-199O",           # char sub
    "l5-08-199O",
    "2310983",              # 7 digits DDMMYYY
    "1231999",              # 7 digits
    "JAKARTA, 23-10-1983",  # embedded
    "born 3.4.99 maybe",    # permissive 2-digit year
    "13-25-1990",           # month invalid → swap path fail
    "25-13-1990",           # swap does not apply (mo>12 & day fine)... exercises validation
    "31-02-1990",           # Feb 31 calendar fail
    "29-02-2000",           # leap ok
    "29-02-1999",           # leap fail
    "12-13-2026",
    "",
    "   ",
    "no date here",
    "99-99-9999",
    "15-08-90",
    "15-08-10",
    "5-3-2400",             # out of range year, repair to 2-digit-pos fix
    "05-07-1810",           # repairable year (1810 → 1910? pos1)
    "15-08-2050",           # young-person branch
    "15-08-3026",
    "1-2-3",
    "00-00-0000",
    "15--08--1990",
    "15 / 08 / 1990",
    "TGL 15-08-1990 X",
]

NIK_INPUTS = [
    "3201234567890001",
    "NIK : 3201234567890001",
    "320123456789000",        # 15 digits
    "32012345678900012",      # 17 digits
    "32O1234S6789OOO1",       # char sub to 16
    "80L1123039200031",
    "3201 2345 6789 0001",
    "junk 1234567890123456 tail",
    "12345678901234",         # 14 → longest run pad
    "123456789012345678",     # 18 digits
    "",
    "no digits",
    "9901234567890001",       # invalid province in 11-94? 99>94 → 0.4
    "1101024107950003",       # female day 41
    "3201230000000000",       # zero day → struct 0
    "0000000000000000",
]


def _collect(spark, inputs, col_builder, extra_cols=()):
    df = spark.createDataFrame([(s,) for s in inputs], ["raw"])
    out = df.select("raw", col_builder(F.col("raw")).alias("out"),
                    *extra_cols)
    return {r["raw"]: r["out"] for r in out.collect()}


def test_char_subs_parity(spark):
    inputs = ["BUDI SANT0SO", "WNl", "80L112", "JL. H3RO 12 RT 001",
              "O5-O7-199O", "a1b2c3", "", "  mixed CaSe 0k "]
    got = _collect(spark, inputs, C.sub_to_digit)
    for s in inputs:
        assert got[s] == S.sub_to_digit(s), s


def test_date_normalize_parity():
    """N19 chain: the kernel's vectorized engine (pandas_dates) against
    the oracle, day/month/year included."""
    got = normalize_date_frame(pd.Series(DATE_INPUTS, dtype=object))
    for i, s in enumerate(DATE_INPUTS):
        exp = S.normalize_date(s)
        g = got.iloc[i]
        if exp["confidence"] == 0.0:
            assert g["normalized"] is None, (s, g)
            assert g["method"] is None, (s, g)
        else:
            assert g["normalized"] == exp["normalized"], (s, g, exp)
            assert abs(g["confidence"] - exp["confidence"]) < 1e-9, (
                s, g, exp)
            assert g["method"] == exp["method"], (s, g, exp)
            assert (g["day"], g["month"], g["year"]) == (
                exp["day"], exp["month"], exp["year"]), (s, g, exp)


def test_date_robust_parity():
    """N23 facade: the extraction kernel's vectorized form (pandas_ktp)
    against the oracle."""
    got = PK._robust_date_vec(pd.Series(DATE_INPUTS, dtype=object))
    for s, g in zip(DATE_INPUTS, got):
        assert g == S.normalize_date_robust(s), (
            s, g, S.normalize_date_robust(s))


def test_split_place_date_parity(spark):
    inputs = ["JAKARTA, 23-10-1983", "BANDUNG 15-08-1990", "15-08-1990",
              "GARUT,", ", 15-08-1990", "LEBAK. 1.1.01", "JUSTTEXT",
              "A, B, 15-08-1990"]
    got = _collect(spark, inputs, FX.split_place_date)
    for s in inputs:
        place, date_raw = S.split_place_date(s)
        assert got[s]["place"] == place, (s, got[s], place)
        assert got[s]["date_raw"] == date_raw, (s, got[s], date_raw)


def test_clean_nik_parity(spark):
    got = _collect(spark, NIK_INPUTS, N.clean_nik)
    for s in NIK_INPUTS:
        assert got[s] == S.clean_nik(s), (s, got[s], S.clean_nik(s))


def test_structural_score_parity(spark):
    vals = ["3201234567890001", "9901234567890001", "0501234567890001",
            "3200234567890001", "3201230067890001", "3201234500890001",
            "3201234567890000", "1101024107950003", "3201237267890001",
            "320123456789000", "", "abcdefgh12345678"]
    got = _collect(spark, vals, N.structural_score)
    for s in vals:
        assert abs(got[s] - S.nik_structural_score(s)) < 1e-9, (
            s, got[s], S.nik_structural_score(s))


def test_best_candidate_parity():
    """N6-N13 engine: the kernel's scalar form (pandas_ktp.nik_best_one)
    against the oracle — value, confidence and winning family."""
    for s in NIK_INPUTS:
        exp = S.nik_best_candidate(s)
        value, conf, source = PK.nik_best_one(s)
        if exp is None:
            assert (value, conf, source) == (None, None, None), (s, value)
        else:
            assert value == exp["value"], (s, value, exp)
            assert abs(conf - exp["confidence"]) < 1e-9, (s, conf, exp)
            assert source == exp["source"], (s, source, exp)


def test_document_type_three_way_parity(spark):
    """C1 parity: kernel Python twin (classify.document_type_py) vs the
    pure-Python oracle vs the JVM Column expression, over the generated
    corpus's text views (all three doc classes + alt views)."""
    from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
    from indonesian_id_ocr_service_spark.operators import classify
    from indonesian_id_ocr_service_spark.oracle.ktp import (
        identify_document_type as oracle_type,
    )

    views = []
    for row in doc_rows(600, fractions=(0.4, 0.4, 0.2)):
        _id, spans, _g, _c, alt_spans, _ag = row
        views.append([s["text"] for s in spans if s["kind"] == "text"])
        if alt_spans:
            views.append(
                [s["text"] for s in alt_spans if s["kind"] == "text"])

    py = [classify.document_type_py(t) for t in views]
    ora = [oracle_type(t) for t in views]
    assert py == ora

    sdf = spark.createDataFrame(
        [([t for t in v],) for v in views], "texts array<string>")
    spans_like = F.transform(
        F.col("texts"),
        lambda t: F.struct(
            F.lit("text").alias("kind"), t.alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).alias("offset")))
    jvm = [r[0] for r in sdf.select(
        classify.document_type(spans_like)).collect()]
    assert jvm == py
