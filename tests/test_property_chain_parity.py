"""Property-based parity (hypothesis): the vectorized pandas
implementations must match the pure-Python oracle on arbitrary noisy
inputs — not just the generator's noise distribution."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.functions.pandas_dates import (
    normalize_date_frame,
)
from indonesian_id_ocr_service_spark.oracle import scalars as O

_OCRISH = st.text(
    alphabet="0123456789OoIl!SsBZEGTAQ -./:,ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    min_size=0, max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_OCRISH, min_size=1, max_size=16))
def test_date_kernel_matches_oracle(raws):
    got = normalize_date_frame(pd.Series(raws, dtype=object))
    for i, raw in enumerate(raws):
        exp = O.normalize_date(raw)
        g = got.iloc[i]
        if exp["normalized"] is None:
            assert g["normalized"] is None, (raw, g["normalized"])
        else:
            assert g["normalized"] == exp["normalized"], raw
            assert g["method"] == exp["method"], raw
            assert not math.isnan(g["confidence"])
            assert g["confidence"] == exp["confidence"], raw


@settings(max_examples=300, deadline=None)
@given(_OCRISH)
def test_nik_candidate_engine_matches_oracle(raw):
    """Both production forms of the engine: the columnar one the KTP
    post-chain runs and the scalar one the spatial NIK rescue runs."""
    v, c = PK.nik_best_with_conf(pd.Series([raw], dtype=object))
    one = PK.nik_best_one(raw)
    exp = O.nik_best_candidate(raw, 0.30) if raw else None
    if exp is None:
        assert v.iloc[0] is None, (raw, v.iloc[0])
        assert one == (None, None, None), (raw, one)
    else:
        assert v.iloc[0] == exp["value"], raw
        assert abs(c.iloc[0] - exp["confidence"]) < 1e-12, raw
        assert one == (exp["value"], exp["confidence"], exp["source"]), (
            raw, one, exp)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="0123456789", min_size=15, max_size=15),
       st.text(alphabet="0123456789", min_size=6, max_size=6))
def test_pad_nik_dob_matches_oracle(d15, exp_dob):
    got = PK._pad_nik_dob_vec(pd.Series([d15], dtype=object),
                              pd.Series([exp_dob], dtype=object)).iloc[0]
    assert got == O.pad_nik_with_dob(d15, exp_dob), (d15, exp_dob)


@settings(max_examples=200, deadline=None)
@given(_OCRISH)
def test_split_place_date_matches_oracle(raw):
    p, d = PK._split_place_date_vec(pd.Series([raw], dtype=object))
    ep, ed = O.split_place_date(raw)
    assert (p.iloc[0] or None) == (ep or None), raw
    assert (d.iloc[0] or "") == (ed or ""), raw
