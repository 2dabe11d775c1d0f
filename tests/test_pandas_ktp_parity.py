"""Scalar post-chain parity: the vectorized pandas implementation
(functions/pandas_ktp — the extraction kernel's post-chain) must match
the pure-Python oracle chain field-for-field on identical raw inputs.
The span-equality suite checks the same chain end to end, through the
kernel and span assembly."""

from __future__ import annotations

import numpy as np
import pandas as pd

from indonesian_id_ocr_service_spark.corpus.generator import generate_doc
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.operators.ktp_spatial import (
    FIELD_COLS,
    _nik_rescue,
)
from indonesian_id_ocr_service_spark.oracle import ktp as O

N_DOCS = 500


def test_post_chain_matches_oracle_chain():
    rows, expected, rescues = [], [], []
    for i in range(N_DOCS * 2):
        d = generate_doc(i, fractions=(1.0, 0, 0))
        if d.doc_class != "KTP":
            continue
        spans = [{"kind": k, "text": t, "media_ref": m, "offset": o}
                 for k, t, m, o in d.spans]
        geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
                for y, x0, x1, h in d.geom]
        items = O.build_items(spans, geom)
        raw = O.post_process(O.filter_spatial_outliers(items))
        expected.append(O.format_output(O.cross_validate(
            O.repair(O.cleanup_data(raw), items))))
        rows.append({col: raw.get(lab) for lab, col in FIELD_COLS.items()})
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        y0 = np.array([g["y"] for s, g in zip(spans, geom)
                       if s["kind"] == "text"], float)
        y1 = np.array([g["y"] + g["h"] for s, g in zip(spans, geom)
                       if s["kind"] == "text"], float)
        rv, _ = _nik_rescue(texts, y0, y1, raw.get("NIK"))
        rescues.append(rv)
        if len(rows) >= N_DOCS:
            break

    got = PK.post_chain(pd.DataFrame(rows), pd.Series(rescues))
    bad = []
    for i in range(len(rows)):
        for f in got.columns:
            ev = expected[i].get(f) or None
            gv = got.iloc[i][f]
            gv = gv if gv is not None else None
            if ev != gv:
                bad.append((i, f, ev, gv))
    assert not bad, f"{len(bad)} field mismatches, first: {bad[:5]}"


def test_post_chain_adversarial_values():
    """Handcrafted nasties through both chains."""
    cases = [
        {"nik": ": NIK 3171O4S02900O01x", "ttl": "JAKARTA, 1-1-95"},
        {"nik": "317101450290000",            # 15 digits → DOB pad
         "ttl": "BANDUNG,14-02-1990", "jenis_kelamin": "PEREMPUAN"},
        {"nik": None, "ttl": ",", "rt_rw": "no digits here"},
        {"nik": "", "ttl": "SOLO 3.4.85", "kel_desa": "01/02"},
        {"nik": "12345", "agama": "1SLAM",
         "status_perkawinan": "CELUM KAWIN", "kabupaten": "XX KOTA"},
    ]
    labels = list(FIELD_COLS)
    rows, expected = [], []
    for c in cases:
        raw = {k: v for k, v in c.items() if v is not None}
        # map flat test keys back to raw labels
        label_map = {v: k for k, v in FIELD_COLS.items()}
        raw_l = {label_map[k]: v for k, v in raw.items()}
        expected.append(O.format_output(O.cross_validate(
            O.repair(O.cleanup_data(dict(raw_l)), []))))
        rows.append({col: raw_l.get(lab)
                     for lab, col in FIELD_COLS.items()})
    _ = labels
    got = PK.post_chain(pd.DataFrame(rows),
                        pd.Series([None] * len(rows)))
    for i in range(len(rows)):
        for f in got.columns:
            ev = expected[i].get(f) or None
            gv = got.iloc[i][f]
            assert ev == (gv if gv is not None else None), (
                f"case {i} field {f}: oracle={ev!r} pandas={gv!r}")
