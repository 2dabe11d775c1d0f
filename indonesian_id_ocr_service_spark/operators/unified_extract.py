"""The extraction kernel: classify + extract every document in ONE
mapInArrow stage — the pipeline's only per-document Python.

Why not union-of-filtered-branches: with three filtered branches over
the same source, Spark plans three sub-trees — the source scan,
repartition exchange and classification each execute once per branch
(observed 3× executor time and no exchange reuse under AQE), and the
final union stage multiplies per-row work again. One Arrow pass that
dispatches per row on the document type keeps the whole pipeline a
single linear narrow chain: scan → kernel → JVM span assembly → write,
at full parallelism with zero duplicated subtrees.

Per document the kernel runs only the genuinely sequential pieces
(KTP spatial claiming, SIM state machines); the KTP cleanup/repair/
crossval/format chain runs as masked column operations over the
batch's KTP subset (functions/pandas_ktp). The span-equality gate
checks the assembled output against the pure-Python oracle
(oracle/ktp.py) document by document.

Classification here is the same scoring function the JVM expression
implements (operators/classify.py, oracle-checked as q_doc_type); the
Python form rides inside the batch loop that already holds the texts,
costing one string scan per document.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..dictionaries import OUTPUT_FIELD_ORDER
from . import sim_core
from .classify import document_type_py as identify_document_type
from .ktp_spatial import FIELD_COLS, _extract_one_doc, _nik_rescue


FULL_KERNEL_SCHEMA = (
    "doc_id string, doc_type string, media_refs array<string>, "
    + ", ".join(
        f"{f.replace('.', '_')} string" for f in OUTPUT_FIELD_ORDER
        if f != "document_type"
    )
    + ", field_methods map<string,string>"
)

_OUT_FIELDS = [f for f in OUTPUT_FIELD_ORDER if f != "document_type"]


def full_kernel_batch_arrow(batches):
    """(doc_id, spans, span_geom[, alt view, conf]) → FINAL output
    fields per document (mapInArrow body): classify → spatial extract /
    SIM kernel per document → vectorized KTP post-chain per batch. The
    span/geometry columns are consumed as flattened child arrays + list
    offsets instead of per-span Python dicts.

    Why: Arrow→pandas conversion of `array<struct>` columns builds one
    dict per span — measured ~3.4 core-ms/doc of pure conversion at
    100k docs, more than the extraction itself (1.8), and the
    allocation storm is memory-bound so it also caps multi-core
    scaling. Here the only per-span Python objects are the text
    strings the state machines need anyway."""
    import pyarrow as pa

    from ..functions import pandas_ktp as PK

    ktp_labels = list(FIELD_COLS)
    raw_cols = list(FIELD_COLS.values())
    out_cols = [f.replace(".", "_") for f in _OUT_FIELDS]
    out_names = (["doc_id", "doc_type", "media_refs"] + out_cols
                 + ["field_methods"])
    out_type_sim = pa.map_(pa.string(), pa.string())

    def list_parts(col):
        off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        return off, col.values

    for rb in batches:
        n = rb.num_rows
        names = rb.schema.names
        doc_ids = rb.column("doc_id").to_pylist()

        sp_off, spv = list_parts(rb.column("spans"))
        sp_kind = spv.field("kind").to_pylist()
        sp_text = spv.field("text").to_pylist()
        sp_media = spv.field("media_ref").to_pylist()
        sg_off, sgv = list_parts(rb.column("span_geom"))
        g_y = sgv.field("y").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_x0 = sgv.field("x0").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_x1 = sgv.field("x1").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_h = sgv.field("h").to_numpy(zero_copy_only=False).astype(
            np.float64)

        has_alt = "spans_alt" in names and "alt_geom" in names
        if has_alt:
            sa_col = rb.column("spans_alt")
            sa_valid = np.asarray(sa_col.is_valid())
            sa_off, sav = list_parts(sa_col)
            sa_kind = sav.field("kind").to_pylist()
            sa_text = sav.field("text").to_pylist()
            sa_media = sav.field("media_ref").to_pylist()
            ag_off, agv = list_parts(rb.column("alt_geom"))
            a_y = agv.field("y").to_numpy(zero_copy_only=False).astype(
                np.float64)
            a_x0 = agv.field("x0").to_numpy(
                zero_copy_only=False).astype(np.float64)
            a_x1 = agv.field("x1").to_numpy(
                zero_copy_only=False).astype(np.float64)
            a_h = agv.field("h").to_numpy(zero_copy_only=False).astype(
                np.float64)

        has_conf = "span_conf" in names
        if has_conf:
            cf_col = rb.column("span_conf")
            cf_valid = np.asarray(cf_col.is_valid())
            cf_off, cfv = list_parts(cf_col)
            cf_vals = cfv.to_numpy(zero_copy_only=False).astype(
                np.float64)

        def prim_view(i):
            a, b = sp_off[i], sp_off[i + 1]
            kinds = sp_kind[a:b]
            txt = [j for j in range(b - a) if kinds[j] == "text"]
            texts = [sp_text[a + j] for j in txt]
            idx = sg_off[i] + np.asarray(txt, dtype=np.int64)
            media = [sp_media[a + j] for j in range(b - a)
                     if kinds[j] == "media"]
            return texts, idx, media, a, txt

        def alt_view(i):
            a, b = sa_off[i], sa_off[i + 1]
            kinds = sa_kind[a:b]
            txt = [j for j in range(b - a) if kinds[j] == "text"]
            texts = [sa_text[a + j] for j in txt]
            idx = ag_off[i] + np.asarray(txt, dtype=np.int64)
            media = [sa_media[a + j] for j in range(b - a)
                     if kinds[j] == "media"]
            return texts, idx, media

        def sim_items(texts, idx, gy, gx0, gh):
            return [
                {"text": t, "x0": float(gx0[j]), "h": float(gh[j]),
                 "y_center": float(2 * gy[j] + gh[j]) / 2}
                for t, j in zip(texts, idx)
            ]

        doc_types: list = []
        medias_out: list = []
        methods_out: list = []
        rescues: list = []
        raw_rows: list = []            # KTP-subset raw fields
        ktp_pos: list = []             # row index of each raw_rows entry
        sim_cells: dict = {}           # row index -> final SIM values

        for i in range(n):
            texts, idx, media, span_a, txt_js = prim_view(i)
            gy, gx0, gx1, gh = g_y, g_x0, g_x1, g_h
            doc_type = identify_document_type(texts)

            ocr_conf = None
            if has_conf and cf_valid[i] \
                    and cf_off[i + 1] > cf_off[i]:
                m = cf_off[i + 1] - cf_off[i]
                js = np.asarray([j for j in txt_js if j < m],
                                dtype=np.int64)
                cvals = cf_vals[cf_off[i] + js]
                cvals = cvals[~np.isnan(cvals)]
                ocr_conf = float(cvals.mean()) if cvals.size else 0.0

            alt_ok = (has_alt and sa_valid[i]
                      and sa_off[i + 1] > sa_off[i])
            if doc_type == "UNKNOWN" and alt_ok:
                a_texts, a_idx, a_media = alt_view(i)
                alt_type = identify_document_type(a_texts)
                if alt_type != "UNKNOWN":
                    doc_type = alt_type
                    texts, idx, media = a_texts, a_idx, a_media
                    gy, gx0, gx1, gh = a_y, a_x0, a_x1, a_h
                    alt_ok = False

            alt_supplier = None
            if alt_ok and doc_type == "SIM":
                def alt_supplier(i=i):
                    at, ai, _m = alt_view(i)
                    return at, sim_items(at, ai, a_y, a_x0, a_h)

            methods: dict = {}
            if doc_type == "KTP":
                y0 = gy[idx]
                y1 = y0 + gh[idx]
                raw = _extract_one_doc(texts, y0, y1, gx0[idx],
                                       gx1[idx], methods_out=methods)
                rescue, _rc = _nik_rescue(texts, y0, y1,
                                          raw.get("NIK"))
                ktp_pos.append(i)
                raw_rows.append([raw.get(lb) for lb in ktp_labels])
                rescues.append(rescue)
            elif doc_type == "SIM":
                result = sim_core.process_sim_doc(
                    texts, sim_items(texts, idx, gy, gx0, gh),
                    ocr_conf=ocr_conf, alt_supplier=alt_supplier)
                sim_cells[i] = [result.get(f) for f in _OUT_FIELDS]
            doc_types.append(doc_type)
            medias_out.append(media)
            methods_out.append(methods)

        # vectorized KTP post-chain over the batch's KTP subset
        field_vals = [[None] * n for _ in _OUT_FIELDS]
        for i, vals in sim_cells.items():
            for f_i, v in enumerate(vals):
                field_vals[f_i][i] = v
        if raw_rows:
            raw_df = pd.DataFrame(raw_rows, columns=raw_cols)
            final = PK.post_chain(raw_df, pd.Series(rescues))
            for f_i, f in enumerate(_OUT_FIELDS):
                # NaN → None: a batch whose KTP subset has a field
                # all-missing comes back float64 from pandas, and
                # pa.array(..., pa.string()) rejects numpy.float64
                col = (["KTP"] * len(ktp_pos) if f == "document_type"
                       else [None if v is None
                             or (isinstance(v, float) and v != v)
                             else v for v in final[f].values])
                for p, v in zip(ktp_pos, col):
                    field_vals[f_i][p] = v

        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.string()),
             pa.array(doc_types, pa.string()),
             pa.array(medias_out, pa.list_(pa.string()))]
            + [pa.array(v, pa.string()) for v in field_vals]
            + [pa.array(methods_out, out_type_sim)],
            names=out_names,
        )
