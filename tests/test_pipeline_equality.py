"""THE correctness gate: per-document span-sequence equality
(kind, text, media_ref, order) between the Spark pipeline and the
pure-Python oracle on the synthetic corpus (BASELINE.json input_hint).
"""

from __future__ import annotations

import pytest

from indonesian_id_ocr_service_spark.corpus.generator import (
    SPAN_SCHEMA_DDL,
    doc_rows,
    generate_doc,
)
from indonesian_id_ocr_service_spark.oracle import ktp as ktp_oracle
from indonesian_id_ocr_service_spark.pipeline import run_pipeline

N_DOCS = 160


def _oracle_spans(i: int, fractions):
    d = generate_doc(i, fractions=fractions)
    spans = [{"kind": k, "text": t, "media_ref": m, "offset": o}
             for k, t, m, o in d.spans]
    geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
            for y, x0, x1, h in d.geom]
    alt = [{"kind": k, "text": t, "media_ref": m, "offset": o}
           for k, t, m, o in d.alt_spans]
    alt_geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
                for y, x0, x1, h in d.alt_geom]
    return d.doc_id, ktp_oracle.process_document(
        d.doc_id, spans, geom, alt, alt_geom, list(d.conf))


def _run_equality(spark, fractions, n_docs=N_DOCS):
    rows = list(doc_rows(n_docs, fractions=fractions))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in sorted(r["out_spans"], key=lambda s: s["order"])
        ]
        for r in run_pipeline(df).collect()
    }
    n_bad = 0
    for i in range(n_docs):
        doc_id, expected = _oracle_spans(i, fractions)
        exp = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in expected]
        if got.get(doc_id) != exp:
            n_bad += 1
            if n_bad <= 3:
                print(f"\n== MISMATCH {doc_id} ==")
                g = got.get(doc_id) or []
                for a, b in zip(exp, g):
                    flag = "  " if a == b else "->"
                    print(f" {flag} oracle={a}\n    spark ={b}")
                for extra in exp[len(g):]:
                    print(f" ++ oracle-only: {extra}")
                for extra in g[len(exp):]:
                    print(f" ++ spark-only : {extra}")
    assert n_bad == 0, f"{n_bad}/{n_docs} documents mismatched"


@pytest.mark.parametrize("fractions", [
    pytest.param((0.9, 0.0, 0.1), id="ktp_heavy"),
    pytest.param((0.6, 0.3, 0.1), id="full_mix"),
])
def test_span_equality_kernel(spark, fractions):
    """The Arrow kernel + JVM span assembly against the pure-Python
    oracle: a KTP + UNKNOWN mix and the full corpus mix incl. SIM."""
    _run_equality(spark, fractions=fractions)


def test_kernel_pipeline_tolerates_v1_schema(spark):
    """A corpus WITHOUT the alternative view / confidence columns
    (round-1 schema) still runs through the arrow kernel: the lazy-alt
    projection and the kernel's optional-column handling degrade to
    single-view extraction."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_STRUCT_DDL, GEOM_STRUCT_DDL, doc_rows)

    rows = [(r[0], r[1], r[2]) for r in doc_rows(40)]
    ddl = (f"doc_id string, spans {SPAN_STRUCT_DDL}, "
           f"span_geom {GEOM_STRUCT_DDL}")
    df = spark.createDataFrame(rows, ddl)
    out = run_pipeline(df).collect()
    assert len(out) == 40
    assert all(r["out_spans"] is not None and len(r["out_spans"]) > 0
               for r in out)
