"""End-to-end extraction pipeline: span corpus → extracted span table.

Plan shape (SURVEY §7), one linear narrow chain:

    scan (doc_id, spans, span_geom[, span_conf, spans_alt, alt_geom])
      → kernel input projection (JVM classifier nulls the alternative
        view for KTP documents, so only C3/C6 candidates ship it)
      → mapInArrow kernel (operators.unified_extract): classify, KTP
        spatial extraction + vectorized post-chain, SIM state machines,
        one flat output-field row per document
      → JVM span assembly: field spans in output-JSON order + media
        pass-through; UNKNOWN documents get the error span instead

No joins, no aggregations, no unions — the pipeline is embarrassingly
parallel over documents, so throughput scales linearly with cores (the
scaling-efficiency criterion in BASELINE.md). Correctness is checked
per document against the pure-Python oracle (oracle/ktp.py), not
against a second Spark implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dictionaries import OUTPUT_FIELD_ORDER
from .functions.core import let
from .operators import classify

#: output-field → flat column of the kernel's field frame
_OUT_COLS: dict[str, str] = {
    f: f.replace(".", "_") for f in OUTPUT_FIELD_ORDER
}

OUT_SPAN_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
)


def with_default_geometry(df: DataFrame) -> DataFrame:
    """Synthesize line geometry from span order when the corpus carries
    none: each text span is its own line (y = offset·30), x from 0.
    Keeps the spatial operators well-defined on geometry-free corpora."""
    if "span_geom" in df.columns:
        return df
    geom = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            (s["offset"] * 30).cast("int").alias("y"),
            F.lit(0).cast("int").alias("x0"),
            (F.length(F.coalesce(s["text"], F.lit(""))) * 9)
            .cast("int").alias("x1"),
            F.lit(22).cast("int").alias("h"),
        ),
    )
    return df.withColumn("span_geom", geom)


def _kernel_input(src: DataFrame) -> DataFrame:
    """Project the extraction kernel's input: the span-contract columns
    plus, when the corpus carries them, the alternative OCR view (C3
    UNKNOWN retry / C6 SmartSIM pass) and per-span confidences (C2).

    The alternative view is shipped LAZILY: only C3 (UNKNOWN retry) and
    C6 (SIM std↔smart second pass) ever consume it, so the JVM
    classifier (oracle-checked identical to the kernel's Python
    classifier) nulls ``spans_alt``/``alt_geom`` for the KTP majority
    before the Arrow transfer. This is the reference's lazy-recompute
    shape (SURVEY §4) expressed as a conditional projection — it keeps
    the pipeline a single zero-shuffle narrow chain, where the
    flag + filtered-second-pass alternative would add a join (shuffle)
    and re-execute the main kernel once per union branch (no AQE
    exchange reuse; see BENCH.md)."""
    cols = [F.col("doc_id"), F.col("spans"), F.col("span_geom")]
    if "spans_alt" in src.columns and "alt_geom" in src.columns:
        need_alt = classify.document_type(F.col("spans")) != F.lit("KTP")
        cols += [
            F.when(need_alt, F.col("spans_alt")).alias("spans_alt"),
            F.when(need_alt, F.col("alt_geom")).alias("alt_geom"),
        ]
    if "span_conf" in src.columns:
        cols.append(F.col("span_conf"))
    return src.select(*cols)


def run_pipeline_fields(df: DataFrame) -> DataFrame:
    """The kernel's pre-assembly frame, one row per document:
    ``doc_id, doc_type, media_refs``, the flat output-field columns
    (``document_type`` null for UNKNOWN) and per-field provenance
    ``field_methods`` — the metrics table's input.

    mapInArrow, not mapInPandas: Arrow→pandas conversion of the
    array<struct> span columns builds a dict per span (~3.4
    core-ms/doc, allocation-bound → also caps multi-core scaling);
    the arrow kernel reads flattened child arrays + offsets directly."""
    from .operators.unified_extract import (
        FULL_KERNEL_SCHEMA,
        full_kernel_batch_arrow,
    )
    from .queries import ensure_session_conf

    ensure_session_conf(df.sparkSession)
    wide = _kernel_input(with_default_geometry(df)).mapInArrow(
        full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA
    )
    return wide.withColumn(
        "document_type",
        F.when(F.col("doc_type").isin("KTP", "SIM"), F.col("doc_type")),
    )


def run_pipeline(df: DataFrame) -> DataFrame:
    """Full pipeline → (doc_id, out_spans): the kernel's field frame,
    assembled into the output span contract."""
    assembled = assemble_spans(run_pipeline_fields(df))
    return assembled.select(
        "doc_id",
        F.when(F.col("document_type").isNotNull(), F.col("out_spans"))
        .otherwise(_error_spans())
        .alias("out_spans"),
    )


def assemble_spans(df: DataFrame) -> DataFrame:
    """Emit the extracted span sequence: non-null ``field:*`` spans in
    output-JSON order, then pass-through ``media`` spans (FIXTURES.md §1,
    span contract of the pytest gate)."""
    field_structs = [
        F.when(
            F.col(col).isNotNull(),
            F.struct(
                F.lit(f"field:{name}").alias("kind"),
                F.col(col).cast("string").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(-1).alias("order"),
            ),
        )
        for name, col in _OUT_COLS.items()
    ]
    fields_arr = F.array_compact(F.array(*field_structs))
    out = let(
        fields_arr,
        lambda fa: let(
            F.size(fa),
            lambda n_fields: F.concat(
                F.transform(
                    fa,
                    lambda x, i: F.struct(
                        x["kind"].alias("kind"),
                        x["text"].alias("text"),
                        x["media_ref"].alias("media_ref"),
                        i.cast("int").alias("order"),
                    ),
                ),
                F.transform(
                    F.coalesce(F.col("media_refs"),
                               F.array().cast("array<string>")),
                    lambda m, i: F.struct(
                        F.lit("media").alias("kind"),
                        F.lit("").alias("text"),
                        m.alias("media_ref"),
                        (n_fields + i).cast("int").alias("order"),
                    ),
                ),
            ),
        ),
    )
    return df.withColumn("out_spans", out.cast(OUT_SPAN_TYPE))


def _error_spans() -> F.Column:
    """UNKNOWN documents: one error span, then media pass-through."""
    return F.concat(
        F.array(
            F.struct(
                F.lit("error").alias("kind"),
                F.lit("Unknown document type").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("order"),
            )
        ),
        F.transform(
            F.coalesce(F.col("media_refs"),
                       F.array().cast("array<string>")),
            lambda m, i: F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                m.alias("media_ref"),
                (i + 1).cast("int").alias("order"),
            ),
        ),
    ).cast(OUT_SPAN_TYPE)
