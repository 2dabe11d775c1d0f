"""Field-level normalizer column expressions (SURVEY §2.5 N24, N26,
N28, N32): the JVM forms behind the DuckDB-oracle-checked operator queries
(queries.py). The extraction pipeline's own field chain is the
vectorized one in ``pandas_ktp``.

Semantics per ktp_extractor.py:589-743 and ocr_corrector.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .core import let

__all__ = [
    "split_place_date",
    "normalize_rt_rw",
    "status_keyword_layer",
    "clean_kabupaten",
]

_STRIP_EDGE = r"^[.:\- ]+|[.:\- ]+$"


def split_place_date(raw: Column) -> Column:
    """N24: split a Tempat/Tgl-Lahir string into
    struct<place:string, date_raw:string> (date_normalizer.py:94-120).
    ``place`` is null when absent."""
    date_pat = r"(\d{1,2}[\s\./\-]+\d{1,2}[\s\./\-]+\d{2,4})"

    def body(c: Column) -> Column:
        has_comma = F.instr(c, ",") > 0
        head = F.regexp_replace(
            F.trim(F.substring_index(c, ",", 1)), _STRIP_EDGE, ""
        )
        tail = F.trim(F.substr(c, F.instr(c, ",") + 1))
        m = F.regexp_extract(c, date_pat, 1)
        # 1-based match start; 0 = no match (pattern must be a lit Column)
        pos = F.regexp_instr(c, F.lit(date_pat))
        place_from_pat = F.regexp_replace(
            F.trim(F.substring(c, F.lit(1), pos - 1)), _STRIP_EDGE, ""
        )
        place = F.when(has_comma, head).when(pos > 0, place_from_pat)
        date_raw = F.when(has_comma, tail).when(pos > 0, m).otherwise(c)
        return F.struct(
            F.when(place != "", place).alias("place"),
            date_raw.alias("date_raw"),
        )

    return let(raw, body)


def normalize_rt_rw(c: Column) -> Column:
    """N28 (ktp_extractor.py:630-635): null when no digit; two digit
    groups → zfill(3)/zfill(3); one group → unchanged."""
    nums = F.regexp_extract_all(c, F.lit(r"\d+"), 0)
    return (
        F.when(~c.rlike(r"\d"), F.lit(None).cast("string"))
        .when(
            F.size(nums) >= 2,
            F.concat_ws(
                "/",
                F.lpad(F.get(nums, 0), 3, "0"),
                F.lpad(F.get(nums, 1), 3, "0"),
            ),
        )
        .otherwise(c)
    )


def status_keyword_layer(c: Column) -> Column:
    """N26 layers 1+2 (ktp_extractor.py:655-680). Returns the canonical
    value, or null when only the fuzzy layer (layer 3) could decide."""
    v = F.upper(c)
    v = F.regexp_replace(v, r"\bCEL\s*UM\b", "BELUM")
    v = F.regexp_replace(v, r"\bSEL\s*UM\b", "BELUM")
    return (
        F.when(
            v.contains("BELUM") | v.contains("SINGLE") | v.contains("LAJANG"),
            F.lit("BELUM KAWIN"),
        )
        .when(
            v.rlike("KAWIN|MARRIED") & ~v.contains("BELUM"), F.lit("KAWIN")
        )
        .when(
            (v.contains("CERAI") | v.contains("DIVORCED"))
            & v.contains("HIDUP"),
            F.lit("CERAI HIDUP"),
        )
        .when(
            (v.contains("CERAI") | v.contains("DIVORCED"))
            & v.contains("MATI"),
            F.lit("CERAI MATI"),
        )
        .when(v.contains("CERAI") | v.contains("DIVORCED"), F.lit("CERAI"))
        .when(
            v.startswith("BELU") & v.endswith("AWIN"), F.lit("BELUM KAWIN")
        )
        .otherwise(F.lit(None).cast("string"))
    )


def clean_kabupaten(c: Column) -> Column:
    """N32 (ktp_extractor.py:131-139,722-728): strip 1-4 leading caps
    before KOTA/KAB/KABUPATEN/JAKARTA; respace DKI JAKARTA."""
    v = F.regexp_replace(
        F.trim(c),
        r"^[A-Z]{1,4}\s+(?=KOTA\b|KAB\b|KABUPATEN\b|JAKARTA\b)",
        "",
    )
    v = F.trim(v)
    return F.regexp_replace(v, r"(?i)\bDKI\s*JAKARTA\b", "DKI JAKARTA")
