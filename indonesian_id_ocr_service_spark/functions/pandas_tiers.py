"""Arrow-batched pandas UDFs for the fuzzy tiers (SURVEY §2.5 [PUDF]).

Plan shape (SURVEY §4 item 2 — "cheap tier first"): the JVM exact tiers
(broadcast-map / keyword expressions in ``fields.py``) resolve the bulk
of rows; these UDFs run on the residue only (guarded by when/otherwise,
so Spark never even transfers resolved rows' values to Python — the
pandas function receives the column but the result is discarded for
rows the JVM tier already decided... to avoid even that, callers pass
the UDF only the residue via ``when``).

Each UDF carries a per-executor dict memo: OCR vocabularies repeat
heavily within a corpus, so the Python tier amortizes to ~zero.
Dictionaries ship inside the closure (every vocabulary here is ≪100 KB).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..dictionaries import (
    FIELD_ENUMS,
    KEWARGANEGARAAN_CANONICAL,
    KNOWN_VALUES,
    PEKERJAAN_CANONICAL,
    STATUS_PERKAWINAN_CANONICAL,
)
from . import fuzzy

__all__ = [
    "fuzzy_normalize_pekerjaan",
    "fuzzy_normalize_status",
    "fuzzy_normalize_kewarganegaraan",
    "correct_enum_udf",
    "correct_place_udf",
    "agama_extract_one_udf",
    "_init_udfs",
]

_CORRECTION_TYPE = StructType([
    StructField("corrected", StringType()),
    StructField("confidence", DoubleType()),
])


def _canonical_map_udf(canonical_map: dict[str, list[str]], threshold: int):
    """Batched UDF for the N25 fuzzy tier over one alias map
    (ktp_extractor.py:68-102 semantics via oracle.scalars)."""
    cache: dict[str, str] = {}

    @F.pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        from . import pandas_ktp as _pk

        def one(v):
            if v is None:
                return None
            r = cache.get(v)
            if r is None:
                r = _pk._fuzzy_normalize_one(v, canonical_map, threshold)
                cache[v] = r
            return r

        return s.map(one)

    return udf


fuzzy_normalize_pekerjaan = None
fuzzy_normalize_status = None
fuzzy_normalize_kewarganegaraan = None


def _init_udfs() -> None:
    """UDF objects are created lazily so importing this module does not
    require an active SparkSession."""
    global fuzzy_normalize_pekerjaan, fuzzy_normalize_status
    global fuzzy_normalize_kewarganegaraan
    if fuzzy_normalize_pekerjaan is None:
        fuzzy_normalize_pekerjaan = _canonical_map_udf(PEKERJAAN_CANONICAL, 72)
        fuzzy_normalize_status = _canonical_map_udf(
            STATUS_PERKAWINAN_CANONICAL, 65)
        fuzzy_normalize_kewarganegaraan = _canonical_map_udf(
            KEWARGANEGARAAN_CANONICAL, 80)


def correct_enum_udf(field_key: str):
    """N34 enum correction (all tiers) for one field — returns
    struct<corrected, confidence>; null fields when no tier fires
    (ocr_corrector.py:368-401)."""
    assert field_key in FIELD_ENUMS
    cache: dict[str, tuple] = {}

    @F.pandas_udf(_CORRECTION_TYPE)
    def udf(s: pd.Series) -> pd.DataFrame:
        from . import pandas_ktp as _pk

        def one(v):
            if v is None:
                return (None, None)
            r = cache.get(v)
            if r is None:
                res = _pk._correct_enum_one(field_key, v)
                r = res if res else (None, None)
                cache[v] = r
            return r

        pairs = [one(v) for v in s]
        return pd.DataFrame(pairs, columns=["corrected", "confidence"])

    return udf


def correct_place_udf(min_confidence: float = 0.82):
    """N35 place-name correction (all tiers) — struct<corrected,
    confidence> (ocr_corrector.py:423-477)."""
    cache: dict[str, tuple] = {}

    @F.pandas_udf(_CORRECTION_TYPE)
    def udf(s: pd.Series) -> pd.DataFrame:
        from . import pandas_ktp as _pk

        def one(v):
            if v is None:
                return (None, 0.0)
            r = cache.get(v)
            if r is None:
                r = _pk._correct_place_one(v, min_confidence)
                cache[v] = r
            return r

        pairs = [one(v) for v in s]
        return pd.DataFrame(pairs, columns=["corrected", "confidence"])

    return udf


def agama_extract_one_udf():
    """cleanup_data's Agama tier: thefuzz ``process.extractOne`` with the
    default WRatio scorer, accept > 70 (ktp_extractor.py:623-627)."""
    vocab = tuple(KNOWN_VALUES["Agama"])
    cache: dict[str, str] = {}

    @F.pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            r = cache.get(v)
            if r is None:
                choice, score = fuzzy.extract_one(v.upper(), vocab)
                r = choice if (choice is not None and score > 70) else v
                cache[v] = r
            return r

        return s.map(one)

    return udf
