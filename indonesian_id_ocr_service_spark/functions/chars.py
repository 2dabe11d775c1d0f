"""Character-substitution column expressions (SURVEY §2.5 N1).

Pure ``F.translate`` / regex expressions — JVM-side, whole-stage
codegen friendly. Semantics per nik_fuzzy.py:202-204. The text- and
date-context substitutions (N2-N4) run in the pandas kernels
(``pandas_ktp``, ``pandas_dates``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import TO_DIGIT_DST, TO_DIGIT_SRC

__all__ = ["sub_to_digit", "digits_only"]


def sub_to_digit(c: Column) -> Column:
    """N1: letter→digit confusion repair for numeric context."""
    return F.translate(c, TO_DIGIT_SRC, TO_DIGIT_DST)


def digits_only(c: Column) -> Column:
    """Strip all non-digits."""
    return F.regexp_replace(c, r"\D", "")
