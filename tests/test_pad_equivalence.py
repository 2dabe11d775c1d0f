"""Property test: the pruned V5 DOB-padding expression is candidate-for-
candidate equivalent to the reference's 160-candidate search
(nik_cross_validator.py:271-285), across random and adversarial inputs.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.functions.nik import _pad_nik_with_dob
from indonesian_id_ocr_service_spark.oracle.scalars import pad_nik_with_dob


def _cases():
    rng = random.Random(42)
    cases = []
    for _ in range(300):
        d15 = "".join(rng.choice("0123456789") for _ in range(15))
        if rng.random() < 0.7:
            # realistic: expected derived from a digit-drop of a true NIK
            nik16 = "".join(rng.choice("0123456789") for _ in range(16))
            drop = rng.randrange(16)
            d15 = nik16[:drop] + nik16[drop + 1:]
            expected = nik16[6:12]
        else:
            expected = "".join(rng.choice("0123456789") for _ in range(6))
        cases.append((d15, expected))
    # adversarial: repeated digits (many equal candidates), all-zero
    cases += [
        ("0" * 15, "000000"),
        ("1" * 15, "111111"),
        ("123456789012345", "890120"),
        ("123456789012345", "789012"),
        ("123456789012345", "999999"),
    ]
    return cases


def test_pad_pruned_equals_bruteforce(spark):
    cases = _cases()
    df = spark.createDataFrame(cases, ["d15", "expected"])
    got = {
        (r["d15"], r["expected"]): r["padded"]
        for r in df.select(
            "d15", "expected",
            _pad_nik_with_dob(F.col("d15"),
                              F.col("expected")).alias("padded"),
        ).collect()
    }
    for d15, expected in cases:
        ref = pad_nik_with_dob(d15, expected)
        assert got[(d15, expected)] == ref, (d15, expected,
                                             got[(d15, expected)], ref)
