"""NIK column expressions: cleaning, candidate generation, structural
validation, ranking (SURVEY §2.5 N5-N13).

The reference's generate-validate-rank engine
(/root/reference/nik_fuzzy.py:108-319, ktp_extractor.py:109-128) as pure
JVM expressions. Candidate fan-out (≤ ~140 candidates/row) happens inside
array higher-order functions with explicit priority order, so top-1
selection is deterministic under any partitioning and needs no shuffle.

Shared sub-expressions are let-bound (``core.let``) to keep the plan
linear and evaluate each piece once per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import NIK_INSERT_POSITIONS, VALID_PROVINCE_CODES
from .chars import digits_only, sub_to_digit
from .core import let, let2

__all__ = [
    "clean_nik",
    "structural_score",
    "candidate_array",
    "rescored_candidates",
    "best_candidate",
    "nik_decode",
]

_CAND_TYPE = (
    "struct<value:string,confidence:double,source:string,priority:int>"
)
_SCORED_TYPE = (
    "struct<value:string,confidence:double,source:string,priority:int,"
    "structural_score:double>"
)


def clean_nik(c: Column) -> Column:
    """N5: char-sub → strip non-digits → exactly 16, or the first 16-digit
    window of a longer read; null otherwise (ktp_extractor.py:109-128).

    Inlined (no ``let``): the HOF let-binding forced this shallow
    expression onto the interpreted path (transform/get disable
    whole-stage codegen), costing ~2.5x per row; inlined, the repeated
    ``sub``/``d`` subtrees are deduplicated by codegen's common-
    subexpression elimination and the whole thing stays in one
    generated function. ``let`` remains the right tool for the DEEP
    chains (candidate fan-out) where plan size would explode."""
    sub = sub_to_digit(c)
    d = digits_only(sub)
    window = F.regexp_extract(
        F.regexp_replace(sub, " ", ""), r"\d{16}", 0
    )
    return (
        F.when(F.length(d) == 16, d)
        .when(F.length(d) > 16, F.when(window != "", window))
        .otherwise(F.lit(None).cast("string"))
    )


def structural_score(v: Column) -> Column:
    """N10: NIK spec-compliance score in [0,1] (nik_fuzzy.py:261-311)."""
    prov = F.substring(v, 1, 2).cast("int")
    district = F.substring(v, 5, 2).cast("int")
    day = F.substring(v, 7, 2).cast("int")
    month = F.substring(v, 9, 2).cast("int")
    seq = F.substring(v, 13, 4).cast("int")

    prov_f = (
        F.when(prov.isin(list(VALID_PROVINCE_CODES)), F.lit(1.0))
        .when((prov < 11) | (prov > 94), F.lit(0.40))
        .otherwise(F.lit(0.85))
    )
    district_f = F.when(district == 0, F.lit(0.70)).otherwise(F.lit(1.0))
    day_f = (
        F.when(day == 0, F.lit(0.0))
        .when(((day >= 1) & (day <= 31)) | ((day >= 41) & (day <= 71)),
              F.lit(1.0))
        .otherwise(F.lit(0.10))
    )
    month_f = F.when((month < 1) | (month > 12), F.lit(0.0)).otherwise(
        F.lit(1.0)
    )
    seq_f = F.when(seq == 0, F.lit(0.50)).otherwise(F.lit(1.0))
    return F.when(
        v.isNotNull() & v.rlike(r"^\d{16}$"),
        prov_f * district_f * day_f * month_f * seq_f,
    ).otherwise(F.lit(0.0))


def _cand(value: Column, conf: Column, source: Column,
          priority: Column) -> Column:
    return F.struct(
        value.alias("value"),
        conf.cast("double").alias("confidence"),
        source.alias("source"),
        priority.cast("int").alias("priority"),
    )


def candidate_array(raw: Column) -> Column:
    """N6-N9: ordered array of NIK candidates before validation
    (nik_fuzzy.py:108-151). The array index order IS the reference's
    generation (priority) order.

    Duplicate values from overlapping insertion positions are kept (the
    reference dedups during generation) — harmless for first-max ranking
    because duplicates carry equal-or-lower confidence at later priority;
    full-list consumers dedup with a window (N11).
    """

    def body(exact: Column, sub_d: Column, run: Column) -> Column:
        c_exact = F.when(
            F.length(exact) == 16,
            _cand(exact, F.lit(1.0), F.lit("exact"), F.lit(0)),
        )
        is_new_sub = (F.length(sub_d) == 16) & (sub_d != exact)
        c_sub = F.when(
            is_new_sub, _cand(sub_d, F.lit(0.88), F.lit("char_sub"),
                              F.lit(1))
        )
        run_len = F.length(run)
        padded = F.rpad(run, 16, "0")
        run_conf = (
            F.when(run_len == 14, F.lit(0.50))
            .when(run_len == 15, F.lit(0.72))
            .otherwise(F.lit(0.93))
        )
        prior_vals = F.array_compact(
            F.array(
                F.when(F.length(exact) == 16, exact),
                F.when(is_new_sub, sub_d),
            )
        )
        c_run = let(
            padded,
            lambda pv: F.when(
                (run_len >= 14) & (run_len <= 16)
                & ~F.array_contains(prior_vals, pv),
                _cand(
                    pv,
                    run_conf,
                    F.concat(F.lit("longest_run_"), run_len.cast("string")),
                    F.lit(2),
                ),
            ),
        )

        working = F.when(F.length(sub_d) == 15, sub_d).when(
            F.length(exact) == 15, exact
        )

        def fan_out(w: Column) -> Column:
            positions = F.array(*[F.lit(p) for p in NIK_INSERT_POSITIONS])
            inserts = F.flatten(
                F.transform(
                    positions,
                    lambda pos, i: F.transform(
                        F.sequence(F.lit(0), F.lit(9)),
                        lambda d, j: _cand(
                            F.concat(
                                F.substring(w, F.lit(1), pos),
                                d.cast("string"),
                                F.substr(w, pos + 1),
                            ),
                            F.lit(0.62),
                            F.concat(F.lit("padded_pos"),
                                     pos.cast("string")),
                            F.lit(10) + i * 10 + j,
                        ),
                    ),
                )
            )
            edge = F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda d, j: F.array(
                        _cand(
                            F.concat(d.cast("string"), w),
                            F.lit(0.58),
                            F.lit("edge_pad"),
                            F.lit(110) + j * 2,
                        ),
                        _cand(
                            F.concat(w, d.cast("string")),
                            F.lit(0.58),
                            F.lit("edge_pad"),
                            F.lit(111) + j * 2,
                        ),
                    ),
                )
            )
            return F.concat(inserts, edge)

        recon = F.when(working.isNotNull(), let(working, fan_out)).otherwise(
            F.array().cast(f"array<{_CAND_TYPE}>")
        )
        head = F.array_compact(
            F.array(c_exact, c_sub, c_run).cast(f"array<{_CAND_TYPE}>")
        )
        return F.concat(head, recon)

    built = let(
        digits_only(raw),
        lambda exact: let(
            digits_only(sub_to_digit(raw)),
            lambda sub_d: let(
                # longest digit run — aggregate keeps the FIRST maximal
                # run, matching Python max(key=len) (nik_fuzzy.py:206-209)
                F.aggregate(
                    F.regexp_extract_all(sub_to_digit(raw), F.lit(r"\d+"),
                                         0),
                    F.lit(""),
                    lambda acc, x: F.when(
                        F.length(x) > F.length(acc), x
                    ).otherwise(acc),
                ),
                lambda run: body(exact, sub_d, run),
            ),
        ),
    )
    return F.when(raw.isNotNull() & (raw != ""), built).otherwise(
        F.array().cast(f"array<{_CAND_TYPE}>")
    )


def rescored_candidates(raw: Column) -> Column:
    """N10+N11 rescoring over the candidate array: confidence ×=
    (0.5 + 0.5·structural) or ×0.25 when structural < 0.2
    (nik_fuzzy.py:153-159). Adds a ``structural_score`` field."""
    return F.transform(
        candidate_array(raw),
        lambda c: let(
            structural_score(c["value"]),
            lambda s: F.struct(
                c["value"].alias("value"),
                (
                    c["confidence"]
                    * F.when(s < 0.2, F.lit(0.25)).otherwise(0.5 + 0.5 * s)
                ).alias("confidence"),
                c["source"].alias("source"),
                c["priority"].alias("priority"),
                s.alias("structural_score"),
            ),
        ),
    )


def best_candidate(raw: Column, min_confidence: float = 0.30) -> Column:
    """N11+N13 scalar: highest-confidence candidate (ties → earliest
    priority, matching the reference's stable sort), null when below
    ``min_confidence`` (nik_fuzzy.py:96-106,161-166).

    Pure array-aggregate — no explode, no shuffle.
    """
    zero = F.lit(None).cast(_SCORED_TYPE)
    best = F.aggregate(
        rescored_candidates(raw),
        zero,
        lambda acc, x: F.when(
            acc.isNull() | (x["confidence"] > acc["confidence"]), x
        ).otherwise(acc),
    )
    return let(
        best,
        lambda b: F.when(
            b.isNotNull() & (b["confidence"] >= F.lit(min_confidence)), b
        ),
    )


def nik_decode(nik: Column) -> Column:
    """V1: decode a 16-digit NIK into
    struct<day:int, month:int, year:int, gender:string, date_str:string,
    date_valid:boolean> (nik_cross_validator.py:82-104)."""
    day_raw = F.substring(nik, 7, 2).cast("int")
    month = F.substring(nik, 9, 2).cast("int")
    year2 = F.substring(nik, 11, 2).cast("int")
    return let2(
        day_raw,
        year2,
        lambda dr, y2: let2(
            F.when(dr > 40, dr - 40).otherwise(dr),
            F.when(y2 <= 26, y2 + 2000).otherwise(y2 + 1900),
            lambda day, year: F.struct(
                day.alias("day"),
                month.alias("month"),
                year.alias("year"),
                F.when(dr > 40, F.lit("PEREMPUAN"))
                .otherwise(F.lit("LAKI-LAKI"))
                .alias("gender"),
                F.format_string("%02d-%02d-%04d", day, month, year).alias(
                    "date_str"
                ),
                (
                    (day >= 1) & (day <= 31) & (month >= 1) & (month <= 12)
                    & (year >= 1920) & (year <= 2026)
                ).alias("date_valid"),
            ),
        ),
    )


def _pad_nik_with_dob(digits15: Column, expected: Column) -> Column:
    """V5: first insertion (digit-major, position-minor) whose chars 6-11
    equal the expected DOB segment (nik_cross_validator.py:271-285).

    Pruned equivalent of the 160-candidate search. Inserting digit d at
    0-based position p yields candidate c with window
    ``c[6:12]``:

    - p ≤ 5:  c[6:12] = d15[5:11]  — independent of d and p, so if it
      matches, the digit-major first hit is (d=0, p=0) → '0'+d15;
      if it doesn't, no p ≤ 5 insertion can ever match.
    - p ≥ 12: c[6:12] = d15[6:12] — likewise; first hit is (d=0, p=12).
    - 6 ≤ p ≤ 11: c[6:12] = d15[6:p] + d + d15[p:11], which forces
      d = expected[p-6]; only prefix/suffix equality remains to check.

    Candidate priority is (d asc, p asc): (0,0) < case-3 with d=0 <
    (0,12) < case-3 with d≥1. Exactly the reference's search order.
    """
    sig1 = F.substring(digits15, 6, 6) == expected   # d15[5:11]
    sig2 = F.substring(digits15, 7, 6) == expected   # d15[6:12]

    def case3(p: int) -> Column:
        """0-based insert position p in 6..11."""
        d_req = F.substring(expected, p - 6 + 1, 1)
        prefix_ok = (
            F.substring(digits15, 7, p - 6)
            == F.substring(expected, 1, p - 6)
        )
        suffix_ok = (
            F.substring(digits15, p + 1, 11 - p)
            == F.substring(expected, p - 4, 11 - p)
        )
        return F.when(
            prefix_ok & suffix_ok,
            F.struct(
                (d_req.cast("int") * 16 + F.lit(p)).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, p),
                    d_req,
                    F.substr(digits15, F.lit(p + 1)),
                ).alias("value"),
            ),
        )

    # Priorities are pairwise distinct (0; d*16+p for p in 6..11; 12), so
    # a struct-ordered least == the reference's first-hit search order.
    # F.least skips nulls and is plain codegen — no higher-order
    # functions (whose per-eval dataType recursion runs interpreted).
    best = F.least(
        F.when(
            sig1,
            F.struct(
                F.lit(0).alias("prio"),
                F.concat(F.lit("0"), digits15).alias("value"),
            ),
        ),
        *[case3(p) for p in range(6, 12)],
        F.when(
            sig2,
            F.struct(
                F.lit(12).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, 12),
                    F.lit("0"),
                    F.substr(digits15, F.lit(13)),
                ).alias("value"),
            ),
        ),
    )
    return best["value"]
