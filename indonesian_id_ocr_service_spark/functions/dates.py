"""Date-normalization column expressions (SURVEY §2.5 N14-N24).

The reference's five-strategy ``DateNormalizer`` chain
(/root/reference/date_normalizer.py:71-92,126-344) re-expressed as one
JVM expression tree producing a
``struct<normalized:string, day:int, month:int, year:int,
confidence:double, method:string>`` column. Shuffle-free per-row work.

Every shared sub-expression is let-bound (see ``core.let``) so the plan
stays linear in size and each piece is evaluated once per row.

Year repair (N21) is the generate-and-test search: 40 candidates in
(position asc, digit asc) order via ``transform``/``flatten``/``filter``
higher-order functions, first in-range candidate wins — deterministic
priority ordering with no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import MAX_BIRTH_YEAR, MIN_BIRTH_YEAR, REFERENCE_YEAR
from .chars import digits_only, sub_date_chars
from .core import let, let2

__all__ = [
    "normalize_date",
    "split_place_date",
    "repair_year",
    "DATE_RESULT_TYPE",
]

_STRIP_EDGE = r"^[.:\- ]+|[.:\- ]+$"

DATE_RESULT_TYPE = (
    "struct<normalized:string,day:int,month:int,year:int,"
    "confidence:double,method:string>"
)


def _null_result() -> Column:
    return F.lit(None).cast(DATE_RESULT_TYPE)


def repair_year(yr: Column) -> Column:
    """N21: first single-digit replacement (pos asc, digit asc) inside
    [MIN_BIRTH_YEAR, REFERENCE_YEAR]; null when unfixable
    (date_normalizer.py:238-258)."""

    def search(s: Column) -> Column:
        cands = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(4)),  # 1-based char position
                lambda p: F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda d: F.concat(
                        F.substring(s, F.lit(1), p - 1),
                        d.cast("string"),
                        F.substr(s, p + 1),
                    ).cast("int"),
                ),
            )
        )
        in_range = F.filter(
            cands,
            lambda c: (c >= F.lit(MIN_BIRTH_YEAR))
            & (c <= F.lit(REFERENCE_YEAR)),
        )
        return F.get(in_range, 0)

    # zfill(4) without lpad's >4-char truncation
    padded = let(
        yr.cast("string"),
        lambda ys: F.when(F.length(ys) > 4, ys).otherwise(
            F.lpad(ys, 4, "0")
        ),
    )
    return let(padded, search)


def _build(d_s: Column, mo_s: Column, yr_s: Column, conf: Column,
           method: Column) -> Column:
    """_build_result semantics (date_normalizer.py:264-329): parse,
    day/month swap, 2-digit-year expansion, year repair, calendar check,
    zero-padded emit. Returns the result struct or null."""

    def stage1(d: Column, mo: Column) -> Column:
        """Parse day/month, apply the swap rule; emit
        struct<d,mo,fail,swapped>."""
        day_bad = (d < 1) | (d > 31)
        can_swap = (mo >= 1) & (mo <= 31) & (d >= 1) & (d <= 12)
        do_swap = day_bad & can_swap
        return F.struct(
            F.when(do_swap, mo).otherwise(d).alias("d"),
            F.when(do_swap, d).otherwise(mo).alias("mo"),
            ((day_bad & ~can_swap) | d.isNull() | mo.isNull()).alias("fail"),
            do_swap.alias("swapped"),
        )

    def stage2(yr: Column) -> Column:
        """2-digit-year expansion; struct<yr, two_digit>."""
        return F.struct(
            F.when(
                yr < 100,
                F.when(yr > 25, yr + 1900).otherwise(yr + 2000),
            )
            .otherwise(yr)
            .alias("yr"),
            (yr < 100).alias("two_digit"),
        )

    def assemble(dm: Column, y: Column) -> Column:
        d1, mo1 = dm["d"], dm["mo"]
        fail = dm["fail"] | (mo1 < 1) | (mo1 > 12) | y["yr"].isNull()
        conf1 = conf * F.when(dm["swapped"], 0.80).otherwise(1.0) \
            * F.when(y["two_digit"], 0.85).otherwise(1.0)
        yr1 = y["yr"]
        in_range = (yr1 >= MIN_BIRTH_YEAR) & (yr1 <= REFERENCE_YEAR)

        def finish(repaired: Column) -> Column:
            yr2 = F.when(in_range, yr1).otherwise(
                F.coalesce(repaired, yr1)
            )
            conf2 = conf1 * (
                F.when(in_range, F.lit(1.0))
                .when(repaired.isNotNull(), F.lit(0.80))
                .when(
                    (yr1 > REFERENCE_YEAR) & (yr1 <= MAX_BIRTH_YEAR),
                    F.lit(0.75),
                )
                .otherwise(F.lit(0.15))
            )
            method1 = F.when(
                ~in_range & repaired.isNotNull(),
                F.concat(F.lit("year_repair_"), method),
            ).otherwise(method)
            return let2(
                yr2,
                conf2,
                lambda yy, cc: F.when(
                    ~fail
                    & (yy >= 1)
                    & (yy <= 9999)
                    & F.try_to_date(
                        F.format_string("%04d-%02d-%02d", yy, mo1, d1)
                    ).isNotNull(),
                    F.struct(
                        F.format_string(
                            "%02d-%02d-%04d", d1, mo1, yy
                        ).alias("normalized"),
                        d1.alias("day"),
                        mo1.alias("month"),
                        yy.alias("year"),
                        cc.alias("confidence"),
                        method1.alias("method"),
                    ),
                ).otherwise(_null_result()),
            )

        return let(
            F.when(~in_range & ~fail, repair_year(yr1)), finish
        )

    return let2(
        F.struct(
            F.trim(d_s).cast("int").alias("_d"),
            F.trim(mo_s).cast("int").alias("_m"),
        ),
        F.trim(yr_s).cast("int"),
        lambda dm_raw, yr_raw: let2(
            stage1(dm_raw["_d"], dm_raw["_m"]),
            stage2(yr_raw),
            assemble,
        ),
    )


def _collapse(c: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(c, r"[-/. ]{2,}", "-"), r"[-/. ]", "-"
    )


def _build_from_pattern(src: Column, pat: str, base_conf: Column,
                        method: Column) -> Column:
    """Extract 3 groups from ``src`` with ``pat`` and build. Null when the
    pattern does not match."""
    groups = F.struct(
        F.regexp_extract(src, pat, 1).alias("d"),
        F.regexp_extract(src, pat, 2).alias("m"),
        F.regexp_extract(src, pat, 3).alias("y"),
    )
    return let(
        groups,
        lambda g: F.when(
            g["y"] != "",
            _build(g["d"], g["m"], g["y"], base_conf, method),
        ).otherwise(_null_result()),
    )


def _standard(text: Column) -> Column:
    """Strategy 1 (date_normalizer.py:126-146): strict then embedded
    DD-MM-YYYY on the separator-collapsed string. A matched-but-invalid
    strict pattern does NOT fall through to embedded (the reference
    returns the failed build)."""
    strict_pat = r"^(\d{1,2})-(\d{1,2})-(\d{4})$"
    emb_pat = r"\b(\d{1,2})-(\d{1,2})-(\d{4})\b"

    def body(clean: Column) -> Column:
        strict = F.trim(clean)
        return F.when(
            strict.rlike(strict_pat),
            _build_from_pattern(
                strict, strict_pat, F.lit(0.97),
                F.lit("strict_dd_mm_yyyy"),
            ),
        ).otherwise(
            _build_from_pattern(
                clean, emb_pat, F.lit(0.90),
                F.lit("embedded_dd_mm_yyyy"),
            )
        )

    return let(_collapse(text), body)


def _rescale(res: Column, scale: float, prefix: str) -> Column:
    """Reference semantics for the charsub / 7digit wrappers
    (date_normalizer.py:148-158,192-215): the ×scale and method prefix
    apply to the FINISHED result, after the build's own year_repair_
    prefix — 'char_sub_year_repair_strict…', not the other order.
    Null-safe: withField on a null struct stays null."""
    return let(
        res,
        lambda r: r.withField(
            "confidence", r["confidence"] * F.lit(scale)
        ).withField("method", F.concat(F.lit(prefix), r["method"])),
    )


def _charsub(text: Column) -> Column:
    """Strategy 2 (date_normalizer.py:148-158): char-sub then standard,
    ×0.88 + 'char_sub_' on the finished result — only when substitution
    changed the string."""
    return let(
        sub_date_chars(text),
        lambda sub: F.when(
            sub != text,
            _rescale(_standard(sub), 0.88, "char_sub_"),
        ).otherwise(_null_result()),
    )


def _three_digit_year(text: Column) -> Column:
    """Strategy 3 (date_normalizer.py:160-190)."""
    pat = r"(\d{1,2})-(\d{1,2})-(\d{3})$"

    def body(clean: Column) -> Column:
        groups = F.struct(
            F.regexp_extract(clean, pat, 1).alias("d"),
            F.regexp_extract(clean, pat, 2).alias("m"),
            F.regexp_extract(clean, pat, 3).alias("y3"),
        )

        def build(g: Column) -> Column:
            yi = g["y3"].cast("int")
            yf = (
                F.when((yi >= 900) & (yi <= 999),
                       F.concat(F.lit("1"), g["y3"]))
                .when((yi >= 0) & (yi <= 25), F.concat(F.lit("20"), g["y3"]))
                .when((yi >= 26) & (yi <= 99), F.concat(F.lit("19"), g["y3"]))
                .when((yi >= 100) & (yi <= 199),
                      F.concat(F.lit("1"), g["y3"], F.lit("0")))
            )
            conf = (
                F.when((yi >= 900) & (yi <= 999), F.lit(0.75))
                .when((yi >= 0) & (yi <= 25), F.lit(0.70))
                .when((yi >= 26) & (yi <= 99), F.lit(0.65))
                .when((yi >= 100) & (yi <= 199), F.lit(0.50))
            )
            return let2(
                yf,
                conf,
                lambda y_full, cf: F.when(
                    (g["y3"] != "") & y_full.isNotNull(),
                    _build(
                        g["d"], g["m"], y_full, cf,
                        F.lit("3digit_year_recon"),
                    ),
                ).otherwise(_null_result()),
            )

        return let(groups, build)

    return let(F.trim(_collapse(sub_date_chars(text))), body)


def _seven_digit(text: Column) -> Column:
    """Strategy 4 (date_normalizer.py:192-215): DDMMYYY via strategy 3
    (×0.82), else 0D-MM-YYYY at 0.45."""

    def body(digits: Column) -> Column:
        interp1_src = F.concat_ws(
            "-",
            F.substring(digits, 1, 2),
            F.substring(digits, 3, 2),
            F.substring(digits, 5, 3),
        )
        r1 = _rescale(_three_digit_year(interp1_src), 0.82, "7digit_")
        r2 = _build(
            F.concat(F.lit("0"), F.substring(digits, 1, 1)),
            F.substring(digits, 2, 2),
            F.substring(digits, 4, 4),
            F.lit(0.45),
            F.lit("7digit_alt_interp"),
        )
        return F.when(
            F.length(digits) == 7, F.coalesce(r1, r2)
        ).otherwise(_null_result())

    return let(digits_only(sub_date_chars(text)), body)


def _permissive(text: Column) -> Column:
    """Strategy 5 (date_normalizer.py:217-232): scan anywhere, expand
    2-digit years before building."""
    pat = r"(\d{1,2})\s*[-/.]\s*(\d{1,2})\s*[-/.]\s*(\d{2,4})"

    def body(sub: Column) -> Column:
        groups = F.struct(
            F.regexp_extract(sub, pat, 1).alias("d"),
            F.regexp_extract(sub, pat, 2).alias("m"),
            F.regexp_extract(sub, pat, 3).alias("y"),
        )

        def build(g: Column) -> Column:
            y_full = F.when(
                F.length(g["y"]) == 2,
                F.when(
                    g["y"].cast("int") > 25,
                    F.concat(F.lit("19"), g["y"]),
                ).otherwise(F.concat(F.lit("20"), g["y"])),
            ).otherwise(g["y"])
            return F.when(
                g["y"] != "",
                _build(g["d"], g["m"], y_full, F.lit(0.55),
                       F.lit("permissive_scan")),
            ).otherwise(_null_result())

        return let(groups, build)

    return let(sub_date_chars(text), body)


def normalize_date(raw: Column) -> Column:
    """N19: full strategy chain — first non-null (⇒ confidence>0) wins
    (date_normalizer.py:81-92). Returns the result struct; a null struct
    means all strategies failed."""

    def body(text: Column) -> Column:
        chain = F.coalesce(
            _standard(text),
            _charsub(text),
            _three_digit_year(text),
            _seven_digit(text),
            _permissive(text),
        )
        return F.when(text != "", chain).otherwise(_null_result())

    return F.when(raw.isNotNull(), let(F.trim(raw), body)).otherwise(
        _null_result()
    )


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
