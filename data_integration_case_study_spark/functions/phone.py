"""Phone normalization — the P-NORM composite operator (SURVEY.md §2.6).

Faithful re-expression of the reference's ``parse_phone_number``
(reference insert.py:28-67) as a single native Catalyst expression tree —
no Python in the hot path. Branch semantics reproduced exactly, including
the subtleties:

- punctuation normalize: ``.``→``-``, ``)``→``-``, ``(``→deleted
  (insert.py:35) — one ``translate``.
- extension split on *every* ``'x'``; only ``split[1]`` is ever re-attached
  (insert.py:37,57-58), so ``"...x1x2"`` keeps only ``x1`` — reproduced via
  element 2 of the split.
- the 10-char and 9-char branches test the length of the *full* normalized
  string (extension included) and, when they fire, rebuild the number from
  that full string — NOT from the extension-stripped base (insert.py:49-54
  reads ``phone_number``, not ``base_phone_number``). Last match wins
  (plain re-assignments, not elif): 9-char beats 10-char beats the
  dash-group branches.
- validation: the reference calls ``phonenumbers.is_possible_number``
  (insert.py:60-67), returning null on invalid/unparseable. The engine's
  validator (:func:`validate_phone_possible`) VENDORS that check's
  semantics natively from public libphonenumber metadata: strip an
  end-anchored x-extension, keypad-map letters when the number is a
  vanity number (≥3 letters), then count digits against the region's
  possible-length set (US/+1: {10}; FR/+33: {9} — the only two regions
  the normalizer can emit). Fully JVM-side and oracle-checkable, and it
  accepts the odd-grouped dash-branch outputs (``+1 1-234567-890``)
  exactly as the library does.
  When the real ``phonenumbers`` library is installed,
  :func:`validate_phone_udf` runs it via an Arrow-batched pandas_udf
  (the engine's only sanctioned UDF class, SURVEY §2.8); without it the
  udf runs :func:`is_possible_number_py`, the same vendored semantics in
  pure Python, so the Arrow path is exercised either way.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Vendored libphonenumber metadata for the two regions the normalizer
# emits: generalDesc possible lengths (national significant number).
# US local-only length 7 is IS_POSSIBLE_LOCAL_ONLY, which
# is_possible_number() reports False for, so it is deliberately absent.
PHONE_POSSIBLE_LENGTHS = {"1": 10, "33": 9}
# ITU E.161 keypad letter→digit map, applied (as libphonenumber does)
# only when the candidate is a vanity number: ≥3 alpha characters.
_KEYPAD_SRC = "abcdefghijklmnopqrstuvwxyz"
_KEYPAD_DST = "22233344455566677778889999"
# libphonenumber strips an extension only when the marker+digits sit at
# the very end (capture group bounded at 7 digits for the x-marker).
_EXT_RE = r"[xX][0-9]{1,7}$"


def normalize_phone(c: Column | str) -> Column:
    """P-NORM steps 1-6 (insert.py:34-58) as one expression tree.

    Returns the formatted international string, or ``''`` when no branch
    matched (the reference's pre-validation state). Null input → null.
    """
    raw = (F.col(c) if isinstance(c, str) else c).cast("string")
    # step 1: punctuation normalization (T4, insert.py:35)
    norm = F.translate(raw, ".)(", "--")
    # step 2: split off x-extension (T5, insert.py:37-38)
    ext_parts = F.split(norm, "x")
    base = F.get(ext_parts, 0)
    ext = F.get(ext_parts, 1)  # null-safe; only part [1] is ever used
    # step 3: US dash-group branches (insert.py:43-47)
    groups = F.split(base, "-")
    n_groups = F.size(groups)
    us3 = F.concat(F.lit("+1 "), base)
    us4 = F.concat(F.lit("+1 "), F.concat_ws("-", F.slice(groups, 2, 3)))
    dash_branch = (
        F.when(n_groups == 3, us3)
        .when((n_groups == 4) & F.get(groups, 0).isin("001", "+1"), us4)
        .otherwise(F.lit(""))
    )
    # steps 4-5: length branches test the FULL normalized string and win
    # over the dash branches; 9-char wins over 10-char (insert.py:49-54)
    us10 = F.concat(
        F.lit("+1 "),
        F.substring(norm, 1, 3),
        F.lit("-"),
        F.substring(norm, 4, 3),
        F.lit("-"),
        F.substring(norm, 7, 4),
    )
    fr9 = F.concat(
        F.lit("+33 "),
        F.substring(norm, 1, 1),
        F.lit(" "),
        F.substring(norm, 2, 2),
        F.lit(" "),
        F.substring(norm, 4, 2),
        F.lit(" "),
        F.substring(norm, 6, 2),
        F.lit(" "),
        F.substring(norm, 8, 2),
    )
    picked = (
        F.when(F.length(norm) == 9, fr9)
        .when(
            (F.length(norm) == 10) & (F.substring(norm, 1, 1) != F.lit("0")), us10
        )
        .otherwise(dash_branch)
    )
    # step 6: re-attach extension (insert.py:57-58)
    return F.when(
        ext.isNotNull(), F.concat(picked, F.lit("x"), ext)
    ).otherwise(picked)


def validate_phone_possible(c: Column) -> Column:
    """Step 7, native: vendored ``phonenumbers.is_possible_number``
    semantics (insert.py:60-67) over the normalizer's output domain.

    Replays the library's pipeline: no recognized +CC prefix → null (the
    library raises INVALID_COUNTRY_CODE / NOT_A_NUMBER); strip an
    end-anchored x-extension; keypad-map letters iff the national part
    is a vanity candidate (≥3 letters — below that the library just
    drops letters during digit normalization); then compare the digit
    count to the region's possible-length set
    (:data:`PHONE_POSSIBLE_LENGTHS`). Pure string expressions — stays in
    whole-stage codegen, and DuckDB replays it verbatim.
    :func:`is_possible_number_py` is the same logic in Python (shared
    truth-table test asserts agreement)."""
    cc = (
        F.when(c.startswith("+1 "), F.lit("1"))
        .when(c.startswith("+33 "), F.lit("33"))
    )
    nat = F.when(cc == "1", F.substring(c, 4, 1 << 30)).otherwise(
        F.substring(c, 5, 1 << 30)
    )
    nat = F.regexp_replace(nat, _EXT_RE, "")
    # letter/digit counts via translate-deletion, not regexp_replace —
    # translate is a single table-lookup pass where each regex pays
    # automaton setup per row; same result on this ASCII domain
    _letters = _KEYPAD_SRC + _KEYPAD_SRC.upper()
    n_letters = F.length(nat) - F.length(F.translate(nat, _letters, ""))
    mapped = F.when(
        n_letters >= 3, F.translate(F.lower(nat), _KEYPAD_SRC, _KEYPAD_DST)
    ).otherwise(nat)
    n_digits = F.length(mapped) - F.length(F.translate(mapped, "0123456789", ""))
    ok = ((cc == "1") & (n_digits == PHONE_POSSIBLE_LENGTHS["1"])) | (
        (cc == "33") & (n_digits == PHONE_POSSIBLE_LENGTHS["33"])
    )
    return F.when(ok, c)


def validate_phone_possible_sql(expr: str) -> str:
    """DuckDB scalar expression replaying :func:`validate_phone_possible`
    over ``expr`` (a column or expression name)."""
    nat = (
        f"regexp_replace(CASE WHEN {expr} LIKE '+1 %' THEN substr({expr}, 4) "
        f"ELSE substr({expr}, 5) END, '[xX][0-9]{{1,7}}$', '')"
    )
    letters = _KEYPAD_SRC + _KEYPAD_SRC.upper()
    mapped = (
        f"CASE WHEN length({nat}) - length(translate({nat}, '{letters}', '')) >= 3 "
        f"THEN translate(lower({nat}), '{_KEYPAD_SRC}', '{_KEYPAD_DST}') "
        f"ELSE {nat} END"
    )
    n_digits = f"(length({mapped}) - length(translate({mapped}, '0123456789', '')))"
    return (
        f"CASE WHEN ({expr} LIKE '+1 %' AND {n_digits} = {PHONE_POSSIBLE_LENGTHS['1']}) "
        f"OR ({expr} LIKE '+33 %' AND {n_digits} = {PHONE_POSSIBLE_LENGTHS['33']}) "
        f"THEN {expr} END"
    )


def is_possible_number_py(v: str | None) -> bool:
    """Pure-Python twin of :func:`validate_phone_possible`'s decision —
    the vendored ``is_possible_number`` used by :func:`validate_phone_udf`
    when the real library is absent."""
    if v is None:
        return False
    if v.startswith("+1 "):
        cc, nat = "1", v[3:]
    elif v.startswith("+33 "):
        cc, nat = "33", v[4:]
    else:
        return False
    nat = re.sub(_EXT_RE, "", nat)
    # ASCII letters only — the native/DuckDB twins count via translate
    # over a-zA-Z, and str.isalpha() would also count Unicode letters
    if sum("a" <= ch.lower() <= "z" for ch in nat) >= 3:
        nat = nat.lower().translate(str.maketrans(_KEYPAD_SRC, _KEYPAD_DST))
    return len(re.sub(r"[^0-9]", "", nat)) == PHONE_POSSIBLE_LENGTHS[cc]


def parse_phone_number(c: Column | str) -> Column:
    """The full P-NORM operator: normalize then validate, null on invalid."""
    return validate_phone_possible(normalize_phone(c))


def validate_phone_udf():
    """Validation as an Arrow-batched pandas_udf: the real
    ``phonenumbers.is_possible_number`` when the library is installed
    (bit-parity with reference insert.py:60-67), else the vendored
    :func:`is_possible_number_py` — same semantics, and the Arrow batch
    path executes either way (asserted equal to the native expression in
    tests/test_cleaning.py)."""
    try:
        import phonenumbers
        from phonenumbers import NumberParseException

        def one(v):
            if v is None:
                return None
            try:
                if phonenumbers.is_possible_number(phonenumbers.parse(v)):
                    return v
                return None
            except NumberParseException:
                return None
    except ImportError:
        def one(v):
            return v if is_possible_number_py(v) else None

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _validate(s: pd.Series) -> pd.Series:
        return s.map(one)

    return _validate
