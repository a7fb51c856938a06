"""String/numeric/date similarity functions X1-X10 (SURVEY.md §2.7).

Each metric has a pure-Python scalar (`*_py`) holding the exact reference
semantics, unit-tested against hand-computed values. `similarity_col` is the
one Spark column form of every metric: a codegen expression for
levenshtein/numeric/date_*, an Arrow-batched pandas UDF over the scalar for
the rest. The J1 exact rescore (graph/canonicalize.py) and the driver's
X1-X10 queries both run it.

Reference semantics preserved (with citations):
  * tokenizer: split on ' ', trim, drop len<=1 tokens and the 22-stopword
    list, case-SENSITIVE (TokenBased.java:13-18,43-48);
  * token jaccard on distinct-token sets (TokenJaccard.java:24-35);
  * token cosine on token-count multisets (TokenCosine.java);
  * ngram profiles: whitespace runs collapsed to one space, char k-shingles
    (debatty ShingleBased contract; PreComputedNgramJaccard.java:13-53);
  * numeric proximity (|(|a-b|-distance)|+1)^(alpha-1) on ints with the
    '^^datatype' suffix stripped — reproducing the FIX of the reference's
    s2hat-from-s1 bug (Numeric.java:30), per SURVEY.md §7;
  * date sims over ChronoUnit DAYS/MONTHS/YEARS with the BACKWARDS/FORWARDS
    zero gate (Date.java:43-64); pattern 'iso' = BASIC_ISO_DATE (yyyyMMdd);
  * JaroWinkler / NormalizedLevenshtein per the debatty library the reference
    links (Configuration.java:213-215).
"""

from __future__ import annotations

import re
from datetime import date as _date, datetime as _dt

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import DoubleType

STOPWORDS = [
    "the", "of", "and", "a", "an", "to", "in", "is", "you", "that", "it",
    "for", "on", "from", "are", "as", "with", "at", "or", "by", "but", "if",
]  # TokenBased.java:13-18

_WS = re.compile(r"\s+")


# ---------------------------------------------------------------------------
# Tokenizer / profiles (Python scalar forms)
# ---------------------------------------------------------------------------

# Java String.trim() strips every char <= U+0020 — NOT the same set as
# Python str.strip() (unicode whitespace, e.g. \xa0) or Spark F.trim
# (spaces only). The tokenizer uses this set so it agrees with the
# reference (TokenBased.java:57) on text with tabs/newlines.
_JAVA_TRIM = "".join(chr(i) for i in range(0x21))


def tokenize_py(s: str) -> list[str]:
    out = []
    for raw in s.split(" "):
        tok = raw.strip(_JAVA_TRIM)
        if len(tok) <= 1 or tok in STOPWORDS:
            continue
        out.append(tok)
    return out


def token_profile_py(s: str) -> dict[str, int]:
    prof: dict[str, int] = {}
    for t in tokenize_py(s):
        prof[t] = prof.get(t, 0) + 1
    return prof


def ngram_profile_py(s: str, k: int = 3) -> dict[str, int]:
    s = _WS.sub(" ", s)
    prof: dict[str, int] = {}
    for i in range(len(s) - k + 1):
        sh = s[i : i + k]
        prof[sh] = prof.get(sh, 0) + 1
    return prof


# ---------------------------------------------------------------------------
# X3/X5 token jaccard, X4/X6 token cosine, X7/X8 ngram variants
# ---------------------------------------------------------------------------

def token_jaccard_py(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    k1, k2 = set(token_profile_py(s1)), set(token_profile_py(s2))
    union = k1 | k2
    if not union:
        return 0.0
    return len(k1 & k2) / len(union)


def _cosine(p1: dict[str, int], p2: dict[str, int]) -> float:
    dot = sum(v * p2.get(k, 0) for k, v in p1.items())
    n1 = sum(v * v for v in p1.values()) ** 0.5
    n2 = sum(v * v for v in p2.values()) ** 0.5
    if n1 == 0 or n2 == 0:
        return 0.0
    return dot / (n1 * n2)


def token_cosine_py(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    return _cosine(token_profile_py(s1), token_profile_py(s2))


def ngram_jaccard_py(s1: str, s2: str, k: int = 3) -> float:
    if s1 == s2:
        return 1.0
    k1, k2 = set(ngram_profile_py(s1, k)), set(ngram_profile_py(s2, k))
    union = k1 | k2
    if not union:
        return 0.0
    return len(k1 & k2) / len(union)


def ngram_cosine_py(s1: str, s2: str, k: int = 3) -> float:
    if s1 == s2:
        return 1.0
    return _cosine(ngram_profile_py(s1, k), ngram_profile_py(s2, k))


# ---------------------------------------------------------------------------
# X2 NormalizedLevenshtein / X1 JaroWinkler
# ---------------------------------------------------------------------------

def levenshtein_py(s1: str, s2: str) -> int:
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (c1 != c2)))
        prev = cur
    return prev[-1]


def normalized_levenshtein_py(s1: str, s2: str) -> float:
    m = max(len(s1), len(s2))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein_py(s1, s2) / m


def jaro_py(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    match_dist = max(len(s1), len(s2)) // 2 - 1
    m1 = [False] * len(s1)
    m2 = [False] * len(s2)
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - match_dist), min(len(s2), i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len(s1)):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len(s1) + matches / len(s2) + (matches - t) / matches) / 3


def jaro_winkler_py(s1: str, s2: str, threshold: float = 0.7, scaling: float = 0.1) -> float:
    j = jaro_py(s1, s2)
    if j <= threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * scaling * (1 - j)


# ---------------------------------------------------------------------------
# X9 numeric / X10 date
# ---------------------------------------------------------------------------

def _strip_datatype(s: str) -> str:
    hat = s.find("^")
    return s[:hat] if hat != -1 else s


_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def numeric_similarity_py(s1: str, s2: str, smooth: float = 0.5, distance: float = 0.0) -> float:
    """Numeric.java:17-45, with the s2hat bug (s2's suffix located in s1)
    fixed. Operands must parse as int64 (Numeric.java's Integer.parseInt
    is narrower still)."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    s1, s2 = _strip_datatype(s1), _strip_datatype(s2)
    try:
        a, b = int(s1), int(s2)
    except ValueError:
        return 0.0
    if not (_INT64_MIN <= a <= _INT64_MAX and _INT64_MIN <= b <= _INT64_MAX):
        return 0.0  # the shipping try_cast('long') is NULL here, so 0.0
    return (abs(abs(a - b) - distance) + 1) ** (smooth - 1)


def _parse_date(s: str, pattern: str) -> _date:
    if pattern == "iso":
        return _dt.strptime(s, "%Y%m%d").date()  # BASIC_ISO_DATE (Date.java:24)
    java2py = pattern.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
    return _dt.strptime(s, java2py).date()


def _months_between(d1: _date, d2: _date) -> int:
    """ChronoUnit.MONTHS.between — whole months, truncated toward zero."""
    sign = 1
    if d2 < d1:
        d1, d2, sign = d2, d1, -1
    months = (d2.year - d1.year) * 12 + (d2.month - d1.month)
    if d2.day < d1.day:
        months -= 1
    return sign * months


def date_similarity_py(
    s1: str,
    s2: str,
    unit: str = "days",
    smooth: float = 0.5,
    distance: float = 0.0,
    pattern: str = "iso",
    time_direction: str = "bidirectional",
) -> float:
    """Date.java:31-66; unit in {days, months, years}."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    s1, s2 = _strip_datatype(s1), _strip_datatype(s2)
    try:
        d1, d2 = _parse_date(s1, pattern), _parse_date(s2, pattern)
    except ValueError:
        return 0.0
    td = time_direction.lower()
    if td == "backwards" and d1 > d2:
        return 0.0
    if td == "forwards" and d1 < d2:
        return 0.0
    if unit == "days":
        delta = (d2 - d1).days
    elif unit == "months":
        delta = _months_between(d1, d2)
    elif unit == "years":
        delta = _months_between(d1, d2) // 12 if _months_between(d1, d2) >= 0 else -((-_months_between(d1, d2)) // 12)
    else:
        raise ValueError(f"unknown unit {unit}")
    return (abs(abs(float(delta)) - distance) + 1) ** (smooth - 1)


SCALAR_METRICS = {
    "jarowinkler": jaro_winkler_py,
    "levenshtein": normalized_levenshtein_py,
    "token_jaccard": token_jaccard_py,
    "token_cosine": token_cosine_py,
    "ngram_jaccard": ngram_jaccard_py,
    "ngram_cosine": ngram_cosine_py,
    "numeric": numeric_similarity_py,
    "date_days": lambda s1, s2, **kw: date_similarity_py(s1, s2, unit="days", **kw),
    "date_months": lambda s1, s2, **kw: date_similarity_py(s1, s2, unit="months", **kw),
    "date_years": lambda s1, s2, **kw: date_similarity_py(s1, s2, unit="years", **kw),
}


def make_metric(method: str, **params):
    """Bind group params (ngram k, smooth, distance, pattern, time) to a
    two-arg scalar, for use inside similarity_col's pandas UDF."""
    method = method.lower()
    if method in ("ngram_jaccard", "ngram_cosine"):
        k = int(params.get("ngram", 3))
        base = ngram_jaccard_py if method == "ngram_jaccard" else ngram_cosine_py
        return lambda a, b: base(a, b, k)
    if method == "numeric":
        sm, d = float(params.get("smooth", 0.5)), float(params.get("distance", 0.0))
        return lambda a, b: numeric_similarity_py(a, b, sm, d)
    if method.startswith("date_"):
        unit = method.split("_", 1)[1]
        sm, d = float(params.get("smooth", 0.5)), float(params.get("distance", 0.0))
        pat, td = params.get("pattern", "iso"), params.get("time", "bidirectional")
        return lambda a, b: date_similarity_py(a, b, unit, sm, d, pat, td)
    fn = SCALAR_METRICS[method]
    return lambda a, b: fn(a, b)


# ---------------------------------------------------------------------------
# The one Spark column form: the J1 exact rescore
# ---------------------------------------------------------------------------

def value_col(method: str, label: Column, pattern: str = "iso") -> Column:
    """Parsed value of a numeric/date label, NULL when it does not parse:
    try_cast('long') for numeric, try_to_date with the group's pattern for
    date_* — after the '^^datatype' strip. Shared by the rescore below and
    the value-bucket blocking in graph/canonicalize.py."""
    raw = F.split(label, r"\^").getItem(0)  # _strip_datatype
    if method == "numeric":
        return raw.try_cast("long")
    return F.try_to_date(raw, "yyyyMMdd" if pattern == "iso" else pattern)


def _chrono_months_between_col(da: Column, db: Column) -> Column:
    """ChronoUnit.MONTHS.between(da, db) as column math: whole months,
    truncated toward zero (mirrors _months_between above)."""
    raw = (F.year(db) - F.year(da)) * 12 + (F.month(db) - F.month(da))
    fwd = raw - F.when(F.dayofmonth(db) < F.dayofmonth(da), 1).otherwise(0)
    rev = raw + F.when(F.dayofmonth(da) < F.dayofmonth(db), 1).otherwise(0)
    return F.when(db >= da, fwd).otherwise(rev)


def similarity_col(
    method: str,
    a: Column,
    b: Column,
    *,
    ngram: int = 3,
    smooth: float = 0.5,
    distance: float = 0.0,
    pattern: str = "iso",
    time: str = "bidirectional",
) -> Column:
    """Score label columns a, b with a J1 metric — the single column form
    behind canonicalize._exact_rescore and the driver's X1-X10 queries.

    Dispatch is MEASURED, not assumed (200k rescore-shaped pairs, local[8],
    Arrow-batched scalar vs a JVM column form; the token/ngram column forms
    were interpreted higher-order functions):

        levenshtein   scalar 5.44s  column 0.26s   (builtin levenshtein)
        token_jaccard scalar 1.35s  column 2.30s   (interpreted HOFs)
        token_cosine  scalar 1.23s  column 4.98s
        ngram_jaccard scalar 1.55s  column 6.98s
        ngram_cosine  scalar 1.87s  column 37.8s

    so levenshtein, numeric and date_* are whole-stage-codegen expressions,
    and every other metric is an Arrow-batched pandas UDF over make_metric
    (jarowinkler never had a JVM form).

    The codegen forms follow the scalars clause for clause, in Date.java:38-39
    order: an empty operand scores 0.0; string equality scores 1.0 before
    parsing (two distinct strings that parse to the same value get the
    smooth formula); an operand value_col cannot parse scores 0.0 (int('5.5')
    raises, try_cast('5.5' AS LONG) is NULL); then the date direction gate.
    The numeric difference is taken in double, so no long pair can overflow
    under ANSI mode; below 2^53 it is exact."""
    method = method.lower()
    if method == "levenshtein":
        m = F.greatest(F.length(a), F.length(b))
        return F.when(m == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(a, b) / m)
    if method == "numeric" or method.startswith("date_"):
        va, vb = value_col(method, a, pattern), value_col(method, b, pattern)
        out = (
            F.when((a == "") | (b == ""), F.lit(0.0))
            .when(a == b, F.lit(1.0))
            .when(va.isNull() | vb.isNull(), F.lit(0.0))
        )
        if method == "numeric":
            delta = va.cast("double") - vb.cast("double")
        elif method == "date_days":
            delta = F.datediff(vb, va).cast("double")
        elif method == "date_months":
            delta = _chrono_months_between_col(va, vb).cast("double")
        elif method == "date_years":
            mo = _chrono_months_between_col(va, vb)
            delta = F.when(mo >= 0, F.floor(mo / 12)).otherwise(-F.floor(-mo / 12)).cast("double")
        else:
            raise ValueError(f"unknown unit in {method}")
        if method.startswith("date_"):
            td = time.lower()
            if td == "backwards":
                out = out.when(va > vb, F.lit(0.0))
            elif td == "forwards":
                out = out.when(va < vb, F.lit(0.0))
        sim = F.pow(F.abs(F.abs(delta) - F.lit(float(distance))) + 1.0, F.lit(smooth - 1.0))
        return out.otherwise(sim)

    metric = make_metric(
        method, ngram=ngram, smooth=smooth, distance=distance, pattern=pattern, time=time
    )

    # marked non-deterministic only so the optimizer keeps a filter on the
    # score above its projection: pushed below, the filter re-plans the
    # Python scorer, and every pair is scored twice
    @F.pandas_udf(DoubleType())
    def score(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series([metric(p, q) for p, q in zip(x, y)], dtype="float64")

    return score.asNondeterministic()(a, b)
