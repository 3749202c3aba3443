"""Vectorized UDF surface (SURVEY §2.1 X1-X4).

X1 scalar pandas UDFs (Series→Series, Arrow-batched), X3 grouped-agg pandas
UDF, X4 Python UDTF. X2 (grouped-map) lives where it is used:
operators/similarity.py and operators/multimodal.py use mapInPandas /
applyInPandas directly.

Each UDF has a native-expression twin used by the tests (SURVEY §2.3: UDFs
are engine-internal, verified against the equivalent built-in expression,
not against DuckDB).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType


@F.pandas_udf(DoubleType())
def vec_l2norm(v: pd.Series) -> pd.Series:
    """X1: L2 norm of an array<float|double> column, one BLAS call per batch."""
    return v.map(lambda a: float(np.linalg.norm(np.asarray(a, dtype=np.float64))))


@F.pandas_udf(DoubleType())
def vec_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: cosine similarity of two array columns (batch-vectorized)."""

    def one(x, y):
        xa = np.asarray(x, dtype=np.float64)
        ya = np.asarray(y, dtype=np.float64)
        d = float(np.linalg.norm(xa) * np.linalg.norm(ya))
        return float(xa @ ya) / d if d else float("nan")

    return pd.Series([one(x, y) for x, y in zip(a, b)])


@F.pandas_udf(DoubleType())
def trimmed_mean(v: pd.Series) -> float:  # type: ignore[misc]
    """X3 GROUPED_AGG: mean after dropping the top/bottom 5% (robust mean)."""
    arr = np.sort(v.to_numpy(dtype=np.float64))
    k = int(len(arr) * 0.05)
    core = arr[k : len(arr) - k] if len(arr) > 2 * k else arr
    return float(core.mean()) if len(core) else float("nan")


def _jaro(s: str, t: str) -> float:
    """Standard Jaro similarity (public algorithm; pins measured DuckDB
    values: jaro('martha','marhta')=0.9444…)."""
    ls, lt = len(s), len(t)
    if not ls or not lt:
        # BOTH-empty included [measured r12: jaro('','') = 0.0]
        return 0.0
    if s == t:
        return 1.0
    window = max(ls, lt) // 2 - 1
    t_taken = [False] * lt
    matches = 0
    s_m, t_m = [], []
    for i, ch in enumerate(s):
        lo, hi = max(0, i - window), min(lt, i + window + 1)
        for j in range(lo, hi):
            if not t_taken[j] and t[j] == ch:
                t_taken[j] = True
                matches += 1
                s_m.append(ch)
                break
    if not matches:
        return 0.0
    t_m = [t[j] for j in range(lt) if t_taken[j]]
    trans = sum(a != b for a, b in zip(s_m, t_m)) // 2
    m = float(matches)
    return (m / ls + m / lt + (m - trans) / m) / 3.0


def _jaro_winkler(s: str, t: str) -> float:
    """Jaro-Winkler with the standard 0.7 boost threshold and p=0.1
    (measured: DuckDB applies NO prefix boost at jaro 0.5)."""
    j = _jaro(s, t)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s[:4], t[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * 0.1 * (1.0 - j)


def _damerau_levenshtein(s: str, t: str) -> int:
    """FULL Damerau-Levenshtein (unrestricted transpositions — measured:
    DuckDB dl('ca','abc')=2, which OSA would call 3)."""
    da: dict[str, int] = {}
    ls, lt = len(s), len(t)
    maxd = ls + lt
    d = [[maxd] * (lt + 2) for _ in range(ls + 2)]
    d[1][1] = 0
    for i in range(1, ls + 1):
        d[i + 1][1] = i
    for j in range(1, lt + 1):
        d[1][j + 1] = j
    for i in range(1, ls + 1):
        db = 0
        for j in range(1, lt + 1):
            k = da.get(t[j - 1], 0)
            l_ = db
            if s[i - 1] == t[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1))  # transpose
        da[s[i - 1]] = i
    return d[ls + 1][lt + 1]


def _pairwise(a: pd.Series, b: pd.Series, fn, null=None):
    # pd.isna, not `is None`: nullable INT columns arrive from Arrow as
    # float64 with NaN holes, which a None check misses (review r6 —
    # gcd(NULL, 5) crashed on int(nan))
    return pd.Series([
        null if pd.isna(x) or pd.isna(y) else fn(x, y)
        for x, y in zip(a, b)], dtype="object")


def _levenshtein(s, t) -> int:
    """Plain Levenshtein DP (operands are byte strings — see below)."""
    ls, lt = len(s), len(t)
    if not ls:
        return lt
    if not lt:
        return ls
    prev = list(range(lt + 1))
    for i in range(1, ls + 1):
        cur = [i] + [0] * lt
        for j in range(1, lt + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (s[i - 1] != t[j - 1]))
        prev = cur
    return prev[lt]


# DuckDB's string-distance family measures BYTES, not characters
# [measured r10: levenshtein('é','e') = 2, damerau_levenshtein same,
# jaro_similarity('éa','ea') = 0.0 — 'é' is two UTF-8 bytes]; the
# char-based forms silently under-count on non-ASCII text.
@F.pandas_udf(DoubleType())
def jaro_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: DuckDB jaro_similarity (fuzzy-matching surface; bytes)."""
    return _pairwise(
        a, b, lambda x, y: _jaro(x.encode(), y.encode())
    ).astype("float64")


@F.pandas_udf(DoubleType())
def jaro_winkler_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: DuckDB jaro_winkler_similarity (bytes)."""
    return _pairwise(
        a, b, lambda x, y: _jaro_winkler(x.encode(), y.encode())
    ).astype("float64")


@F.pandas_udf(LongType())
def damerau_levenshtein(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: DuckDB damerau_levenshtein (full DL, not OSA; bytes)."""
    return _pairwise(
        a, b, lambda x, y: _damerau_levenshtein(x.encode(), y.encode()))


@F.pandas_udf(LongType())
def levenshtein_bytes(a: pd.Series, b: pd.Series) -> pd.Series:
    """DuckDB levenshtein/editdist3 (bytes — Spark's builtin counts
    characters)."""
    return _pairwise(
        a, b, lambda x, y: _levenshtein(x.encode(), y.encode()))


@F.pandas_udf(LongType())
def gcd_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: DuckDB gcd (abs semantics: gcd(-12,18)=6, measured)."""
    import math

    return _pairwise(a, b, lambda x, y: math.gcd(int(x), int(y)))


@F.pandas_udf(LongType())
def lcm_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """X1: DuckDB lcm (lcm(0,n)=0, measured)."""
    import math

    return _pairwise(a, b, lambda x, y: math.lcm(int(x), int(y)))


def _age_str(t1, t2) -> str | None:
    """DuckDB age(t1, t2): the Postgres-style component interval,
    rendered exactly as DuckDB's INTERVAL→VARCHAR cast [measured pins:
    '4 years 2 months 26 days 06:06:06'; singular units ('1 year
    1 month 1 day'); zero components omitted ('-1 month -12:00:00');
    pure/zero time as '00:00:00[.ffffff]' with trailing fraction zeros
    trimmed ('09:26:13.998'); negatives sign every component].
    The borrow is Postgres' timestamp_age algorithm: a negative day
    difference borrows days-in-month of the SECOND (subtracted)
    argument's month — NOT relativedelta's anchor (r9 probe:
    age('2024-03-01 12:00', '2023-01-15 06:00') = 1 year 1 month
    **17** days 06:00:00 — borrowing January's 31; relativedelta said
    15). Spark cannot TYPE the result — year-month and day-time
    intervals are disjoint — so age() returns the rendered STRING;
    arithmetic on it fails loudly (documented, SURVEY §2.4)."""
    if t1 is None or t2 is None or t1 != t1 or t2 != t2:  # NaT-safe
        return None
    # DATE operands arrive as datetime.date (no time attributes) —
    # promote to midnight timestamps like DuckDB's implicit cast (r11:
    # age(DATE, DATE) crashed on .microsecond)
    import datetime as _dt
    if isinstance(t1, _dt.date) and not isinstance(t1, _dt.datetime):
        t1 = _dt.datetime(t1.year, t1.month, t1.day)
    if isinstance(t2, _dt.date) and not isinstance(t2, _dt.datetime):
        t2 = _dt.datetime(t2.year, t2.month, t2.day)
    import calendar

    sign = 1
    if t1 < t2:
        t1, t2 = t2, t1
        sign = -1
    us = t1.microsecond - t2.microsecond
    s = t1.second - t2.second
    m = t1.minute - t2.minute
    h = t1.hour - t2.hour
    dd = t1.day - t2.day
    mo = t1.month - t2.month
    yy = t1.year - t2.year
    if us < 0:
        us += 1_000_000
        s -= 1
    if s < 0:
        s += 60
        m -= 1
    if m < 0:
        m += 60
        h -= 1
    if h < 0:
        h += 24
        dd -= 1
    if dd < 0:
        dd += calendar.monthrange(t2.year, t2.month)[1]
        mo -= 1
    if mo < 0:
        mo += 12
        yy -= 1
    yy, mo, dd = sign * yy, sign * mo, sign * dd
    h, m, s, us = sign * h, sign * m, sign * s, sign * us
    parts: list[str] = []
    for val, unit in ((yy, "year"), (mo, "month"), (dd, "day")):
        if val:
            parts.append(f"{val} {unit}" + ("" if abs(val) == 1 else "s"))
    if h or m or s or us or not parts:
        neg = h < 0 or m < 0 or s < 0 or us < 0
        t = f"{'-' if neg else ''}{abs(h):02d}:{abs(m):02d}:{abs(s):02d}"
        if us:
            t += f".{abs(us):06d}".rstrip("0")
        parts.append(t)
    return " ".join(parts)


def _make_math_udfs():
    """DuckDB math scalars with no JVM builtin (r7 probe batch):
    gamma/lgamma [measured gamma(5.0)=24], nextafter, signbit — all
    thin wrappers over the C library via ``math``, Arrow-batched."""
    import math

    from pyspark.sql.types import BooleanType

    # NULL checks must be pd.isna, not `is None`: Arrow hands float64
    # Series with NaN holes for NULLs (review r7-2 — the same class
    # _pairwise fixed in r6)
    @F.pandas_udf(DoubleType())
    def gamma_udf(x: pd.Series) -> pd.Series:
        return x.map(lambda v: None if pd.isna(v) else math.gamma(v))

    @F.pandas_udf(DoubleType())
    def lgamma_udf(x: pd.Series) -> pd.Series:
        return x.map(lambda v: None if pd.isna(v) else math.lgamma(v))

    @F.pandas_udf(DoubleType())
    def nextafter_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _pairwise(a, b, lambda x, y: math.nextafter(x, y))

    @F.pandas_udf(BooleanType())
    def signbit_udf(x: pd.Series) -> pd.Series:
        return pd.Series(
            [None if pd.isna(v) else math.copysign(1.0, v) < 0
             for v in x], dtype=object)

    return {"gamma": gamma_udf, "lgamma": lgamma_udf,
            "nextafter": nextafter_udf, "signbit": signbit_udf,
            **_make_r8_udfs()}


def _make_r8_udfs():
    """r8 probe batch: character-set jaccard, md5_number_lower/upper
    (the little-endian halves of the md5 digest as unsigned ints —
    DuckDB's deterministic-sampling workhorses), and RFC 7386
    json_merge_patch. All measured against DuckDB 1.0.0:
    jaccard('abc','abd') = 0.5 over character SETS (empty input
    errors); md5_number_lower('abc') = int.from_bytes(digest[8:16],
    'little') = 8250560606382298838; merge patch recurses into
    objects, a null value REMOVES the key."""
    import hashlib
    import json as _json

    from pyspark.sql.types import DecimalType, StringType

    @F.pandas_udf(DoubleType())
    def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        def one(x, y):
            if pd.isna(x) or pd.isna(y):
                return None
            if not x or not y:
                raise ValueError(
                    "jaccard: an argument is too short (same as DuckDB)")
            # BYTE sets, not character sets [review r8-3 #2, measured:
            # jaccard('éa','a') = 1/3 — 'é' is two UTF-8 bytes]
            sx, sy = set(x.encode()), set(y.encode())
            return len(sx & sy) / len(sx | sy)
        return pd.Series([one(x, y) for x, y in zip(a, b)], dtype=object)

    def _md5_half(sl):
        def fn(s: pd.Series) -> pd.Series:
            import decimal

            def one(v):
                if pd.isna(v):
                    return None
                if not isinstance(v, str):
                    # DuckDB binder-errors on non-VARCHAR arguments
                    # (review r8-3 #9) — don't hash a Python repr
                    raise TypeError(
                        "md5_number_lower/upper: VARCHAR argument "
                        "required (same as DuckDB)")
                return decimal.Decimal(int.from_bytes(
                    hashlib.md5(v.encode()).digest()[sl], "little"))
            return pd.Series([one(v) for v in s], dtype=object)
        return fn

    md5_lower = F.pandas_udf(DecimalType(20, 0))(
        _md5_half(slice(8, 16)))
    md5_upper = F.pandas_udf(DecimalType(20, 0))(
        _md5_half(slice(0, 8)))

    @F.pandas_udf(StringType())
    def json_merge_patch_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        def patch(tgt, p):
            if not isinstance(p, dict):
                return p
            if not isinstance(tgt, dict):
                tgt = {}
            # DuckDB's key order [review r8-3 #4, measured]: unpatched
            # target keys first (target order), then patch keys in
            # PATCH order — even keys that overwrite a target value
            out = {k: v for k, v in tgt.items() if k not in p}
            for k, v in p.items():
                if v is not None:
                    out[k] = patch(tgt.get(k), v)
            return out

        def one(x, y):
            if pd.isna(x) or pd.isna(y):
                return None
            return _json.dumps(
                patch(_json.loads(x), _json.loads(y)),
                separators=(",", ":"), ensure_ascii=False)
        return pd.Series([one(x, y) for x, y in zip(a, b)], dtype=object)

    return {"jaccard": jaccard_udf,
            "md5_number_lower": md5_lower,
            "md5_number_upper": md5_upper,
            "json_merge_patch": json_merge_patch_udf,
            **_make_json_introspection_udfs()}


def _make_json_introspection_udfs():
    """json_extract / json_type with DuckDB 1.0.0's measured semantics.

    json_extract returns the MINIFIED JSON text of the node (strings
    keep their quotes — unlike Spark's get_json_object), a json-null
    node → SQL NULL, a missing path → SQL NULL, malformed json RAISES.
    Numbers re-render through double/int semantics exactly as DuckDB's
    yyjson writer [measured]: ints in [-2^63, 2^64) stay integral,
    bigger parse as double; doubles print shortest-round-trip, decimal
    form for exponents in (-7, 21) with a '.0' on integral values
    ('1e2' → '100.0', '-1e-5' → '-0.00001'), scientific without '+'
    beyond ('1e21', '1.2345678901234568e29', '5e-324').

    Paths [measured]: '$'-JSONPath (.key, ."quoted key", [n], [#-n]),
    '/a/b/0' JSON-pointer, a bare single KEY ('a b' is one key — 'a.b'
    does NOT traverse), or an integer array index (negative int paths
    → missing). '$[*]' wildcards return LISTs in DuckDB — unsupported
    here, raises.

    json_type maps node types to DuckDB's vocabulary: OBJECT/ARRAY/
    VARCHAR/BOOLEAN/NULL, UBIGINT for ints ≥ 0, BIGINT for negative,
    DOUBLE for fractional."""
    import json as _json
    from decimal import Decimal

    from pyspark.sql.types import BooleanType, StringType

    def _parse_int(s: str):
        v = int(s)
        return v if -2**63 <= v < 2**64 else float(s)

    def _render(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "null"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            d = Decimal(repr(v))
            adj = d.adjusted() if v != 0 else 0
            if -7 < adj < 21:
                if d == d.to_integral_value():
                    s = format(d.to_integral_value(), "f")
                    return s + ".0"
                return format(d, "f")
            sign, digits, _ = d.as_tuple()
            mant = str(digits[0])
            if len(digits) > 1:
                mant += "." + "".join(str(x) for x in digits[1:])
            return ("-" if sign else "") + mant + "e" + str(adj)
        return _json.dumps(v, separators=(",", ":"), ensure_ascii=False,
                           default=None)

    def _render_node(v) -> str:
        if isinstance(v, (dict, list)):
            # minified container with inner numbers re-rendered
            if isinstance(v, dict):
                return ("{" + ",".join(
                    _json.dumps(k, ensure_ascii=False) + ":"
                    + _render_node(x) for k, x in v.items()) + "}")
            return "[" + ",".join(_render_node(x) for x in v) + "]"
        if isinstance(v, str):
            return _json.dumps(v, ensure_ascii=False)
        return _render(v)

    _MISSING = object()

    def _path_get(doc, path: str):
        """Resolve a DuckDB json path; returns the node or _MISSING."""
        if re.fullmatch(r"-?\d+", path):
            idx = int(path)
            if idx < 0 or not isinstance(doc, list) or idx >= len(doc):
                return _MISSING
            return doc[idx]
        if path.startswith("/"):
            node = doc
            for seg in path.split("/")[1:]:
                if isinstance(node, dict) and seg in node:
                    node = node[seg]
                elif (isinstance(node, list)
                        and re.fullmatch(r"\d+", seg)
                        and int(seg) < len(node)):
                    node = node[int(seg)]
                else:
                    return _MISSING
            return node
        if not path.startswith("$"):
            # bare single key (dots do NOT traverse — measured)
            if isinstance(doc, dict) and path in doc:
                return doc[path]
            return _MISSING
        node = doc
        i = 1
        while i < len(path):
            c = path[i]
            if c == ".":
                m = re.match(r'\."((?:[^"\\]|\\.)*)"|\.([^.\[]+)',
                             path[i:])
                if not m:
                    return _MISSING
                key = (m.group(1).replace('\\"', '"')
                       if m.group(1) is not None else m.group(2))
                if not (isinstance(node, dict) and key in node):
                    return _MISSING
                node = node[key]
                i += m.end()
            elif c == "[":
                m = re.match(r"\[\s*(\*|#?-?\d+)\s*\]", path[i:])
                if not m:
                    return _MISSING
                tokp = m.group(1)
                if tokp == "*":
                    raise NotImplementedError(
                        "json path wildcards ('[*]') return LISTs in "
                        "DuckDB — not supported here")
                if not isinstance(node, list):
                    return _MISSING
                if tokp.startswith("#"):
                    idx = len(node) + int(tokp[1:])
                else:
                    idx = int(tokp)
                if idx < 0 or idx >= len(node):
                    return _MISSING
                node = node[idx]
                i += m.end()
            else:
                return _MISSING
        return node

    def _loads(j: str):
        try:
            return _json.loads(j, parse_int=_parse_int,
                               parse_float=float)
        except Exception:
            raise ValueError(
                f"Malformed JSON input (same as DuckDB's Invalid "
                f"Input Error): {j[:60]!r}")

    def _path_get_wild(doc, path: str) -> list:
        """Wildcard walker: '[*]' fans out over list elements, every
        other step maps; nodes that miss a step DROP from the result
        [measured r12: '$.arr[*].v' over [{'v':1},{'v':2}] → two
        nodes]. Non-'$' paths never carry wildcards."""
        nodes = [doc]
        i = 1
        while i < len(path) and nodes:
            c = path[i]
            if c == ".":
                m = re.match(r'\."((?:[^"\\]|\\.)*)"|\.([^.\[]+)',
                             path[i:])
                if not m:
                    return []
                key = (m.group(1).replace('\\"', '"')
                       if m.group(1) is not None else m.group(2))
                nodes = [n[key] for n in nodes
                         if isinstance(n, dict) and key in n]
                i += m.end()
            elif c == "[":
                m = re.match(r"\[\s*(\*|#?-?\d+)\s*\]", path[i:])
                if not m:
                    return []
                tokp = m.group(1)
                if tokp == "*":
                    nodes = [e for n in nodes if isinstance(n, list)
                             for e in n]
                else:
                    nxt = []
                    for n in nodes:
                        if not isinstance(n, list):
                            continue
                        idx = (len(n) + int(tokp[1:])
                               if tokp.startswith("#") else int(tokp))
                        if 0 <= idx < len(n):
                            nxt.append(n[idx])
                    nodes = nxt
                i += m.end()
            else:
                return []
        return nodes

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(StringType()))
    def json_extract_wild_udf(j: pd.Series, p: pd.Series) -> pd.Series:
        def one(x, pth):
            if pd.isna(x) or pd.isna(pth):
                return None
            return [_render_node(n)
                    for n in _path_get_wild(_loads(str(x)), str(pth))]
        return pd.Series([one(x, y) for x, y in zip(j, p)],
                         dtype=object)

    @F.pandas_udf(ArrayType(StringType()))
    def json_extract_string_wild_udf(j: pd.Series,
                                     p: pd.Series) -> pd.Series:
        def one(x, pth):
            if pd.isna(x) or pd.isna(pth):
                return None
            return [n if isinstance(n, str) else _render_node(n)
                    for n in _path_get_wild(_loads(str(x)), str(pth))]
        return pd.Series([one(x, y) for x, y in zip(j, p)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def json_extract_udf(j: pd.Series, p: pd.Series) -> pd.Series:
        def one(x, pth):
            if pd.isna(x) or pd.isna(pth):
                return None
            node = _path_get(_loads(str(x)), str(pth))
            if node is _MISSING or node is None:
                return None
            return _render_node(node)
        return pd.Series([one(x, y) for x, y in zip(j, p)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def json_extract_string_udf(j: pd.Series, p: pd.Series) -> pd.Series:
        # unquoting variant: string nodes return their raw value,
        # containers return minified json, json null → SQL NULL
        def one(x, pth):
            if pd.isna(x) or pd.isna(pth):
                return None
            node = _path_get(_loads(str(x)), str(pth))
            if node is _MISSING or node is None:
                return None
            if isinstance(node, str):
                return node
            return _render_node(node)
        return pd.Series([one(x, y) for x, y in zip(j, p)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def json_type_udf(j: pd.Series, p: pd.Series) -> pd.Series:
        def one(x, pth):
            if pd.isna(x) or pd.isna(pth):
                return None
            node = _path_get(_loads(str(x)), str(pth))
            if node is _MISSING:
                return None
            if node is None:
                return "NULL"
            if isinstance(node, bool):
                return "BOOLEAN"
            if isinstance(node, int):
                return "UBIGINT" if node >= 0 else "BIGINT"
            if isinstance(node, float):
                return "DOUBLE"
            if isinstance(node, str):
                return "VARCHAR"
            return "OBJECT" if isinstance(node, dict) else "ARRAY"
        return pd.Series([one(x, y) for x, y in zip(j, p)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def json_structure_udf(j: pd.Series) -> pd.Series:
        # [measured r9]: null → "NULL", ints ≥0 UBIGINT else BIGINT,
        # fractional DOUBLE; arrays unify element structures (NULL
        # yields to anything, UBIGINT<BIGINT<DOUBLE ranks, objects
        # merge keys recursively, anything else collapses to "JSON");
        # [] → ["NULL"]
        _RANK = {"UBIGINT": 0, "BIGINT": 1, "DOUBLE": 2}

        def sof(v):
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "BOOLEAN"
            if isinstance(v, int):
                return "UBIGINT" if v >= 0 else "BIGINT"
            if isinstance(v, float):
                return "DOUBLE"
            if isinstance(v, str):
                return "VARCHAR"
            if isinstance(v, dict):
                return {k: sof(x) for k, x in v.items()}
            out = "NULL"
            for e in v:
                out = unify(out, sof(e))
            return [out]

        def unify(a, b):
            if a == b:
                return a
            if a == "NULL":
                return b
            if b == "NULL":
                return a
            if (isinstance(a, str) and a in _RANK
                    and isinstance(b, str) and b in _RANK):
                return a if _RANK[a] >= _RANK[b] else b
            if isinstance(a, dict) and isinstance(b, dict):
                return {k: unify(a.get(k, "NULL"), b.get(k, "NULL"))
                        for k in {**a, **b}}
            if isinstance(a, list) and isinstance(b, list):
                return [unify(a[0], b[0])]
            return "JSON"

        def one(x):
            if pd.isna(x):
                return None
            return _json.dumps(sof(_loads(str(x))),
                               separators=(",", ":"),
                               ensure_ascii=False)
        return pd.Series([one(x) for x in j], dtype=object)

    @F.pandas_udf(BooleanType())
    def json_contains_udf(j: pd.Series, n: pd.Series) -> pd.Series:
        # [measured r9]: the needle must itself be valid JSON (raises
        # otherwise); TRUE when any node — including the root — equals
        # the needle exactly
        def found(node, needle) -> bool:
            if type(node) is type(needle) or (
                    isinstance(node, (int, float))
                    and isinstance(needle, (int, float))
                    and not isinstance(node, bool)
                    and not isinstance(needle, bool)):
                if node == needle:
                    return True
            if isinstance(node, dict):
                return any(found(v, needle) for v in node.values())
            if isinstance(node, list):
                return any(found(v, needle) for v in node)
            return False

        def one(x, y):
            if pd.isna(x) or pd.isna(y):
                return None
            return found(_loads(str(x)), _loads(str(y)))
        return pd.Series([one(x, y) for x, y in zip(j, n)],
                         dtype=object)

    # dunder spellings are the dialect's emission targets (the public
    # names would re-trigger their own rewrite branch); the public
    # names are registered too for direct Spark-side use
    return {"json_extract": json_extract_udf,
            "__json_extract_wild__": json_extract_wild_udf,
            "__json_extract_string_wild__": json_extract_string_wild_udf,
            "json_type": json_type_udf,
            "json_structure": json_structure_udf,
            "json_contains": json_contains_udf,
            "__json_extract__": json_extract_udf,
            "__json_type__": json_type_udf,
            "__json_extract_string__": json_extract_string_udf,
            **_make_parse_path_udfs()}


def _make_parse_path_udfs():
    """DuckDB's path-wrangling scalars [all measured 1.0.0]:
    parse_path('/a/b/c.txt') = ['/', 'a', 'b', 'c.txt'] (a leading
    separator is its own element; empty segments from '//' drop);
    parse_filename = text after the last separator ('' after a
    trailing one), trim_extension strips from the LAST dot even to
    empty ('.hidden' → ''); parse_dirname = the first path element
    when there are ≥2, else ''; parse_dirpath = the text before the
    last separator occurrence verbatim ('a//b/c' → 'a//b'), '' when
    no separator. Separator option: both_slash (default) / forward_
    slash / backslash / system (POSIX here → forward_slash). The
    dialect normalizes every call to the fixed-arity dunder forms."""
    from pyspark.sql.types import ArrayType, StringType

    _SEPS = {"both_slash": "/\\", "forward_slash": "/",
             "backslash": "\\", "system": "/"}

    def _sep_chars(sep):
        s = _SEPS.get(str(sep))
        if s is None:
            raise ValueError(
                f"parse_*: unknown separator {sep!r} (both_slash/"
                f"forward_slash/backslash/system)")
        return s

    def _parts(p, chars):
        out = []
        if p and p[0] in chars:
            out.append(p[0])
        seg = ""
        for ch in p:
            if ch in chars:
                if seg:
                    out.append(seg)
                seg = ""
            else:
                seg += ch
        if seg:
            out.append(seg)
        return out

    @F.pandas_udf(StringType())
    def parse_filename_udf(p: pd.Series, trim: pd.Series,
                           sep: pd.Series) -> pd.Series:
        def one(x, t, s):
            if pd.isna(x) or pd.isna(s):
                return None
            xs = str(x)
            idx = max((xs.rfind(c) for c in _sep_chars(s)), default=-1)
            last = xs[idx + 1:] if idx >= 0 else xs
            if not pd.isna(t) and bool(t) and "." in last:
                last = last[:last.rindex(".")]
            return last
        return pd.Series([one(x, t, s)
                          for x, t, s in zip(p, trim, sep)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def parse_dirname_udf(p: pd.Series, sep: pd.Series) -> pd.Series:
        # [measured r9 review #5]: the first path element whenever the
        # path CONTAINS a separator — 'trailing/' → 'trailing',
        # '/' → '/', '/c.txt' → '/'; no separator → ''
        def one(x, s):
            if pd.isna(x) or pd.isna(s):
                return None
            xs = str(x)
            chars = _sep_chars(s)
            if not any(c in xs for c in chars):
                return ""
            parts = _parts(xs, chars)
            return parts[0] if parts else ""
        return pd.Series([one(x, s) for x, s in zip(p, sep)],
                         dtype=object)

    @F.pandas_udf(StringType())
    def parse_dirpath_udf(p: pd.Series, sep: pd.Series) -> pd.Series:
        # [measured r9 review #5]: a trailing separator strips exactly
        # ONE character ('a//' → 'a/', '/a/' → '/a'), the bare root
        # keeps its separator ('/' → '/'); otherwise the text before
        # the LAST separator ('' when none)
        def one(x, s):
            if pd.isna(x) or pd.isna(s):
                return None
            xs = str(x)
            chars = _sep_chars(s)
            if xs and xs[-1] in chars:
                stripped = xs[:-1]
                return stripped if stripped else xs[-1]
            idx = max((xs.rfind(c) for c in chars), default=-1)
            return xs[:idx] if idx >= 0 else ""
        return pd.Series([one(x, s) for x, s in zip(p, sep)],
                         dtype=object)

    @F.pandas_udf(ArrayType(StringType()))
    def parse_path_udf(p: pd.Series, sep: pd.Series) -> pd.Series:
        def one(x, s):
            if pd.isna(x) or pd.isna(s):
                return None
            return _parts(str(x), _sep_chars(s))
        return pd.Series([one(x, s) for x, s in zip(p, sep)],
                         dtype=object)

    return {"__parse_filename__": parse_filename_udf,
            "__parse_dirname__": parse_dirname_udf,
            "__parse_dirpath__": parse_dirpath_udf,
            "__parse_path__": parse_path_udf}


def _grapheme_clusters(s: str) -> list[str]:
    """Grapheme-cluster split — UAX #29 core rules (Extend/ZWJ/
    variation selectors/emoji modifiers attach, regional-indicator
    PAIRS, Hangul jamo composition, CRLF). Covers accents, emoji ZWJ
    sequences and flags [measured parity r9: length_grapheme('🤦🏼‍♂️ab')
    = 3, '🇩🇪🇺🇸' = 2]; exotic Prepend/SpacingMark scripts may diverge
    from utf8proc's full property tables (documented)."""
    import unicodedata as _ud

    def is_ri(cp: int) -> bool:
        return 0x1F1E6 <= cp <= 0x1F1FF

    def is_extend(ch: str) -> bool:
        cp = ord(ch)
        return (_ud.category(ch) in ("Mn", "Me", "Mc")
                or cp == 0x200D or 0xFE00 <= cp <= 0xFE0F
                or 0x1F3FB <= cp <= 0x1F3FF or cp == 0x20E3)

    def hangul(cp: int) -> str | None:
        if 0x1100 <= cp <= 0x115F or 0xA960 <= cp <= 0xA97C:
            return "L"
        if 0x1160 <= cp <= 0x11A7 or 0xD7B0 <= cp <= 0xD7C6:
            return "V"
        if 0x11A8 <= cp <= 0x11FF or 0xD7CB <= cp <= 0xD7FB:
            return "T"
        if 0xAC00 <= cp <= 0xD7A3:
            return "LV" if (cp - 0xAC00) % 28 == 0 else "LVT"
        return None

    out: list[str] = []
    ri_run = 0
    for ch in s:
        if not out:
            out.append(ch)
            ri_run = 1 if is_ri(ord(ch)) else 0
            continue
        prev = out[-1][-1]
        glue = False
        if prev == "\r" and ch == "\n":
            glue = True
        elif is_extend(ch) or ord(prev) == 0x200D:
            glue = True
        elif is_ri(ord(ch)) and is_ri(ord(prev)) and ri_run % 2 == 1:
            glue = True
        else:
            hp, hc = hangul(ord(prev)), hangul(ord(ch))
            if hp and hc:
                glue = ((hp == "L" and hc in ("L", "V", "LV", "LVT"))
                        or (hp in ("LV", "V") and hc in ("V", "T"))
                        or (hp in ("LVT", "T") and hc == "T"))
        if glue:
            out[-1] += ch
        else:
            out.append(ch)
        ri_run = ri_run + 1 if is_ri(ord(ch)) else 0
    return out


def _make_grapheme_udfs():
    from pyspark.sql.types import LongType as _Long, StringType

    @F.pandas_udf(_Long())
    def length_grapheme_udf(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else len(_grapheme_clusters(v))
             for v in s], dtype="object")

    @F.pandas_udf(StringType())
    def substring_grapheme_udf(s: pd.Series, start: pd.Series,
                               n: pd.Series) -> pd.Series:
        def one(v, st, k):
            if v is None or pd.isna(st) or pd.isna(k):
                return None
            cl = _grapheme_clusters(v)
            st, k = int(st), int(k)
            # same 1-based/negative-start rules as substring [measured]
            if st > 0:
                lo = st - 1
            elif st == 0:
                lo = 0
                k = max(k - 1, 0)
            else:
                lo = max(len(cl) + st, 0)
                k = k + min(len(cl) + st, 0) if len(cl) + st < 0 else k
            return "".join(cl[lo:lo + max(k, 0)])
        return pd.Series([one(v, a, b)
                          for v, a, b in zip(s, start, n)], dtype=object)

    return {"length_grapheme": length_grapheme_udf,
            "substring_grapheme": substring_grapheme_udf}


def _make_duck_double_varchar_udf():
    """Scalar DOUBLE → VARCHAR, DuckDB style [measured r10]: DuckDB's
    shortest-round-trip render matches Python repr() digit for digit —
    '1e+16' (Spark: '1.0E16'), '1000000000000000.0' below 1e16,
    '1e-05' under 1e-4, 'nan'/'inf'/'-inf' (Spark: 'NaN'/'Infinity'),
    '-0.0' for runtime negative zero.

    r11 (ADVICE): the input is Spark's OWN string render of the double
    — ``CAST(x AS STRING)`` — not the raw float. Spark's Java render is
    round-trip exact, so ``float()`` recovers the value bit-for-bit
    and ``repr()`` re-renders it DuckDB-style; NULL survives as None
    in the string block (no NaN ambiguity), and the source expression
    is evaluated exactly ONCE (the old ``(x, x IS NULL)`` pair
    evaluated a volatile source twice — two independent draws)."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def duck_double_varchar_udf(s: pd.Series) -> pd.Series:
        # float() accepts Spark's 'NaN'/'Infinity'/'-Infinity'
        # spellings; repr() then yields 'nan'/'inf'/'-inf' like DuckDB
        return pd.Series(
            [repr(float(v)) if v is not None else None for v in s],
            dtype=object)

    return {"__duck_double_varchar__": duck_double_varchar_udf}


def _make_duck_interval_varchar_udf():
    """Day-time interval → VARCHAR, DuckDB style [measured r10]:
    micros normalize into days trunc-toward-zero and render as
    '[N day(s) ]HH:MM:SS[.frac]' with per-part signs
    ('-2 days -02:30:00'); pure time at <1 day ('01:30:00'). Used for
    provable ts−ts expressions (Spark's CAST says "INTERVAL '0
    01:30:00' DAY TO SECOND")."""
    from pyspark.sql.types import StringType

    # Captured at maker time (driver-side) so the UDF body never imports
    # the 12k-line dialect module per batch; the reference is resolved on
    # the executor from the shipped package zip (pkgship.py).
    from duckdb_read_spark.dialect import _duck_interval_str

    def one(td) -> str | None:
        if td is None or pd.isna(td):
            return None
        total = int(pd.Timedelta(td).value) // 1000  # ns → µs
        days = int(total / 86_400_000_000)
        rem = total - days * 86_400_000_000
        return _duck_interval_str(0, days, rem)

    @F.pandas_udf(StringType())
    def duck_dt_interval_varchar_udf(s: pd.Series) -> pd.Series:
        return pd.Series([one(v) for v in s], dtype=object)

    return {"__duck_dt_interval_varchar__": duck_dt_interval_varchar_udf}


def _make_duck_double_array_varchar_udf():
    """ARRAY<DOUBLE> → VARCHAR, DuckDB style: each element renders
    shortest-round-trip ('[1e+16, 2.5]'), NULL elements uppercase
    'NULL', real NaN 'nan'. The dialect passes array<struct<v, n>>
    (value + IS NULL flag) because a float64 Arrow block merges NULL
    with NaN (r10)."""
    import math as _math

    from pyspark.sql.types import StringType

    def one(lst) -> str | None:
        if lst is None:
            return None
        parts = []
        for e in lst:
            n = e["n"] if isinstance(e, dict) else e.n
            v = e["v"] if isinstance(e, dict) else e.v
            if n:
                parts.append("NULL")
            else:
                v = float(v)
                parts.append("nan" if _math.isnan(v) else repr(v))
        return "[" + ", ".join(parts) + "]"

    @F.pandas_udf(StringType())
    def duck_double_array_varchar_udf(s: pd.Series) -> pd.Series:
        return pd.Series([one(v) for v in s], dtype=object)

    return {"__duck_double_array_varchar__": duck_double_array_varchar_udf}


def _make_duck_to_bit_udf():
    """VARCHAR → BIT-pattern text, DuckDB's to_binary/VARCHAR→BIT cast
    [measured r10: 'abc' → '011000010110001001100011', 'é' →
    '1100001110101001' — the UTF-8 BYTES as 0/1 text]."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def duck_to_bit_udf(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None
             else "".join(f"{b:08b}" for b in str(v).encode("utf-8"))
             for v in s], dtype=object)

    return {"__duck_to_bit__": duck_to_bit_udf}


def _make_duck_typename_udf():
    """Spark typeof() output → DuckDB type spelling [measured r9:
    typeof(1)='INTEGER', typeof('x')='VARCHAR', typeof([1])=
    'INTEGER[]', typeof({'a':1})='STRUCT(a INTEGER)', typeof(MAP…)=
    'MAP(VARCHAR, INTEGER)', typeof(NULL)='"NULL"', every interval
    width → 'INTERVAL', DECIMAL keeps (p,s)]. Pure string transform —
    the dialect emits __duck_typename__(typeof(x))."""
    import re as _re

    from pyspark.sql.types import StringType

    _SCALARS = {"int": "INTEGER", "bigint": "BIGINT",
                "smallint": "SMALLINT", "tinyint": "TINYINT",
                "string": "VARCHAR", "double": "DOUBLE",
                "float": "FLOAT", "boolean": "BOOLEAN", "date": "DATE",
                "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
                "binary": "BLOB", "void": '"NULL"'}

    def conv(t: str) -> str:
        t = t.strip()
        if t.startswith("array<") and t.endswith(">"):
            return conv(t[6:-1]) + "[]"
        if t.startswith("map<") and t.endswith(">"):
            k, v = _split_top(t[4:-1])
            return f"MAP({conv(k)}, {conv(v)})"
        if t.startswith("struct<") and t.endswith(">"):
            fields = _split_top(t[7:-1], many=True)
            parts = []
            for f in fields:
                name, _, ft = f.partition(":")
                parts.append(f"{name.strip()} {conv(ft)}")
            return "STRUCT(" + ", ".join(parts) + ")"
        if t.startswith("interval"):
            return "INTERVAL"
        if t.startswith("time(") or t == "time":
            # Spark 4 spells the type with precision ('time(6)');
            # DuckDB has a single micro-precision TIME [measured r12]
            return "TIME"
        if t.startswith("decimal"):
            return t.upper().replace(" ", "")
        return _SCALARS.get(t, t.upper())

    def _split_top(s: str, many: bool = False):
        out, buf, d = [], [], 0
        for ch in s:
            if ch == "<":
                d += 1
            elif ch == ">":
                d -= 1
            if ch == "," and d == 0:
                out.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        out.append("".join(buf))
        return out if many else (out[0], out[1])

    @F.pandas_udf(StringType())
    def duck_typename_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else conv(x))

    return {"__duck_typename__": duck_typename_udf}


def _make_duck_varchar_udf():
    """STRUCT → VARCHAR rendering, DuckDB style [measured r9]:
    ``{'a': 1, 's': abc}`` — single-quoted keys, bare values (strings
    unquoted/unescaped), NULL uppercase, nested structs/lists recurse,
    booleans lowercase, timestamps ``2024-01-01 05:06:07``, DECIMALs
    keep scale; UNNAMED row() structs render parenthesized ``(1, 2)``
    (detected by Spark's col1..colN auto-names — a real struct whose
    keys are all colN renders tuple-style too, documented). Spark's
    own CAST(struct AS STRING) drops the keys entirely ('{1, abc}') —
    a silent wrong answer for any DuckDB text comparing rendered
    structs. The dialect routes struct-literal casts here; COLUMN
    struct casts can't be type-detected and keep Spark's render
    (documented §2.4)."""
    import datetime as _dt
    import re as _re
    from decimal import Decimal as _Dec

    from pyspark.sql.types import StringType

    def _render(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, dict):
            if v and all(_re.fullmatch(r"col\d+", k) for k in v):
                return ("(" + ", ".join(_render(x) for x in v.values())
                        + ")")
            return ("{" + ", ".join(f"'{k}': {_render(x)}"
                                    for k, x in v.items()) + "}")
        if isinstance(v, (list, tuple)) or (
                hasattr(v, "tolist") and not hasattr(v, "items")
                and not isinstance(v, (str, bytes))):
            seq = v.tolist() if hasattr(v, "tolist") else v
            return "[" + ", ".join(_render(x) for x in seq) + "]"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, _dt.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, _Dec):
            return str(v)
        return str(v)

    @F.pandas_udf(StringType())
    def duck_varchar_udf(s: pd.DataFrame) -> pd.Series:
        # a STRUCT column arrives as a pd.DataFrame (one column per
        # field), not a Series of dicts — rebuild the per-row dicts;
        # numpy scalars unwrap via .item() so bools/ints render cleanly
        def clean(v):
            if hasattr(v, "item") and not hasattr(v, "__len__"):
                try:
                    v = v.item()
                except Exception:
                    pass
            if isinstance(v, float) and v != v:
                return None
            return v

        if isinstance(s, pd.DataFrame):
            rows = [{k: clean(v) for k, v in rec.items()}
                    for rec in s.to_dict("records")]
        else:
            rows = [clean(v) for v in s]

        def one(v):
            if v is None:
                return None
            return _render(v)
        return pd.Series([one(v) for v in rows], dtype=object)

    return {"__duck_varchar__": duck_varchar_udf}


def _make_regexp_escape_udf():
    """DuckDB regexp_escape = RE2 QuoteMeta — backslash every
    non-word ASCII char [measured r9: 'a b' → 'a\\ b', 'a-b_c' →
    'a\\-b_c', 'é' unescaped, backslash escaped]; Python's re.escape
    (3.7+) matches on every measured probe."""
    import re as _re

    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def regexp_escape_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else _re.escape(x))

    return {"regexp_escape": regexp_escape_udf}


def _make_unicode_udfs():
    """L22 as SQL (r7): DuckDB ships nfc_normalize/strip_accents as
    core scalars; registering the same names lets that text run
    verbatim (the F14 fuzzy-trio precedent). strip_accents is measured
    as NFD → drop combining marks → NFC RECOMPOSE (the Hangul pin:
    '가' round-trips composed, so utf8proc recomposes; a plain NFD
    strip would leave decomposed jamo). Mirrors
    operators/text.py normalize_text (the operator surface)."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def nfc_normalize_udf(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    @F.pandas_udf(StringType())
    def strip_accents_udf(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = "".join(c for c in unicodedata.normalize("NFD", x)
                        if not unicodedata.combining(c))
            return unicodedata.normalize("NFC", y)

        return s.map(one)

    return {"nfc_normalize": nfc_normalize_udf,
            "strip_accents": strip_accents_udf}


def _make_age_udf():
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def age_udf(t1: pd.Series, t2: pd.Series) -> pd.Series:
        return pd.Series([_age_str(a, b) for a, b in zip(t1, t2)],
                         dtype=object)

    return age_udf


class SplitWords:
    """X4 UDTF: one output row per whitespace token (UNNEST-as-function).

    Registered via ``spark.udtf.register``; usable as
    ``SELECT * FROM split_words('a b c')``.
    """

    def eval(self, text: str):  # noqa: D102
        if text:
            for i, tok in enumerate(text.split(" ")):
                yield i, tok


# register_fuzzy_udfs memoization (r13, guide §1.2): the registration is
# ~35 spark.udf.register py4j roundtrips plus the pandas_udf wrapper
# construction — measured 0.2-0.3 s per Engine() on a warm session, paid
# by EVERY lifecycle operator that constructs an Engine per call. UDF
# registration is session-global and idempotent, so one registration per
# SparkSession suffices, remembered on the session's catalog.SessionState
# (a stopped/new session re-registers). Metadata-only — no query results
# are cached.


def register_fuzzy_udfs(spark) -> dict:
    """DuckDB-CORE fuzzy-matching trio (not extension surface): session
    Arrow UDFs, registered eagerly by Engine.__init__ so plain SELECTs
    resolve them like builtins. Idempotent (memoized per SparkSession);
    returns name → fn."""
    from .. import catalog

    state = catalog.session_state(spark)
    if state.udfs is not None:
        return state.udfs
    fns = {"jaro_similarity": jaro_similarity,
           "jaro_winkler_similarity": jaro_winkler_similarity,
           "damerau_levenshtein": damerau_levenshtein,
           "__duck_levenshtein__": levenshtein_bytes,
           "gcd": gcd_udf, "lcm": lcm_udf,
           "age": _make_age_udf(), **_make_unicode_udfs(),
           **_make_regexp_escape_udf(),
           **_make_duck_varchar_udf(),
           **_make_duck_double_varchar_udf(),
           **_make_duck_interval_varchar_udf(),
           **_make_duck_double_array_varchar_udf(),
           **_make_duck_to_bit_udf(),
           **_make_duck_typename_udf(),
           **_make_grapheme_udfs(),
           **_make_math_udfs()}
    for fn_name, fn in fns.items():
        spark.udf.register(fn_name, fn)
    state.udfs = fns
    return fns


def register_builtin_udfs(engine) -> None:
    """Entry-symbol analog (/root/reference/duckdb:53-55): put the built-in
    function set into the session catalog under stable SQL names."""
    from pyspark.sql.functions import udtf

    engine.spark.udf.register("vec_l2norm", vec_l2norm)
    engine.spark.udf.register("vec_cosine", vec_cosine)
    engine.spark.udf.register("trimmed_mean", trimmed_mean)
    engine.spark.udtf.register("split_words", udtf(SplitWords, returnType="pos INT, tok STRING"))
    engine._functions.update(
        {"vec_l2norm": vec_l2norm, "vec_cosine": vec_cosine,
         "trimmed_mean": trimmed_mean}
    )
    engine._functions.update(register_fuzzy_udfs(engine.spark))
