"""Pure helpers of the benchmark: order statistics, failure accounting
and the canonical form results are compared in. No Spark, no DuckDB."""
import datetime
import decimal
import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile out of range: {p}")
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def account(ops):
    """Split operation records into (attempted, failed, times_ms).

    A failed operation counts as attempted and failed and contributes
    no time, whatever time it spent before failing."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    times = [o["ms"] for o in ops if o["ok"]]
    for t in times:
        if t is None or not t >= 0:
            raise ValueError(f"successful operation without a time: {t!r}")
    return attempted, failed, times


def _norm(v):
    """One value in comparable form; every kind of null becomes None."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def _key(v):
    if v is None:
        return (2, "")
    if isinstance(v, (bool, int, float)):
        return (0, v)
    return (1, str(v))


def canonical(columns, rows):
    """(sorted column names, sorted rows) of a result: columns ordered
    by name, values normalized so that null equals null, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_key(v) for v in r))
    return [columns[i] for i in order], out


def compare(name, got_cols, got_rows, want_cols, want_rows):
    """None when the two results are equal in canonical form, else a
    one-line description of the first difference."""
    gc, gr = canonical(got_cols, got_rows)
    wc, wr = canonical(want_cols, want_rows)
    if gc != wc:
        return f"{name}: columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{name}: {len(gr)} rows != {len(wr)} rows"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"{name}: row {i} differs: {a!r} != {b!r}"
    return None
