"""Pure parts of the benchmark: call order, result checksums, statistics and
failure accounting. `run.py` drives the engine; everything here is
deterministic and covered by `test_bench_lib.py`.
"""
import datetime as dt
import decimal
import hashlib
import random

MASK64 = (1 << 64) - 1
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


# ---------------------------------------------------------------- call order

def call_orders(seed, n_calls, n_passes):
    """One permutation of range(n_calls) per pass, fixed by the seed alone."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(range(n_calls))
        rng.shuffle(order)
        orders.append(order)
    return orders


# ----------------------------------------------------------------- checksums
#
# A result's checksum is the sum, modulo 2**64, of one 64-bit hash per row, so
# it does not depend on row order but does count duplicate rows. A row hashes
# its columns sorted by name. Values are written canonically, so the engine
# (Canon.scala) and the DuckDB oracle produce the same text for equal values:
# every number as its exact decimal expansion without trailing zeros,
# timestamps as epoch microseconds, dates as epoch days. Because of that
# canonical form, 530, 530.0 and Decimal('530.00') hash alike; the column
# types, hashed in separately, tell them apart.

def canon_value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return canon_number(decimal.Decimal(v))
    if isinstance(v, (int, decimal.Decimal)):
        return canon_number(decimal.Decimal(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "d" + str((v - _EPOCH_DATE).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = sorted(canon_value(k) + "=" + canon_value(x)
                           for k, x in zip(v["key"], v["value"]))
            return "M{" + ",".join(pairs) + "}"
        return "{" + ",".join(canon_value(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def canon_number(d):
    if d.is_zero():
        return "0"
    text = format(d, "f")  # exact: no context rounding
    if "." in text:
        text = text.rstrip("0").rstrip(".")
    return text


def row_hash(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def checksum(columns, rows, types=None):
    """(row count, order-independent hex checksum) of a result. With `types`
    (DuckDB type names, one per column) the schema is hashed in as well, as
    `Canon.checksum` does, so a changed column type changes the checksum."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    if types is not None:
        total = row_hash("\x1f".join(["schema"] + [f"{columns[i]}:{types[i]}" for i in order]))
    n = 0
    for row in rows:
        text = "\x1f".join(columns[i] + "=" + canon_value(row[i]) for i in order)
        total = (total + row_hash(text)) & MASK64
        n += 1
    return n, f"{total:016x}"


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """The q-th percentile, interpolated linearly between the two nearest
    ranks (numpy's default rule; q=50 is the usual median).
    Returns (value, sample count)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), len(s)


def median(values):
    return percentile(values, 50)[0]


# --------------------------------------------------------- failure accounting

def passed(call, expected):
    """True when the call returned and its rows and checksum are the
    expected ones for its key."""
    want = expected.get(call["key"])
    return (call.get("error") is None and want is not None
            and call["rows"] == want[0] and call["checksum"] == want[1])


def account(calls, expected):
    """Judge each timed call against its expected (rows, checksum).

    `calls` holds dicts with key, ms, rows, checksum and error (None when the
    call returned). A call fails when it raised, when its key has no expected
    result, or when rows or checksum differ. Failed calls stay in the
    attempted count and are left out of the latency samples.
    Returns (attempted, failed, latencies_ms of the good calls)."""
    failed = 0
    good = []
    for c in calls:
        if passed(c, expected):
            good.append(c["ms"])
        else:
            failed += 1
    return len(calls), failed, good


def call_cpu_ms(call):
    """CPU ms of a call's window, all of the JVM's threads but its JIT
    compiler threads."""
    return call["cpu_ms"] - call["jit_ms"]


def pass_seconds(calls, traced, ok, ms=lambda c: c["ms"]):
    """Seconds of each traced (or untraced) pass whose calls all passed
    their check, summing `ms` over the pass's calls (wall time by default);
    a pass with a failed call is left out whole, since a call that fails
    early would make its pass look fast."""
    by_pass = {}
    bad = set()
    for c in calls:
        if c["traced"] == traced:
            by_pass[c["pass"]] = by_pass.get(c["pass"], 0.0) + ms(c) / 1e3
            if not ok(c):
                bad.add(c["pass"])
    return [v for p, v in by_pass.items() if p not in bad]


# ------------------------------------------------------------ layer coverage

def check_layers(metrics, names, prefixes, nonzero):
    """Per-layer metrics a workload exercises but did not report.

    `names` are all per-layer metric names; those starting with one of
    `prefixes` must be in `metrics`, and each name in `nonzero` must read
    more than 0, or the tracer missed the layer.
    Returns (missing names, names that read 0)."""
    missing = [k for k in names
               if any(k.startswith(p) for p in prefixes) and k not in metrics]
    idle = [k for k in nonzero if not metrics.get(k, 0) > 0]
    return missing, idle
