"""Order-insensitive result fingerprint, the Python twin of
perfbench/harness/Canon.scala. Cells follow tools/oracle_check.py's
canon() (floats %.4f with -0.0 kept distinct, NULL literal, timestamps to
the microsecond); this adds only what the oracle's scalar cells never
need: decimals as floats, zoned timestamps in UTC, bytes, and nested
values. Columns are taken in name order and rows sorted before hashing."""
import datetime
import decimal
import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import canon  # noqa: E402


def cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return canon(v)


def fingerprint(columns, rows):
    """(row count, sha256) of rows whose cells follow `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()
