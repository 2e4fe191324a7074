"""Order-independent output digests, computed the same way in Python
(over oracle rows or read-back parquet) and inside Spark (over a
timed run's output frames).

A row's canonical form is the tuple `tests/test_equality.py` sorts and
compares: the spans / transactions columns in DDL order, decimals
quantized to 0.01. Its fields are rendered as Spark's string cast
renders them (ints in decimal, dates ISO, decimals with two places,
NULL as NUL), joined with U+001F; the row hash is the first 40 bits
of the SHA-256 of that string. A frame's digest is (row count, sum of
row hashes): equal multisets of rows give equal digests, and one
differing row changes the sum except with probability ~2^-40.
"""

from __future__ import annotations

import datetime
import hashlib
from decimal import Decimal

SPAN_COLS = ("conv_id", "turn_idx", "span_idx", "span_start", "span_end",
             "span_kind", "text")
TXN_COLS = ("conv_id", "turn_idx", "txn_idx", "bank", "txn_date",
            "value_date", "description", "ref", "debit", "credit",
            "balance", "page", "line_start", "line_end")

_SEP = "\x1f"
_NULL = "\x00"
_HEX = 10  # 40-bit row hashes: a million rows sum far below 2^63
_CENT = Decimal("0.01")


def _field(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, Decimal):
        v = v.quantize(_CENT)
        return "0.00" if v == 0 else str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def rows_digest(rows, cols) -> dict:
    """Digest of an iterable of dict rows."""
    n = total = 0
    for r in rows:
        s = _SEP.join(_field(r[c]) for c in cols)
        total += int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:_HEX],
                     16)
        n += 1
    return {"rows": n, "hash": total}


def spark_digest(df, cols) -> dict:
    """The same digest as one Spark aggregate over `df`: every column
    is computed and hashed, so it costs one full materialization of
    the frame, like the noop sink, and returns two numbers."""
    from pyspark.sql import functions as F
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    h = F.conv(F.substring(F.sha2(F.concat_ws(_SEP, *parts), 256), 1, _HEX),
               16, 10).cast("long")
    r = df.select(h.alias("h")).agg(F.count("*").alias("n"),
                                    F.sum("h").alias("s")).first()
    return {"rows": int(r["n"]), "hash": int(r["s"] or 0)}
