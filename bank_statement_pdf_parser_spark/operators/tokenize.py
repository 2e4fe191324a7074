"""Fused structural tokenizer (SURVEY.md D1,D2,D3,D4,D8,D9,D10,D11 — fused).

The whole structural stage of the extraction is *turn-local*: pages,
line offsets, boilerplate, anchors, continuation grouping, page-carry
dedup and span offsets of one turn depend only on that turn's document
text. Shuffling 100 TB of raw lines across the cluster just to window
them back per-turn would be the dominant cost at scale, so the plan
fuses D2+D4+D8-D11 into ONE pass over Arrow batches of turn rows: zero
shuffles touch raw text, and since the kernel also assigns the
turn-local output ordinals (below) the fused spans and transactions
plans need no Exchange at all. SURVEY.md §4.2 explicitly blesses this
fusion; the un-fused pure-Catalyst composition of the same operators
lives in `relational.py` and is cross-checked for equality.

This module is the python kernel: production runs the Arrow-vectorized
`tokenize_arrow.py` fast path, which hands every ineligible document
(HTML, non-ASCII, ...) to this kernel. The per-document parse itself is
NOT written here: it is the oracle's structural layer
(`oracle.parser.statement_records` for statements, `parse_html` for
D5), the one python implementation of the spec's structure. This module
owns only the batching around it, shaped by the measured hot spots:

- records accumulate as full row TUPLES and the output frame is built
  by `zip(*rows)` into object ndarrays concatenated without block
  consolidation — 3x faster to build than per-column list appends +
  `pd.DataFrame(dict)`, and ~2x faster for Arrow to serialize (object
  columns skip pandas' numeric re-inference);
- batch columns are materialized ONCE per Arrow batch (ndarray views +
  one vectorized isna for the OCBC period triple) instead of per-row
  Series iteration / per-row `pd.isna` (round 7).

COLUMN PROFILES (round 7, guide §4.1 "pass only the columns the
function needs" applied to the *output* side): `mapInPandas` output is
opaque to Catalyst, so a downstream plan that only reads the field
cells still pays Python-build + Arrow serialization + JVM read for
`span_text` (the raw span slice — by far the widest column), `cells`
and `desc_parts`. `tokenize_kernel(profile)` returns a kernel that
parses IDENTICALLY but only materializes the requested column subset:

- 'full'         -> RECORDS_DDL (the staged-records contract; default)
- 'transactions' -> RECORDS_TXN_DDL: no span_end/span_text/cells/
                    span_base, and HTML turns are skipped at source
                    (their pseudo-records carry no transaction fields
                    — downstream filters bank != 'HTML' anyway)
- 'spans'        -> RECORDS_SPAN_DDL: no field cells / desc_parts /
                    period triple / page geometry / rec_ord

TURN-LOCAL ORDINALS: the output indices are turn-local too, so the
kernel assigns them — `rec_ord` (the txn_idx) and `span_base` (the
head span's span_idx; see _RECORD_SCHEMA) — and the plan derives
span_idx/txn_idx without a per-output window exchange.

Equivalence of every profile to a projection of the full kernel is
test-enforced (tests/test_operators.py::test_kernel_profiles_project).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..oracle.parser import parse_html, statement_records

# mapInPandas output: one row per surviving transaction record (plus
# one bank='HTML' pseudo-record per HTML main span), as (name, DDL
# type) in output order — the single source of every records schema.
#
# Turn-local ordinals (both 0-based, per (conv_id, turn_idx) input
# row, filled by every kernel):
# - rec_ord: the record's index within its turn in span_start (=
#   line_start) order — the transaction's txn_idx;
# - span_base: span_idx of the record's head span, the exclusive
#   prefix sum of 1 + len(cells) over the turn's earlier records.
#   Records' spans never interleave (groups are disjoint line ranges,
#   a row's cells start after its leading rail, D11 drops whole
#   groups), so span_base + position in [head, *cells] IS the
#   span_start-ordered span_idx.
_CELL_DDL = "array<struct<start:int,end:int,text:string>>"
_RECORD_SCHEMA = [
    ("conv_id", "string"), ("turn_idx", "int"), ("bank", "string"),
    ("page", "int"), ("line_start", "int"), ("line_end", "int"),
    ("span_start", "int"), ("span_end", "int"), ("span_text", "string"),
    ("date_cell", "string"), ("vdate_cell", "string"),
    ("wdr_cell", "string"), ("dep_cell", "string"),
    ("bal_cell", "string"), ("ref_cell", "string"),
    ("desc_parts", "array<string>"), ("cells", _CELL_DDL),
    ("p_start_mon", "int"), ("p_start_year", "int"),
    ("p_end_year", "int"), ("rec_ord", "int"), ("span_base", "int"),
]
_COL_TYPES = dict(_RECORD_SCHEMA)

_RECORD_COLS = [c for c, _ in _RECORD_SCHEMA]
_TXN_COLS = [c for c in _RECORD_COLS
             if c not in ("span_end", "span_text", "cells", "span_base")]
_SPAN_COLS = ["conv_id", "turn_idx", "bank",
              "span_start", "span_end", "span_text", "cells", "span_base"]


def _ddl_for(cols: list[str]) -> str:
    return ", ".join(f"{c} {_COL_TYPES[c]}" for c in cols)


RECORDS_DDL = _ddl_for(_RECORD_COLS)
RECORDS_TXN_DDL = _ddl_for(_TXN_COLS)
RECORDS_SPAN_DDL = _ddl_for(_SPAN_COLS)

def _opt_ints(series: pd.Series) -> list[int | None]:
    """Nullable int column -> python list (one vectorized isna; the
    per-row pd.isna of the old loop was ~4% of kernel time)."""
    vals = series.to_numpy()
    mask = pd.isna(vals)
    return [None if m else int(v) for m, v in zip(mask, vals)]


_CELLS_IDX = _RECORD_COLS.index("cells")


def _turn_ordinals(per_doc: list[int], cells) -> dict[str, np.ndarray]:
    """rec_ord and span_base (see _RECORD_SCHEMA) of one batch's
    records, which are doc-major with per_doc[i] records from kept
    input row i. `cells` is the records' cell-list column, or None
    when the profile does not materialize cells (no span_base then).
    Vectorized: counting them per record inside the python loop cost
    ~8% of kernel time (fixture corpus, 4-core host)."""
    counts = np.asarray(per_doc, dtype=np.int64)
    # index of each record's first sibling record (same input row)
    first = np.repeat(np.cumsum(counts) - counts, counts)
    out = {"rec_ord": (np.arange(len(first)) - first).astype(np.int32)}
    if cells is not None:
        n_spans = 1 + np.fromiter(map(len, cells), np.int64, len(cells))
        excl = np.cumsum(n_spans) - n_spans
        out["span_base"] = (excl - excl[first]).astype(np.int32)
    return out


def tokenize_kernel(profile: str = "full"):
    """Return a mapInPandas kernel materializing the given column
    profile (module docstring). 'full' is `tokenize_records`."""
    if profile == "full":
        want = dict(want_text=True, want_fields=True, want_cells=True)
        cols, skip_html = _RECORD_COLS, False
    elif profile == "transactions":
        want = dict(want_text=False, want_fields=True, want_cells=False)
        cols, skip_html = _TXN_COLS, True
    elif profile == "spans":
        want = dict(want_text=True, want_fields=False, want_cells=True)
        cols, skip_html = _SPAN_COLS, False
    else:
        raise ValueError(profile)
    keep = [(name, _RECORD_COLS.index(name)) for name in cols]
    want_cells = want["want_cells"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cids = pdf["conv_id"].to_numpy()
            tis = pdf["turn_idx"].to_numpy()
            docs = pdf["doc"].to_numpy()
            kinds = pdf["kind"].to_numpy()
            tails = list(zip(_opt_ints(pdf["p_start_mon"]),
                             _opt_ints(pdf["p_start_year"]),
                             _opt_ints(pdf["p_end_year"])))
            rows: list[tuple] = []
            append = rows.append
            per_doc: list[int] = []   # records of each kept input row
            for cid, ti, doc, kind, tail in zip(
                    cids, tis, docs, kinds, tails):
                if kind == "HTML":
                    if skip_html:
                        continue
                    spans = parse_html(doc)
                    for s in spans:
                        append((cid, ti, "HTML", None, None, None,
                                s["span_start"], s["span_end"], s["text"],
                                None, None, None, None, None, None, [], [],
                                None, None, None))
                    per_doc.append(len(spans))
                    continue
                head = (cid, ti, kind)
                recs = statement_records(doc, kind, **want)
                for rec in recs:
                    append(head + rec + tail)
                per_doc.append(len(recs))
            if rows:
                # empty frames are skipped: all-empty object columns
                # cannot be Arrow-converted to array<string>/struct
                # types. Column-major object arrays, concatenated
                # WITHOUT block consolidation (a dict ctor would vstack
                # all columns into one block) — see module docstring.
                by_col = list(zip(*rows))
                ords = _turn_ordinals(
                    per_doc, by_col[_CELLS_IDX] if want_cells else None)
                series = []
                for name, idx in keep:
                    if name in ords:
                        series.append(pd.Series(ords[name], name=name,
                                                copy=False))
                        continue
                    col = by_col[idx]
                    arr = np.empty(len(col), dtype=object)
                    arr[:] = col
                    series.append(pd.Series(arr, name=name, copy=False))
                yield pd.concat(series, axis=1, copy=False)

    return kernel


# Full-profile kernel under the historical name (tests, sink staging,
# streaming all import `tokenize_records`).
tokenize_records = tokenize_kernel("full")
