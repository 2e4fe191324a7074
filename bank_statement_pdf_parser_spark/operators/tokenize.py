"""Fused structural tokenizer (SURVEY.md D1,D2,D3,D4,D8,D9,D10,D11 — fused).

The whole structural stage of the extraction is *turn-local*: pages,
line offsets, boilerplate, anchors, continuation grouping, page-carry
dedup and span offsets of one turn depend only on that turn's document
text. Shuffling 100 TB of raw lines across the cluster just to window
them back per-turn would be the dominant cost at scale, so the default
plan fuses D2+D4+D8-D11 into ONE `mapInPandas` pass over Arrow batches
of turn rows: zero shuffles touch raw text, and since the kernel also
assigns the turn-local output ordinals (below) the fused spans and
transactions plans need no Exchange at all. SURVEY.md §4.2 explicitly
blesses this fusion; the un-fused pure-Catalyst composition of the same
operators lives in `relational.py` and is cross-checked for equality.

Inside the UDF, per-core throughput is the engine's ceiling, so the
kernel is shaped around the measured hot spots (round-4 profile,
re-measured round 7):

- ONE combined `boiler|anchor` alternation match per line instead of
  two passes (boiler alternatives first, so precedence is identical to
  the sequential checks); the compiled combined pattern is memoized
  per bank (round 7: the string concat alone was ~3% of kernel time);
- records accumulate as full row TUPLES and the output frame is built
  by `zip(*rows)` into object ndarrays concatenated without block
  consolidation — 3x faster to build than per-column list appends +
  `pd.DataFrame(dict)`, and ~2x faster for Arrow to serialize (object
  columns skip pandas' numeric re-inference);
- stream-table field cells are cut with precomputed slice locals, not
  a per-record closure;
- line offsets come from one C-level `itertools.accumulate`, the
  frequency-rule strip pass only runs on multi-page documents, and
  single-page documents skip the page-split machinery entirely
  (round 7: `\f` absence is one C substring scan);
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

All of this is plumbing only: `_parse_doc` output is byte-identical to
the oracle (`oracle/parser.py`) and the relational plan — the frozen
spec triple-equality (CLAUDE.md) is untouched.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache
from itertools import accumulate, chain

import numpy as np
import pandas as pd

from .. import spec
from .html import _spans_one as _html_spans

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

# (date, value_date, withdrawal-like, deposit-like, balance, ref) SLICES
# keys per bank; None = field absent for that bank.
_FIELD_KEYS = {
    "DBS": ("date", "value_date", "debit", "credit", "balance", None),
    "HDFC": ("date", "value_date", "withdrawal", "deposit", "balance",
             "ref"),
    "UOB": ("date", None, "withdrawal", "deposit", "balance", None),
}

_NONE6 = (None, None, None, None, None, None)


@lru_cache(maxsize=None)
def _combined_rx(bank: str):
    """One alternation: boiler patterns first (same precedence as the
    sequential boiler-then-anchor checks), anchor as named group A.
    Memoized end-to-end (pattern assembly included): called per doc."""
    return spec.rx("(?:" + spec.boiler_rx_combined(bank) + ")|(?P<A>"
                   + spec.ANCHOR_RX[bank] + ")")


def _ocbc_cells(raw: str, line_off: int):
    """[(cell_idx, start, end, stripped)] for non-empty cells of one row."""
    parts = raw.split("|")
    pos = 0
    out = []
    last = len(parts) - 2
    for i, part in enumerate(parts):
        if 1 <= i <= last:
            stripped = part.strip()
            if stripped:
                lead = len(part) - len(part.lstrip())
                s = line_off + pos + lead
                out.append((i - 1, s, s + len(stripped), stripped))
        pos += len(part) + 1
    return out


def _parse_doc(doc: str, bank: str, want_text: bool = True,
               want_fields: bool = True, want_cells: bool = True):
    """Structural parse of one document -> list of record tuples
    (page, line_start, line_end, span_start, span_end, span_text,
    date, vdate, wdr, dep, bal, ref, desc_parts, cells).

    The want_* flags gate ONLY the materialization of optional outputs
    (span text slice / field cells + desc_parts / lattice cell structs)
    — skipped outputs are None in the same tuple slots; the structural
    parse (grouping, dedup, offsets) is identical for every profile.
    """
    comb_match = _combined_rx(bank).match

    if spec.PAGE_SEP in doc:
        pages = doc.split(spec.PAGE_SEP)
        lines: list[str] = []
        page_of: list[int] | None = []
        multi = len(pages) >= spec.FREQ_RULE_MIN_PAGES
        page_sets = [] if multi else None
        for pi, page in enumerate(pages):
            pl = page.split(spec.LINE_SEP)
            lines.extend(pl)
            page_of.extend([pi + 1] * len(pl))
            if multi:
                page_sets.append(set(map(str.strip, pl)))
        freq = set.intersection(*page_sets) if multi else None
    else:
        lines = doc.split(spec.LINE_SEP)
        page_of = None  # single page: page == 1 for every record
        freq = None
    # offset of line i = sum(len+1 of previous lines); the +1 covers both
    # '\n' within a page and the '\f' between pages (single-char each).
    offs = list(accumulate(chain((0,), (len(r) + 1 for r in lines))))

    # content lines -> transaction groups (running anchor sessionization)
    groups: list[list[int]] = []
    anchor_raws: list[str] = []
    append_group = groups.append
    append_anchor = anchor_raws.append
    g: list[int] | None = None
    if freq is None:
        for i, raw in enumerate(lines):
            m = comb_match(raw)
            if m is not None:
                if m.lastgroup != "A":
                    continue  # boilerplate (regex rule)
                g = [i]
                append_group(g)
                append_anchor(raw)
            elif g is not None:
                g.append(i)
    else:
        for i, raw in enumerate(lines):
            m = comb_match(raw)
            if m is not None and m.lastgroup != "A":
                continue  # boilerplate (regex rule)
            if raw.strip() in freq:
                continue  # boilerplate (frequency rule)
            if m is not None:
                g = [i]
                append_group(g)
                append_anchor(raw)
            elif g is not None:
                g.append(i)

    seen: set[str] = set()
    records = []
    append_record = records.append
    if bank == "OCBC":
        for g in groups:
            a = g[0]
            a_raw = lines[a]
            if a_raw in seen:  # D11 page-carry dedup, keep first
                continue
            seen.add(a_raw)
            last = g[-1]
            span_start = offs[a]
            span_end = offs[last] + len(lines[last].rstrip())
            cells_all = [] if want_cells else None
            a_cells = {}
            desc_parts = []
            for j, li in enumerate(g):
                for ci, s, e, t in _ocbc_cells(lines[li], offs[li]):
                    if want_cells:
                        cells_all.append({"start": s, "end": e, "text": t})
                    name = spec.OCBC_CELLS[ci]
                    if j == 0:
                        a_cells[name] = t
                    elif name == "description":
                        desc_parts.append(t)
            desc_parts.insert(0, a_cells.get("description", ""))
            append_record(
                (1 if page_of is None else page_of[a], a, last,
                 span_start, span_end,
                 doc[span_start:span_end] if want_text else None,
                 a_cells.get("date"), None,
                 a_cells.get("withdrawal"), a_cells.get("deposit"),
                 a_cells.get("balance"), None, desc_parts, cells_all))
        return records

    if not groups:
        return records
    # D7: fixed SLICES for spec-width layouts, whitespace-gap inference
    # otherwise (frozen rule in spec.infer_stream_slices)
    sl = spec.infer_stream_slices(anchor_raws, bank)
    cs, ce = sl["description"]
    if want_fields:
        dk, vk, wk, pk, bk, rk = _FIELD_KEYS[bank]
        d0, d1 = sl[dk]
        v01 = sl[vk] if vk else None
        w0, w1 = sl[wk]
        p0, p1 = sl[pk]
        b0, b1 = sl[bk]
        r01 = sl[rk] if rk else None
    for g in groups:
        a = g[0]
        a_raw = lines[a]
        if a_raw in seen:  # D11 page-carry dedup, keep first
            continue
        seen.add(a_raw)
        span_start = offs[a]
        if len(g) == 1:
            last = a
            stripped = a_raw.rstrip()
            span_end = span_start + len(stripped)
            txt = stripped if want_text else None
            desc_parts = [a_raw[cs:ce]] if want_fields else None
        else:
            last = g[-1]
            span_end = offs[last] + len(lines[last].rstrip())
            txt = doc[span_start:span_end] if want_text else None
            if want_fields:
                desc_parts = [a_raw[cs:ce]]
                desc_parts += [lines[li][cs:ce] for li in g[1:]]
            else:
                desc_parts = None
        fields = (
            (a_raw[d0:d1],
             a_raw[v01[0]:v01[1]] if v01 else None,
             a_raw[w0:w1], a_raw[p0:p1], a_raw[b0:b1],
             a_raw[r01[0]:r01[1]] if r01 else None)
            if want_fields else _NONE6)
        append_record(
            (1 if page_of is None else page_of[a], a, last,
             span_start, span_end, txt) + fields + (desc_parts, []))
    return records


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
                    spans = _html_spans(doc)
                    for s in spans:
                        append((cid, ti, "HTML", None, None, None,
                                s["span_start"], s["span_end"], s["text"],
                                None, None, None, None, None, None, [], [],
                                None, None, None))
                    per_doc.append(len(spans))
                    continue
                head = (cid, ti, kind)
                recs = _parse_doc(doc, kind, **want)
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
