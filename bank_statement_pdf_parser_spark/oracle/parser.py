"""Plain-Python oracle parser — the reference implementation.

The per-turn text/span-offset equality contract (BASELINE.json) is
checked against this single-process, Spark-free implementation of the
frozen spec in `spec.py` / FIXTURES.md; the distributed engine in
`plans/extract.py` must match its output exactly.

It is written in two layers:

- structure: `statement_records` (D1-D4, D6-D11 -> raw record tuples,
  the RECORDS_DDL shape) and `parse_html` (D5 spans). These are the
  engine's ONLY python structural parse: the pandas tokenizer kernel
  (`operators/tokenize.py`, also the Arrow fast path's per-document
  fallback) and `html_main_spans` import them, so they keep the
  kernel's measured fast paths;
- normalization: `parse_statement` applies F1-F8 in python over those
  records.

The independent checks are other implementations, not a second python
copy: for statements, the Arrow-vectorized fast path
(`tokenize_arrow.py`), relational mode's Catalyst plan (`relational.py`,
`functions/normalize.py`) and the DuckDB `oracle_sql` of the contract
gate; for D5, which every mode runs through `parse_html`, the gate's
`flagship_html_spans` and the hand-computed spans of
tests/test_operators.py::test_html_entities_and_offsets.
"""

from __future__ import annotations

import base64
import json
import re
from datetime import date
from decimal import Decimal
from functools import lru_cache
from itertools import accumulate, chain

from .. import spec

TWO_DP = Decimal("0.01")


# ---------------------------------------------------------------------------
# payload resolution + classification
# ---------------------------------------------------------------------------

def resolve_payload(text: str | None, tool: str | None) -> str | None:
    """Tool payload (optionally base64) takes precedence over `text`."""
    if tool:
        try:
            env = json.loads(tool)
        except ValueError:
            env = None
        if isinstance(env, dict) and env.get("payload") is not None:
            payload = env["payload"]
            if env.get("encoding") == "base64":
                return base64.b64decode(payload).decode("utf-8")
            return str(payload)
    return text


def classify(doc: str) -> str | None:
    """'HTML', a bank code, or None (noise)."""
    if re.match(spec.HTML_PREFIX_RX, doc):
        return "HTML"
    for bank, sig in spec.BANK_SIGNATURES:
        if sig in doc:
            return bank
    return None


# ---------------------------------------------------------------------------
# field grammar
# ---------------------------------------------------------------------------

def parse_amount(cell: str) -> tuple[Decimal | None, str | None]:
    s = cell.strip()
    if not s:
        return None, None
    marker = None
    m = re.search(spec.AMOUNT_MARKER_RX, s)
    if m:
        marker = m.group(1)
        s = s[: m.start()]
    neg = s.startswith("(") and s.endswith(")")
    s = re.sub(spec.AMOUNT_STRIP_RX, "", s)
    val = Decimal(s).quantize(TWO_DP)
    return (-val if neg else val), marker


def _collapse(s: str) -> str:
    return " ".join(s.split())


def parse_date(bank: str, cell: str, period: tuple[date, date] | None) -> date | None:
    s = cell.strip()
    if not s:
        return None
    if bank == "UOB":
        dd, mon, yyyy = s[0:2], s[3:6], s[7:11]
        return date(int(yyyy), spec.MONTH_NUM[mon], int(dd))
    if bank == "DBS":
        dd, mm, yyyy = s[0:2], s[3:5], s[6:10]
        return date(int(yyyy), int(mm), int(dd))
    if bank == "HDFC":
        dd, mm, yy = int(s[0:2]), int(s[3:5]), int(s[6:8])
        year = 2000 + yy if yy < spec.HDFC_YY_PIVOT else 1900 + yy
        return date(year, mm, dd)
    if bank == "OCBC":
        dd, mon = int(s[0:2]), spec.MONTH_NUM[s[3:6]]
        start, end = period if period else (
            date(spec.OCBC_DEFAULT_YEAR, spec.OCBC_DEFAULT_START_MON, 1),
            date(spec.OCBC_DEFAULT_YEAR, 12, 31))
        year = end.year if mon < start.month else start.year
        return date(year, mon, dd)
    raise ValueError(bank)


def _ocbc_period(doc: str) -> tuple[date, date] | None:
    m = re.search(spec.OCBC_PERIOD_RX, doc)
    if not m:
        return None
    d1, m1, y1, d2, m2, y2 = m.groups()
    return (date(int(y1), spec.MONTH_NUM[m1], int(d1)),
            date(int(y2), spec.MONTH_NUM[m2], int(d2)))


# ---------------------------------------------------------------------------
# statement structure (D1-D4, D6-D11): the one python structural parse
# ---------------------------------------------------------------------------

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


def statement_records(doc: str, bank: str, want_text: bool = True,
                      want_fields: bool = True, want_cells: bool = True):
    """Structural parse of one statement -> list of record tuples
    (page, line_start, line_end, span_start, span_end, span_text,
    date, vdate, wdr, dep, bal, ref, desc_parts, cells), one per kept
    transaction group in document order. Field cells are raw slices
    (None = field absent); `cells` holds OCBC {start, end, text}
    structs ([] for stream banks).

    The want_* flags gate ONLY the materialization of optional outputs
    (span text slice / field cells + desc_parts / lattice cell structs)
    — skipped outputs are None in the same tuple slots; the structural
    parse (grouping, dedup, offsets) is identical for every profile.

    Shaped around the tokenizer's measured hot spots: one memoized
    combined boiler|anchor match per line, C-level `accumulate` line
    offsets, the frequency-rule strip pass only on multi-page documents
    and no page split at all for single-page ones, field cells cut with
    precomputed slice locals.
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

    # content lines -> transaction groups (running anchor sessionization;
    # lines before the first anchor are dropped)
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
    # otherwise (frozen rule in spec.infer_stream_slices), over every
    # group's anchor — D11 duplicates included
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


# ---------------------------------------------------------------------------
# statement normalization (F1-F8) over the structural records
# ---------------------------------------------------------------------------

def parse_statement(doc: str, bank: str):
    """Returns (spans, txns) — span/txn dicts without conv/turn keys."""
    period = _ocbc_period(doc) if bank == "OCBC" else None
    spans = []
    txns = []
    for txn_i, (page, line_start, line_end, span_start, span_end, text,
                date_c, vdate_c, wdr_c, dep_c, bal_c, ref_c, desc_parts,
                cells) in enumerate(statement_records(doc, bank)):
        spans.append({"span_start": span_start, "span_end": span_end,
                      "span_kind": spec.SPAN_KIND_TXN, "text": text})
        spans.extend({"span_start": c["start"], "span_end": c["end"],
                      "span_kind": spec.SPAN_KIND_CELL, "text": c["text"]}
                     for c in cells)

        # absent cells (None) parse like blank ones
        w_val, w_mark = parse_amount(wdr_c or "")
        d_val, d_mark = parse_amount(dep_c or "")
        value_date = parse_date(bank, vdate_c or "", None)
        bal, _ = parse_amount(bal_c or "")
        txn_date = parse_date(bank, date_c or "", period)

        # debit/credit assignment with CR/DR marker override (spec F2/F3)
        debit = credit = None
        if w_val is not None:
            if w_mark == "CR":
                credit = w_val
            else:
                debit = w_val
        if d_val is not None:
            if d_mark == "DR":
                debit = d_val
            else:
                credit = d_val

        desc = " ".join(p for p in (_collapse(x) for x in desc_parts) if p)
        ref = (ref_c or "").strip() or None  # HDFC ref column
        if bank != "HDFC":
            m = re.match(spec.REF_RX, desc)
            if m:
                ref, desc = m.group(1), m.group(2)

        txns.append({
            "txn_idx": txn_i, "bank": bank, "txn_date": txn_date,
            "value_date": value_date, "description": desc, "ref": ref,
            "debit": debit, "credit": credit, "balance": bal,
            "page": page, "line_start": line_start, "line_end": line_end,
        })
    return spans, txns


# ---------------------------------------------------------------------------
# HTML main content (D5)
# ---------------------------------------------------------------------------

_TAG = spec.rx(spec.HTML_TAG_RX)


def _decode(s: str) -> str:
    for ent, ch in spec.HTML_ENTITIES:
        s = s.replace(ent, ch)
    return s


def parse_html(doc: str):
    """[{span_start, span_end, text}] for the non-blank text nodes inside
    the content div (unclosed: to the end of the document). Offsets
    index the RAW html and bound the stripped node; entities are decoded
    in the text only (FIXTURES.md §3)."""
    start = doc.find(spec.HTML_CONTENT_OPEN)
    if start < 0:
        return []
    start += len(spec.HTML_CONTENT_OPEN)
    end = doc.find(spec.HTML_CONTENT_CLOSE, start)
    if end < 0:
        end = len(doc)
    out = []
    pos = start
    bounds = [(m.start(), m.end()) for m in _TAG.finditer(doc, start, end)]
    bounds.append((end, end))
    for a, b in bounds:
        raw = doc[pos:a]
        stripped = raw.strip()
        if stripped:
            lead = len(raw) - len(raw.lstrip())
            s = pos + lead
            out.append({"span_start": s, "span_end": s + len(stripped),
                        "text": _decode(stripped)})
        pos = b
    return out


# ---------------------------------------------------------------------------
# per-turn + whole-table entry points
# ---------------------------------------------------------------------------

def parse_document(doc: str | None):
    """(spans, txns) for one resolved document; spans get dense span_idx
    ordered by span_start."""
    if not doc:
        return [], []
    kind = classify(doc)
    if kind is None:
        return [], []
    if kind == "HTML":
        spans = [{"span_start": s["span_start"], "span_end": s["span_end"],
                  "span_kind": spec.SPAN_KIND_MAIN, "text": s["text"]}
                 for s in parse_html(doc)]
        txns = []
    else:
        spans, txns = parse_statement(doc, kind)
    spans.sort(key=lambda s: s["span_start"])
    for i, s in enumerate(spans):
        s["span_idx"] = i
    return spans, txns


def parse_transcripts(rows: list[dict]):
    """rows: transcripts dicts -> (span_rows, txn_rows), stably ordered by
    (conv_id, turn_idx, idx) regardless of input row order."""
    span_rows, txn_rows = [], []
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        if r.get("role") not in spec.ROLES:
            continue
        doc = resolve_payload(r.get("text"), r.get("tool"))
        spans, txns = parse_document(doc)
        for s in spans:
            span_rows.append({"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], **s})
        for t in txns:
            txn_rows.append({"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], **t})
    return span_rows, txn_rows
