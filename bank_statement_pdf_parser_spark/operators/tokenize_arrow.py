"""Arrow-vectorized structural tokenizer fast path (round 7, guide §4.2).

`mapInArrow` kernel for the extraction's per-consumer record profiles:
documents that satisfy a strict eligibility predicate are parsed with
vectorized `pyarrow.compute` / numpy kernels — RE2 line classification
over ALL lines of a batch at once, page/line offsets as cumsums, the
D4 frequency rule as a hashed pandas group count, D9 continuation
groups as segment arithmetic, and field cells as vectorized codepoint
slices of the anchor-line array — so no per-line Python loop runs and
(for the vectorized subset) almost no per-record Python object ever
exists. Everything else falls back, per document, to the python
kernel (`tokenize.py`), whose parse is the oracle's structural layer
(`oracle.parser.statement_records` / `parse_html`) — the single
normative implementation, which this fast path independently checks.

Eligibility is chosen so every vectorized operation is EXACTLY
equivalent to the python/oracle semantics, not approximately:

- kind in {UOB, DBS, HDFC, OCBC}: stream-table slicing and the OCBC
  lattice cell walk (D6) are vectorized; HTML keeps its python kernel;
- pure ASCII and no [\\v\\x1c-\\x1f]: python's unicode `\\s` /
  `str.strip()` then coincide with RE2's `[\\t\\n\\f\\r ]` and an
  explicit `" \\t\\r"` trim on the split lines (`\\f` and `\\n` are the
  separators, so they cannot appear inside a line);
- stream banks: every anchor line exactly STREAM_LINE_W wide, so the
  frozen fixed SLICES apply (no D7 inference);
- OCBC: no row with enough rails to hold a cell beyond OCBC_CELLS.

Multi-page documents (D4 frequency rule), continuation groups (D9),
page-carry dedup (D11, first occurrence per duplicate anchor text)
and the turn-local ordinals (`rec_ord`, `span_base`: a per-doc
`arange - searchsorted` and exclusive cumsum of span counts) are all
handled vectorized. The one per-record python operation left is the
raw span-text slice of MULTI-line groups in the 'spans' profile (the
span may cover interleaved boilerplate, so it cannot be rebuilt from
the kept lines); single-line groups — the common case — stay
zero-object.

Any document failing a predicate routes to the python kernel in the
same batch; the corpus mix therefore never changes results, only the
cost of the eligible subset. Equivalence is enforced by
tests/test_operators.py::test_arrow_kernel_matches_pandas on a corpus
that straddles every eligibility boundary, plus the full
oracle-equality/adversarial/property suites (extract_all wires this
kernel for the spans/transactions branches).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .. import spec
from .tokenize import (_CELL_DDL, _RECORD_COLS, _RECORD_SCHEMA,
                       _SPAN_COLS, _TXN_COLS, tokenize_kernel)

_FAST_BANKS = ("UOB", "DBS", "HDFC", "OCBC")
# chars that break python<->RE2 whitespace equivalence when inside a
# line (\f and \n are separators, never line content)
_BAD_CHARS_RX = "[\x0b\x1c-\x1f]"
_TRIM_SET = " \t\r"

_CELL_STRUCT = pa.struct([("start", pa.int32()), ("end", pa.int32()),
                          ("text", pa.string())])
# Arrow type of each records DDL type: the schema itself has one
# source, tokenize._RECORD_SCHEMA
_DDL_ARROW = {"string": pa.string(), "int": pa.int32(),
              "array<string>": pa.list_(pa.string()),
              _CELL_DDL: pa.list_(_CELL_STRUCT)}
_TYPES = {c: _DDL_ARROW[t] for c, t in _RECORD_SCHEMA}

_PROFILE_COLS = {"transactions": _TXN_COLS, "spans": _SPAN_COLS,
                 "full": _RECORD_COLS}


def _schema_for(profile: str) -> pa.Schema:
    return pa.schema([(c, _TYPES[c]) for c in _PROFILE_COLS[profile]])


def _i32(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype(np.int32))


def _fast_bank_records(bank: str, docs: pa.Array, profile: str):
    """Vectorized parse of one bank's clean-ASCII docs.

    Returns (per-record doc-index ndarray, {col: pa.Array} record
    columns, ndarray of doc indices needing the python fallback).
    Records are ordered by (doc, anchor position). Doc indices index
    `docs`.
    """
    n_docs = len(docs)
    # doc -> pages -> lines; separators are 1 char each, so the offset
    # of line i within its doc is the cumsum of (len+1) over the
    # flattened in-order lines, reset per doc — identical to the
    # python parser's accumulate.
    pages_ll = pc.split_pattern(docs, spec.PAGE_SEP)
    pages_per_doc = np.diff(pages_ll.offsets.to_numpy())
    pages_flat = pages_ll.values
    n_pages_total = len(pages_flat)
    doc_of_page = np.repeat(np.arange(n_docs), pages_per_doc)

    lines_ll = pc.split_pattern(pages_flat, spec.LINE_SEP)
    lines_per_page = np.diff(lines_ll.offsets.to_numpy())
    flat = lines_ll.values
    n_lines = len(flat)
    page_global_of_line = np.repeat(np.arange(n_pages_total),
                                    lines_per_page)
    doc_of_line = doc_of_page[page_global_of_line]
    first_page_of_doc = np.concatenate(
        ([0], np.cumsum(pages_per_doc)[:-1]))
    page_of_line = (page_global_of_line
                    - first_page_of_doc[doc_of_line] + 1)  # 1-based
    lines_per_doc = np.bincount(doc_of_line, minlength=n_docs)
    doc_start_flat = np.concatenate(([0], np.cumsum(lines_per_doc)[:-1]))

    line_len = pc.utf8_length(flat).to_numpy().astype(np.int64)
    cum = np.concatenate(([0], np.cumsum(line_len + 1)[:-1]))
    line_off = cum - np.repeat(cum[doc_start_flat], lines_per_doc)
    line_idx = np.arange(n_lines) - np.repeat(doc_start_flat,
                                              lines_per_doc)

    boiler = pc.match_substring_regex(
        flat, spec.boiler_rx_combined(bank)).to_numpy(zero_copy_only=False)
    anchor_rx = pc.match_substring_regex(
        flat, spec.ANCHOR_RX[bank]).to_numpy(zero_copy_only=False)

    # D4 frequency rule, vectorized: a stripped line value of a
    # multi-page doc is chrome iff it occurs on EVERY page of that doc
    # (python: intersection of per-page stripped-line sets).
    freq_hit = np.zeros(n_lines, dtype=bool)
    multi_doc = pages_per_doc >= spec.FREQ_RULE_MIN_PAGES
    if multi_doc.any():
        m_idx = np.flatnonzero(multi_doc[doc_of_line])
        stripped = pc.utf8_trim(flat.take(pa.array(m_idx)), _TRIM_SET)
        # ONE string-hashing pass (factorize); everything after works
        # on composite int64 keys — the naive (doc, str) MultiIndex
        # formulation re-hashed the strings three times and was ~25%
        # of the whole fast path (measured round 7).
        s_code = pd.factorize(stripped.to_pandas().to_numpy())[0]
        d = doc_of_line[m_idx].astype(np.int64)
        p = page_of_line[m_idx].astype(np.int64)
        n_codes = int(s_code.max()) + 1
        max_p = int(p.max()) + 1
        key_ds = d * n_codes + s_code
        uniq_dps = pd.unique(key_ds * max_p + p)
        u_ds = uniq_dps // max_p
        counts = pd.Series(u_ds).value_counts()
        full = counts.index.to_numpy()[
            counts.to_numpy()
            >= pages_per_doc[(counts.index.to_numpy()
                              // n_codes)]]
        freq_hit[m_idx] = pd.Index(full).get_indexer(key_ds) >= 0

    drop = boiler | freq_hit
    anchor = anchor_rx & ~drop
    content = ~drop

    # group id: cumsum of anchors, reset per doc; content lines with
    # within == 0 precede the first anchor and are dropped
    ac = np.cumsum(anchor)
    base = ac[doc_start_flat] - anchor[doc_start_flat]
    within = ac - np.repeat(base, lines_per_doc)

    if bank == "OCBC":
        # no D7 for the lattice bank; instead, a row with enough rails
        # to hold a 6th non-empty cell would make the python parser
        # raise (OCBC_CELLS has 5 entries) — route such docs to the
        # python path so the observable behavior is identical
        many_rails = (pc.count_substring(flat, "|").to_numpy()
                      >= len(spec.OCBC_CELLS) + 2)
        bad_line = many_rails
    else:
        # D7 trigger: any anchor line not exactly STREAM_LINE_W wide
        # -> whitespace-gap inference -> python path for that doc
        w = spec.STREAM_LINE_W[bank]
        bad_line = anchor & (line_len != w)
    doc_ok = ~(np.bincount(doc_of_line[bad_line], minlength=n_docs) > 0)
    fallback_docs = np.flatnonzero(~doc_ok)

    ok_line = doc_ok[doc_of_line]
    member = content & (within > 0) & ok_line
    c_idx = np.flatnonzero(member)
    a_idx = np.flatnonzero(anchor & ok_line)
    if a_idx.size == 0:
        return a_idx, {}, fallback_docs
    a_doc = doc_of_line[a_idx]

    # D11 page-carry dedup: keep the FIRST group per (doc, raw anchor
    # line); later duplicates drop with their whole group.
    a_lines = flat.take(pa.array(a_idx))
    a_code = pd.factorize(a_lines.to_pandas().to_numpy())[0]
    dup = pd.Series(a_doc.astype(np.int64) * (int(a_code.max()) + 1)
                    + a_code).duplicated().to_numpy()

    # segment boundaries of group members (gid == position of the
    # group's anchor in a_idx, 1-based within ac numbering)
    gid_c = ac[c_idx]
    gids = ac[a_idx]
    starts = np.searchsorted(gid_c, gids, side="left")
    ends = np.searchsorted(gid_c, gids, side="right")
    n_members = ends - starts
    last_idx = c_idx[ends - 1]           # last member line per group

    keep = ~dup
    a_idx, a_doc, gids = a_idx[keep], a_doc[keep], gids[keep]
    a_lines = a_lines.take(pa.array(np.flatnonzero(keep)))
    starts, ends = starts[keep], ends[keep]
    n_members, last_idx = n_members[keep], last_idx[keep]

    n = a_idx.size
    rstrip_last = pc.utf8_length(pc.utf8_rtrim(
        flat.take(pa.array(last_idx)), _TRIM_SET)).to_numpy()
    span_start = line_off[a_idx]
    span_end = line_off[last_idx] + rstrip_last

    # turn-local ordinals: records are doc-major in anchor order, so a
    # record's index within its doc is its offset from the doc's first
    doc_first = np.searchsorted(a_doc, a_doc)
    rec_ord = np.arange(n) - doc_first
    cols: dict[str, pa.Array] = {
        "bank": pa.array(np.full(n, bank, dtype=object), pa.string()),
        "page": _i32(page_of_line[a_idx]),
        "line_start": _i32(line_idx[a_idx]),
        "line_end": _i32(line_idx[last_idx]),
        "span_start": _i32(span_start),
        "rec_ord": _i32(rec_ord),
    }

    if profile != "transactions":        # spans / full
        single = n_members == 1
        txt = pc.utf8_rtrim(a_lines, _TRIM_SET)
        if single.all():
            cols["span_text"] = txt
        else:
            # multi-line spans may cover interleaved boilerplate: the
            # raw doc slice is authoritative (python, per record)
            vals = txt.to_numpy(zero_copy_only=False)
            docs_py: dict[int, str] = {}
            for j in np.flatnonzero(~single):
                d = int(a_doc[j])
                s = docs_py.get(d)
                if s is None:
                    s = docs_py[d] = docs[d].as_py()
                vals[j] = s[span_start[j]:span_end[j]]
            cols["span_text"] = pa.array(vals, pa.string())
        cols["span_end"] = _i32(span_end)

    # member lines of kept groups, group-major (anchor first) — used
    # by desc_parts (both bank shapes) and the OCBC cell walk
    pos = np.repeat(starts, n_members) + _ranges(n_members)
    mem_flat = c_idx[pos]
    mem_offsets = np.concatenate(([0], np.cumsum(n_members)))

    if bank != "OCBC":
        sl = spec.SLICES[bank]

        def cut(arr, name):
            s, e = sl[name]
            return pc.utf8_slice_codeunits(arr, s, e)

        if profile != "spans":           # transactions / full
            field_of = {"date_cell": "date",
                        "vdate_cell": "value_date",
                        "wdr_cell": ("debit" if bank == "DBS"
                                     else "withdrawal"),
                        "dep_cell": ("credit" if bank == "DBS"
                                     else "deposit"),
                        "bal_cell": "balance", "ref_cell": "ref"}
            for out_name, key in field_of.items():
                cols[out_name] = (cut(a_lines, key) if key in sl
                                  else pa.nulls(n, pa.string()))
            mem_lines = flat.take(pa.array(mem_flat))
            cols["desc_parts"] = pa.ListArray.from_arrays(
                mem_offsets.astype(np.int32),
                cut(mem_lines, "description"))
        if profile != "transactions":    # spans / full
            cols["cells"] = pa.ListArray.from_arrays(
                np.zeros(n + 1, dtype=np.int32),
                pa.array([], _CELL_STRUCT))
            cols["span_base"] = cols["rec_ord"]   # cell-less records
        return a_doc, cols, fallback_docs

    # ---- OCBC lattice cell walk, vectorized (D6) ----
    mem_lines = flat.take(pa.array(mem_flat))
    rec_of_row = np.repeat(np.arange(n), n_members)
    first_row = np.zeros(len(mem_flat), dtype=bool)
    first_row[mem_offsets[:-1]] = True      # the group's anchor row

    parts_ll = pc.split_pattern(mem_lines, "|")
    parts_per_row = np.diff(parts_ll.offsets.to_numpy())
    pflat = parts_ll.values
    row_of_part = np.repeat(np.arange(len(mem_lines)), parts_per_row)
    row_start = np.concatenate(([0], np.cumsum(parts_per_row)[:-1]))
    part_i = np.arange(len(pflat)) - np.repeat(row_start, parts_per_row)
    plen = pc.utf8_length(pflat).to_numpy().astype(np.int64)
    pcum = np.concatenate(([0], np.cumsum(plen + 1)[:-1]))
    pos_in_line = pcum - np.repeat(pcum[row_start], parts_per_row)
    stripped = pc.utf8_trim(pflat, _TRIM_SET)
    slen = pc.utf8_length(stripped).to_numpy()
    lead = (plen
            - pc.utf8_length(pc.utf8_ltrim(pflat, _TRIM_SET)).to_numpy())
    # cells sit strictly between the first and last rail (python:
    # 1 <= i <= len(parts)-2) and must be non-empty once stripped
    cellm = ((part_i >= 1)
             & (part_i <= (parts_per_row - 2)[row_of_part])
             & (slen > 0))
    ci = part_i - 1
    cstart = (line_off[mem_flat][row_of_part] + pos_in_line + lead)
    cend = cstart + slen

    if profile != "transactions":        # spans / full
        sel = np.flatnonzero(cellm)
        cell_rec = rec_of_row[row_of_part[sel]]
        struct = pa.StructArray.from_arrays(
            [_i32(cstart[sel]), _i32(cend[sel]),
             stripped.take(pa.array(sel))],
            names=["start", "end", "text"])
        cells_per_rec = np.bincount(cell_rec, minlength=n)
        cols["cells"] = pa.ListArray.from_arrays(
            np.concatenate(([0], np.cumsum(cells_per_rec)))
            .astype(np.int32), struct)
        # per-doc exclusive prefix sum of each record's span count
        n_spans = 1 + cells_per_rec
        excl = np.cumsum(n_spans) - n_spans
        cols["span_base"] = _i32(excl - excl[doc_first])
    if profile == "spans":
        return a_doc, cols, fallback_docs

    # transactions / full: anchor-row cells by name + desc_parts
    svals = stripped.to_numpy(zero_copy_only=False)
    a_cell = cellm & first_row[row_of_part]
    a_cell_rec = rec_of_row[row_of_part]
    for out_name, k in (("date_cell", 0), ("wdr_cell", 2),
                        ("dep_cell", 3), ("bal_cell", 4)):
        field = np.full(n, None, dtype=object)
        s_k = a_cell & (ci == k)
        field[a_cell_rec[s_k]] = svals[s_k]
        cols[out_name] = pa.array(field, pa.string())
    cols["vdate_cell"] = pa.nulls(n, pa.string())
    cols["ref_cell"] = pa.nulls(n, pa.string())

    # desc_parts: [anchor desc or ""] + continuation rows' desc cells
    adesc = np.full(n, "", dtype=object)
    s_d = a_cell & (ci == 1)
    adesc[a_cell_rec[s_d]] = svals[s_d]
    s_c = cellm & ~first_row[row_of_part] & (ci == 1)
    cont_rec = a_cell_rec[s_c]
    cont_counts = np.bincount(cont_rec, minlength=n)
    d_counts = 1 + cont_counts
    d_offs = np.concatenate(([0], np.cumsum(d_counts)))
    vals = np.empty(int(d_counts.sum()), dtype=object)
    vals[d_offs[:-1]] = adesc
    vals[np.repeat(d_offs[:-1] + 1, cont_counts)
         + _ranges(cont_counts)] = svals[s_c]
    cols["desc_parts"] = pa.ListArray.from_arrays(
        d_offs.astype(np.int32), pa.array(vals, pa.string()))
    return a_doc, cols, fallback_docs


def _ranges(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] — per-segment aranges, vectorized.
    Zero-length segments contribute nothing (callers pair the result
    with np.repeat(..., counts), which skips them identically)."""
    counts = counts[counts > 0]
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    ends = np.cumsum(counts)[:-1]
    out[ends] = 1 - counts[:-1]
    return np.cumsum(out)


def tokenize_arrow_kernel(profile: str):
    """mapInArrow kernel for the given output profile ('transactions',
    'spans' or 'full'): vectorized fast path + per-doc python
    fallback. 'full' emits the complete RECORDS_DDL (union of both
    emissions) and backs the sink's staged-records pass."""
    cols_out = _PROFILE_COLS[profile]
    schema = _schema_for(profile)
    py_kernel = tokenize_kernel(profile)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            kinds = batch.column("kind")
            docs = batch.column("doc")
            ascii_ok = pc.string_is_ascii(docs)
            bad = pc.match_substring_regex(docs, _BAD_CHARS_RX)
            clean = pc.and_kleene(ascii_ok, pc.invert(bad))
            clean_np = clean.to_numpy(zero_copy_only=False)
            clean_np = np.where(pd.isna(clean_np), False,
                                clean_np).astype(bool)
            kinds_np = kinds.to_numpy(zero_copy_only=False)

            py_rows = np.ones(batch.num_rows, dtype=bool)
            for bank in _FAST_BANKS:
                bank_idx = np.flatnonzero((kinds_np == bank) & clean_np)
                if bank_idx.size == 0:
                    continue
                bdocs = docs.take(pa.array(bank_idx))
                a_doc, cols, fb = _fast_bank_records(bank, bdocs, profile)
                py_rows[bank_idx] = False
                if fb.size:
                    py_rows[bank_idx[fb]] = True
                if len(a_doc) == 0:
                    continue
                rec_row = pa.array(bank_idx[a_doc])
                arrays = []
                for c in cols_out:
                    if c in cols:
                        arrays.append(cols[c])
                    else:  # conv_id / turn_idx / p_* ride from input
                        arrays.append(
                            batch.column(c).take(rec_row)
                            .cast(_TYPES[c]))
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

            fb_idx = np.flatnonzero(py_rows)
            if fb_idx.size:
                sub = batch.take(pa.array(fb_idx)).to_pandas()
                for pdf_out in py_kernel(iter([sub])):
                    # nthreads=1: per-column thread dispatch costs more
                    # than it saves on these small fallback frames
                    yield pa.RecordBatch.from_pandas(
                        pdf_out, schema=schema, preserve_index=False,
                        nthreads=1)

    return kernel
