"""Un-fused, pure-Catalyst composition of the structural operators
(SURVEY.md D1-D11 as real Spark operators).

This is the second, independent distributed implementation of the
frozen spec: no Python UDF touches a byte here. It exists to (a)
demonstrate each operator row of SURVEY.md §2 as a Catalyst plan node
and (b) cross-validate the production `tokenize.py` fused path (tests
assert record-level equality of both modes against the oracle).

Dataflow and the shuffles it costs (vs zero text shuffles fused):

  turn rows
   D1  posexplode pages w/ offsets ......... narrow (O(P^2) HOF, P small)
   D4  every-page line set ................. narrow (array_intersect fold)
   D2  posexplode lines + ONE window over (conv_id, turn_idx)
       ordered by (page_idx, line_idx):
       row_number -> line_no, running sum(len+1) -> char offset,
       running sum(anchor) -> txn_grp (D8/W2) ... 1 Exchange + 1 Sort
   D3  boilerplate rlike filter ............ narrow
   D9/D10 groupBy(conv,turn,txn_grp) ordered collect ... 1 Exchange
   D11 row_number over (conv,turn,anchor_raw) .......... 1 Exchange
   span_text: equi-join back to turn docs + substring .. 1 Exchange (J2)
   rec_ord/span_base: row_number + running sum(1+size(cells)) over
       (conv,turn) ordered by line_start ............... 1 Exchange

At 10^12-turn scale those three text-bearing Exchanges are exactly why
the fused tokenizer is the default mode; this module is the spec-equal
relational reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import spec


def _per_bank_rx(rx_map: dict[str, str]) -> Column:
    c = None
    for bank, _sig in spec.BANK_SIGNATURES:
        e = F.lit(rx_map[bank])
        c = F.when(F.col("kind") == bank, e) if c is None else \
            c.when(F.col("kind") == bank, e)
    return c


def _pages_with_offsets(doc: Column) -> Column:
    """D1: array<struct<pidx,poff,ptext>> — offsets via prefix-length
    fold; +1 per separator covers both \\n and \\f (single char each)."""
    pages = F.split(doc, spec.PAGE_SEP)
    return F.transform(
        F.sequence(F.lit(0), F.size(pages) - 1),
        lambda i: F.struct(
            i.alias("pidx"),
            F.aggregate(F.slice(pages, F.lit(1), i), F.lit(0),
                        lambda a, p: a + F.length(p) + 1).alias("poff"),
            F.element_at(pages, i + 1).alias("ptext")))


def _freq_boiler_arr(doc: Column) -> Column:
    """D4: stripped lines present on every page (multi-page docs)."""
    pages = F.split(doc, spec.PAGE_SEP)
    # NB: never pass F.trim itself to F.transform — its optional second
    # parameter makes transform feed the element INDEX as the trim
    # character set (PySpark arity sniffing), silently corrupting lines.
    per_page = F.transform(
        pages, lambda p: F.array_distinct(
            F.transform(F.split(p, spec.LINE_SEP), lambda l: F.trim(l))))
    inter = F.aggregate(
        F.slice(per_page, F.lit(2), F.size(per_page) - 1),
        F.element_at(per_page, 1),
        lambda acc, x: F.array_intersect(acc, x))
    return F.when(F.size(pages) >= spec.FREQ_RULE_MIN_PAGES, inter) \
        .otherwise(F.array().cast("array<string>"))


def _ocbc_cells_col(line: Column, off: Column) -> Column:
    """Lattice cells of one row: array<struct<cell_idx,start,end,text>>
    (D6). Rail positions via prefix-length fold over the '|' splits."""
    parts = F.split(line, r"\|")
    # <3 parts (pipe-less or single-cell line): no lattice cells. The
    # guard matters because sequence(1, 0) would yield the DESCENDING
    # [1, 0] and element_at(parts, 2) would throw under ANSI mode.
    idxs = F.when(F.size(parts) >= 3,
                  F.sequence(F.lit(1), F.size(parts) - 2)) \
        .otherwise(F.array().cast("array<int>"))
    # part i (0-based) starts at sum(len(parts[:i])) + i  ==  the prefix
    # fold of (len+1); add the part's own leading-space count for the
    # trimmed cell start.
    cells = F.transform(idxs, lambda i: F.struct(
        (i - 1).cast("int").alias("cell_idx"),
        (off
         + F.aggregate(F.slice(parts, F.lit(1), i), F.lit(0),
                       lambda a, p: a + F.length(p) + 1)
         + F.length(F.element_at(parts, i + 1))
         - F.length(F.ltrim(F.element_at(parts, i + 1)))
         ).cast("int").alias("start"),
        F.length(F.trim(F.element_at(parts, i + 1))).cast("int").alias("tlen"),
        F.trim(F.element_at(parts, i + 1)).alias("text")))
    return F.filter(cells, lambda c: F.length(c["text"]) > 0)


def _slices_lit(bank: str) -> Column:
    return F.array(*[
        F.struct(F.lit(s).cast("int").alias("s"),
                 F.lit(e).cast("int").alias("e"))
        for s, e in spec.SLICES[bank].values()])


def _with_stream_slices(grouped: DataFrame, anchors_col: str = "anchors",
                        kind_col: str = "akind") -> DataFrame:
    """D7 as Catalyst: adds `slc`, the per-turn array<struct<s,e>> of
    column cuts — the fixed SLICES when every anchor line is exactly
    spec-width, else the whitespace-gap inference (same frozen rule as
    spec.infer_stream_slices; HOFs over the turn's anchor-line array,
    no UDF).

    Every intermediate array is staged as its OWN column: higher-order
    functions are interpreted, and an array-valued expression referenced
    inside a lambda is RE-EVALUATED per element (no subexpression reuse
    inside lambdas), so the naive nested form is O(width^3) per turn —
    measured as minutes over a few dozen jittered docs. Staged columns
    are evaluated once per row, making this O(width x anchors)."""
    anchors, kind = F.col(anchors_col), F.col(kind_col)

    def per_bank(fn) -> Column:
        c = None
        for bank in ("UOB", "DBS", "HDFC"):
            c = F.when(kind == bank, fn(bank)) if c is None else \
                c.when(kind == bank, fn(bank))
        return c

    wfix = per_bank(lambda b: F.lit(spec.STREAM_LINE_W[b]))
    nf = per_bank(lambda b: F.lit(len(spec.SLICES[b])))
    fixed = per_bank(_slices_lit)

    w = F.array_max(F.transform(anchors, lambda a: F.length(a)))
    out = grouped.withColumn("_w", w)
    xs = F.sequence(F.lit(0), F.col("_w") - 1)
    rawgap = F.transform(
        xs, lambda x: F.forall(
            anchors,
            lambda a: (x >= F.length(a))
            | (a.substr(x + 1, F.lit(1)) == " ")))
    out = out.withColumn("_rawgap", rawgap)
    # close single-column gaps (>=2-wide gutters only, as in spec)
    rg = F.col("_rawgap")
    gaparr = F.transform(
        xs, lambda x: F.get(rg, x)
        & (F.coalesce(F.get(rg, x - 1), F.lit(False))
           | F.coalesce(F.get(rg, x + 1), F.lit(False))))
    out = out.withColumn("_gaparr", gaparr)
    ga = F.col("_gaparr")
    starts = F.filter(
        xs, lambda x: (~F.get(ga, x))
        & ((x == F.lit(0)) | F.get(ga, x - 1)))
    out = out.withColumn("_starts", starts)
    st = F.col("_starts")
    inferred = F.transform(
        F.sequence(F.lit(0), F.size(st) - 1),
        lambda i: F.struct(
            F.get(st, i).cast("int").alias("s"),
            F.coalesce(F.get(st, i + 1), F.col("_w")).cast("int")
            .alias("e")))
    use_fixed = (F.forall(anchors, lambda a: F.length(a) == wfix)
                 | (F.size(st) != nf))
    slc = F.when(kind.isin("UOB", "DBS", "HDFC"),
                 F.when(use_fixed, fixed).otherwise(inferred))
    return out.withColumn("slc", slc) \
        .drop("_w", "_rawgap", "_gaparr", "_starts")


def relational_records(stmt: DataFrame) -> DataFrame:
    """Statement turns -> records frame (same schema/content as
    tokenize.RECORDS_DDL)."""
    boiler_rx = _per_bank_rx({b: spec.boiler_rx_combined(b)
                              for b, _ in spec.BANK_SIGNATURES})
    anchor_rx = _per_bank_rx(spec.ANCHOR_RX)

    pages = (stmt
             .withColumn("freq_arr", _freq_boiler_arr(F.col("doc")))
             .select("conv_id", "turn_idx", "kind", "doc", "freq_arr",
                     "p_start_mon", "p_start_year", "p_end_year",
                     F.explode(_pages_with_offsets(F.col("doc"))).alias("pg")))

    lines = pages.select(
        "conv_id", "turn_idx", "kind", "freq_arr",
        "p_start_mon", "p_start_year", "p_end_year",
        F.col("pg.pidx").alias("pidx"), F.col("pg.poff").alias("poff"),
        F.posexplode(F.split("pg.ptext", spec.LINE_SEP))
        .alias("lidx", "line"))

    w = Window.partitionBy("conv_id", "turn_idx").orderBy("pidx", "lidx")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines = (lines
             .withColumn("line_no", F.row_number().over(w) - 1)
             .withColumn("off",
                         F.sum(F.length("line") + 1).over(wrun)
                         - (F.length("line") + 1))
             .withColumn("is_boiler",
                         F.regexp_like("line", boiler_rx)
                         | F.array_contains("freq_arr", F.trim("line")))
             .withColumn("is_anchor", F.regexp_like("line", anchor_rx))
             .withColumn("txn_grp",
                         F.sum(F.col("is_anchor").cast("int")
                               # anchors hidden inside boiler/freq lines
                               # cannot occur (anchors are txn rows), but
                               # guard exactly like the oracle: only
                               # non-boiler lines participate
                               * (~F.col("is_boiler")).cast("int"))
                         .over(wrun)))

    content = lines.filter(~F.col("is_boiler") & (F.col("txn_grp") >= 1))
    content = content.withColumn(
        "cells",
        F.when(F.col("kind") == "OCBC",
               _ocbc_cells_col(F.col("line"), F.col("off")))
        .otherwise(F.array().cast(
            "array<struct<cell_idx:int,start:int,tlen:int,text:string>>")))

    # D7: per-turn column cuts (fixed or inferred) over the turn's
    # anchor lines; joined back to the groups below (extra Exchange,
    # acceptable in this cross-check mode)
    turn_slices = (content.filter(F.col("is_anchor"))
                   .groupBy("conv_id", "turn_idx")
                   .agg(F.collect_list("line").alias("anchors"),
                        F.first("kind").alias("akind")))
    turn_slices = _with_stream_slices(turn_slices) \
        .select("conv_id", "turn_idx", "slc")

    # D9/D10: ordered merge of each transaction group
    grouped = (content.groupBy("conv_id", "turn_idx", "txn_grp").agg(
        F.first("kind").alias("bank"),
        F.first("p_start_mon").alias("p_start_mon"),
        F.first("p_start_year").alias("p_start_year"),
        F.first("p_end_year").alias("p_end_year"),
        F.array_sort(F.collect_list(F.struct(
            "line_no", "off", "pidx", "line", "cells"))).alias("rows")))
    grouped = grouped.join(turn_slices, ["conv_id", "turn_idx"], "left")

    a = F.get(F.col("rows"), 0)
    last = F.get(F.col("rows"), F.size("rows") - 1)

    def cut_at(idx: int, line: Column) -> Column:
        st = F.get(F.col("slc"), idx)
        return line.substr(st["s"] + 1, st["e"] - st["s"])

    def stream_field(f: str) -> Column:
        c = None
        for bank in ("UOB", "DBS", "HDFC"):
            names = {"date": "date", "vdate": "value_date", "ref": "ref",
                     "bal": "balance", "desc": "description"}
            key = {"wdr": {"UOB": "withdrawal", "DBS": "debit",
                           "HDFC": "withdrawal"},
                   "dep": {"UOB": "deposit", "DBS": "credit",
                           "HDFC": "deposit"}}
            fld = key[f][bank] if f in key else names[f]
            fields = list(spec.SLICES[bank])
            e = (cut_at(fields.index(fld), a["line"]) if fld in fields
                 else F.lit(None).cast("string"))
            c = F.when(F.col("bank") == bank, e) if c is None else \
                c.when(F.col("bank") == bank, e)
        return c

    def ocbc_cell(idx: int) -> Column:
        hit = F.filter(a["cells"], lambda x: x["cell_idx"] == idx)
        return F.get(hit, 0)["text"]

    conts = F.slice(F.col("rows"), 2, F.greatest(F.size("rows") - 1, F.lit(0)))

    def _cont_slice(bank: str) -> Column:
        # continuations use the (possibly inferred) description column
        idx = list(spec.SLICES[bank]).index("description")
        st = F.get(F.col("slc"), idx)
        return F.transform(
            conts, lambda x: x["line"].substr(st["s"] + 1,
                                              st["e"] - st["s"]))

    cont_desc_stream = (
        F.when(F.col("bank") == "UOB", _cont_slice("UOB"))
        .when(F.col("bank") == "DBS", _cont_slice("DBS"))
        .when(F.col("bank") == "HDFC", _cont_slice("HDFC"))
    )
    cont_desc_ocbc = F.transform(
        F.flatten(F.transform(
            conts, lambda x: F.filter(x["cells"],
                                      lambda c: c["cell_idx"] == 1))),
        lambda c: c["text"])

    recs = grouped.select(
        "conv_id", "turn_idx", "bank",
        (a["pidx"] + 1).cast("int").alias("page"),
        a["line_no"].cast("int").alias("line_start"),
        last["line_no"].cast("int").alias("line_end"),
        a["off"].cast("int").alias("span_start"),
        (last["off"] + F.length(F.rtrim(last["line"])))
        .cast("int").alias("span_end"),
        a["line"].alias("anchor_raw"),
        F.when(F.col("bank") == "OCBC", ocbc_cell(0))
        .otherwise(stream_field("date")).alias("date_cell"),
        stream_field("vdate").alias("vdate_cell"),
        F.when(F.col("bank") == "OCBC", ocbc_cell(2))
        .otherwise(stream_field("wdr")).alias("wdr_cell"),
        F.when(F.col("bank") == "OCBC", ocbc_cell(3))
        .otherwise(stream_field("dep")).alias("dep_cell"),
        F.when(F.col("bank") == "OCBC", ocbc_cell(4))
        .otherwise(stream_field("bal")).alias("bal_cell"),
        F.when(F.col("bank") == "HDFC",
               cut_at(list(spec.SLICES["HDFC"]).index("ref"), a["line"]))
        .otherwise(F.lit(None).cast("string")).alias("ref_cell"),
        F.when(F.col("bank") == "OCBC",
               F.concat(F.array(F.coalesce(ocbc_cell(1), F.lit(""))),
                        cont_desc_ocbc))
        .otherwise(F.concat(
            F.array(stream_field("desc")), cont_desc_stream))
        .alias("desc_parts"),
        F.when(F.col("bank") == "OCBC",
               F.transform(
                   F.flatten(F.transform(F.col("rows"),
                                         lambda x: x["cells"])),
                   lambda c: F.struct(
                       c["start"].alias("start"),
                       (c["start"] + c["tlen"]).cast("int").alias("end"),
                       c["text"].alias("text"))))
        .otherwise(F.array().cast(
            "array<struct<start:int,end:int,text:string>>")).alias("cells"),
        "p_start_mon", "p_start_year", "p_end_year",
    )

    # D11: page-carry dedup on exact anchor text, keep first occurrence
    wd = Window.partitionBy("conv_id", "turn_idx", "anchor_raw") \
        .orderBy("line_start")
    recs = (recs.withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1).drop("rn"))

    # span_text: J2-style equi-join back to the turn documents
    docs = stmt.select("conv_id", "turn_idx", "doc")
    recs = (recs.join(docs, ["conv_id", "turn_idx"])
            .withColumn("span_text",
                        F.col("doc").substr(
                            F.col("span_start") + 1,
                            F.col("span_end") - F.col("span_start")))
            .drop("doc", "anchor_raw"))

    # turn-local ordinals (tokenize._RECORD_SCHEMA), computed here by
    # a window: this cross-check path has no per-turn kernel to count
    # in, and both ordinals share the one window's exchange
    wt = Window.partitionBy("conv_id", "turn_idx").orderBy("line_start")
    n_spans = 1 + F.size("cells")
    recs = (recs
            .withColumn("rec_ord",
                        (F.row_number().over(wt) - 1).cast("int"))
            .withColumn("span_base",
                        (F.sum(n_spans).over(wt.rowsBetween(
                            Window.unboundedPreceding, Window.currentRow))
                         - n_spans).cast("int")))

    from .tokenize import _RECORD_COLS
    return recs.select(*_RECORD_COLS)
