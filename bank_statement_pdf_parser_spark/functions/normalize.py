"""Field normalization F1-F8 as pure Catalyst expressions (SURVEY.md §2.4).

Everything here is built-in `pyspark.sql.functions` — amount grammar,
per-bank date parsing (incl. the explicit HDFC two-digit-year pivot and
OCBC year inference from the statement period), description collapse
and REF extraction all stay inside WholeStageCodegen. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import spec
from ..session import per_jvm

DEC = "decimal(18,2)"


def amount_struct(cell: Column) -> Column:
    """F2: '(1,234.56) CR' -> struct(val decimal(18,2), marker string).

    Parens negate; thousands commas stripped; trailing CR/DR captured
    (empty string when absent). NULL/blank cell -> NULL struct.

    Round 7: the three regex ops of the original formulation replaced
    by exact non-regex equivalents (this runs per cell on every
    record of the durable transactions write):
    - marker  = regexp_extract(s, ' (CR|DR)$', 1)  ==  CASE on
      endswith(' CR')/' DR' (the regex group is the last two chars);
    - core    = regexp_replace(s, ' (CR|DR)$', '') ==  drop the last
      3 chars in exactly those cases;
    - digits  = regexp_replace(core, '[(),]', '')  ==
      translate(core, '(),', '') (same char set, all occurrences).
    """
    s = F.trim(cell)
    has_marker = s.endswith(" CR") | s.endswith(" DR")
    marker = F.when(has_marker, F.substring(s, -2, 2)).otherwise(F.lit(""))
    core = F.when(has_marker,
                  F.substring(s, 1, F.length(s) - 3)).otherwise(s)
    neg = core.startswith("(") & core.endswith(")")
    digits = F.translate(core, "(),", "")
    val = digits.cast(DEC)
    val = F.when(neg, -val).otherwise(val)
    return F.when(s.isNotNull() & (F.length(s) > 0),
                  F.struct(val.alias("val"), marker.alias("marker")))


def collapse(col: Column) -> Column:
    """Whitespace-collapse + trim (matches `' '.join(s.split())`)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def date_from_cell(bank_lit: str, cell: Column,
                   p_start_mon: Column | None = None,
                   p_start_year: Column | None = None,
                   p_end_year: Column | None = None) -> Column:
    s = F.trim(cell)
    empty = s.isNull() | (F.length(s) == 0)
    if bank_lit == "UOB":
        d = F.to_date(s, spec.DATE_FORMATS["UOB"])
    elif bank_lit == "DBS":
        d = F.to_date(s, spec.DATE_FORMATS["DBS"])
    elif bank_lit == "HDFC":
        yy = F.substring(s, 7, 2).cast("int")
        year = F.when(yy < spec.HDFC_YY_PIVOT, yy + 2000).otherwise(yy + 1900)
        d = F.make_date(year, F.substring(s, 4, 2).cast("int"),
                        F.substring(s, 1, 2).cast("int"))
    elif bank_lit == "OCBC":
        months = F.array(*[F.lit(m) for m in spec.MONTHS])
        mon = F.array_position(months, F.substring(s, 4, 3)).cast("int")
        # Missing period header -> frozen default period (the oracle's
        # parse_date applies the same fallback).
        psm = F.coalesce(p_start_mon, F.lit(spec.OCBC_DEFAULT_START_MON))
        psy = F.coalesce(p_start_year, F.lit(spec.OCBC_DEFAULT_YEAR))
        pey = F.coalesce(p_end_year, F.lit(spec.OCBC_DEFAULT_YEAR))
        year = F.when(mon < psm, pey).otherwise(psy)
        d = F.make_date(year, mon, F.substring(s, 1, 2).cast("int"))
    else:
        raise ValueError(bank_lit)
    return F.when(~empty, d)


def per_bank(expr_fn) -> Column:
    """Dispatch a per-bank expression over the `bank` column (J1-style
    4-way dispatch folded into one CASE; the 4-row spec table needs no
    physical join)."""
    c = None
    for bank, _sig in spec.BANK_SIGNATURES:
        e = expr_fn(bank)
        c = F.when(F.col("bank") == bank, e) if c is None else \
            c.when(F.col("bank") == bank, e)
    return c


def normalize_records(records: DataFrame,
                      carry: tuple[str, ...] = ()) -> DataFrame:
    """records (tokenizer/relational output) -> `transactions` frame
    per spec.TRANSACTIONS_DDL, with rec_ord in place of txn_idx (the
    caller names it).
    `carry`: extra input columns passed through untouched (the sink's
    bucket column)."""
    return records.select(*_normalized_columns(carry))


@per_jvm
def _normalized_columns(carry: tuple[str, ...]) -> tuple[Column, ...]:
    """normalize_records' select list, built once per JVM and carry."""
    w = amount_struct(F.col("wdr_cell"))
    d = amount_struct(F.col("dep_cell"))
    bal = amount_struct(F.col("bal_cell"))

    # F3 assignment order (spec): withdrawal first, deposit second, last
    # writer wins — so the deposit-cell branches take precedence in both
    # CASEs when both cells are populated.
    debit = (
        F.when(d.isNotNull() & (d["marker"] == "DR"), d["val"])
        .when(w.isNotNull() & (w["marker"] != "CR"), w["val"])
    )
    credit = (
        F.when(d.isNotNull() & (d["marker"] != "DR"), d["val"])
        .when(w.isNotNull() & (w["marker"] == "CR"), w["val"])
    )

    txn_date = per_bank(lambda b: date_from_cell(
        b, F.col("date_cell"), F.col("p_start_mon"),
        F.col("p_start_year"), F.col("p_end_year")))
    value_date = (
        F.when(F.col("bank") == "DBS",
               date_from_cell("DBS", F.col("vdate_cell")))
        .when(F.col("bank") == "HDFC",
              date_from_cell("HDFC", F.col("vdate_cell")))
    )

    # F5: collapse each part, drop empties, join with single spaces.
    joined = F.array_join(
        F.filter(F.transform(F.col("desc_parts"), collapse),
                 lambda x: F.length(x) > 0), " ")
    ref_from_desc = F.regexp_extract(joined, spec.REF_RX, 1)
    desc_rest = F.regexp_extract(joined, spec.REF_RX, 2)
    has_ref = ref_from_desc != ""
    description = (
        F.when(F.col("bank") == "HDFC", joined)
        .when(has_ref, desc_rest).otherwise(joined)
    )
    ref = (
        F.when(F.col("bank") == "HDFC",
               F.nullif(F.trim(F.col("ref_cell")), F.lit("")))
        .when(has_ref, ref_from_desc)
    )

    return (
        *map(F.col, (*carry, "conv_id", "turn_idx", "bank")),
        txn_date.alias("txn_date"), value_date.alias("value_date"),
        description.alias("description"), ref.alias("ref"),
        debit.alias("debit"), credit.alias("credit"),
        bal["val"].alias("balance"),
        F.col("page"), F.col("line_start"), F.col("line_end"),
        F.col("rec_ord"),  # the turn-local ordinal; the caller's txn_idx
    )
