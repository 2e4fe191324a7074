"""End-to-end extraction plan (SURVEY.md §3.2).

fused (default): transcripts --(P1-P3 Catalyst)--> resolved turns
    --> ONE mapInArrow pass (D1-D11 + D5 HTML; vectorized fast path,
        per-document python fallback) --> records
        (txn records + bank='HTML' main-span pseudo-records)
    transactions = F1-F8 Catalyst over txn records
    spans = txn spans U table_cell spans U main spans   (O3)
relational: statement turns go through the pure-Catalyst operator
    composition; HTML turns through the D5 pandas UDF (U1) branch.
span_idx / txn_idx (W1) from the turn-local ordinals every records
    producer emits (rec_ord, span_base — operators/tokenize.py): no
    window, no exchange

Scale shape: in fused mode raw text is scanned ONCE per action and
nothing crosses an Exchange — spans and transactions are map-only
plans over the tokenizer output. Long-document skew is structurally
bounded because every stage is turn-local (a group is one turn, never
a whole conversation); residual skew from statement-heavy input splits
is handled by the optional salt repartition below.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import spec
from ..functions.normalize import normalize_records
from ..operators.html import html_main_spans
from ..operators.tokenize import (RECORDS_DDL, RECORDS_SPAN_DDL,
                                  RECORDS_TXN_DDL)
from ..session import per_jvm
from ..sources.transcripts import with_resolved_payload

_PROFILE_DDL = {"full": RECORDS_DDL, "transactions": RECORDS_TXN_DDL,
                "spans": RECORDS_SPAN_DDL}


@dataclass
class ExtractOutputs:
    turns: DataFrame       # resolved+classified turns
    records: DataFrame     # structural transaction records
    spans: DataFrame       # spec.SPANS_DDL
    transactions: DataFrame  # spec.TRANSACTIONS_DDL


def build_records(turns: DataFrame, mode: str = "fused",
                  salt_partitions: int | None = None,
                  probe=None, profile: str = "full") -> DataFrame:
    """Classified turns -> structural records.

    mode='fused': ONE mapInArrow pass over ALL turns (default; zero
    text shuffles, and HTML main-content spans ride along as
    bank='HTML' pseudo-records so downstream spans/transactions never
    re-scan raw text).
    mode='relational': pure-Catalyst composition (operators/relational.py)
    used to cross-validate operator semantics; HTML turns are handled
    separately by build_spans' pandas-UDF branch (U1).

    probe: optional Spark accumulator; when set, the fused kernel adds
    the number of input turn rows it sees (used by tests to prove the
    extraction DAG executes exactly once per sink job).

    profile (fused only): output column subset the kernel materializes
    ('full' | 'transactions' | 'spans' — operators/tokenize.py). The
    parse is identical; mapInArrow output is opaque to Catalyst's
    column pruning, so a consumer that never reads span_text/cells
    (the transactions branch) or the field cells (the spans branch)
    otherwise pays Python build + Arrow + JVM read for them anyway
    (guide §4.1 applied to the output side; measured round 7).
    """
    if mode == "fused":
        src = turns
        if salt_partitions:
            # Turn-granular salt (SURVEY.md §4.2): turns are independent,
            # so we may repartition on the full turn key to spread
            # statement-heavy input splits across the cluster.
            src = src.repartition(salt_partitions, "conv_id", "turn_idx")
        # Arrow-vectorized fast path + per-doc python fallback
        # (operators/tokenize_arrow.py) for every profile; the fallback
        # is the pandas kernel (tokenize.tokenize_kernel) over the
        # oracle's structural parse.
        from ..operators.tokenize_arrow import tokenize_arrow_kernel
        kernel = tokenize_arrow_kernel(profile)
        mapper, ddl = src.mapInArrow, _PROFILE_DDL[profile]
        if probe is not None:
            def kernel(batches, _inner=kernel, _probe=probe):
                def counted(it):
                    for pdf in it:
                        _probe.add(len(pdf))
                        yield pdf
                yield from _inner(counted(batches))
        return mapper(kernel, ddl)
    if mode == "relational":
        stmt = turns.filter(F.col("kind") != "HTML")
        if salt_partitions:
            stmt = stmt.repartition(salt_partitions, "conv_id", "turn_idx")
        from ..operators.relational import relational_records
        return relational_records(stmt)
    raise ValueError(mode)


def build_spans(turns: DataFrame | None, records: DataFrame,
                records_include_html: bool = False,
                carry: tuple[str, ...] = ()) -> DataFrame:
    """All span kinds in ONE pass over records: each record explodes
    into its head span (txn, or main for HTML pseudo-records) plus its
    lattice cell spans. A union of sibling selects over `records`
    would duplicate the records SUBTREE (the tokenizer) per branch —
    one action would tokenize the corpus 2-3x — so the array-concat +
    single explode shape matters at scale.

    span_idx = span_base + position in [head, *cells]: the kernels
    assign span_base turn-locally (tokenize._RECORD_SCHEMA), so no
    window — and no exchange — is needed. The relational cross-check
    branch numbers HTML main spans by their explode position (an HTML
    turn has no statement records).

    carry: extra record columns passed through to the output (the
    sink's bucket column)."""
    if carry and not records_include_html:
        raise ValueError("carry requires records_include_html")

    def spans_of(df: DataFrame, base: Column, arr: Column,
                 kind: Column) -> DataFrame:
        return (df.select(*carry, "conv_id", "turn_idx",
                          base.alias("_base"),
                          F.posexplode(arr).alias("_pos", "s"))
                .select(*carry, "conv_id", "turn_idx",
                        (F.col("_base") + F.col("_pos")).cast("int")
                        .alias("span_idx"),
                        F.col("s.span_start").cast("int")
                        .alias("span_start"),
                        F.col("s.span_end").cast("int").alias("span_end"),
                        kind.alias("span_kind"),
                        F.col("s.text").alias("text")))

    spans = spans_of(records, F.col("span_base"),
                     _record_spans(records_include_html),
                     F.col("s.span_kind"))
    if records_include_html:
        return spans
    # relational cross-check mode: HTML turns via the D5 pandas UDF
    main_spans = spans_of(turns.filter(F.col("kind") == "HTML"), F.lit(0),
                          html_main_spans(F.col("doc")),
                          F.lit(spec.SPAN_KIND_MAIN))
    return spans.unionByName(main_spans)


@per_jvm
def _record_spans(records_include_html: bool) -> Column:
    """A record's [head, *cells] span array, built once per JVM
    (session.per_jvm)."""
    head_kind = (F.when(F.col("bank") == "HTML",
                        F.lit(spec.SPAN_KIND_MAIN))
                 .otherwise(F.lit(spec.SPAN_KIND_TXN))
                 if records_include_html else F.lit(spec.SPAN_KIND_TXN))
    head = F.array(F.struct(
        F.col("span_start").alias("span_start"),
        F.col("span_end").alias("span_end"),
        head_kind.alias("span_kind"),
        F.col("span_text").alias("text")))
    cells = F.coalesce(
        F.col("cells"),
        F.array().cast("array<struct<start:int,end:int,text:string>>"))
    cell_spans = F.transform(cells, lambda c: F.struct(
        c["start"].alias("span_start"), c["end"].alias("span_end"),
        F.lit(spec.SPAN_KIND_CELL).alias("span_kind"),
        c["text"].alias("text")))
    return F.concat(head, cell_spans)


def build_transactions(records: DataFrame,
                       carry: tuple[str, ...] = ()) -> DataFrame:
    """txn_idx is the kernel-assigned turn-local rec_ord (no window).
    carry: see build_spans."""
    norm = normalize_records(records.filter(F.col("bank") != "HTML"),
                             carry=carry)
    return norm.select(
        *carry, "conv_id", "turn_idx",
        F.col("rec_ord").cast("int").alias("txn_idx"),
        "bank", "txn_date", "value_date", "description", "ref",
        "debit", "credit", "balance",
        F.col("page").cast("int"), F.col("line_start").cast("int"),
        F.col("line_end").cast("int"))


def extract_all(transcripts: DataFrame, mode: str = "fused",
                salt_partitions: int | None = None,
                probe=None) -> ExtractOutputs:
    from ..session import ensure_shipped
    ensure_shipped(transcripts.sparkSession)
    turns = with_resolved_payload(transcripts)
    records = build_records(turns, mode=mode, salt_partitions=salt_partitions,
                            probe=probe)
    if mode == "fused":
        # Per-consumer column profiles (see build_records): each action
        # pays exactly one tokenizer pass either way, but the spans and
        # transactions branches now ship only the record columns they
        # read across the Arrow boundary. `records` keeps the full
        # staged-records contract.
        rec_spans = build_records(turns, salt_partitions=salt_partitions,
                                  probe=probe, profile="spans")
        rec_txn = build_records(turns, salt_partitions=salt_partitions,
                                probe=probe, profile="transactions")
    else:
        rec_spans = rec_txn = records
    return ExtractOutputs(
        turns=turns,
        records=records,
        spans=build_spans(turns, rec_spans,
                          records_include_html=(mode == "fused")),
        transactions=build_transactions(rec_txn),
    )
