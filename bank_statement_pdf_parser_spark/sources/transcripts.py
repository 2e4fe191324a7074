"""Transcript sources + payload resolution (SURVEY.md S1/S2, P1-P3).

Everything here is pure Catalyst: JSON envelope probing, base64 decode,
bank/HTML classification and the OCBC period header extraction are all
built-in expressions, so they stay inside WholeStageCodegen and never
cross into Python.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec
from ..session import per_jvm


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """S1: Parquet directory/file, JSONL/CSV exports, or an Iceberg
    table name.

    At design scale this is `spark.read.table(<iceberg>)` so hidden
    partition pruning on bucket(conv_id)/days(ts) applies; the sandbox
    fallback is plain Parquet (same columns, same code thereafter).
    JSONL/CSV (the common interchange dumps) read with the transcripts
    schema ENFORCED — no inference job over the corpus, and a column
    drifting type upstream surfaces as NULLs at the gate instead of a
    silently different schema."""
    if path.endswith((".json", ".jsonl")):
        return spark.read.schema(spec.TRANSCRIPTS_DDL).json(path)
    if path.endswith(".csv"):
        return (spark.read.schema(spec.TRANSCRIPTS_DDL)
                .option("header", True).option("multiLine", True)
                .option("escape", '"').csv(path))
    if path.endswith(".orc"):
        # ORC arrives from Hive-era lakes. Self-describing, but the
        # ORC reader cannot coerce its stored TIMESTAMP_NTZ under an
        # enforced spec schema (the scan errors), so enforcement is a
        # post-read projection instead: every spec column cast to its
        # spec type. A missing/renamed column fails LOUDLY here
        # (AnalysisException at plan time), a drifted type is cast —
        # the same drift contract as the other interchange formats.
        df = spark.read.orc(path)
        fields = spark.createDataFrame([], spec.TRANSCRIPTS_DDL).schema
        return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                           for f in fields])
    if path.endswith(".parquet") or "/" in path:
        return spark.read.parquet(path)
    return spark.read.table(path)


def resolved_doc_col(text: Column, tool: Column) -> Column:
    """S2: tool JSON envelope {"encoding","payload"} wins over text.

    ONE from_json parse instead of a get_json_object per field (each
    get_json_object re-parses the envelope; PERMISSIVE from_json yields
    the same NULLs for malformed/missing input — cross-checked by the
    noise-corpus gate p4_noise_reject and the oracle equality suite)."""
    env = F.from_json(tool, "struct<encoding:string,payload:string>")
    payload, encoding = env["payload"], env["encoding"]
    return (
        F.when(payload.isNotNull() & (encoding == F.lit("base64")),
               F.decode(F.unbase64(payload), "UTF-8"))
        .when(payload.isNotNull(), payload)
        .otherwise(text)
    )


def kind_col(doc: Column) -> Column:
    """P3: 'HTML' | bank code | NULL (noise). First signature wins."""
    c = F.when(doc.rlike(spec.HTML_PREFIX_RX), F.lit("HTML"))
    for bank, sig in spec.BANK_SIGNATURES:
        c = c.when(doc.contains(F.lit(sig)), F.lit(bank))
    return c.otherwise(F.lit(None))


def with_resolved_payload(df: DataFrame) -> DataFrame:
    """P1/P2/P3 + OCBC period metadata, all turn-level and shuffle-free."""
    c = _payload_columns()
    return (
        df.filter(F.col("role").isin(*spec.ROLES))
        .select("conv_id", "turn_idx", c.doc.alias("doc"))
        .filter(F.col("doc").isNotNull() & (F.length("doc") > 0))
        .withColumn("kind", c.kind)
        .filter(F.col("kind").isNotNull())
        .withColumn("hdr", c.hdr)
        .select("conv_id", "turn_idx", "doc", "kind", *c.period)
    )


class _PayloadColumns(NamedTuple):
    doc: Column                 # S2: the resolved document
    kind: Column                # P3: 'HTML' | bank code | NULL
    hdr: Column                 # the OCBC period header, over "doc"
    period: tuple[Column, ...]  # p_start_mon/p_start_year/p_end_year


@per_jvm
def _payload_columns() -> _PayloadColumns:
    """with_resolved_payload's expensive expressions, built once per
    JVM (session.per_jvm)."""
    months = F.array(*[F.lit(m) for m in spec.MONTHS])
    ocbc = F.col("kind") == "OCBC"
    # ONE full-document regex scan (group 0 into a short header string),
    # then the per-group extracts run over ~40 chars — three full-doc
    # scans per OCBC turn was a measured 2x overcost in this stage.
    hdr = F.when(ocbc, F.regexp_extract(F.col("doc"), spec.OCBC_PERIOD_RX, 0))
    p = lambda g: F.regexp_extract(F.col("hdr"), spec.OCBC_PERIOD_RX, g)  # noqa: E731
    # Docs without the period header: regexp_extract yields '' and
    # array_position yields 0 — nullif-guard both so the '' -> int cast
    # cannot throw under ANSI mode; normalize.date_from_cell applies the
    # frozen default period (spec.OCBC_DEFAULT_*) to the NULLs, exactly
    # like the oracle's parse_date fallback.
    return _PayloadColumns(
        doc=resolved_doc_col(F.col("text"), F.col("tool")),
        kind=kind_col(F.col("doc")),
        hdr=hdr,
        period=(
            F.when(ocbc, F.nullif(F.array_position(months, p(2)),
                                  F.lit(0)).cast("int")).alias("p_start_mon"),
            F.when(ocbc, F.nullif(p(3), F.lit("")).cast("int"))
            .alias("p_start_year"),
            F.when(ocbc, F.nullif(p(6), F.lit("")).cast("int"))
            .alias("p_end_year")),
    )
