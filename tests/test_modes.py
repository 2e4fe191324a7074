"""Fused (mapInPandas) vs relational (pure-Catalyst) mode equivalence:
two independent distributed implementations of the frozen spec must
produce identical spans and transactions on the adversarial corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from bank_statement_pdf_parser_spark.plans.extract import extract_all


def _spans(out):
    return sorted(tuple(r) for r in out.spans.collect())


def _txns(out):
    return sorted(tuple(r) for r in out.transactions.collect())


def test_relational_equals_fused(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    fused = extract_all(df, mode="fused")
    rel = extract_all(df, mode="relational")

    a, b = _txns(fused), _txns(rel)
    sa, sb = set(a), set(b)
    assert a == b, (f"fused-only={[x for x in a if x not in sb][:2]} "
                    f"rel-only={[x for x in b if x not in sa][:2]}")

    a, b = _spans(fused), _spans(rel)
    sa, sb = set(a), set(b)
    assert a == b, (f"fused-only={[x for x in a if x not in sb][:2]} "
                    f"rel-only={[x for x in b if x not in sa][:2]}")


def test_relational_plan_is_udf_free(spark, transcripts_path):
    """The relational mode's records plan must contain no Python
    evaluation nodes — it is the pure-Catalyst reference."""
    df = spark.read.parquet(transcripts_path)
    rel = extract_all(df, mode="relational")
    plan = rel.records._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_extraction_tolerates_extra_input_columns(spark, transcripts_path,
                                                  tmp_path):
    """Input-contract hardening: a transcripts table with ADDED
    columns (upstream schema evolution) must extract identically —
    the pipeline selects what it needs and never breaks on extras."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.plans.extract import extract_all
    base = spark.read.parquet(transcripts_path)
    widened_path = str(tmp_path / "widened")
    (base.withColumn("ingest_batch", F.lit("b-7"))
     .withColumn("extra_meta", F.struct(F.lit(1).alias("v")))
     .write.parquet(widened_path))
    widened = spark.read.parquet(widened_path)
    a = extract_all(base)
    b = extract_all(widened)
    sa = sorted(tuple(r) for r in a.spans.collect())
    sb = sorted(tuple(r) for r in b.spans.collect())
    assert sa == sb
    assert (a.transactions.count() == b.transactions.count()
            and a.transactions.count() > 0)


def _physical_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_outputs_need_no_index_window(spark, transcripts_path):
    """span_idx/txn_idx come from the kernel's turn-local ordinals:
    the fused spans and transactions plans carry no Window and no
    per-turn hash exchange."""
    out = extract_all(spark.read.parquet(transcripts_path))
    for df in (out.spans, out.transactions):
        plan = _physical_plan(df)
        assert "Window" not in plan, plan
        assert "Exchange hashpartitioning(conv_id" not in plan, plan


def test_sink_derived_frames_are_map_only(spark, tmp_path):
    """The sink's derived spans/transactions frames read the staged
    records (one file per bucket) and write partitionBy(bucket) with
    no Exchange in between."""
    from bank_statement_pdf_parser_spark.sources.checkpoint import (
        CheckpointedExtract)
    ck = CheckpointedExtract(str(tmp_path / "sink"), "plan", n_buckets=4)
    spans, txns = ck._derived_frames(spark, [0, 1], None,
                                     str(tmp_path / "sink" / "records"))
    for df in (spans, txns):
        assert "bucket" in df.columns
        plan = _physical_plan(df)
        assert "Exchange" not in plan, plan
        assert "Window" not in plan, plan
