"""The benchmark's workloads, their set-up, their timed operation and the
per-layer probes of the traced run.

Every workload is a closed-loop batch job: one client, the next run
starts when the previous one has finished and been checked. Layers
are timed from outside, around calls into the package's public
functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import time
import traceback

import corpora
import digest
import probes

WORKLOADS = ("sink_synthetic", "fallback_heavy", "extract_tpch")
SETUPS = 3          # set-ups per run; setup_s is their median
MIN_RUNS = 2        # a loop's first run pays first-execution costs
PROBE_REPS = 2      # repetitions of each Spark layer probe (median)
SINK_BUCKETS, SINK_PER_GROUP = 16, 4   # run_extract.py defaults


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer: probes.Tracer | None, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


class Bench:
    """Owns the Spark sessions of one benchmark run, its work
    directory and its process-tree probe."""

    def __init__(self, workload: str, seed: int, cpus: int):
        self.workload, self.cpus = workload, cpus
        self.run_id = f"{workload}-s{seed}-{os.getpid()}-{int(time.time())}"
        self.dir = os.path.join(corpora.WORK, "runs", self.run_id)
        os.makedirs(self.dir)
        self.tree = probes.ProcTree()
        self.spark = None
        # stopped contexts stay referenced: ensure_shipped keys on
        # id(SparkContext), and a reused id would skip the py-files ship
        self._retired: list = []

    # -- sessions -------------------------------------------------------
    def start(self, event_log_dir: str | None = None):
        from bank_statement_pdf_parser_spark.session import (ensure_shipped,
                                                             get_spark)
        conf = {"spark.task.cpus": "1",
                "spark.sql.files.maxPartitionBytes": "4m",
                "spark.ui.showConsoleProgress": "false"}
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{self.cpus}]",
                               shuffle_partitions=max(self.cpus, 16), **conf)
        ensure_shipped(self.spark)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self._retired.append(self.spark.sparkContext)
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it, and remove
        this run's work directory."""
        from pyspark import SparkContext
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)

    def setup(self, tiny: corpora.Corpus, event_log_dir=None):
        """get_spark + ensure_shipped, then one tiny extraction, of the
        spans output (code generation, JIT, Python worker start)."""
        from bank_statement_pdf_parser_spark.plans.extract import extract_all
        t0 = time.perf_counter()
        self.start(event_log_dir)
        t1 = time.perf_counter()
        spans = extract_all(self.spark.read.parquet(tiny.path)).spans
        if digest.spark_digest(spans, digest.SPAN_COLS) != tiny.oracle["spans"]:
            raise RuntimeError("warm-up spans differ from the oracle")
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    # -- one timed run --------------------------------------------------
    def iteration(self, corpus: corpora.Corpus, tag: str,
                  tracer: probes.Tracer | None = None) -> dict:
        if self.workload == "sink_synthetic":
            return self._sink_iteration(corpus, tag, tracer)
        return self._extract_iteration(corpus, tracer)

    @contextlib.contextmanager
    def _timed(self):
        """Yields a dict that gets the block's wall time, the process
        tree's CPU time and its peak RSS."""
        rec: dict = {}
        c0 = self.tree.cpu_s()
        with probes.PeakRss(self.tree) as rss:
            rec["t0"] = time.perf_counter()
            yield rec
            rec["wall"] = time.perf_counter() - rec["t0"]
        rec["cpu"] = self.tree.cpu_s() - c0
        rec["rss"] = rss.peak_mb

    def _extract_iteration(self, corpus, tracer) -> dict:
        from bank_statement_pdf_parser_spark.plans.extract import extract_all
        with self._timed() as rec:
            with _span(tracer, "extract.extract_all"):
                out = extract_all(self.spark.read.parquet(corpus.path))
            with _span(tracer, "digest.spans"):
                d_sp = digest.spark_digest(out.spans, digest.SPAN_COLS)
            rec["first_commit"] = time.perf_counter() - rec["t0"]
            with _span(tracer, "digest.transactions"):
                d_tx = digest.spark_digest(out.transactions,
                                           digest.TXN_COLS)
        rec["ok"] = (d_sp == corpus.oracle["spans"]
                     and d_tx == corpus.oracle["txns"])
        return rec

    def _sink_iteration(self, corpus, tag, tracer) -> dict:
        from bank_statement_pdf_parser_spark.sources.checkpoint import (
            CheckpointedExtract)
        out_dir = os.path.join(self.dir, f"sink-{tag}")
        ck = CheckpointedExtract(out_dir, f"{self.run_id}-{tag}",
                                 SINK_BUCKETS, SINK_PER_GROUP)
        t_start = time.time()
        with self._timed() as rec:
            with _span(tracer, "checkpoint.run"):
                ck.run(self.spark.read.parquet(corpus.path))
        rec.update(_check_sink(out_dir, corpus, t_start))
        shutil.rmtree(out_dir, ignore_errors=True)
        return rec

    # -- the closed loop ------------------------------------------------
    def loop(self, corpus, seconds: float, name: str,
             tracers: tuple = (None,)) -> list[dict]:
        """Run the timed operation back to back, cycling through
        `tracers` (None = untraced), in whole cycles until `seconds`
        have passed and at least MIN_RUNS runs are done. A run that
        raises counts as failed.

        The run count must not flip with host speed: the first run of
        a fresh JVM is the slowest by far, so a median over two runs
        here and three runs there would jump between runs of the
        benchmark. MIN_RUNS with a short window fixes it at two."""
        out: list[dict] = []
        t_end = time.perf_counter() + seconds
        while True:
            for tracer in tracers:
                tag = f"{name}-{len(out)}"
                try:
                    rec = self.iteration(corpus, tag, tracer)
                except Exception:  # noqa: BLE001 — a failed run is a reading
                    traceback.print_exc()
                    rec = {"ok": False}
                rec["traced"] = tracer is not None
                out.append(rec)
            if time.perf_counter() >= t_end and len(out) >= MIN_RUNS:
                return out

    # -- per-layer probes (traced run) ----------------------------------
    def layer_probes(self, corpus, tracer: probes.Tracer) -> dict:
        from pyspark.sql import functions as F

        from bank_statement_pdf_parser_spark.functions.normalize import (
            normalize_records)
        from bank_statement_pdf_parser_spark.operators.tokenize import (
            RECORDS_DDL, tokenize_kernel)
        from bank_statement_pdf_parser_spark.operators.tokenize_arrow import (
            tokenize_arrow_kernel)
        from bank_statement_pdf_parser_spark.plans.extract import (
            build_records, build_spans, build_transactions)
        from bank_statement_pdf_parser_spark.sources.transcripts import (
            with_resolved_payload)

        spark, m = self.spark, {}

        def spark_probe(name, make_df):
            walls, cpus = [], []
            for _ in range(PROBE_REPS):
                with tracer.span(name), self._timed() as rec:
                    noop(make_df())
                walls.append(rec["wall"])
                cpus.append(rec["cpu"])
            return probes.median(walls), probes.median(cpus)

        def turns():
            return with_resolved_payload(spark.read.parquet(corpus.path))

        m["transcripts.wall_s"], m["transcripts.cpu_core_s"] = spark_probe(
            "transcripts", turns)
        with tracer.span("stage.collect_resolved"):
            resolved = turns().toArrow().combine_chunks()
        m["transcripts.turns_in"] = corpus.descriptors["turns"]
        m["transcripts.turns_out"] = resolved.num_rows

        # both kernels in this process, over the resolved turns cut at
        # the session's Arrow batch size (1024 rows)
        batch_rows = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = resolved.to_batches(max_chunksize=batch_rows)
        with tracer.span("tokenize_arrow"):
            t0 = time.perf_counter()
            n = sum(b.num_rows
                    for b in tokenize_arrow_kernel("full")(iter(batches)))
            m["tokenize_arrow.kernel_s"] = time.perf_counter() - t0
        m["tokenize_arrow.records_out"] = n
        frames = [b.to_pandas() for b in batches]
        with tracer.span("tokenize"):
            t0 = time.perf_counter()
            n = sum(len(f) for f in tokenize_kernel("full")(iter(frames)))
            m["tokenize.kernel_s"] = time.perf_counter() - t0
        m["tokenize.records_out"] = n
        del resolved, batches, frames

        (m["extract.records_wall_s"],
         m["extract.records_cpu_core_s"]) = spark_probe(
            "extract.records", lambda: build_records(turns()))
        m["extract.boundary_core_s"] = (m["extract.records_cpu_core_s"]
                                        - m["transcripts.cpu_core_s"]
                                        - m["tokenize_arrow.kernel_s"])
        # spans / transactions / normalize over records staged once, so
        # no tokenizer pass is inside these numbers
        stage_dir = os.path.join(self.dir, "staged_records")
        with tracer.span("stage.records"):
            build_records(turns()).write.mode("overwrite").parquet(stage_dir)

        def staged():
            return spark.read.schema(RECORDS_DDL).parquet(stage_dir)

        m["extract.spans_wall_s"], _ = spark_probe(
            "extract.spans", lambda: build_spans(
                None, staged(), records_include_html=True))
        m["extract.transactions_wall_s"], _ = spark_probe(
            "extract.transactions", lambda: build_transactions(staged()))

        def normalized():
            return normalize_records(staged().filter(F.col("bank") != "HTML"))

        m["normalize.wall_s"], _ = spark_probe("normalize", normalized)
        with tracer.span("stage.count"):
            m["normalize.rows_out"] = normalized().count()
        shutil.rmtree(stage_dir, ignore_errors=True)
        return m


def _check_sink(out_dir: str, corpus, t_start: float) -> dict:
    """Outside the timed region: the committed output must equal the
    oracle, all buckets must carry a manifest, and the manifests'
    rows_out must sum to the committed row counts. Also reads the
    sink's write volume and commit times."""
    import pyarrow.dataset as ds

    man_dir = os.path.join(out_dir, "_manifest")
    mans = []
    for f in sorted(os.listdir(man_dir)):
        if f.startswith("bucket-") and f.endswith(".json"):
            with open(os.path.join(man_dir, f)) as fh:
                mans.append(json.load(fh))
    sp = ds.dataset(os.path.join(out_dir, "spans"), partitioning="hive")
    tx = ds.dataset(os.path.join(out_dir, "transactions"),
                    partitioning="hive")
    d_sp = digest.rows_digest(
        sp.to_table(columns=list(digest.SPAN_COLS)).to_pylist(),
        digest.SPAN_COLS)
    d_tx = digest.rows_digest(
        tx.to_table(columns=list(digest.TXN_COLS)).to_pylist(),
        digest.TXN_COLS)
    ok = (d_sp == corpus.oracle["spans"] and d_tx == corpus.oracle["txns"]
          and len(mans) == SINK_BUCKETS
          and sum(m["rows_out"] for m in mans)
          == d_sp["rows"] + d_tx["rows"])

    # group g holds buckets [4g, 4g+4) on a fresh output; its commit
    # time is the last of its manifests' ts
    by_bucket = {m["partition_id"]: m["ts"] for m in mans}
    group_ts = [max(by_bucket[b] for b in range(g, g + SINK_PER_GROUP)
                    if b in by_bucket)
                for g in range(0, SINK_BUCKETS, SINK_PER_GROUP)
                if any(b in by_bucket
                       for b in range(g, g + SINK_PER_GROUP))]
    gaps = [b - a for a, b in zip(group_ts, group_ts[1:])]
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(out_dir):
        for f in files:
            nfiles += 1
            nbytes += os.path.getsize(os.path.join(dirpath, f))
    return {"ok": ok,
            "first_commit": (min(by_bucket.values()) - t_start
                             if by_bucket else float("nan")),
            "group_gap": probes.median(gaps),
            "bytes_written": nbytes, "files_written": nfiles,
            "buckets_committed": len(mans)}
