"""Seeded corpus generators for the benchmark workloads.

Every generator is a pure function of (workload, seed, size): the same
arguments give byte-identical transcripts. Each built corpus is cached
under `<checkout>/.perfbench-work/corpora/` (git-ignored) together with
its input descriptors and its oracle digest, so a repeated seed pays
neither generation nor the oracle pass again.

- sink_synthetic / fallback_heavy: `fixtures.gen_transcripts`
  conversations, cut at the first conversation boundary that reaches
  the target turn count (the generator's skewed conversations would
  otherwise make the corpus size swing with the seed).
  fallback_heavy additionally rewrites the upper-case description
  words of every statement with one accented letter each
  (GROCERY -> GRÓCERY): the codepoint count is unchanged, so the
  fixed column geometry still holds, but the document is no longer
  ASCII and the Arrow tokenizer sends it to the python kernel.
- extract_tpch: TPC-H-shaped `orders`/`lineitem` tables drawn with
  numpy (same columns, key ranges and value ranges as the dbgen-style
  test data), rendered by `tpch_bridge.transcripts_from_tpch` into
  single-page UOB statements. Needs a Spark session for the render.

The oracle digest is the sum of per-row hashes of the canonical
tuples `tests/test_equality.py` compares (decimals quantized to
0.01), plus the row counts. `digest.spark_digest` computes the same
quantity inside Spark, so every timed run is checked against the
oracle without collecting its output.
"""

from __future__ import annotations

import base64
import functools
import json
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass

import digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")

# full-size inputs (turns for the synthetic generators, orders for the
# TPC-H render) and the tiny smoke-mode inputs
SIZES = {"sink_synthetic": 7500, "fallback_heavy": 3700,
         "extract_tpch": 20000}
SMOKE_SIZES = {"sink_synthetic": 300, "fallback_heavy": 300,
               "extract_tpch": 500}
N_FILES = 8
# mean turns per generated conversation (92% short 2-10, 8% skewed
# 50-120): used only to size the first generation attempt
_MEAN_TURNS = 12.3


@dataclass
class Corpus:
    path: str               # transcripts parquet directory
    descriptors: dict       # turns, bytes, docs per kind, non-ASCII share
    oracle: dict            # n_spans, n_txns, spans/txns digests


def _synthetic_rows(seed: int, turns: int) -> list[dict]:
    from bank_statement_pdf_parser_spark import fixtures
    n = int(turns / _MEAN_TURNS * 1.5) + 8
    while True:
        rows = fixtures.gen_transcripts(n_convs=n, seed=seed)
        # rows are emitted conversation by conversation
        if len(rows) >= turns:
            cut = len(rows)
            for i in range(turns, len(rows)):
                if rows[i]["conv_id"] != rows[i - 1]["conv_id"]:
                    cut = i
                    break
            return rows[:cut]
        n *= 2


def _accent(word: str) -> str:
    # first vowel -> its acute form: one codepoint for one codepoint
    for i, ch in enumerate(word):
        j = "AEIOU".find(ch)
        if j >= 0:
            return word[:i] + "ÁÉÍÓÚ"[j] + word[i + 1:]
    return word[:-1] + "Ý"


@functools.cache
def _words_rx() -> re.Pattern:
    from bank_statement_pdf_parser_spark import fixtures
    return re.compile(
        r"\b(" + "|".join(w.upper() for w in fixtures.WORDS) + r")\b")


def _accent_doc(doc: str) -> str:
    return _words_rx().sub(lambda m: _accent(m.group(1)), doc)


def _fallback_rows(seed: int, turns: int) -> list[dict]:
    """Synthetic rows with every statement's description words
    accented. Only upper-case description words change: bank
    signatures, headers, footers and the HTML/noise vocabulary
    (lower case) are untouched, so classification is unchanged."""
    from bank_statement_pdf_parser_spark import oracle
    out = []
    for r in _synthetic_rows(seed, turns):
        doc = oracle.resolve_payload(r["text"], r["tool"])
        kind = oracle.classify(doc) if doc else None
        if kind is None or kind == "HTML":
            out.append(r)
            continue
        r = dict(r)
        if r["tool"] is None:
            r["text"] = _accent_doc(doc)
        else:
            # the generator's tool envelopes are all base64
            env = json.loads(r["tool"])
            env["payload"] = base64.b64encode(
                _accent_doc(doc).encode("utf-8")).decode("ascii")
            r["tool"] = json.dumps(env)
        out.append(r)
    return out


def _tpch_tables(n_orders: int, seed: int, out_dir: str) -> None:
    """orders + lineitem parquet with the columns the bridge reads.
    About 4 lineitems per order on random order keys, line numbers
    1-7, 2000 parts, 100 suppliers, quantity 1-50, ship dates
    1995-01-02..2001-11-04 — the shape of the dbgen-style test data.
    The bridge needs (orderkey, linenumber, partkey, suppkey,
    quantity, shipdate) unique per lineitem; duplicates are dropped."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders),
        "o_orderdate": (d0 + rng.integers(0, 2403, n_orders) * day)
        .astype("datetime64[us]"),
    })
    n_li = 4 * n_orders
    li = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(1, 2001, n_li),
        "l_suppkey": rng.integers(1, 101, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n_li),
        "l_shipdate": (d0 + day + rng.integers(0, 2498, n_li) * day)
        .astype("datetime64[us]"),
    }).drop_duplicates(["l_orderkey", "l_linenumber", "l_partkey",
                        "l_suppkey", "l_quantity", "l_shipdate"])
    os.makedirs(out_dir, exist_ok=True)
    for name, df in (("orders", orders), ("lineitem", li)):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))


def _tpch_rows(spark, seed: int, n_orders: int, scratch: str) -> list[dict]:
    from bank_statement_pdf_parser_spark.sources.tpch_bridge import (
        transcripts_from_tpch)
    _tpch_tables(n_orders, seed, scratch)
    return transcripts_from_tpch(spark, scratch).toArrow().to_pylist()


def describe(rows: list[dict]) -> dict:
    """Input descriptors: turns, UTF-8 bytes of text+tool, documents
    per kind after payload resolution (role-filtered and noise turns
    included as their own kinds) and the non-ASCII share of the
    documents that reach the tokenizer."""
    from bank_statement_pdf_parser_spark import oracle, spec
    kinds: Counter = Counter()
    nbytes = kernel_docs = nonascii = 0
    for r in rows:
        nbytes += len(r["text"].encode("utf-8")) if r["text"] else 0
        nbytes += len(r["tool"].encode("utf-8")) if r["tool"] else 0
        if r["role"] not in spec.ROLES:
            kinds["role_filtered"] += 1
            continue
        doc = oracle.resolve_payload(r["text"], r["tool"])
        kind = oracle.classify(doc) if doc else None
        kinds[kind or "noise"] += 1
        if kind is not None:
            kernel_docs += 1
            nonascii += not doc.isascii()
    return {"turns": len(rows), "bytes": nbytes,
            "docs": dict(sorted(kinds.items())),
            "nonascii_doc_share": round(nonascii / max(1, kernel_docs), 4)}


def oracle_digest(rows: list[dict]) -> dict:
    from bank_statement_pdf_parser_spark import oracle
    spans, txns = oracle.parse_transcripts(rows)
    return {"n_spans": len(spans), "n_txns": len(txns),
            "spans": digest.rows_digest(spans, digest.SPAN_COLS),
            "txns": digest.rows_digest(txns, digest.TXN_COLS)}


def build(workload: str, seed: int, size: int, spark=None) -> Corpus:
    """Return the cached corpus for (workload, seed, size), building
    it first if needed. `spark` is required for extract_tpch."""
    from bank_statement_pdf_parser_spark import fixtures
    key = f"{workload}-n{size}-s{seed}"
    base = os.path.join(WORK, "corpora", key)
    meta_path = os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        return Corpus(os.path.join(base, "transcripts"),
                      meta["descriptors"], meta["oracle"])
    tmp = f"{base}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "sink_synthetic":
        rows = _synthetic_rows(seed, size)
    elif workload == "fallback_heavy":
        rows = _fallback_rows(seed, size)
    elif workload == "extract_tpch":
        if spark is None:
            raise ValueError("extract_tpch needs a Spark session")
        rows = _tpch_rows(spark, seed, size, os.path.join(tmp, "tpch"))
        shutil.rmtree(os.path.join(tmp, "tpch"))
    else:
        raise ValueError(workload)
    # the seed also permutes physical row order and the file split
    fixtures.write_transcripts_parquet(
        rows, os.path.join(tmp, "transcripts"), shuffle_seed=seed,
        n_files=N_FILES)
    meta = {"descriptors": describe(rows), "oracle": oracle_digest(rows)}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return Corpus(os.path.join(base, "transcripts"),
                  meta["descriptors"], meta["oracle"])
