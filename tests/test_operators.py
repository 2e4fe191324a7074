"""Per-operator unit tests (SURVEY.md §5.2.2) over the pure-Python
kernels shared-spec'd with the distributed plan (no Spark needed here;
the Spark-side parity is covered by test_equality / test_modes)."""

from __future__ import annotations

from bank_statement_pdf_parser_spark import spec
from bank_statement_pdf_parser_spark.oracle import parser as op
from bank_statement_pdf_parser_spark.oracle.parser import (
    _ocbc_cells, statement_records)

_UOB_HDR = ["UNITED OVERSEAS BANK LIMITED", "Account: 0000000001",
            "Statement Period: 01 Jan 2026 to 31 Jan 2026", ""]


def _uob_row(d: str, desc: str, wdr: str, bal: str) -> str:
    return f"{d:<12}{desc:<40}{wdr:>16}{'':<16}{bal:>16}"


def _uob_page(p: int, n: int, body: list[str]) -> str:
    return "\n".join(_UOB_HDR + body
                     + [f"Page {p} of {n}", "UOB is regulated by MAS"])


def test_line_offsets_roundtrip():
    """Pages and line numbers count across '\f' (line numbers are
    document-global, 1-based pages), and every record's span indexes
    the raw document."""
    a = _uob_row("05 Jan 2026", "PAY A", "1.00", "5.00")
    cont = f"{'':<12}{'MORE A':<40}"
    b = _uob_row("06 Jan 2026", "PAY B", "2.00", "3.00")
    c = _uob_row("07 Jan 2026", "PAY C", "3.00", "0.00")
    doc = "\f".join([_uob_page(1, 3, [a, cont]), _uob_page(2, 3, [b]),
                     _uob_page(3, 3, [c])])
    recs = statement_records(doc, "UOB")
    # page 1: lines 0-7 (anchor 4, continuation 5); page 2: 8-14;
    # page 3: 15-21 — 4 header lines, then the body, then 2 footers
    assert [r[:3] for r in recs] == [(1, 4, 5), (2, 12, 12), (3, 19, 19)]
    assert [r[3] for r in recs] == [doc.index(a), doc.index(b),
                                    doc.index(c)]
    for r in recs:
        assert doc[r[3]:r[4]] == r[5]
    assert recs[0][5] == a + "\n" + cont.rstrip()


def test_freq_boiler_rule():
    """D4 frequency rule: a chrome line on EVERY page of a document with
    >= FREQ_RULE_MIN_PAGES pages is dropped (here it would otherwise
    extend the transaction as a continuation); a single-page document
    keeps it."""
    chrome = f"{'':<12}{'ALL AMOUNTS IN SGD':<40}"
    a = _uob_row("05 Jan 2026", "PAY A", "1.00", "5.00")
    b = _uob_row("06 Jan 2026", "PAY B", "2.00", "3.00")
    n = spec.FREQ_RULE_MIN_PAGES
    doc = "\f".join(_uob_page(p, n, [a if p == 1 else b, chrome])
                     for p in range(1, n + 1))
    recs = statement_records(doc, "UOB")
    assert len(recs) == n
    assert all(r[1] == r[2] for r in recs)  # no continuation line
    assert recs[0][12] == [a[12:52]]
    single = _uob_page(1, 1, [a, chrome])
    (rec,) = statement_records(single, "UOB")
    assert (rec[1], rec[2]) == (4, 5)
    assert rec[12] == [a[12:52], chrome[12:52]]
    _, txns = op.parse_statement(single, "UOB")
    assert txns[0]["description"] == "PAY A ALL AMOUNTS IN SGD"


def test_ocbc_cells_offsets():
    line = "|05 Jan|  PAY  X |   1.00| |2.00|"
    cells = _ocbc_cells(line, 100)
    texts = [(spec.OCBC_CELLS[i], line[s - 100:e - 100], t)
             for i, s, e, t in cells]
    for name, raw_slice, t in texts:
        assert raw_slice == t
    assert texts[0] == ("date", "05 Jan", "05 Jan")
    assert texts[1] == ("description", "PAY  X", "PAY  X")
    # blank deposit cell is skipped
    assert [n for n, _, _ in texts] == ["date", "description",
                                        "withdrawal", "balance"]


def test_page_carry_dedup_and_balance_bf():
    # NOTE: 3 pages on purpose — in a 2-page doc a page-carried anchor
    # appears on EVERY page, so the D4 frequency rule removes both
    # copies before D11 dedup is reached (frozen-spec interaction,
    # identical in oracle and engine).
    def hdr(p):
        return ["UNITED OVERSEAS BANK LIMITED", "Account: 0000000001",
                "Statement Period: 01 Jan 2026 to 31 Jan 2026", ""]

    def foot(p):
        return [f"Page {p} of 3", "UOB is regulated by MAS"]

    a = f"{'05 Jan 2026':<12}{'PAY A':<40}{'1.00':>16}{'':<16}{'5.00':>16}"
    b = f"{'06 Jan 2026':<12}{'PAY B':<40}{'2.00':>16}{'':<16}{'3.00':>16}"
    c = f"{'07 Jan 2026':<12}{'PAY C':<40}{'3.00':>16}{'':<16}{'0.00':>16}"
    page1 = "\n".join(hdr(1) + [a] + foot(1))
    page2 = "\n".join(hdr(2) + ["BALANCE B/F", a, b] + foot(2))
    page3 = "\n".join(hdr(3) + [c] + foot(3))
    doc = "\f".join([page1, page2, page3])
    recs = statement_records(doc, "UOB")
    descs = [r[12][0].strip() for r in recs]
    assert descs == ["PAY A", "PAY B", "PAY C"]  # dup anchor dropped once
    spans, txns = op.parse_statement(doc, "UOB")
    assert [t["description"] for t in txns] == ["PAY A", "PAY B", "PAY C"]
    assert txns[0]["page"] == 1
    assert txns[1]["page"] == 2


def test_split_txn_across_page_boundary():
    anchor = f"{'05 Jan 2026':<12}{'PAY A':<40}{'1.00':>16}{'':<16}{'5.00':>16}"
    cont = f"{'':<12}{'MORE DESC':<40}{'':<48}"
    page1 = "\n".join(["UNITED OVERSEAS BANK LIMITED", "Account: 0000000001",
                       "Statement Period: 01 Jan 2026 to 31 Jan 2026", "",
                       anchor, "Page 1 of 2", "UOB is regulated by MAS"])
    page2 = "\n".join(["UNITED OVERSEAS BANK LIMITED", "Account: 0000000001",
                       "Statement Period: 01 Jan 2026 to 31 Jan 2026", "",
                       cont, "Page 2 of 2", "UOB is regulated by MAS"])
    doc = page1 + "\f" + page2
    _, txns = op.parse_statement(doc, "UOB")
    assert len(txns) == 1
    assert txns[0]["description"] == "PAY A MORE DESC"
    assert txns[0]["page"] == 1
    # span covers from the anchor into page 2 (raw slice semantics)
    spans, _ = op.parse_statement(doc, "UOB")
    s = spans[0]
    assert doc[s["span_start"]:s["span_end"]] == s["text"]
    assert "MORE DESC" in s["text"]


def test_html_entities_and_offsets():
    doc = ('<html><head><style>x</style></head><body><nav>no</nav>'
           '<div class="content"><p>a &amp; b</p> <p> c&nbsp;d </p></div>'
           '<footer>no</footer></body></html>')
    spans = op.parse_html(doc)
    assert [s["text"] for s in spans] == ["a & b", "c d"]
    for s in spans:
        raw = doc[s["span_start"]:s["span_end"]]
        assert raw.strip() == raw  # trimmed bounds
    assert spans[0]["span_start"] == doc.index("a &amp; b")

    # hand-computed D5 spans, (span_start, span_end, text)
    def walk(d):
        return [(s["span_start"], s["span_end"], s["text"])
                for s in op.parse_html(d)]

    assert walk('<html><body><p>x</p></body></html>') == []  # no div
    # offsets: content div 0-20, <p> 21-23, ' ' 24, </p> 25-28, '\n' 29,
    # <a ...> 30-51, text 52-66, </a> 67-70, '  tail' 71-76 (no close:
    # the region runs to the end); whitespace-only nodes are skipped,
    # entities decode in the text while offsets index the raw string
    doc = ('<div class="content"><p> </p>\n<a href="x" title="y">'
           'go &lt;b&gt; on</a>  tail')
    assert walk(doc) == [(52, 67, "go <b> on"), (73, 77, "tail")]
    assert walk("<html>" + doc + "</div><p>out</p>") == [
        (58, 73, "go <b> on"), (79, 83, "tail")]


def test_winnow_fingerprint_match_guarantee(spark):
    """Winnowing guarantee (SIGMOD'03): two documents sharing a
    substring of length >= k + w - 1 share at least one fingerprint;
    a doc with no long overlap shares none. Short docs (< k+w-1) get
    an empty set, not garbage."""
    from bank_statement_pdf_parser_spark.operators.textstats import (
        winnow_fingerprints)
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [(0, "prefix one " + shared + " suffix alpha"),
            (1, "totally different start " + shared),
            (2, "no overlap here at all just other words entirely"),
            (3, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: set(r.fps)
           for r in winnow_fingerprints(df, k=8, w=4).collect()}
    assert out[0] & out[1]            # long shared substring -> shared fp
    assert not (out[0] & out[2])      # unrelated docs -> disjoint
    assert out[3] == set()            # shorter than k+w-1 -> empty


def test_quality_signals_and_bpe_counts(spark):
    from bank_statement_pdf_parser_spark.operators.textstats import (
        bpe_token_count, quality_signals)
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "the cat sat on a mat, v2.0 of THE test!")],
        "doc_id long, text string")
    q = quality_signals(F.col("text"))
    row = df.select(
        bpe_token_count(F.col("text")).alias("bpe"),
        q["n_tokens"].alias("nt"), q["stop_hits"].alias("sh"),
        q["punct_chars"].alias("pc"), q["sum_token_len"].alias("sl"),
    ).collect()[0]
    # bpe tokens: the|cat|sat|on|a|mat|,|v|2|.|0|of|THE|test|!
    assert row.bpe == 15
    assert row.nt == 10          # whitespace tokens
    assert row.sh == 3           # the, a, of (exact lowercase matches)
    assert row.pc == 3           # ',' '.' '!'
    assert row.sl == 30          # 39 chars minus 9 separators


def test_winnow_explode_plan_has_single_hash_copy(spark):
    """Regression: InferFiltersFromGenerate used to synthesize a
    size(fps)>0 filter whose pushdown INLINED the whole rolling-hash
    expression into the Filter and scan (O(len^2) per row, measured
    minutes instead of seconds). With the rule excluded
    (session.get_spark / __spark_entry__._prep) the hash expression
    must appear exactly once in the physical plan — in the project
    that stages the _h column."""
    from pyspark.sql import functions as F
    from bank_statement_pdf_parser_spark.operators.textstats import (
        winnow_fingerprints)
    df = spark.createDataFrame([(1, "abcdefghijklmnop")],
                               "doc_id long, text string")
    out = winnow_fingerprints(df).select(
        "doc_id", F.explode("fps").alias("fp"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ascii(") == 1, plan[:2000]


def test_load_transcripts_json_and_csv_roundtrip(spark, transcripts_path,
                                                 tmp_path):
    """S1 interchange formats: JSONL, CSV and ORC dumps load with the
    transcripts schema ENFORCED and extract identically to the parquet
    source (multiline statement text survives CSV quoting)."""
    from bank_statement_pdf_parser_spark.plans.extract import extract_all
    from bank_statement_pdf_parser_spark.sources.transcripts import (
        load_transcripts)
    src = spark.read.parquet(transcripts_path).limit(60)
    want = sorted(map(tuple, extract_all(src).transactions.collect()))
    jdir, cdir = str(tmp_path / "t.jsonl"), str(tmp_path / "t.csv")
    odir = str(tmp_path / "t.orc")
    src.coalesce(1).write.json(jdir)
    (src.coalesce(1).write.option("header", True)
     .option("escape", '"').csv(cdir))
    src.coalesce(1).write.orc(odir)
    for path in (jdir, cdir, odir):
        df = load_transcripts(spark, path)
        # schema is ENFORCED from spec (ts arrives as session-tz
        # timestamp rather than parquet's ntz flavor; extraction is
        # ts-agnostic)
        assert df.columns == src.columns
        got = sorted(map(tuple, extract_all(df).transactions.collect()))
        assert got == want and got


def test_decontamination_ngram_semantics(spark):
    """Exact contiguous-window membership: hits at document start,
    end, and interior; a doc with the probe tokens NON-contiguous must
    not flag; docs shorter than n yield no grams (and the sequence
    guard keeps Spark from generating a descending index range);
    broadcast and shuffle paths agree."""
    from bank_statement_pdf_parser_spark.operators.textstats import (
        contaminated_doc_ids)
    probe = "p q r"
    docs = spark.createDataFrame(
        [(1, "p q r x y"),          # hit at start
         (2, "x y p q r"),          # hit at end
         (3, "x p q r y"),          # interior hit
         (4, "p q x r y"),          # tokens present, not contiguous
         (5, "p q"),                # shorter than n
         (6, "x y z w v")],         # no overlap
        "doc_id long, text string")
    probes = spark.createDataFrame([(probe,)], "ngram string")
    for bcast in (True, False):
        got = {r.doc_id for r in
               contaminated_doc_ids(docs, probes, n=3,
                                    broadcast=bcast).collect()}
        assert got == {1, 2, 3}, f"broadcast={bcast}"


def test_token_ngrams_boundaries(spark):
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.operators.textstats import (
        token_ngrams)
    df = (spark.createDataFrame([("a b c d",), ("a b",)], "text string")
          .withColumn("_toks", F.split("text", " "))
          .select("text", token_ngrams(F.col("_toks"), 3).alias("g")))
    got = {r.text: r.g for r in df.collect()}
    assert got["a b c d"] == ["a b c", "b c d"]
    assert got["a b"] == []


def test_repetition_signals_planted(spark):
    """'a b a b a b' has 5 bigrams but only 2 distinct (duplicate
    n-gram fraction 0.6) — the signal a repetition filter keys on;
    a no-repeat doc is distinct-equal; short docs are all zeros."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.operators.textstats import (
        repetition_signals)
    df = (spark.createDataFrame(
        [(1, "a b a b a b"), (2, "w x y z"), (3, "q")],
        "doc_id long, text string")
        .withColumn("_toks", F.split("text", " ")))
    sig = repetition_signals(F.col("_toks"), ns=(2, 3))
    rows = {r.doc_id: r for r in df.select(
        "doc_id", *[c.alias(k) for k, c in sig.items()]).collect()}
    assert (rows[1].n_2grams, rows[1].n_distinct_2grams) == (5, 2)
    assert (rows[1].n_3grams, rows[1].n_distinct_3grams) == (4, 2)
    assert (rows[2].n_2grams, rows[2].n_distinct_2grams) == (3, 3)
    assert (rows[3].n_2grams, rows[3].n_distinct_3grams) == (0, 0)


def test_pii_redaction_chain(spark):
    """Chain order and confluence: the email's digit run is consumed
    by <EMAIL> and never re-matched by the longnum rule; phone needs
    the full 3-3-4 shape (a 9-digit dash-free run falls through to no
    rule); 10+ digit runs become <ACCT>; counts reflect what each
    stage actually saw."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.functions.redact import (
        pii_counts, redact_pii)
    df = spark.createDataFrame(
        [(1, "mail a1_b%c@sub.domain.org now"),
         (2, "call 415-555-0042 or 415-555-9999."),
         (3, "acct 12345678901 and short 123456789"),
         (4, "mixed x9@y.io 415-555-0000 00112233445566")],
        "doc_id long, text string")
    cnt = pii_counts(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id", redact_pii(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in cnt.items()]).collect()}
    assert out[1].red == "mail <EMAIL> now"
    assert out[2].red == "call <PHONE> or <PHONE>."
    assert out[3].red == "acct <ACCT> and short 123456789"
    assert out[4].red == "mixed <EMAIL> <PHONE> <ACCT>"
    assert (out[4].n_email, out[4].n_phone, out[4].n_longnum) == (1, 1, 1)
    assert (out[2].n_email, out[2].n_phone, out[2].n_longnum) == (0, 2, 0)


def test_line_dedup_semantics(spark):
    """First occurrence by (doc, idx) wins — including within-doc
    repeats; partial last lines dedup like any other line; is_first
    marks every instance."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.operators.neardup import (
        dedup_lines)
    # 2-token lines for readability
    df = spark.createDataFrame(
        [(1, "a b c d a b"),        # lines: [a b][c d][a b] — self-dup
         (2, "a b x y"),            # [a b] loses to doc 1 idx 0
         (3, "x y tail"),           # [x y] loses to doc 2; [tail] partial
         (4, "tail")],              # partial line loses to doc 3
        "doc_id long, text string")
    rows = {(r.doc_id, r.line_idx): (r.line, r.is_first)
            for r in dedup_lines(df, tokens_per_line=2).collect()}
    assert rows[(1, 0)] == ("a b", True)
    assert rows[(1, 1)] == ("c d", True)
    assert rows[(1, 2)] == ("a b", False)   # within-doc repeat dropped
    assert rows[(2, 0)] == ("a b", False)
    assert rows[(2, 1)] == ("x y", True)
    assert rows[(3, 0)] == ("x y", False)
    assert rows[(3, 1)] == ("tail", True)
    assert rows[(4, 0)] == ("tail", False)
    assert len(rows) == 8


def test_line_dedup_winner_is_aggregated_not_windowed(spark):
    """The hot-line winner comes from a partial-aggregatable groupBy
    (skew-safe), not a single-key window sort: the plan must contain
    a partial_min HashAggregate on the line key and no Window over
    the line column."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.operators.neardup import (
        dedup_lines)
    df = spark.createDataFrame(
        [(i, "hot line " + ("unique%d" % i)) for i in range(50)],
        "doc_id long, text string")
    out = dedup_lines(df, tokens_per_line=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    assert "Window" not in plan


def test_nfc_normalize_composes_and_preserves(spark):
    """Decomposed sequences compose (len shrinks), precomposed and
    ASCII text pass through byte-identical, compatibility ligatures
    are NOT folded (NFC, not NFKC), NULLs survive."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.functions.textclean import (
        nfc_normalize)
    df = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "caf\u00e9"), (3, "plain ascii"),
         (4, "ﬁx"), (5, None)],
        "id long, t string")
    out = {r.id: (r.n, r.ln) for r in df.select(
        "id", nfc_normalize(F.col("t")).alias("n"),
        F.length(nfc_normalize(F.col("t"))).alias("ln")).collect()}
    assert out[1] == ("caf\u00e9", 4)       # composed
    assert out[2] == ("caf\u00e9", 4)       # already NFC: unchanged
    assert out[3] == ("plain ascii", 11)
    assert out[4] == ("ﬁx", 2)         # ligature kept (not NFKC)
    assert out[5] == (None, None)


def test_filter_funnel_single_pass_counts(spark):
    """Funnel counts are cumulative-AND conditional sums from ONE
    aggregation (no per-stage jobs): later stages only see earlier
    survivors, and a NULL predicate counts as a drop (SQL three-valued
    logic), never as a pass."""
    from pyspark.sql import functions as F
    from bank_statement_pdf_parser_spark.operators.textstats import (
        filter_funnel)
    rows = [(1, 10, "a"), (2, 300, "b"), (3, 500, None), (4, 700, "d")]
    df = spark.createDataFrame(rows, "id long, n long, s string")
    out = {r.stage: (r.n_in, r.n_out, r.n_dropped)
           for r in filter_funnel(df, [
               ("big", F.col("n") >= 300),
               ("named", F.col("s").isNotNull()),
               ("odd", F.col("id") % 2 == 0)]).collect()}
    assert out == {"big": (4, 3, 1), "named": (3, 2, 1),
                   "odd": (2, 2, 0)}
    # empty corpus: a 0/0/0 funnel, never NULLs
    empty = filter_funnel(df.filter("id > 99"),
                          [("big", F.col("n") >= 300)]).collect()
    assert [(r.n_in, r.n_out, r.n_dropped) for r in empty] == [(0, 0, 0)]


def test_event_funnel_and_retention_edges(spark):
    """Ordering edges pinned by hand: a purchase BEFORE the first
    click never reaches stage 3; same-timestamp stages fail the
    STRICT ordering; retention cohorts count each user once per week
    offset (duplicate events collapse)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    rows = [
        # u1: clean s->c->p
        (1, "2024-01-01 00:00:00", 1, "signup"),
        (2, "2024-01-02 00:00:00", 1, "click"),
        (3, "2024-01-03 00:00:00", 1, "purchase"),
        # u2: purchase precedes click -> stops at stage 2
        (4, "2024-01-01 00:00:00", 2, "signup"),
        (5, "2024-01-05 00:00:00", 2, "click"),
        (6, "2024-01-02 00:00:00", 2, "purchase"),
        # u3: click ties signup timestamp -> strict ordering fails
        (7, "2024-01-01 00:00:00", 3, "signup"),
        (8, "2024-01-01 00:00:00", 3, "click"),
        # u4: active weeks 0 and 2, duplicate events in week 0
        (9, "2024-01-01 00:00:00", 4, "click"),
        (10, "2024-01-01 01:00:00", 4, "click"),
        (11, "2024-01-15 00:00:00", 4, "click"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        # only the events table is read by these two queries
        out = entry.queries()["x_event_funnel"](spark, d).collect()[0]
        assert (out.n_users, out.n_signup, out.n_click_after,
                out.n_purchase_after) == (4, 3, 2, 1)
        ret = {(r.cohort, r.offset): r.n_users
               for r in entry.queries()["x_retention"](spark, d).collect()}
    # all users share the epoch-week containing 2024-01-01 (epoch
    # weeks start 2023-12-28); u2's Jan-05 click is offset 1, u4's
    # Jan-15 click offset 2
    cohort = min(c for c, _ in ret)
    assert ret[(cohort, 0)] == 4
    assert ret[(cohort, 1)] == 1
    assert ret[(cohort, 2)] == 1


def _edge_turns_frame():
    """Turns covering every arrow-fast-path eligibility boundary:
    eligible UOB/DBS/HDFC docs, duplicate anchors (D11), off-width
    anchors (D7 inference), continuation lines (D9), multi-page (D4),
    control chars / non-ASCII (python-re equivalence guards), content
    before the first anchor, anchor-less and near-empty docs, OCBC
    lattice and HTML (always python-path)."""
    import pandas as pd

    uob_hdr = ("UNITED OVERSEAS BANK LIMITED\nAccount: 0000000042\n"
               "Statement Period: 01 Jan 2026 to 31 Dec 2026\n\n")
    uob_foot = "\nPage 1 of 1\nUOB is regulated by MAS"

    def uline(d, desc, wdr, dep, bal):
        return (d.ljust(12) + desc.ljust(40) + wdr.rjust(16)
                + dep.rjust(16) + bal.rjust(16))

    a1 = uline("05 Jan 2026", "ALPHA", "1.00", "", "10.00")
    a2 = uline("06 Jan 2026", "BETA", "", "2.00", "12.00")
    a3 = uline("07 Jan 2026", "REF X9 GAMMA", "3.00", "", "9.00")
    def oline(d, desc, wdr, dep, bal):
        return ("|" + d.ljust(6) + "|" + desc.ljust(40) + "|"
                + wdr.rjust(12) + "|" + dep.rjust(12) + "|"
                + bal.rjust(12) + "|")

    dbs_hdr = ("DBS BANK LTD\nAccount No: 000000042\n"
               "Statement Date: 28/02/2026\n\n")
    dline = ("05/01/2026 06/01/2026 " + "D1".ljust(40)
             + "1.00 CR".rjust(16) + " " * 16 + "5.00".rjust(16))
    h_hdr = ("HDFC BANK LTD\nA/c No: 00000000000042\n"
             "Statement From 01/01/92 To 31/12/98\n\n")
    hline = ("05/01/93".ljust(10) + "H1".ljust(40)
             + "CHQ00000001".ljust(16) + "05/01/23".ljust(10)
             + "1.00".rjust(16) + " " * 16 + "9.00".rjust(16))
    docs = {
        "u-basic": (uob_hdr + "\n".join([a1, a2, a3]) + uob_foot, "UOB"),
        "u-dup": (uob_hdr + "\n".join([a1, a1, a2]) + uob_foot, "UOB"),
        "u-jit": (uob_hdr + a1 + "  \n" + a2 + uob_foot, "UOB"),
        "u-cont": (uob_hdr + a1 + "\n" + " " * 12
                   + "CONT".ljust(88) + "\n" + a2 + uob_foot, "UOB"),
        "u-mp": (uob_hdr + a1 + uob_foot + "\f"
                 + uob_hdr + a2 + uob_foot, "UOB"),
        "u-ctl": (uob_hdr + a1 + "\x0b\n" + a2 + uob_foot, "UOB"),
        "u-uni": (uob_hdr + a1.replace("ALPHA", "ALPHÉ") + uob_foot,
                  "UOB"),
        "u-pre": ("stray\n" + a1 + "\n" + a2 + "\n"
                  + "UNITED OVERSEAS BANK LIMITED", "UOB"),
        "u-none": (uob_hdr + "nothing" + uob_foot, "UOB"),
        "u-blank": (" \nUNITED OVERSEAS BANK LIMITED", "UOB"),
        "d-basic": (dbs_hdr + dline
                    + "\nPage 1/1\nDeposit Insurance Scheme applies",
                    "DBS"),
        # multi-page with non-regex chrome on EVERY page (D4 frequency
        # rule), a BALANCE B/F + page-carried duplicate anchor with its
        # own continuation (D11 drops the whole duplicate group), and a
        # continuation split across the page boundary (D9)
        "u-carry": (uob_hdr + a1 + "\n" + " " * 12 + "CO1".ljust(88)
                    + "\nHot Chrome Line" + uob_foot
                    + "\f" + uob_hdr + "BALANCE B/F\n" + a1 + "\n"
                    + " " * 12 + "CO1DUP".ljust(88) + "\n"
                    + " " * 12 + "CO2SPLIT".ljust(88) + "\n" + a2
                    + "\nHot Chrome Line" + uob_foot
                    + "\f" + uob_hdr + " " * 12 + "CO3".ljust(88)
                    + "\n" + a3 + "\nHot Chrome Line" + uob_foot, "UOB"),
        # an anchor-shaped line repeated on every page: the frequency
        # rule kills it BEFORE anchor classification
        "u-freqa": (uob_hdr + a1 + "\n" + a2 + uob_foot
                    + "\f" + uob_hdr + a2 + "\n" + a3 + uob_foot, "UOB"),
        # boilerplate interleaved INSIDE a group: the span slice covers
        # the footer text between anchor and continuation
        "u-mid": (uob_hdr + a1 + "\nPage 1 of 1\n" + " " * 12
                  + "TAIL".ljust(88) + uob_foot, "UOB"),
        # triple duplicate anchor on one page
        "u-3dup": (uob_hdr + "\n".join([a1, a1, a1, a2]) + uob_foot,
                   "UOB"),
        "h-basic": (h_hdr + hline
                    + "\nPage No .: 1\nHDFC BANK is registered with RBI",
                    "HDFC"),
        "o-basic": ("OCBC BANK\nAccount 000000000042\n"
                    "Period 01 Nov 2025 - 28 Feb 2026\n\n"
                    "|05 Dec|" + "LATTE".ljust(40) + "|"
                    + "1.00".rjust(12) + "|" + " " * 12 + "|"
                    + "9.00".rjust(12) + "|\n"
                    "Page 1 of 1\nCo. Reg. No. 193200032W", "OCBC"),
        # lattice records with continuation-row cells, a page-carried
        # duplicate anchor (D11) and a second page: span ordinals must
        # advance by each record's cell count
        "o-cont": ("OCBC BANK\nAccount 000000000042\n"
                   "Period 01 Nov 2025 - 28 Feb 2026\n\n"
                   + oline("05 Dec", "LATTE", "1.00", "", "9.00") + "\n"
                   + oline(" ", "EXTRA FOAM", "", "", "") + "\n"
                   + oline("06 Dec", "SALARY", "", "5.00", "14.00")
                   + "\nPage 1 of 3\f"
                   + oline("06 Dec", "SALARY", "", "5.00", "14.00") + "\n"
                   + oline(" ", "CARRIED", "", "", "") + "\n"
                   + oline("07 Jan", "RENT", "2.00", "", "12.00") + "\n"
                   + oline(" ", "JAN", "", "", "") + "\n"
                   + oline(" ", "FLAT 2", "", "", "")
                   + "\nPage 2 of 3\f"
                   + oline("08 Jan", "FEE", "1.00", "", "11.00")
                   + "\nPage 3 of 3", "OCBC"),
        "w-html": ('<html><body><nav>c</nav><div class="content">'
                   'Hello &amp; bye<p> mid </p></div>'
                   '<footer>f</footer></body></html>', "HTML"),
    }
    rows = [(cid, 0, doc, kind,
             *( (11, 2025, 2026) if kind == "OCBC" else (None,) * 3))
            for cid, (doc, kind) in docs.items()]
    # a second turn of one conversation: ordinals restart per turn
    rows.append(("u-basic", 1, docs["u-cont"][0], "UOB", None, None, None))
    return pd.DataFrame(rows, columns=[
        "conv_id", "turn_idx", "doc", "kind",
        "p_start_mon", "p_start_year", "p_end_year"])


def _canon_records(df, cols):
    import numpy as np

    def norm(x):
        if isinstance(x, float) and x != x:
            return None
        if isinstance(x, np.integer) or (
                isinstance(x, float) and x == int(x)):
            return int(x)
        if isinstance(x, (list, np.ndarray)):
            return tuple(tuple(sorted(d.items())) if isinstance(d, dict)
                         else d for d in x)
        return x
    return sorted(repr(tuple(norm(x) for x in t))
                  for t in df[cols].itertuples(index=False))


def test_kernel_profiles_project():
    """Every reduced kernel profile equals the same projection of the
    full kernel (HTML rows dropped for 'transactions')."""
    import pandas as pd
    from bank_statement_pdf_parser_spark.operators.tokenize import (
        _SPAN_COLS, _TXN_COLS, tokenize_kernel)
    pdf = _edge_turns_frame()
    full = pd.concat(list(tokenize_kernel("full")(iter([pdf]))),
                     ignore_index=True)
    txn = pd.concat(list(tokenize_kernel("transactions")(iter([pdf]))),
                    ignore_index=True)
    spn = pd.concat(list(tokenize_kernel("spans")(iter([pdf]))),
                    ignore_index=True)
    assert _canon_records(full[full["bank"] != "HTML"], _TXN_COLS) \
        == _canon_records(txn, _TXN_COLS)
    assert _canon_records(full, _SPAN_COLS) \
        == _canon_records(spn, _SPAN_COLS)


def test_kernel_ordinal_contract():
    """Per turn, rec_ord is 0..n-1 in span_start order and span_base is
    the exclusive prefix sum of 1 + len(cells); spans numbered
    span_base + position in [head, *cells] are then 0..m-1 in
    span_start order (records' spans never interleave)."""
    import pandas as pd
    from bank_statement_pdf_parser_spark.operators.tokenize import (
        tokenize_kernel)
    full = pd.concat(list(tokenize_kernel("full")(iter([
        _edge_turns_frame()]))), ignore_index=True)
    turns = full.groupby(["conv_id", "turn_idx"], sort=False)
    # multi-record turns with cells, and a conversation's second turn
    assert {("o-cont", 0), ("u-basic", 0), ("u-basic", 1)} \
        <= set(turns.groups)
    for key, t in turns:
        t = t.sort_values("span_start")
        assert list(t["rec_ord"]) == list(range(len(t))), key
        n_spans = [1 + len(c) for c in t["cells"]]
        assert list(t["span_base"]) == [
            sum(n_spans[:i]) for i in range(len(t))], key
        spans = sorted(
            (s, int(b) + pos)
            for b, st, cells in zip(t["span_base"], t["span_start"],
                                    t["cells"])
            for pos, s in enumerate([st] + [c["start"] for c in cells]))
        assert [i for _, i in spans] == list(range(sum(n_spans))), key


def test_arrow_kernel_matches_pandas():
    """The vectorized mapInArrow fast path must be record-identical to
    the pandas kernel on a corpus that straddles every eligibility
    boundary (fast-path docs, every fallback reason, python-only
    banks)."""
    import pandas as pd
    import pyarrow as pa
    from bank_statement_pdf_parser_spark.operators.tokenize import (
        _SPAN_COLS, _TXN_COLS, tokenize_kernel)
    from bank_statement_pdf_parser_spark.operators.tokenize_arrow import (
        tokenize_arrow_kernel)
    pdf = _edge_turns_frame()
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("doc", pa.string()), ("kind", pa.string()),
        ("p_start_mon", pa.int32()), ("p_start_year", pa.int32()),
        ("p_end_year", pa.int32())])
    batch = pa.RecordBatch.from_pandas(pdf, schema=schema,
                                       preserve_index=False)
    from bank_statement_pdf_parser_spark.operators.tokenize import (
        _RECORD_COLS)
    for profile, cols in (("transactions", _TXN_COLS),
                          ("spans", _SPAN_COLS),
                          ("full", _RECORD_COLS)):
        want = pd.concat(
            list(tokenize_kernel(profile)(iter([pdf]))),
            ignore_index=True)
        got_b = list(tokenize_arrow_kernel(profile)(iter([batch])))
        got = pa.Table.from_batches(
            got_b, schema=got_b[0].schema).to_pandas()
        assert list(got.columns) == cols
        assert _canon_records(want, cols) == _canon_records(got, cols), \
            profile

    # the vectorized path must actually COVER the docs designed for it
    # (a silent fallback would make the comparison above vacuous):
    # only the off-width doc may fall back inside _fast_bank_records
    from bank_statement_pdf_parser_spark.operators.tokenize_arrow import (
        _fast_bank_records)
    uob = pdf[(pdf["kind"] == "UOB")
              & ~pdf["conv_id"].isin(["u-ctl", "u-uni"])]
    docs_arr = pa.array(uob["doc"].tolist())
    _, _, fb = _fast_bank_records("UOB", docs_arr, "transactions")
    assert list(uob["conv_id"].iloc[fb]) == ["u-jit"]
