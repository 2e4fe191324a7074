"""Targeted adversarial documents for the ADVICE-flagged divergences:

- dual-column amounts (both withdrawal AND deposit populated) with every
  marker combination — F3 assignment order is last-writer-wins;
- OCBC statement WITHOUT the 'Period ...' header — must not crash under
  ANSI mode and must date every txn in the frozen default year;
- pipe-less / single-pipe continuation lines inside an OCBC lattice
  group — no cells, but the line still extends the txn span;
- non-whitelisted roles (e.g. 'system') — ignored by engine AND oracle;
- one multi-page statement per bank with an accented vowel in every
  upper-case description word (codepoint width unchanged): non-ASCII
  documents skip the Arrow fast path, so relational mode is their
  independent check against the oracle.

Each case is checked in BOTH execution modes against the oracle.
"""

from __future__ import annotations

import random
import re
from datetime import date, datetime

import pytest

from bank_statement_pdf_parser_spark import fixtures, oracle
from bank_statement_pdf_parser_spark.plans.extract import extract_all

from test_equality import _canon_spans, _canon_txns

TS = datetime(2026, 1, 1)


def _uob_line(d: str, desc: str, wdr: str, dep: str, bal: str) -> str:
    return f"{d:<12}{desc:<40}{wdr:>16}{dep:>16}{bal:>16}"


def _uob_doc(txn_lines: list[str]) -> str:
    return "\n".join(
        ["UNITED OVERSEAS BANK LIMITED", "Account: 0000000001",
         "Statement Period: x", ""] + txn_lines
        + ["Page 1 of 1", "UOB is regulated by MAS"])


_WORD_RX = re.compile(r"\b(" + "|".join(w.upper() for w in fixtures.WORDS)
                      + r")\b")


def _accented(word: str) -> str:
    # first vowel -> its acute form: one codepoint for one codepoint
    for i, ch in enumerate(word):
        j = "AEIOU".find(ch)
        if j >= 0:
            return word[:i] + "ÁÉÍÓÚ"[j] + word[i + 1:]
    return word[:-1] + "Ý"


def _accented_statement(bank: str, seed: int) -> str:
    doc = fixtures.make_statement(bank, random.Random(seed),
                                  adversarial=True)
    return _WORD_RX.sub(lambda m: _accented(m.group(1)), doc)


def _rows() -> list[dict]:
    dual = _uob_doc([
        # (wdr, dep): DR-marked deposit overrides the withdrawal debit
        _uob_line("05 Jan 2026", "BOTH PLAIN VS DR", "100.00", "50.00 DR",
                  "1,000.00"),
        # CR-marked withdrawal + plain deposit: credit = deposit
        _uob_line("06 Jan 2026", "CR VS PLAIN", "100.00 CR", "50.00",
                  "1,050.00"),
        # CR withdrawal + DR deposit: both cross over
        _uob_line("07 Jan 2026", "CR VS DR", "100.00 CR", "50.00 DR",
                  "1,100.00"),
        # plain vs plain: positional assignment
        _uob_line("08 Jan 2026", "PLAIN VS PLAIN", "100.00", "50.00",
                  "1,150.00"),
    ])
    ocbc_no_period = "\n".join([
        "OCBC BANK", "Account 000000000001", "",
        "|05 Jan|GROCERY RUN                             |      100.00|"
        "            |    1,000.00|",
        "see note 12",
        "|one|",
        "|06 Dec|TOPUP                                   |            |"
        "       55.00|    1,055.00|",
        "Page 1 of 1", "Co. Reg. No. 193200032W"])
    rows = [
        {"conv_id": "adv-0", "turn_idx": 0, "role": "user", "text": dual,
         "tool": None, "ts": TS},
        {"conv_id": "adv-1", "turn_idx": 0, "role": "assistant",
         "text": ocbc_no_period, "tool": None, "ts": TS},
        # same statement under a non-whitelisted role: must be ignored
        {"conv_id": "adv-2", "turn_idx": 0, "role": "system", "text": dual,
         "tool": None, "ts": TS},
    ]
    rows += [{"conv_id": f"adv-acc-{bank}", "turn_idx": 0, "role": "user",
              "text": _accented_statement(bank, seed), "tool": None,
              "ts": TS}
             for seed, bank in enumerate(("UOB", "DBS", "HDFC", "OCBC"))]
    return rows


@pytest.fixture(scope="module")
def adv_path(tmp_path_factory):
    from bank_statement_pdf_parser_spark import fixtures
    p = tmp_path_factory.mktemp("adv") / "transcripts.parquet"
    fixtures.write_transcripts_parquet(_rows(), str(p))
    return str(p)


@pytest.mark.parametrize("mode", ["fused", "relational"])
def test_adversarial_equality(spark, adv_path, mode):
    out = extract_all(spark.read.parquet(adv_path), mode=mode)
    eng_spans = [r.asDict() for r in out.spans.collect()]
    eng_txns = [r.asDict() for r in out.transactions.collect()]
    ora_spans, ora_txns = oracle.parse_transcripts(_rows())
    assert _canon_spans(eng_spans) == _canon_spans(ora_spans)
    assert _canon_txns(eng_txns) == _canon_txns(ora_txns)

    # the semantics we are pinning, asserted explicitly:
    by_desc = {t["description"]: t for t in ora_txns}
    assert str(by_desc["BOTH PLAIN VS DR"]["debit"]) == "50.00"
    assert by_desc["BOTH PLAIN VS DR"]["credit"] is None
    assert by_desc["CR VS PLAIN"]["debit"] is None
    assert str(by_desc["CR VS PLAIN"]["credit"]) == "50.00"
    assert str(by_desc["CR VS DR"]["debit"]) == "50.00"
    assert str(by_desc["CR VS DR"]["credit"]) == "100.00"
    assert str(by_desc["PLAIN VS PLAIN"]["debit"]) == "100.00"
    assert str(by_desc["PLAIN VS PLAIN"]["credit"]) == "50.00"
    # OCBC default-period fallback: both dates land in the default year
    ocbc = [t for t in ora_txns if t["conv_id"] == "adv-1"]
    assert sorted(t["txn_date"] for t in ocbc) == \
        [date(2026, 1, 5), date(2026, 12, 6)]
    # pipe-less continuation extended the first OCBC span
    first_span = min((s for s in ora_spans if s["conv_id"] == "adv-1"),
                     key=lambda s: s["span_start"])
    assert "see note 12" in first_span["text"]
    # system-role conversation produced nothing
    assert not [t for t in eng_txns if t["conv_id"] == "adv-2"]
    # every accented statement is non-ASCII and parses to transactions
    for r in _rows():
        if r["conv_id"].startswith("adv-acc-"):
            assert not r["text"].isascii()
            assert [t for t in eng_txns if t["conv_id"] == r["conv_id"]]
