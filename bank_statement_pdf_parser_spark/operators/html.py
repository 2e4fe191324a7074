"""D5: HTML boilerplate strip / main-content span extraction.

Arrow-batched scalar pandas UDF (SURVEY.md U1) over the oracle's D5
walk (`oracle.parser.parse_html`): for each raw HTML payload, keep the
text nodes inside the single `<div class="content">` region, dropping
nav/style/footer chrome. Span offsets index the RAW html string;
entities are decoded in the extracted text only, never re-searched
(offset bookkeeping survives decoding, FIXTURES.md §3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

from ..oracle.parser import parse_html

HTML_SPAN_TYPE = ArrayType(StructType([
    StructField("span_start", IntegerType()),
    StructField("span_end", IntegerType()),
    StructField("text", StringType()),
]))


@F.pandas_udf(HTML_SPAN_TYPE)
def html_main_spans(docs: pd.Series) -> pd.Series:
    return docs.map(lambda d: parse_html(d) if isinstance(d, str) else [])
