"""PySpark-native main-content extraction engine.

From-scratch re-expression of abhinavraj314/Bank-Statement-PDF-Parser's
capability (/root/reference/README.md:2) over Iceberg/Parquet tables of
multi-turn agent transcripts, per BASELINE.json's north rule.
"""

from . import zip_listings

__version__ = "0.1.0"

# every extraction UDF's unpickle imports this module first, so reused
# executor workers stop re-reading their zip listings on every task
zip_listings.install()
