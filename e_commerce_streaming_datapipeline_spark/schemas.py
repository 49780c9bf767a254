"""Fixture vocabulary shared by the loaders and operators: the driver's
synthetic table names (FIXTURES.md §B), which ``sources/batch.py`` loads and
``tests/oracle_compare.py`` mirrors as DuckDB views, and the event and
payment vocabularies of those tables.  Table schemas are not declared here:
the loaders read them from the parquet files.
"""

from __future__ import annotations

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Drop-off vocabulary of the synthetic events table; plays the role of the
# reference's order_status buckets (dropoff_processor.py:19-20).
EVENT_DROPOFF_TYPES = ("click", "error")
PAYMENT_TYPES = ("credit_card", "boleto", "voucher", "debit_card")
