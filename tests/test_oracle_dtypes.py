"""Registry-wide oracle result-typing gate (r6 verdict, finding #1-#3).

The external driver materializes every oracle via DuckDB ``.df()`` (pandas).
DuckDB returns integer ``sum()`` as HUGEINT and exact literals as DECIMAL;
pandas widens both to float64, so the driver hashes ``"3.0"`` where Spark
hashes ``"3"`` — rows/schema match, hash doesn't.  That single typing bug
was every driver hash mismatch of rounds 4-6.  This gate ``DESCRIBE``s all
registered oracles (no query execution — seconds for the whole registry)
and fails on any HUGEINT / UHUGEINT / DECIMAL output column, so the class
can never ship again.
"""

from __future__ import annotations

import pytest

from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
from tests.conftest import SF_DIR
from tests.oracle_compare import oracle_connection

BAD = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def test_no_hugeint_or_decimal_oracle_columns(duck):
    flagged = {}
    for name, q in all_queries().items():
        if q.oracle is None:
            continue
        rows = duck.execute(f"DESCRIBE {q.oracle}").fetchall()
        bad = [(col, typ) for col, typ, *_ in rows
               if any(b in typ.upper() for b in BAD)]
        if bad:
            flagged[name] = bad
    assert not flagged, (
        "oracle output columns that the driver's pandas canonicalizer "
        f"widens to float64 (add CAST(... AS BIGINT/DOUBLE)): {flagged}"
    )
