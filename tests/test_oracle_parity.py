"""Every queries() entry with an oracle must match DuckDB exactly —
the local mirror of the driver's CORRECTNESS gate."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from .conftest import SF_DIR  # noqa: E402
from .utils import assert_frames_match  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    q = QUERIES[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    assert len(spark_pdf.columns) > 0
    if name not in ORACLES:
        assert len(spark_pdf) >= 0  # rows-only check for non-SQL ops
        return
    oracle_pdf = duck.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema is not None
    assert isinstance(rows, list)
