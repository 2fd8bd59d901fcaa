"""The driver-contract oracle sweep at sf0.01: every ``contract.QUERIES``
entry runs on Spark, its ``contract.ORACLES`` twin runs on DuckDB over the
same parquet tables, and ``tools/check_contract.py``'s ``compare`` checks
row count, sorted schema and the order-insensitive value hash."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from dense_retriever_spark.contract import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"

_TOOLS = str(Path(__file__).resolve().parents[1] / "tools")
sys.path.insert(0, _TOOLS)
try:
    import check_contract
finally:
    sys.path.remove(_TOOLS)


@pytest.fixture(scope="session")
def duck():
    con = check_contract.connect(SF_DIR)
    yield con
    con.close()


# the union of both registries: an entry missing on either side fails
@pytest.mark.parametrize("name", sorted(QUERIES.keys() | ORACLES.keys()))
def test_contract_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    res = duck.execute(ORACLES[name])
    problems = check_contract.compare(
        [tuple(r) for r in sdf.collect()], sdf.columns,
        res.fetchall(), [d[0] for d in res.description],
    )
    assert not problems, "\n".join(problems)
