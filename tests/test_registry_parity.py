"""Every oracled registry entry matches its DuckDB oracle at sf0.001 and
sf0.01, through the same comparison ``tools/parity.py`` runs (row count,
column names, order-insensitive value hash), and returns rows: an empty
answer on both sides would otherwise pass as parity."""

from __future__ import annotations

import pytest

from hive_scripts_spark.plans.registry import ORACLES, QUERIES
from tools.parity import differences, duck_connect, duck_frame, spark_frame

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

# The only (scale, query) answers that are empty: at sf0.001 no lineitem
# ships between TPC-H Q7's two nations.
EMPTY = {("/root/testdata/sf0.001", "g_q7_volume_shipping")}


@pytest.fixture(scope="module")
def duck():
    cons = {sf: duck_connect(sf) for sf in SCALES}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
@pytest.mark.parametrize("sf_dir", SCALES, ids=["sf0.001", "sf0.01"])
def test_query_matches_its_oracle(spark, duck, sf_dir, name):
    spark_side = spark_frame(spark, QUERIES[name], sf_dir)
    duck_side = duck_frame(duck[sf_dir], ORACLES[name])
    assert not differences(spark_side, duck_side)
    empty = (sf_dir, name) in EMPTY
    assert bool(spark_side[1]) != empty, (
        f"{len(spark_side[1])} rows; expected {'none' if empty else 'some'}"
    )
