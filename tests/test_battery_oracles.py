"""The query battery in __spark_entry__.py: every queries() entry matches
its DuckDB oracle at sf0.001, and the flagship entry() returns rows."""

import __spark_entry__ as entrymod
from tools import check_oracles

SF_DIR = "/root/testdata/sf0.001"


def test_battery_matches_oracles(spark):
    con = check_oracles.connect(SF_DIR)
    assert check_oracles.check(spark, con, SF_DIR,
                               list(entrymod.queries())) == []
    assert entrymod.entry(spark).count() > 0
