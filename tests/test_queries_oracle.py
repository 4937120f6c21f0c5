"""Every registered query with an oracle must match DuckDB exactly —
the local mirror of the driver's CORRECTNESS gate (sf0.001 here; the
driver runs sf0.01)."""

from __future__ import annotations

import pytest

from spark_sql_pubsub_connector_spark.plans import all_specs

from .oracle_util import assert_oracle_match

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    df = spec.build(spark, sf_dir)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver's
        return
    assert_oracle_match(df, duck, spec.oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    oracles = e.oracle_sql()
    # the driver contract surface IS the registry: every registered
    # query is exported, and exactly the oracle-bearing ones have SQL
    assert names == set(SPECS)
    assert set(oracles) == {n for n, s in SPECS.items() if s.oracle is not None}

