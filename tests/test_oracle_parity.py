"""Every registered query with an oracle must hash-match DuckDB —
the local twin of the driver's CORRECTNESS gate, run at sf0.001 for
speed (the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

from citybikedatawarehouse_spark.plans.catalog import ORACLES, QUERIES
from tests.oracle_harness import compare


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    compare(spark, name, QUERIES[name], ORACLES[name], sf_dir)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    """Queries without an oracle still must execute and return a
    stable schema."""
    df = QUERIES[name](spark, sf_dir)
    assert df.columns  # schema resolves
    assert df.count() >= 0


def test_q281_oracle_parity_at_sf001(spark, sf_dir, monkeypatch):
    """q281's customer range covers every customer at sf0.001, so there
    it prunes by date alone. At sf0.01 the oracle must still match and
    the customer zones must prune too: the two-predicate read opens
    fewer files than the date predicate alone would."""
    import os

    from citybikedatawarehouse_spark.operators import table_format

    name = "q281_zorder_zonemap_prune"
    real, reads = table_format.fl_read_pruned, []

    def spy(spark, root, preds, *a, **kw):
        out = real(spark, root, preds, *a, **kw)
        by_date = real(spark, root, {"o_orderdate": preds["o_orderdate"]})
        reads.append((out[1], by_date[1]))
        return out

    monkeypatch.setattr(table_format, "fl_read_pruned", spy)
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    compare(spark, name, QUERIES[name], ORACLES[name], sf001)
    ((n_read, n_by_date),) = reads
    assert n_read < n_by_date
