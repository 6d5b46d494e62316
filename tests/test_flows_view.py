"""Session-scoped parquet copies behind the ``flows_v`` oracle view:
keyed on the session object, and each copy's directory is removed
when a newer scale factor supersedes it or its finalizer runs."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR, SF_DIR_MED


def _root(finalizer) -> str:
    return finalizer.peek()[2][0]


def test_superseded_and_finalized_copies_are_removed(spark):
    from akvorado_spark.oracle import flows_view

    name = "flows_v_cleanup_test"
    flows_view.register_spark_view(spark, SF_DIR, name)
    per = flows_view._MATERIALIZED[spark]
    first = per[(SF_DIR, name)]
    root1 = _root(first)
    assert os.path.isdir(root1)
    n1 = spark.table(name).count()

    # same (session, sf, name): the copy is reused, not rewritten
    flows_view.register_spark_view(spark, SF_DIR, name)
    assert per[(SF_DIR, name)] is first and os.path.isdir(root1)

    # another scale factor supersedes it: the old directory is gone
    flows_view.register_spark_view(spark, SF_DIR_MED, name)
    assert not os.path.exists(root1) and not first.alive
    assert (SF_DIR, name) not in per
    second = per[(SF_DIR_MED, name)]
    root2 = _root(second)
    assert os.path.isdir(root2)
    assert spark.table(name).count() > n1

    # the finalizer (run when the session is collected, or at exit)
    # removes the live copy too
    second()
    assert not os.path.exists(root2) and not second.alive
    del per[(SF_DIR_MED, name)]
    spark.catalog.dropTempView(name)
