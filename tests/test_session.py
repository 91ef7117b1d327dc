"""``session.persisted``: the one scope for a cache library code makes for
its own passes."""

import pytest
from pyspark import StorageLevel

from smalltsdb_spark.session import persisted


def test_persisted_releases_its_caches_and_leaves_the_callers(spark):
    """The scope releases what it persisted, error or not, and leaves a
    relation the caller had already cached as it was: neither persisted
    again nor released."""
    theirs = spark.range(7).cache()
    mine = spark.range(9)
    try:
        with pytest.raises(RuntimeError, match="injected"):
            with persisted(spark.range(7), mine) as (_, held):
                assert held.storageLevel != StorageLevel.NONE
                raise RuntimeError("injected failure inside the scope")
        assert mine.storageLevel == StorageLevel.NONE
        assert theirs.storageLevel != StorageLevel.NONE
    finally:
        theirs.unpersist()
