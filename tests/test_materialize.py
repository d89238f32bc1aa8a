"""The materialization primitive (operators/partitioning.py):
``MaterializeScope`` and ``checkpoint``, plus the rule that no other
library module persists, caches or checkpoints on its own."""

from __future__ import annotations

import logging
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from auto_ts_spark.operators.partitioning import (
    MaterializeScope,
    cache_if_costly,
)


def _stored_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_scope_releases_held_frames_on_return_and_raise(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with MaterializeScope() as scope:
        held = scope.hold(spark.range(100).withColumn("y", F.col("id") * 2))
        assert held.count() == 100
        assert not cm.isEmpty()
    assert cm.isEmpty()
    with pytest.raises(RuntimeError):
        with MaterializeScope() as scope:
            scope.hold(spark.range(10)).count()
            raise RuntimeError("boom")
    assert cm.isEmpty()


def test_scope_checkpoint_belongs_to_result_unless_raised(spark):
    base = _stored_ids(spark)
    with MaterializeScope() as scope:
        ck = scope.checkpoint(spark.range(50).withColumn("y", F.col("id") + 1))
        # checkpointing the same frame again is a no-op
        assert scope.checkpoint(ck) is ck
        new = _stored_ids(spark) - base
        assert len(new) == 1
    # normal exit: the result still reads the checkpoint's blocks
    assert new <= _stored_ids(spark)
    assert ck.count() == 50
    # raise: nothing references the blocks, the scope frees them
    base = _stored_ids(spark)
    with pytest.raises(RuntimeError):
        with MaterializeScope() as scope:
            scope.checkpoint(spark.range(30))
            new = _stored_ids(spark) - base
            assert new
            raise RuntimeError("boom")
    assert not (_stored_ids(spark) & new)


def test_scope_release_frees_one_frame_early(spark):
    base = _stored_ids(spark)
    with MaterializeScope() as scope:
        first = scope.checkpoint(spark.range(20))
        first_ids = _stored_ids(spark) - base
        second = scope.hold(spark.range(40))
        second.count()
        scope.release(first)
        assert not (_stored_ids(spark) & first_ids)
        assert _stored_ids(spark) - base  # the held frame is still there
    assert not (_stored_ids(spark) - base)


def test_cache_if_costly_logs_probe_failure_and_caches(spark, caplog):
    """A broken size probe is logged (not a bare warning) and falls
    back to the scale-safe unconditional cache."""

    class _NoStats:
        _jdf = None  # any probe access raises

    df = spark.range(10)
    logger = "auto_ts_spark.operators.partitioning"
    with caplog.at_level(logging.WARNING, logger=logger):
        out = cache_if_costly(df, _NoStats())
    try:
        assert out.storageLevel.useMemory is True
        msgs = [
            r for r in caplog.records
            if r.name == logger
            and "size probe failed" in r.getMessage()
        ]
        assert len(msgs) == 1 and msgs[0].levelno == logging.WARNING
    finally:
        out.unpersist()


_MATERIALIZE = re.compile(
    r"\.persist\(|\.cache\(\)|\.unpersist\(|localCheckpoint\("
)


def test_no_materialization_outside_the_primitive():
    """Every persist, cache, unpersist and localCheckpoint in the
    library goes through operators/partitioning.py. auto.py is exempt:
    its caches are fitted-model state that lives as long as the model."""
    root = pathlib.Path(__file__).resolve().parent.parent / "auto_ts_spark"
    allowed = {root / "operators" / "partitioning.py", root / "auto.py"}
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _MATERIALIZE.search(line)
    ]
    assert not hits, "\n".join(hits)
