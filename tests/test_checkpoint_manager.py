"""Which checkpoint file manager ``start_query`` gives a query's logs.

A local checkpoint is written through Hadoop's ``FileSystem`` manager
(one existence check and a rename per log entry) instead of Spark's
default ``FileContext`` one. These tests read the manager of each log
off the running query over py4j, and resume a checkpoint begun under
the default manager.
"""

from __future__ import annotations

import json
import os

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.manager import start_query

KEY = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_SYSTEM = "FileSystemBasedCheckpointFileManager"
FILE_CONTEXT = "FileContextBasedCheckpointFileManager"


def _land(feed: str, name: str, xs: list[int]) -> None:
    os.makedirs(feed, exist_ok=True)
    with open(os.path.join(feed, name), "w") as f:
        f.writelines(json.dumps({"x": x}) + "\n" for x in xs)


def _managers(q) -> dict[str, str]:
    """Simple class name of the file manager behind each checkpoint log
    of a (finished) file-source query."""
    sq = q._jsq.streamingQuery()
    src = sq.sources().apply(0)
    # FileStreamSource keeps its sources/0 log in a private field
    field = src.getClass().getDeclaredField("metadataLog")
    field.setAccessible(True)
    logs = {
        "offsets": sq.offsetLog(),
        "commits": sq.commitLog(),
        "sources/0": field.get(src),
    }
    return {k: log.fileManager().getClass().getSimpleName() for k, log in logs.items()}


def _collecting_writer(spark, feed: str, seen: list):
    def sink(batch, epoch_id: int) -> None:
        seen.append((epoch_id, sorted(r.x for r in batch.collect())))

    return (
        spark.readStream.schema("x long")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
        .writeStream.foreachBatch(sink)
    )


@pytest.fixture
def restore_manager_conf(spark):
    before = spark.conf.get(KEY, None)
    yield
    if before is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, before)


def test_local_checkpoint_logs_use_filesystem_manager(spark, tmp_path):
    feed = str(tmp_path / "feed")
    _land(feed, "a.json", [1, 2])
    seen: list = []
    q = start_query(_collecting_writer(spark, feed, seen), str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert seen == [(0, [1, 2])]
    assert _managers(q) == {
        "offsets": FILE_SYSTEM,
        "commits": FILE_SYSTEM,
        "sources/0": FILE_SYSTEM,
    }


def test_file_context_checkpoint_resumes_under_start_query(
    spark, tmp_path, restore_manager_conf
):
    """A checkpoint written by Spark's default manager (every existing
    user's) resumes through ``start_query``: the new file is processed
    exactly once and the batch ids continue with no gap."""
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    _land(feed, "a.json", [1, 2])
    _land(feed, "b.json", [3])

    spark.conf.set(KEY, PKG + FILE_CONTEXT)
    seen: list = []
    q = (
        _collecting_writer(spark, feed, seen)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _managers(q)["offsets"] == FILE_CONTEXT
    assert seen == [(0, [1, 2]), (1, [3])]

    _land(feed, "c.json", [4, 5])
    seen.clear()
    q = start_query(_collecting_writer(spark, feed, seen), ck)
    q.awaitTermination(120)
    assert q.exception() is None
    assert set(_managers(q).values()) == {FILE_SYSTEM}
    assert seen == [(2, [4, 5])]


def test_remote_checkpoint_keeps_spark_default(spark, tmp_path, restore_manager_conf):
    feed = str(tmp_path / "feed")
    _land(feed, "a.json", [1])
    start_query(_collecting_writer(spark, feed, []), str(tmp_path / "ck")).awaitTermination(120)
    assert spark.conf.get(KEY) == PKG + FILE_SYSTEM
    # no FileSystem serves this scheme, so start() fails before any I/O;
    # the manager choice has been made by then
    with pytest.raises(Exception, match="nofs"):
        start_query(_collecting_writer(spark, feed, []), "nofs://nowhere/ck")
    assert spark.conf.get(KEY, None) is None
