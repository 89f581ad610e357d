"""Streaming checkpoint I/O: which CheckpointFileManager the engine's
sessions pick (session.use_filesystem_checkpoints), and the log-write
contract the offset, commit, source and metadata logs rely on, held by
both managers on a local directory."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from sqldataintegrationfunctiontriggerapp_spark.session import (
    use_filesystem_checkpoints,
)

_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MANAGER = _PKG + "FileSystemBasedCheckpointFileManager"
_FC_MANAGER = _PKG + "FileContextBasedCheckpointFileManager"


def _hadoop_conf(session):
    return session._jsparkSession.sessionState().newHadoopConf()


def _hpath(spark, path):
    return spark._jvm.org.apache.hadoop.fs.Path(str(path))


def _create(spark, path, hadoop_conf):
    cfm = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return cfm.CheckpointFileManager.create(_hpath(spark, path), hadoop_conf)


def test_session_writes_local_checkpoints_through_filesystem_api(
    spark, tmp_path
):
    mgr = _create(spark, tmp_path, _hadoop_conf(spark))
    assert mgr.getClass().getName() == _FS_MANAGER


def test_non_local_default_filesystem_keeps_spark_default(spark):
    # a new session shares the SparkContext but starts from an unset
    # manager class; its SQL conf feeds newHadoopConf, so fs.defaultFS
    # set there is the default filesystem the helper sees
    other = spark.newSession()
    other.conf.set("fs.defaultFS", "hdfs://nn:8020")
    use_filesystem_checkpoints(other)
    assert other.conf.get(_CONF, None) is None

    local = spark.newSession()
    use_filesystem_checkpoints(local)
    assert local.conf.get(_CONF) == _FS_MANAGER


def test_explicit_manager_class_is_kept(spark):
    other = spark.newSession()
    other.conf.set(_CONF, _FC_MANAGER)
    use_filesystem_checkpoints(other)
    assert other.conf.get(_CONF) == _FC_MANAGER


def _write(mgr, path, data: bytes, overwrite: bool) -> None:
    # the temp file is renamed onto `path` by close()
    out = mgr.createAtomic(path, overwrite)
    out.write(bytearray(data))
    out.close()


@pytest.mark.parametrize("manager", [_FS_MANAGER, _FC_MANAGER])
def test_create_atomic_without_overwrite_keeps_existing_log_entry(
    spark, tmp_path, manager
):
    """Log entries are written with overwriteIfPossible=False: a second
    writer of batch N must fail and leave the first entry's bytes."""
    # CheckpointFileManager.create reads the class from the Hadoop conf,
    # which is how a session's SQL conf reaches it
    conf = _hadoop_conf(spark)
    conf.set(_CONF, manager)
    mgr = _create(spark, tmp_path, conf)
    assert mgr.getClass().getName() == manager
    entry = _hpath(spark, tmp_path / "0")

    _write(mgr, entry, b"v1\nfirst", overwrite=False)
    assert os.path.exists(tmp_path / ".0.crc")
    with pytest.raises(Py4JJavaError) as err:
        _write(mgr, entry, b"v1\nsecond", overwrite=False)
    # Hadoop's FileAlreadyExistsException or Spark's
    assert err.value.java_exception.getClass().getName().endswith(
        "FileAlreadyExistsException"
    )
    assert (tmp_path / "0").read_bytes() == b"v1\nfirst"
