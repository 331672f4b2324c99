"""The in-JVM ``file:`` filesystem that ``session.get_spark`` installs in
local mode (``jvm/InJvmLocalFileSystem.java``).

Pinned here:

- under ``get_spark`` both Hadoop entry points resolve ``file:`` to the
  shim: ``FileSystem.get`` (parquet writes, the committer) and
  ``FileContext`` (the streaming checkpoint logs); without ``javac``
  neither is the shim;
- a parquet write and a ``run_file_stream`` drain leave the same files,
  the same ``.crc`` siblings and the same mode bits (Hadoop's umask
  applied) as Hadoop's default local filesystem;
- the conf builder fails closed without a JVM: no ``javac`` on PATH or a
  source that does not compile gives no confs, and a caller's own
  ``file:`` implementation wins;
- the conf builder extends a caller's ``spark.driver.extraClassPath``
  instead of replacing it;
- a gateway launched without the class is detected.
"""

from __future__ import annotations

import collections
import os
import re
import shutil
import stat
from contextlib import contextmanager

import pytest

from flight_events_flink_job_spark import session
from flight_events_flink_job_spark.sources.fixtures import load_table
from flight_events_flink_job_spark.sources.flight_adapter import (
    flight_event_json_with_corrupt,
)
from flight_events_flink_job_spark.streaming.job import run_file_stream

HAS_JAVAC = shutil.which("javac") is not None
# Hadoop's own local filesystem, set straight into the session's Hadoop
# conf; the FileSystem cache is keyed by scheme, so it is bypassed.
DEFAULT_FS = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.file.impl.disable.cache": "true",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _fs_classes(spark, hadoop_conf=None) -> tuple[str, str]:
    jvm = spark._jvm
    conf = hadoop_conf or spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    afs = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    return (
        fs.getClass().getName(),
        afs.getDefaultFileSystem().getClass().getName(),
    )


@contextmanager
def _default_fs(spark):
    for k, v in DEFAULT_FS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in DEFAULT_FS:
            spark.conf.unset(k)


def test_file_scheme_resolves_to_the_shim(spark):
    fs, afs = _fs_classes(spark)
    shim = (session.LOCAL_FS_CLASS, session.LOCAL_FS_CLASS + "$Fs")
    if HAS_JAVAC:
        assert (fs, afs) == shim
    else:
        # whatever Hadoop's service loader registers for file: (Hive's
        # ProxyLocalFileSystem when Hive is on the class path)
        assert fs != shim[0] and afs != shim[1]
    with _default_fs(spark):
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        assert _fs_classes(spark, conf) == (
            "org.apache.hadoop.fs.LocalFileSystem",
            "org.apache.hadoop.fs.local.LocalFs",
        )


def _layout(root: str) -> collections.Counter:
    """(path with uuids masked, is dir, mode bits) of every entry."""
    out: collections.Counter = collections.Counter()
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            st = os.stat(p)
            rel = UUID.sub("U", os.path.relpath(p, root))
            out[(rel, stat.S_ISDIR(st.st_mode), stat.S_IMODE(st.st_mode))] += 1
    return out


def _write_all(spark, staged: str, base) -> None:
    spark.range(3).coalesce(1).write.parquet(str(base / "parquet"))
    run_file_stream(spark, staged, str(base / "wh"), str(base / "ckpt"))


def test_writes_match_hadoop_default_fs(spark, sf_dir, tmp_path):
    staged = str(tmp_path / "in")
    flight_event_json_with_corrupt(load_table(spark, sf_dir, "events")).coalesce(
        1
    ).write.text(staged)
    _write_all(spark, staged, tmp_path / "shim")
    with _default_fs(spark):
        _write_all(spark, staged, tmp_path / "default")

    shim = _layout(str(tmp_path / "shim"))
    assert shim == _layout(str(tmp_path / "default"))
    umask = int(spark._jsc.hadoopConfiguration().get("fs.permissions.umask-mask", "022"), 8)
    for (rel, is_dir, mode), _ in shim.items():
        assert mode == (0o777 if is_dir else 0o666) & ~umask, rel
    # every file (part files, _SUCCESS, checkpoint logs) has its checksum
    names = {rel for rel, is_dir, _ in shim if not is_dir}
    data = {r for r in names if not r.endswith(".crc")}
    assert {r for r in names if r.endswith(".crc")} == {
        os.path.join(os.path.dirname(r), f".{os.path.basename(r)}.crc") for r in data
    }
    assert {r.split("/")[0] for r in data} == {"parquet", "wh", "ckpt"}


def test_conf_builder_without_javac_is_empty(monkeypatch, tmp_path):
    monkeypatch.setenv("PATH", str(tmp_path))
    assert session.local_fs_conf() == {}
    assert session.local_fs_conf({session.CLASSPATH_CONF: "/a.jar"}) == {}


def test_conf_builder_fails_closed_on_a_failed_compile(monkeypatch, tmp_path):
    if not HAS_JAVAC:
        pytest.skip("no javac")
    broken = tmp_path / "Broken.java"
    broken.write_text("class Broken { not java }\n")
    classes = os.path.join(os.path.dirname(session.LOCAL_FS_SOURCE), "classes")
    before = set(os.listdir(classes)) if os.path.isdir(classes) else set()
    monkeypatch.setattr(session, "LOCAL_FS_SOURCE", str(broken))
    assert session.local_fs_conf() == {}
    assert set(os.listdir(classes)) == before


def test_conf_builder_extends_caller_classpath():
    if not HAS_JAVAC:
        pytest.skip("no javac")
    bare = session.local_fs_conf()
    classes = bare[session.CLASSPATH_CONF]
    assert os.path.isfile(
        os.path.join(classes, *session.LOCAL_FS_CLASS.split(".")) + ".class"
    )
    caller = os.pathsep.join(["lib/a.jar", "lib/b"])
    conf = session.local_fs_conf({session.CLASSPATH_CONF: caller})
    assert conf[session.CLASSPATH_CONF] == caller + os.pathsep + classes
    assert conf[session.FS_IMPL_CONF] == session.LOCAL_FS_CLASS
    assert conf[session.AFS_IMPL_CONF] == session.LOCAL_FS_CLASS + "$Fs"
    # a caller naming its own file: implementation keeps it
    assert session.local_fs_conf({session.FS_IMPL_CONF: "x.Fs"}) == {}


def test_gateway_without_the_class_is_detected(spark):
    assert session._gateway_lacks("flightspark.fs.NoSuchClass")
    assert session._gateway_lacks(session.LOCAL_FS_CLASS) == (not HAS_JAVAC)
