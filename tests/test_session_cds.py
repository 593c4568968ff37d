"""The driver JVM's class-data-sharing archive (``session._cds_plan``).

The decision helper is tested on fake JDK/Spark/cache trees with no JVM;
one subprocess test drives ``python -m hhek2sqlite_spark convert``
through creation, mapping (with and without the promoted log), a refused
(garbage) archive and a truncated one. ``get_spark``'s and
``tune_existing``'s conf sets are pinned on fake builders and sessions.
"""

import os
import sqlite3
import subprocess
import sys
import time
import types

import pytest

from hhek2sqlite_spark import session
from hhek2sqlite_spark.schema.fixtures import golden_tables
from hhek2sqlite_spark.sources.sqlite_io import write_database

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the three region lines a finished dump logs, ending at 4096 + 3000 bytes
REGIONS = (
    "[1.0s][info][cds] Shared file region (rw )  0: 1000 bytes, addr 0x0 file offset 0x00001000 crc 0x1\n"
    "[1.0s][info][cds] Shared file region (ro )  1: 1000 bytes, addr 0x0 file offset 0x000013e8 crc 0x2\n"
    "[1.0s][info][cds] Shared file region (bm )  2: 1000 bytes, addr 0x0 file offset 0x000017d0 crc 0x3\n"
)
DUMP_END = 0x17D0 + 1000


def _touch(path, data=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture
def cds(tmp_path, monkeypatch):
    """Fake JDK, Spark home (templates-only conf dir) and cache dir; yields
    the cache dir and ``<cache>/<key>``."""
    _touch(str(tmp_path / "jdk" / "bin" / "java"))
    _touch(str(tmp_path / "jdk" / "lib" / "modules"))
    for name in ("a.jar", "b.jar"):
        _touch(str(tmp_path / "spark" / "jars" / name))
    _touch(str(tmp_path / "spark" / "conf" / "log4j2.properties.template"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    cache = str(tmp_path / "xdg" / "hhek2sqlite_spark" / "cds")
    yield cache, os.path.join(cache, session._cds_key(str(tmp_path / "spark")))


def test_first_start_creates_and_a_concurrent_one_starts_plain(cds):
    cache, base = cds
    state, opts, got = session._cds_plan(False, {})
    assert (state, got) == ("created", base)
    assert f"-XX:ArchiveClassesAtExit={base}.{os.getpid()}.jsa" in opts
    assert opts.startswith("-Xlog:cds=off -Xlog:cds+dynamic=off ")
    with open(base + ".lock") as fh:
        assert fh.read().split() == [str(os.getpid())]
    assert os.listdir(os.path.join(cache, "conf")) == []
    assert session._cds_plan(False, {})[:2] == ("skipped:being-created", "")


def test_a_complete_candidate_is_promoted_and_other_keys_deleted(cds):
    cache, base = cds
    pid = _dead_pid()
    _touch(f"{base}.{pid}.jsa", b"\0" * DUMP_END)
    _touch(f"{base}.{pid}.log", REGIONS.encode())
    _touch(base + ".lock", f"{pid} {_dead_pid()}".encode())
    others = ["0123456789abcdef.jsa", "0123456789abcdef.77.jsa", "0123456789abcdef.77.log", "0123456789abcdef.lock"]
    for name in others:
        _touch(os.path.join(cache, name))
    state, opts, _ = session._cds_plan(False, {})
    assert state == "mapped"
    assert opts.endswith(f"-XX:SharedArchiveFile={base}.jsa")
    key = os.path.basename(base)
    assert sorted(os.listdir(cache)) == sorted(["conf", key + ".jsa", key + ".log"])
    with open(base + ".log") as fh:
        assert fh.read() == REGIONS  # the candidate's log, kept to re-check the archive


def test_an_archive_cut_short_after_promotion_is_never_mapped(cds):
    _, base = cds
    _touch(base + ".jsa", b"\0" * (DUMP_END - 1))
    _touch(base + ".log", REGIONS.encode())
    state, opts, _ = session._cds_plan(False, {})
    assert state == "created" and "SharedArchiveFile" not in opts
    assert not os.path.exists(base + ".jsa") and not os.path.exists(base + ".log")


def test_an_archive_without_a_log_is_mapped(cds):
    _, base = cds
    _touch(base + ".jsa", b"\0" * DUMP_END)
    state, opts, _ = session._cds_plan(False, {})
    assert state == "mapped" and opts.endswith(f"-XX:SharedArchiveFile={base}.jsa")
    # a complete archive with its log maps too, and both stay
    _touch(base + ".log", REGIONS.encode())
    assert session._cds_plan(False, {})[0] == "mapped"
    assert os.path.exists(base + ".jsa") and os.path.exists(base + ".log")


def test_a_truncated_candidate_is_deleted_never_promoted(cds):
    _, base = cds
    pid = _dead_pid()
    _touch(f"{base}.{pid}.jsa", b"\0" * (DUMP_END - 1))
    _touch(f"{base}.{pid}.log", REGIONS.encode())
    _touch(base + ".lock", f"{pid} {_dead_pid()}".encode())
    state, _, _ = session._cds_plan(False, {})
    assert state == "created"  # nothing to map: this start creates anew
    assert not os.path.exists(base + ".jsa")
    assert not os.path.exists(f"{base}.{pid}.jsa") and not os.path.exists(f"{base}.{pid}.log")
    # a log missing a region line (a dump cut before its bitmap) is no better
    os.remove(base + ".lock")
    _touch(f"{base}.{pid}.jsa", b"\0" * DUMP_END)
    _touch(f"{base}.{pid}.log", REGIONS.rsplit("[1.0s]", 1)[0].encode())
    _touch(base + ".lock", str(pid).encode())
    assert session._cds_plan(False, {})[0] == "created"
    assert not os.path.exists(base + ".jsa")


def test_a_candidate_whose_jvm_is_alive_is_left_alone(cds):
    _, base = cds
    pid = _dead_pid()
    _touch(f"{base}.{pid}.jsa", b"\0" * DUMP_END)
    _touch(f"{base}.{pid}.log", REGIONS.encode())
    _touch(base + ".lock", f"{pid} {os.getpid()}".encode())
    assert session._cds_plan(False, {})[:2] == ("skipped:being-created", "")
    assert os.path.exists(f"{base}.{pid}.jsa") and not os.path.exists(base + ".jsa")


def test_a_stale_lock_is_cleared(cds):
    _, base = cds
    _touch(base + ".lock", f"{_dead_pid()} {_dead_pid()}".encode())
    assert session._cds_plan(False, {})[0] == "created"
    with open(base + ".lock") as fh:
        assert fh.read().split() == [str(os.getpid())]


def test_plain_starts(cds, tmp_path, monkeypatch):
    cache, base = cds
    assert session._cds_plan(True, {}) == ("skipped:running-jvm", "", "")
    assert session._cds_plan(False, {"spark.driver.defaultJavaOptions": "-Xss4m"}) == ("skipped:java-options", "", "")
    _touch(str(tmp_path / "spark" / "conf" / "spark-defaults.conf"))
    assert session._cds_plan(False, {}) == ("skipped:conf-dir", "", "")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "empty-conf"))
    _touch(str(tmp_path / "not-a-dir"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir"))
    assert session._cds_plan(False, {}) == ("skipped:os-error", "", "")
    assert not os.path.exists(cache)


def test_the_key_follows_the_jars(cds, tmp_path):
    _, base = cds
    _touch(str(tmp_path / "spark" / "jars" / "c.jar"))
    assert session._cds_key(str(tmp_path / "spark")) != os.path.basename(base)


def test_a_refused_archive_is_deleted(cds):
    _, base = cds
    log = f"{base}.{os.getpid()}.log"
    _touch(base + ".jsa")
    _touch(base + ".log")
    _touch(log, b"[0.016s][info][cds] Mapped dynamic region #0 at base 0x0 top 0x1 (ReadWrite)\n")
    assert session._cds_started("mapped", base, 1) == "mapped"
    assert os.path.exists(base + ".jsa") and not os.path.exists(log)
    _touch(log, b"[0.007s][info][cds] UseSharedSpaces: The shared archive file has a bad magic number.\n")
    assert session._cds_started("mapped", base, 1) == "refused"
    assert not any(os.path.exists(p) for p in (base + ".jsa", base + ".log", log))


# the SQL confs both entry points set, besides the shuffle partition count
TUNED = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
}


class _Recorder:
    """Stands in for ``SparkSession.builder`` and for a session's
    ``conf``: records every key set, returns itself from the builder."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        self.conf["spark.app.name"] = name
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key=None, value=None, *, map=None):
        self.conf.update(map or {key: value})
        return self

    def getOrCreate(self):
        return self

    set = config


def test_get_spark_and_tune_existing_set_their_confs(monkeypatch):
    rec = _Recorder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=rec))
    monkeypatch.setattr(session, "DEFAULT_CPUS", "4")
    monkeypatch.setattr(session, "_cds_plan", lambda jvm_up, extra: ("skipped:test", "", ""))
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.get_spark("app") is rec
    assert rec.conf == {
        **TUNED,
        "spark.app.name": "app",
        "spark.master": "local[4]",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.codegen.cache.maxEntries": "2048",
    }

    class Session:
        conf = _Recorder()

        class sparkContext:
            defaultParallelism = 3

    assert session.tune_existing(Session) is Session
    assert Session.conf.conf == {**TUNED, "spark.sql.shuffle.partitions": "3"}


def test_the_session_jvm_loads_the_checkpoint_file_manager(spark):
    """A Spark upgrade that moves the configured manager fails here, not
    in the first streaming query."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == TUNED[key]
    loaded = spark._jvm.java.lang.Class.forName(TUNED[key])
    assert loaded.getName() == TUNED[key]


# the CLI exactly as ``python -m hhek2sqlite_spark``, then the start's case on stderr
CLI = """
import runpy, sys
try:
    runpy.run_module("hhek2sqlite_spark", run_name="__main__", alter_sys=True)
finally:
    from hhek2sqlite_spark import session
    print("CDS_STATE=" + session.CDS_STATE, file=sys.stderr)
"""


def test_cli_creates_maps_and_heals_the_archive(spark, tmp_path):
    src = str(tmp_path / "golden.db")
    out = str(tmp_path / "parquet")
    write_database(golden_tables(spark), src)
    con = sqlite3.connect(src)
    names = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
    expected = sorted(f"{n}: {con.execute(f'SELECT COUNT(*) FROM [{n}]').fetchone()[0]} rows" for n in names)
    con.close()
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"), PYTHONPATH=REPO)
    cache = str(tmp_path / "xdg" / "hhek2sqlite_spark" / "cds")

    def convert():
        proc = subprocess.run(
            [sys.executable, "-c", CLI, "convert", "--optin", src, "--optout", out],
            cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.splitlines()  # the CLI's own lines, nothing else
        assert sorted(lines[:-1]) == expected
        assert lines[-1] == f"converted {len(names)} tables: {src} -> {out}"
        return proc.stderr.splitlines()[-1]

    def await_creator():
        (lock,) = [n for n in os.listdir(cache) if n.endswith(".lock")]
        with open(os.path.join(cache, lock)) as fh:
            pids = [int(p) for p in fh.read().split()]
        assert len(pids) == 2
        deadline = time.monotonic() + 300
        while session._alive(pids[1]) and time.monotonic() < deadline:
            time.sleep(1)

    assert convert() == "CDS_STATE=created"
    await_creator()
    assert convert() == "CDS_STATE=mapped"
    (archive,) = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    path = os.path.join(cache, archive)
    log = path[: -len(".jsa")] + ".log"
    with open(path, "rb") as fh:
        head = fh.read(os.path.getsize(path) // 2)
    with open(log, "rb") as fh:
        regions = fh.read()
    # an archive promoted without its log still maps
    os.remove(log)
    assert convert() == "CDS_STATE=mapped"
    os.chmod(path, 0o644)
    with open(path, "wb") as fh:
        fh.write(os.urandom(4096))
    assert convert() == "CDS_STATE=refused"
    assert not os.path.exists(path)
    # an archive cut short after promotion would kill the JVM that maps
    # it; its log gives it away, so it is deleted and recreated unmapped
    with open(path, "wb") as fh:
        fh.write(head)
    with open(log, "wb") as fh:
        fh.write(regions)
    assert convert() == "CDS_STATE=created"
    assert not os.path.exists(path) and not os.path.exists(log)
    assert not [n for n in os.listdir(tmp_path) if n.startswith("hs_err_pid")]
    await_creator()
