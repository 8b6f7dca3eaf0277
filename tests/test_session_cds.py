"""Class-data sharing for the driver JVM (``session.get_spark``).

Each case starts fresh driver JVMs in subprocesses whose
``XDG_CACHE_HOME`` is a temporary directory, so the archive cache is
the test's own: the first session writes the archive when it exits,
the next one maps it, and a damaged or stale archive, a real
``SPARK_CONF_DIR`` or a partial file another live process is writing
still give a session with correct rows."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from reddit_can_bigdata_spark.session import _MAGIC

REPO = Path(__file__).resolve().parent.parent

#: one session: a query, then what the JVM was launched with
_SESSION = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
before = os.environ.get("SPARK_CONF_DIR")
from reddit_can_bigdata_spark import session
spark = session.get_spark("cds-test")
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(1000).selectExpr("sum(id) AS s").collect()[0]["s"]
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({
    "cds": session.LAST_CDS,
    "rows": rows,
    "args": args,
    "conf_dir_restored": os.environ.get("SPARK_CONF_DIR") == before,
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
}))
"""


def _session(cache: Path, **env) -> tuple[dict, str]:
    """Run one session; its JSON line and its standard error."""
    full = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2",
                SPARK_GRAFT_DRIVER_MEM="1g", **env)
    full["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO)],
        env=full, capture_output=True, text=True, timeout=300, check=True,
    )
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout  # the JVM adds no line to stdout
    # nor a unified-logging line (``[warning][cds] ...``) or a traceback
    # of the exit that waits for the dump to stderr
    bad = ("[warning]", "[error]", "[cds", "Traceback")
    assert not any(t in out.stderr for t in bad), out.stderr
    got = json.loads(lines[0])
    assert got["rows"] == 499500 and got["conf_dir_restored"], got
    return got, out.stderr


def _cds_dir(cache: Path) -> Path:
    return cache / "reddit-can-bigdata-spark" / "cds"


def _files(cache: Path) -> list[str]:
    return sorted(p.name for p in _cds_dir(cache).iterdir() if p.is_file())


@pytest.fixture(scope="module")
def archive(tmp_path_factory) -> Path:
    """The partial archive a first session wrote on exit, in its cache;
    a copy of it sits next to that cache as ``archive.jsa``."""
    cache = tmp_path_factory.mktemp("cds") / "cache"
    first, _ = _session(cache)
    assert first["cds"]["decision"] == "dumping", first
    partial = Path(first["cds"]["archive"])
    assert f"-XX:ArchiveClassesAtExit={partial}" in first["args"]
    # the partial file is finished once the session's process has exited
    assert partial.read_bytes()[:4] == _MAGIC
    shutil.copyfile(partial, cache.parent / "archive.jsa")
    return partial


def _key(archive: Path) -> str:
    return archive.name.split(".")[0]


def _copy(archive: Path) -> Path:
    return archive.parents[3] / "archive.jsa"


def test_dump_then_promote_then_use(archive):
    """The second session renames the finished partial to
    ``<key>-<bytes>.jsa`` and its JVM maps that file."""
    cache = archive.parents[2]
    size = _copy(archive).stat().st_size
    second, _ = _session(cache)
    promoted = _cds_dir(cache) / f"{_key(archive)}-{size}.jsa"
    assert second["cds"] == {"decision": "used", "archive": str(promoted)}
    assert f"-XX:SharedArchiveFile={promoted}" in second["args"]
    assert "-Xshare:auto" in second["args"]
    assert _files(cache) == [promoted.name]
    # Spark's conf dir holds templates only: the JVM got an empty one
    assert Path(second["jvm_conf_dir"]) == _cds_dir(cache) / "conf"
    assert not os.listdir(second["jvm_conf_dir"])


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_damaged_archive_is_rewritten_not_mapped(damage, archive, tmp_path):
    """A truncated archive would crash a JDK 17 JVM that maps it
    (SIGBUS), so it is deleted and written again; so is garbage."""
    good = _copy(archive)
    target = _cds_dir(tmp_path) / f"{_key(archive)}-{good.stat().st_size}.jsa"
    target.parent.mkdir(parents=True)
    if damage == "truncated":
        with open(good, "rb") as src, open(target, "wb") as dst:
            dst.write(src.read(1 << 20))
    else:
        target.write_bytes(os.urandom(1 << 20))
    got, _ = _session(tmp_path)
    assert got["cds"]["decision"] == "dumping", got
    assert not any("SharedArchiveFile" in a for a in got["args"])
    assert not target.exists()


def test_stale_archive_is_ignored_by_the_jvm(archive, tmp_path):
    """An archive of another JDK build under this key (its JVM ident
    edited) passes the file checks; the JVM rejects it and starts
    without it."""
    data = bytearray(_copy(archive).read_bytes())
    at = data.find(b"OpenJDK 64-Bit Server VM (", 0, 4096)
    assert at > 0
    data[at:at + 7] = b"OtherVM"
    target = _cds_dir(tmp_path) / f"{_key(archive)}-{len(data)}.jsa"
    target.parent.mkdir(parents=True)
    target.write_bytes(data)
    got, _ = _session(tmp_path)
    assert got["cds"] == {"decision": "used", "archive": str(target)}


def test_real_conf_dir_is_left_alone_and_cds_skipped(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.redditCan.probe true\n")
    got, _ = _session(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert got["cds"] == {
        "decision": f"skipped: SPARK_CONF_DIR {conf} holds spark-defaults.conf",
        "archive": None,
    }
    assert got["jvm_conf_dir"] == str(conf)
    assert not any("SharedArchive" in a or "ArchiveClasses" in a for a in got["args"])
    assert os.listdir(conf) == ["spark-defaults.conf"]


def test_live_writer_partial_is_never_promoted(archive, tmp_path):
    """A partial archive whose process is alive may still be written:
    it is not renamed or mapped, and no second dump starts."""
    cds = _cds_dir(tmp_path)
    cds.mkdir(parents=True)
    writer = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
    try:
        partial = cds / f"{_key(archive)}.jsa.{writer.pid}"
        shutil.copyfile(_copy(archive), partial)
        got, _ = _session(tmp_path)
        assert got["cds"] == {
            "decision": "skipped: another process is writing the archive",
            "archive": None,
        }
        assert _files(tmp_path) == [partial.name]
    finally:
        writer.kill()
        writer.wait()


def test_settle_prunes_other_keys_and_dead_partials(tmp_path, monkeypatch):
    """Without a JVM: finished files of other keys and partials without
    the header magic are deleted; the first intact file of the key wins."""
    from reddit_can_bigdata_spark import session

    magic = _MAGIC + b"\0" * 60
    key, other = "0123456789abcdef", "fedcba9876543210"
    (tmp_path / f"{other}-64.jsa").write_bytes(magic)
    (tmp_path / f"{other}.jsa.11").write_bytes(magic)
    (tmp_path / f"{key}.jsa.12").write_bytes(magic)
    (tmp_path / f"{key}.jsa.13").write_bytes(b"\0" * 64)
    (tmp_path / "conf").mkdir()
    monkeypatch.setattr(session, "_writer_gone", lambda pid: True)
    archive, writing = session._settle(tmp_path, key)
    assert archive == tmp_path / f"{key}-64.jsa" and not writing
    assert sorted(p.name for p in tmp_path.iterdir()) == [archive.name, "conf"]
