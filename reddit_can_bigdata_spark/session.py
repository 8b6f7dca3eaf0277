"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting here is chosen to
also make sense on a large multi-executor cluster reading ~100 TB:

- **AQE on** (coalesce shuffle partitions, skew-join handling, runtime
  join-strategy switches) so plans re-optimize with real statistics.
- **Arrow on** for the few Pandas-UDF paths (similarity / multimodal);
  everything else stays JVM-side in whole-stage codegen.
- **UTC session timezone** so timestamp semantics are deterministic and
  independent of the host machine.
- **JDK case mapping** (``spark.sql.icu.caseMappings.enabled=false``):
  ``lower``/``upper`` skip a one-time ICU table build per JVM (see the
  comment in :func:`get_spark`).
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE coalesces from a deliberately high initial
  number, so we set the *initial* partition number high and let AQE
  shrink it (cheap locally, correct at scale).
- **Class-data sharing (CDS) for the driver JVM.** A cold driver
  loads and verifies several thousand Spark classes before its first
  query, about half of the session start. When :func:`get_spark`
  launches a JVM it maps those classes from an archive of pre-parsed
  classes instead: JDK 19's ``-XX:+AutoCreateSharedArchive``, built
  by hand on JDK 17 (:func:`_cds_options`). The archive lives under
  ``${XDG_CACHE_HOME:-~/.cache}/reddit-can-bigdata-spark/cds/``, one
  per key (the JDK, the jars on the launcher's classpath, the pyspark
  version), so a JDK or jar change builds a new one and the old one
  is deleted. The first JVM of a key writes it when it exits
  (``-XX:ArchiveClassesAtExit`` to ``<key>.jsa.<pid>``); the next
  launch renames a finished one to ``<key>-<bytes>.jsa`` and maps it
  (``-XX:SharedArchiveFile``, ``-Xshare:auto``). JDK 17 ignores an
  archive that does not fit the JDK or the classpath, but a truncated
  one crashes it (SIGBUS), so a file whose header magic or byte count
  is wrong is deleted and written again, never mapped. A bad archive
  costs start-up time, never results; deleting the directory is
  always safe. The choice of the last launch is kept in
  :data:`LAST_CDS`.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import re
import shutil
import subprocess
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_log = logging.getLogger(__name__)

#: observability: how the driver JVM that :func:`get_spark` launched
#: last uses class-data sharing — ``decision`` is ``used``,
#: ``dumping`` or ``skipped: <reason>``, ``archive`` the file it maps
#: or writes (None when skipped). Empty until get_spark launches a JVM.
LAST_CDS: dict[str, str | None] = {}

#: the cds log tags stay silent: a dump warns once per signed jar, and
#: a rejected archive would say why, on the JVM's stdout, which the
#: Python process shares
_CDS_QUIET = "-Xlog:cds*=off,class+path*=off"
#: seconds the exit of a Python process waits for its JVM to finish
#: writing the archive, so that a dead pid means a finished file
_DUMP_WAIT_S = 120
#: a partial archive ``<key>.jsa.<pid>``, or a finished one ``<key>-<bytes>.jsa``
_ARCHIVE = re.compile(r"(?P<key>[0-9a-f]{16})(?:-(?P<size>\d+))?\.jsa(?:\.(?P<pid>\d+))?$")
#: the first word of a finished dynamic archive; the JVM writes the
#: header last, so a file still being written does not start with it
_MAGIC = (0xF00BABA8).to_bytes(4, "little")
_dump_proc = None  # the JVM of this process that writes an archive at exit


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "reddit-can-bigdata-spark" / "cds"


def _java_home() -> Path | None:
    home = os.environ.get("JAVA_HOME")
    if home:
        return Path(home).resolve()
    java = shutil.which("java")
    return Path(java).resolve().parent.parent if java else None


def _cds_key(java_home: Path, release: bytes, spark_home: str) -> str:
    """Hash of the JDK, the launcher classpath's jars and pyspark."""
    from pyspark import __version__

    h = hashlib.sha256(f"{java_home}\0{__version__}\0".encode() + release)
    jars = Path(spark_home) / "jars"
    for jar in sorted(jars.iterdir()) if jars.is_dir() else ():
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _writer_gone(pid: int) -> bool:
    """True once the process that names a partial archive has exited
    (for this process: once its dumping JVM has)."""
    if pid == os.getpid():
        return _dump_proc is None or _dump_proc.poll() is not None
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False
    return False


def _intact(path: Path, size: str | None) -> bool:
    with open(path, "rb") as f:
        magic = f.read(len(_MAGIC))
    return magic == _MAGIC and (size is None or int(size) == path.stat().st_size)


def _settle(cache: Path, key: str) -> tuple[Path | None, bool]:
    """Rename a finished ``<key>.jsa.<pid>`` to ``<key>-<bytes>.jsa``;
    delete every finished file of another key and every damaged one.
    Returns the key's intact archive (or None) and whether a live
    process still writes one for the key."""
    archive, writing = None, False
    for path in sorted(cache.iterdir()):
        m = _ARCHIVE.match(path.name)
        if m is None:
            continue
        if m["pid"] is not None and not _writer_gone(int(m["pid"])):
            writing |= m["key"] == key
        elif m["key"] == key and archive is None and _intact(path, m["size"]):
            archive = path
            if m["pid"] is not None:
                archive = cache / f"{key}-{path.stat().st_size}.jsa"
                os.replace(path, archive)
        else:
            path.unlink(missing_ok=True)
    return archive, writing


def _cds_options() -> tuple[str | None, str | None]:
    """Record in :data:`LAST_CDS` whether the driver JVM about to be
    launched uses, writes or skips the archive; return its java options
    and the ``SPARK_CONF_DIR`` to launch it with (None: leave both)."""
    from pyspark.find_spark_home import _find_spark_home

    def skip(reason: str) -> tuple[None, None]:
        _record(f"skipped: {reason}", None)
        return None, None

    java_home = _java_home()
    release = java_home / "release" if java_home else None
    if release is None or not release.is_file():
        return skip("no JDK release file")
    spark_home = _find_spark_home()
    # JDK 17 refuses to dump while a non-empty directory is on the
    # classpath; the launcher puts the conf dir (and the Hadoop/YARN
    # ones when set) there. A conf dir of templates is the same as an
    # empty one to Spark, so the JVM gets an empty one instead.
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    for env in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = os.environ.get(env)
        if d and os.path.isdir(d) and os.listdir(d):
            return skip(f"{env} {d} is a non-empty directory on the classpath")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    real = sorted(n for n in names if not n.endswith(".template"))
    if real:
        return skip(f"SPARK_CONF_DIR {conf_dir} holds {real[0]}")
    cache = _cache_dir()
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        if any(c.isspace() or c in "\"'" for c in str(cache)):
            return skip(f"the cache path {cache} needs quoting")
        key = _cds_key(java_home, release.read_bytes(), spark_home)
        archive, writing = _settle(cache, key)
        if archive is not None:
            opts, decision = f"-XX:SharedArchiveFile={archive} -Xshare:auto", "used"
        elif writing:
            return skip("another process is writing the archive")
        else:
            # an empty file under this pid until the JVM writes it at
            # exit: other launches meanwhile neither dump nor promote
            archive = cache / f"{key}.jsa.{os.getpid()}"
            archive.touch()
            opts, decision = f"-XX:ArchiveClassesAtExit={archive}", "dumping"
    except OSError as e:
        return skip(f"cache directory: {e}")
    _record(decision, str(archive))
    return f"{opts} {_CDS_QUIET}", str(cache / "conf") if names else None


def _record(decision: str, archive: str | None) -> None:
    LAST_CDS.clear()
    LAST_CDS.update(decision=decision, archive=archive)
    _log.info("class-data sharing: %s %s", decision, archive or "")


def _finish_dump() -> None:
    """At exit: stop the session (its accumulator server would print a
    traceback when the JVM drops the connection), close the dumping
    JVM's stdin, which stops it, and wait until it has written its
    archive."""
    from pyspark import SparkContext

    if _dump_proc is not None and _dump_proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        _dump_proc.stdin.close()
        try:
            _dump_proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:  # a hung JVM must not hang the exit
            pass


def get_spark(app_name: str = "reddit-can-bigdata-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` is the *initial* shuffle parallelism; AQE
    coalesces it downward at runtime, so at cluster scale this should
    be sized to ~2-3x total executor cores and left to AQE.
    """
    global _dump_proc
    from pyspark import SparkContext

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{CPUS}]")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type, so read as long and convert in tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The one join-strategy policy: sides planned under this size
        # broadcast, and AQE re-plans from finished stages' sizes. A
        # hint stays only where a stated reason says this cannot choose
        # (tests/test_join_policy.py lists each one with its reason).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # lower/upper map case with the JDK's tables, not ICU's. With
        # ICU on (Spark 4.1's default) the first lower() in a JVM runs
        # CollationAwareUTF8String's static initializer, which builds
        # its one-to-many title-case table by calling
        # UCharacter.toTitleCase on all 1,114,112 code points: about
        # 0.7 cpu-s, even on ASCII data. The two mappings differ only
        # on case pairs added after the JDK's Unicode version; DuckDB
        # leaves those unmapped too, as the JDK does
        # (tests/test_case_mapping.py checks every code point).
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    launches = SparkContext._gateway is None and not (
        {"PYSPARK_GATEWAY_PORT", "SPARK_REMOTE"} & os.environ.keys()
    )
    if not launches:
        return builder.getOrCreate()
    # Static, so set only when this call launches the JVM. The
    # generated-class cache's default (100 entries) is smaller than the
    # ~210 classes a dashboard tour compiles and the ~255 of a backend
    # cycle: an LRU over a larger cyclic working set evicts each class
    # before its next use, and every cycle compiles every class again.
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    opts, conf_dir = _cds_options()
    if opts is not None:
        # the launcher puts spark.driver.defaultJavaOptions before
        # --driver-java-options, so a caller's options still apply
        builder = builder.config("spark.driver.defaultJavaOptions", opts)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if LAST_CDS["decision"] == "dumping" and SparkContext._gateway is not None:
        if _dump_proc is None:
            atexit.register(_finish_dump)
        _dump_proc = SparkContext._gateway.proc
    return spark
