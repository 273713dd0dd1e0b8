"""SparkSession factory with scale-aware defaults; a session runs no job.

Local mode is the sandbox stand-in for a multi-executor cluster; all
configs below are the ones that transfer (AQE, Arrow, shuffle sizing).

Class archive.  Most of a driver JVM's start-up is loading Spark, Scala
and Hadoop classes from ``$SPARK_HOME/jars``.  A driver JVM that
``get_spark`` launches keeps them in a dynamic AppCDS archive (JDK 13+)
and maps it into the next one:

- The archive is ``scidbgeo_cds_<key>.jsa``, about 100 MB, in
  ``scidbgeo-<uid>`` under ``tempfile.gettempdir()`` (``TMPDIR``).  That
  directory is made with mode 0700; when it is not the user's own, or
  others may write to it, the JVM launches with no archive, since a
  file planted there would be mapped into the JVM.  The key hashes the
  JDK (the real path of ``JAVA_HOME``, and the size and mtime of its
  ``release`` file and ``lib/modules``), the real path of
  ``$SPARK_HOME/jars`` and the name, size and mtime of every jar in it,
  the driver memory and ``PYSPARK_SUBMIT_ARGS``: another JDK build,
  Spark install or set of launch options gets an archive of its own.
- When the archive exists, the JVM maps it (``-XX:SharedArchiveFile``);
  on 4 CPUs a session then starts in about half the time.  A JVM that
  cannot map it starts without it, under the default ``-Xshare:auto``.
  When the file is damaged, that JVM also goes without the JDK's default
  archive, so ``get_spark`` then deletes the file (it reads the JVM's
  ``java.vm.info``, which no longer says ``sharing``), and the next
  driver JVM writes a new one.
- When it does not exist, the JVM records the classes it loads
  (``-XX:ArchiveClassesAtExit``) and writes them when it exits.  On 4
  CPUs that first session takes 8-15 s more to exit, and its JVM holds
  30-60 MB more resident memory.  It writes a file of its own,
  ``<archive>.<pid>.part`` after the Python process, which becomes the
  archive by ``os.replace`` only once the JVM has exited with code 0,
  so an archive is never rewritten under a JVM that maps it.  That
  happens in ``stop_spark``, in the next ``get_spark`` of the process,
  or at interpreter exit; concurrent first sessions each write their own
  part, and the last to be published wins.
- A ``get_spark`` that maps the archive sets its mtime to now.  Each
  one that looks for it, and each py-files zip ``__spark_entry__``
  writes there, first deletes (:func:`sweep`) the parts and zips of
  processes that died before they could, and the archives of other
  keys whose mtime is more than ``ARCHIVE_DAYS`` old: each is 100-200
  MB, and a JDK update or a run with other launch options would
  otherwise leave one behind for good.  Only files in this user's own
  directory are ever deleted.
- The JDK will not archive with a non-empty directory on the class path,
  and Spark's launcher puts the conf dir first on it.  So the archive is
  used only when the conf dir (``SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files, which a
  launch does not read; ``SPARK_CONF_DIR`` is then pointed at the empty
  ``conf`` dir next to the archive, and a file in that one also means no
  archive.  When the deployment's conf dir holds any other file, or
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH``
  adds to the class path, the JVM launches with no archive.

Session extensions.  ``get_spark`` sets the static conf
``spark.sql.extensions.test.loadFromCp=false``, so a session does not
look for ``SparkSessionExtensionsProvider`` services on the class path
(a ``ServiceLoader`` scan of every jar).  The only provider in Spark's
jars is MLlib's ``InternalFunctionRegistration``: it registers
``vector_to_array``, ``array_to_vector`` and ``aggregate_metrics`` as
internal functions for Spark Connect ML, and building their TypeTag UDFs
starts Scala's runtime reflection.  That was about 40% of the session
constructor; no engine query calls them, and classic PySpark's
``pyspark.ml.functions`` reaches MLlib directly.  Extensions named in
``spark.sql.extensions`` still apply: a deployment that needs one names
it there.

To see that a session mapped the archive, look for its path in
``/proc/<pid>/maps`` of the driver JVM (``SparkContext._gateway.proc``).
The JDK's reason for not mapping it is off the console
(``-Xlog:cds*=off``); ``-Xlog:cds`` in ``--driver-java-options`` brings
it back, in a session that, with those options, has an archive key of
its own.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shlex
import shutil
import stat
import subprocess
import tempfile
import time
import zipfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

# launcher environment that puts more entries on the driver's class path
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# -Xlog:cds=off leaves the [cds,dynamic] warnings on: the gateway JVM
# shares this process's stdout
_QUIET = "-Xlog:cds*=off"
# an archive of another key unused this long is deleted
ARCHIVE_DAYS = 7
# (JVM, part, archive) of each dumping driver JVM not yet published: the
# JVMs belong to the process, as SparkContext's gateway does
_dumps: list[tuple[subprocess.Popen, str, str]] = []


class _Archive(NamedTuple):
    """The class archive of a driver JVM about to launch."""

    java_options: str
    path: str
    part: str | None  # where the JVM dumps; None when it maps ``path``


def _driver_memory(phys_bytes: int) -> str:
    """40% of ``phys_bytes`` of RAM in whole GiB, between 1g and 48g."""
    return f"{min(48, max(1, phys_bytes * 2 // 5 // 2**30))}g"


def private_dir() -> str | None:
    """``<tmp>/scidbgeo-<uid>``, made with mode 0700, holding the archive
    and an empty ``conf`` dir; None when it is not this user's own
    directory, when someone else may write to it, or when ``conf`` holds a
    file: anything found there would run (``spark-env.sh``) or be mapped
    into the JVM."""
    d = os.path.join(tempfile.gettempdir(), f"scidbgeo-{os.getuid()}")
    conf = os.path.join(d, "conf")
    for path in (d, conf):
        with contextlib.suppress(FileExistsError):
            os.mkdir(path, 0o700)
        st = os.lstat(path)
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
            return None
    return None if os.listdir(conf) else d


def _key(home: str, mem: str) -> str:
    """Hash of what decides whether a JVM can map an archive: the JDK
    build, the jars, the driver memory ``mem`` and the launch options."""
    java = os.path.realpath(os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "/"))))
    jars = os.path.realpath(os.path.join(home, "jars"))
    key = hashlib.sha1(
        "\0".join((java, jars, mem, os.environ.get("PYSPARK_SUBMIT_ARGS", ""))).encode())
    # a JDK update in place rewrites its release file and module image
    files = [os.path.join(java, "release"), os.path.join(java, "lib", "modules")]
    files += sorted(e.path for e in os.scandir(jars))
    for f in filter(os.path.isfile, files):
        st = os.stat(f)
        key.update(f"\0{f}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return key.hexdigest()[:16]


def _alive(pid: int) -> bool:
    """Whether process ``pid`` still runs."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def remove_file(path: str) -> None:
    """Delete ``path``, which another process may have deleted first, or
    which this user may not delete."""
    with contextlib.suppress(FileNotFoundError, PermissionError):
        os.remove(path)


def sweep(d: str, keep: str = "") -> None:
    """Delete from the private dir ``d`` what no running process needs:
    the class-archive part (``<archive>.<pid>.part``) or py-files zip
    (``scidbgeo_spark_pyfiles_<pid>.zip``) of a process that no longer
    runs, and an archive other than ``keep`` unused for ``ARCHIVE_DAYS``."""
    stale = time.time() - ARCHIVE_DAYS * 86400
    for e in os.scandir(d):
        dead = re.fullmatch(r".*[._](\d+)\.(?:part|zip)", e.name)
        with contextlib.suppress(FileNotFoundError):  # another process deleted it
            if (dead and not _alive(int(dead.group(1)))) or (
                e.name.endswith(".jsa") and e.path != keep and e.stat().st_mtime < stale
            ):
                remove_file(e.path)


def zip_package(out: str) -> str:
    """Write every ``.py`` file of this package to the zip ``out``, at its
    path under the directory that holds the package (the layout
    ``--py-files`` and ``addPyFile`` put on the workers' path); returns
    ``out``."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    return out


def _class_archive(mem: str) -> _Archive | None:
    """The class archive for a driver JVM launched now with ``mem`` of
    driver memory, or None when it launches without one; points
    ``SPARK_CONF_DIR`` at the engine's empty conf dir and sweeps the
    private dir when the archive is used (see the module docstring)."""
    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if any(os.environ.get(v) for v in _CLASSPATH_ENV) or (
        os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf))
    ):
        return None
    d = private_dir()
    if d is None:
        return None
    os.environ["SPARK_CONF_DIR"] = os.path.join(d, "conf")
    path = os.path.join(d, f"scidbgeo_cds_{_key(home, mem)}.jsa")
    sweep(d, path)
    with contextlib.suppress(FileNotFoundError):
        os.utime(path)  # the archive exists: mark it used, and map it
        return _Archive(f"{shlex.quote('-XX:SharedArchiveFile=' + path)} {_QUIET}", path, None)
    part = f"{path}.{os.getpid()}.part"
    return _Archive(f"{shlex.quote('-XX:ArchiveClassesAtExit=' + part)} {_QUIET}", path, part)


def _publish() -> None:
    """Publish the archive of every dumping JVM that has exited: rename its
    part once it exited with code 0, else delete the part."""
    for dump in [d for d in _dumps if d[0].poll() is not None]:
        _dumps.remove(dump)
        proc, part, path = dump
        if proc.returncode == 0 and os.path.exists(part):
            os.replace(part, path)
        else:
            remove_file(part)


@atexit.register
def _publish_at_exit() -> None:
    """End a dumping JVM before this process does, so its archive is
    published rather than left as a part by an orphaned JVM."""
    for proc, _part, _path in _dumps:
        proc.stdin.close()
        proc.wait(timeout=300)
    _publish()


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and its driver JVM, and wait for the JVM to exit; the
    next ``get_spark`` launches a new one.  A first session's JVM writes
    the class archive as it exits (8-15 s), and this publishes it."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gw.proc is not None:  # None when spark-submit launched the JVM
            gw.proc.stdin.close()
            gw.proc.wait(timeout=300)
    _publish()


def get_spark(
    app: str = "scidbgeo-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.  It runs no
    job: the first query pays the JVM's first-job start-up, and the first
    to cross the Python boundary forks the Python workers (about 3 s on
    4 CPUs), so a session pays only for what it runs.

    - AQE on: runtime coalesce + skew-join splitting (the engine also salts
      known-hot keys explicitly; AQE is the backstop).
    - Arrow on: every pandas-UDF kernel moves data in columnar batches.
    - shuffle partitions ~ cores for local mode (not the 200 default).
    - driver memory: ``SPARK_DRIVER_MEM``, else 40% of the host's RAM.
    - cores: ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on.
    - a driver JVM it launches maps the class archive, or writes it when
      there is none yet (module docstring); the options go in
      ``spark.driver.defaultJavaOptions``, so ``--driver-java-options``
      still apply.
    - no class-path extension discovery (module docstring), so Scala's
      runtime reflection starts at the first query to use a TypeTag
      (``collect_list``, ``sequence``, and the planning of a first
      aggregate), which pays for it: about 0.3 s in a JVM that maps the
      class archive, 1.0-1.3 s in one that writes it.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cores, 8)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = os.environ.get("SPARK_DRIVER_MEM", _driver_memory(phys))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.extensions.test.loadFromCp", "false")
    )
    _publish()
    # a new driver JVM launches unless one is up, or spark-submit runs us
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = _class_archive(mem)
    if archive:
        builder = builder.config("spark.driver.defaultJavaOptions", archive.java_options)
    spark = builder.getOrCreate()
    if archive and archive.part:
        _dumps.append((SparkContext._gateway.proc, archive.part, archive.path))
    elif archive and "sharing" not in spark.sparkContext._jvm.System.getProperty("java.vm.info"):
        # the JVM could not map the file, so it runs with no class sharing
        # at all; remove it, and the next driver JVM writes a new one
        remove_file(archive.path)
    spark.sparkContext.setLogLevel("WARN")
    return spark
