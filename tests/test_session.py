"""Session set-up: the driver-memory default, a new session runs no job and
no class-path extension, the class archive's round trip and conf-dir rule,
the py-files zips, and the spark-submit --py-files launch runs a registered
query."""

import json
import os
import subprocess
import sys
import tempfile
import textwrap
import time
import types
import zipfile

from scidbgeo_spark import session
from scidbgeo_spark.session import _driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_memory_is_40_percent_of_ram_in_whole_gib():
    assert _driver_memory(16_851_337_216) == "6g"  # a 15.7 GiB host
    assert _driver_memory(2 * 2**30) == "1g"  # 0.8 GiB, raised to the floor
    assert _driver_memory(512 * 2**30) == "48g"


# The function registry is JVM-global, so the check that no class-path
# extension ran (MLlib's would register vector_to_array) needs a fresh JVM.
_NEW_SESSION = textwrap.dedent(
    """
    from scidbgeo_spark.session import get_spark
    s = get_spark(cores=2)
    print(s.sparkContext.statusTracker().getJobIdsForGroup())
    catalyst = s.sparkContext._jvm.org.apache.spark.sql.catalyst
    registry = getattr(getattr(catalyst.analysis, "FunctionRegistry$"), "MODULE$").internal()
    name = getattr(getattr(catalyst, "FunctionIdentifier$"), "MODULE$").apply("vector_to_array")
    print(registry.functionExists(name))
    s.stop()
    """
)


def test_new_session_runs_no_job():
    # a second SparkContext cannot share the test session's process
    r = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION], capture_output=True, text=True, timeout=600,
        cwd=REPO, env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.splitlines()[-2:] == ["[]", "False"]


def test_only_extension_provider_on_class_path_is_mllibs():
    """get_spark skips class-path extension discovery; the one provider it
    skips is MLlib's Spark Connect function registration.  A Spark with
    another provider in its jars fails here rather than losing it."""
    from pyspark.find_spark_home import _find_spark_home

    service = "META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider"
    jars = os.path.join(_find_spark_home(), "jars")
    providers = set()
    for name in os.listdir(jars):
        if not name.endswith(".jar"):
            continue
        with zipfile.ZipFile(os.path.join(jars, name)) as z:
            if service in z.namelist():
                lines = (ln.split("#")[0].strip() for ln in z.read(service).decode().splitlines())
                providers |= set(filter(None, lines))
    assert providers == {"org.apache.spark.sql.ml.InternalFunctionRegistration"}


# Three driver JVMs in one process, all with the same launch options: the
# first dumps the class archive, the second maps it (its class-load log
# says where SparkContext came from), the third finds garbage at the
# archive path.
_ROUND_TRIP = textwrap.dedent(
    """
    import glob, json, os, tempfile
    from scidbgeo_spark import session
    tmp = tempfile.gettempdir()
    own = os.path.join(tmp, f"scidbgeo-{os.getuid()}")
    log = os.path.join(tmp, "class-load.log")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xlog:class+load=info:file={log}" pyspark-shell')
    session.stop_spark(session.get_spark(cores=1))
    archives = glob.glob(os.path.join(own, "scidbgeo_cds_*.jsa"))
    after_dump = sorted(os.listdir(own))
    session.stop_spark(session.get_spark(cores=1))
    after_map = sorted(os.listdir(own))
    with open(log) as f:
        source = [ln.split(" source: ")[1].strip() for ln in f
                  if "] org.apache.spark.SparkContext source: " in ln]
    with open(archives[0], "wb") as f:
        f.write(os.urandom(4096))
    s = session.get_spark(cores=1)
    rows = s.range(10).count()
    session.stop_spark(s)
    print(json.dumps({"archives": archives, "after_dump": after_dump,
                      "after_map": after_map, "source": source, "rows": rows,
                      "after": sorted(os.listdir(own))}))
    """
)


def test_class_archive_round_trip(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", _ROUND_TRIP], capture_output=True, text=True, timeout=600,
        cwd=REPO, env={**os.environ, "TMPDIR": str(tmp_path), "SPARK_DRIVER_MEM": "1g"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.splitlines()[-1])
    assert len(res["archives"]) == 1  # the first session dumped and published
    archive = os.path.basename(res["archives"][0])
    assert res["after_dump"] == ["conf", archive]  # and left no part
    assert res["after_map"] == res["after_dump"]  # a mapped archive stays
    assert res["source"] == ["shared objects file (top)"]
    assert res["rows"] == 10  # a garbage archive still gives a working session
    assert res["after"] == ["conf"]  # and is deleted, so the next one dumps


def test_conf_dir_rule(tmp_path, monkeypatch):
    """A conf dir of templates only is swapped for the engine's empty one;
    one with a real file, or an extra class-path entry, launches with no
    archive and keeps its conf dir.  So does a private dir that is not the
    user's alone or whose conf dir holds a file.  Another JDK build or
    other launch options give another archive, and the part of a process
    that died is deleted, as is an archive of another key unused for
    ARCHIVE_DAYS; the archive a launch maps is marked used."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for var in (*session._CLASSPATH_ENV, "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.1+1"\n')
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    own = tmp_path / f"scidbgeo-{os.getuid()}"
    dead = subprocess.Popen(["true"])
    dead.wait()
    (own / "conf").mkdir(parents=True)
    stale = own / f"scidbgeo_cds_0.jsa.{dead.pid}.part"
    live = own / f"scidbgeo_cds_0.jsa.{os.getpid()}.part"
    stale.touch()
    live.touch()
    old = time.time() - (session.ARCHIVE_DAYS + 1) * 86400
    unused = own / "scidbgeo_cds_unused.jsa"
    recent = own / "scidbgeo_cds_recent.jsa"
    unused.touch()
    recent.touch()
    os.utime(unused, (old, old))
    dump = session._class_archive("1g")
    assert os.environ["SPARK_CONF_DIR"] == str(own / "conf")
    assert sorted(os.listdir(own)) == sorted(["conf", recent.name, live.name])
    assert dump.part == f"{dump.path}.{os.getpid()}.part"
    assert os.path.dirname(dump.path) == str(own)
    assert "-XX:ArchiveClassesAtExit=" + dump.part in dump.java_options
    open(dump.path, "wb").close()
    os.utime(dump.path, (old, old))
    mapped = session._class_archive("1g")
    assert mapped.path == dump.path and mapped.part is None
    assert os.path.getmtime(dump.path) > old + 86400  # marked used, so kept
    assert "-XX:SharedArchiveFile=" + dump.path in mapped.java_options
    assert session._class_archive("2g").path != dump.path
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-class-path x.jar pyspark-shell")
    assert session._class_archive("1g").path != dump.path
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.20+8"\n')
    assert session._class_archive("1g").path != dump.path

    # the deployment's conf dir stays template-only from here on
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    (own / "conf" / "spark-env.sh").write_text("echo planted\n")
    assert session._class_archive("1g") is None
    (own / "conf" / "spark-env.sh").unlink()
    own.chmod(0o777)
    assert session._class_archive("1g") is None
    own.chmod(0o700)
    assert session._class_archive("1g") is not None

    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("HADOOP_CONF_DIR", str(conf))
    assert session._class_archive("1g") is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._class_archive("1g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_pyfiles_zip_of_dead_process_removed(tmp_path, monkeypatch):
    """The py-files zip goes to the private dir, where the zip of a process
    that no longer runs is deleted; this process's own zip is built,
    shipped once and stays while it runs.  A zip in the shared temp dir,
    which may be another user's, is left alone, and one that may not be
    deleted does not stop the launch."""
    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = subprocess.Popen(["true"])
    dead.wait()
    zip_of = "scidbgeo_spark_pyfiles_{}.zip".format
    own = tmp_path / f"scidbgeo-{os.getuid()}"
    own.mkdir(0o700)
    (own / zip_of(dead.pid)).touch()
    (tmp_path / zip_of(dead.pid)).touch()

    def launch():
        shipped = []
        spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=shipped.append))
        entry._ensure_pyfiles(spark)
        entry._ensure_pyfiles(spark)
        assert shipped == [str(own / zip_of(os.getpid()))]

    def denied(path):
        raise PermissionError(path)

    with monkeypatch.context() as m:
        m.setattr(os, "remove", denied)
        launch()
    assert (own / zip_of(dead.pid)).exists()
    launch()
    assert sorted(os.listdir(own)) == ["conf", zip_of(os.getpid())]
    assert sorted(os.listdir(tmp_path)) == sorted([own.name, zip_of(dead.pid)])


def test_spark_submit_pyfiles_launch(tmp_path):
    """North-rule launch shape: spark-submit --py-files runs a registered
    query end-to-end in a SEPARATE driver, with workers importing the
    package from the built zip (pip_poly exercises the pandas-UDF path,
    so a missing worker-side package would fail loudly)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zf = str(tmp_path / "scidbgeo_spark.zip")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_pyfiles.py"), zf],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-1000:]
    submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")
    proc = subprocess.run(
        [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            zf,
            os.path.join(repo, "tools", "submit_job.py"),
            "--query",
            "pip_poly",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["rows"] > 0 and res["query"] == "pip_poly"
