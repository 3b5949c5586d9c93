"""The driver JVM's class-data-sharing (CDS) archive: when
``session.driver_launch`` asks for it, how ``cds_state`` reads it back
from /proc, and one end-to-end check that a first process writes the
archive, a second maps it and a damaged one heals."""

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from gtfs2lc_spark.session import DRIVER_JAVA_OPTIONS, build_session, cds_state, driver_launch

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture
def fake_spark_home(tmp_path, monkeypatch):
    """A SPARK_HOME whose conf dir holds only a template, a JDK with its
    base archive, and an empty user cache dir."""
    java = tmp_path / "jdk" / "lib" / "server"
    java.mkdir(parents=True)
    (java / "classes.jsa").write_bytes(b"base")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return home


def _flag(options: str, prefix: str) -> str | None:
    return next((o[len(prefix):] for o in options.split() if o.startswith(prefix)), None)


def test_no_archive_writes_one_at_exit(fake_spark_home, tmp_path):
    options, conf_dir = driver_launch()
    archive = _flag(options, "-XX:ArchiveClassesAtExit=")
    assert archive and Path(archive).parent == tmp_path / "cache" / "gtfs2lc_spark"
    assert Path(archive).name.startswith("driver-") and archive.endswith(".jsa")
    assert options.startswith(DRIVER_JAVA_OPTIONS)
    assert "-Xlog:all=warning:stderr" in options
    # a crash log goes to the cache dir, not the caller's cwd
    assert _flag(options, "-XX:ErrorFile=") == str(Path(archive).parent / "hs_err_pid%p.log")
    assert _flag(options, "-XX:SharedArchiveFile=") is None
    assert os.listdir(conf_dir) == []


def test_archive_present_is_mapped(fake_spark_home):
    archive = _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=")
    Path(archive).write_bytes(b"archive")
    options, conf_dir = driver_launch()
    assert _flag(options, "-XX:SharedArchiveFile=") == archive
    assert _flag(options, "-XX:ArchiveClassesAtExit=") is None
    assert conf_dir is not None


def _archive_at(path: str, mtime: int) -> str:
    """Write an archive at ``path`` as a JVM would, last modified at ``mtime``."""
    Path(path).write_bytes(b"archive")
    os.utime(path, (mtime, mtime))
    return path


def test_new_key_deletes_older_archives(fake_spark_home, tmp_path, monkeypatch):
    cache = tmp_path / "cache" / "gtfs2lc_spark"
    cache.mkdir(parents=True)
    _archive_at(str(cache / "driver-0123456789abcdef.jsa"), 1_000)  # older
    newer = _archive_at(str(cache / "driver-00000000000000ff.jsa"), 2_000)
    archive = _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=")
    assert sorted(cache.glob("driver-*.jsa")) == [Path(newer)]
    # the key follows the jars and the JDK: either change is another archive
    (fake_spark_home / "jars" / "extra.jar").write_bytes(b"jar")
    other_jars = _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=")
    assert other_jars != archive
    (tmp_path / "jdk").rename(tmp_path / "jdk2")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk2"))
    assert _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=") not in (archive, other_jars)


def test_two_keys_keep_each_others_archive(fake_spark_home, tmp_path):
    """Key A's archive survives writing key B, so sessions of the two keys
    (two checkouts, the two sides of an A/B) each go on mapping their
    own; a third key keeps only the newer of A and B."""
    cache = tmp_path / "cache" / "gtfs2lc_spark"
    jars = fake_spark_home / "jars"
    a = _archive_at(_flag(driver_launch()[0], "-XX:ArchiveClassesAtExit="), 2_000)
    (jars / "b.jar").write_bytes(b"jar")
    b = _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=")
    assert Path(a).exists()
    _archive_at(b, 1_000)
    # renames keep the jar's mtime, so each key comes back as it was
    (jars / "b.jar").rename(tmp_path / "b.jar")
    assert _flag(driver_launch()[0], "-XX:SharedArchiveFile=") == a
    (tmp_path / "b.jar").rename(jars / "b.jar")
    assert _flag(driver_launch()[0], "-XX:SharedArchiveFile=") == b

    (jars / "c.jar").write_bytes(b"jar")
    c = _flag(driver_launch()[0], "-XX:ArchiveClassesAtExit=")
    assert c not in (a, b)
    # A was written last (mtime), whatever the order of the names
    assert sorted(cache.glob("driver-*.jsa")) == [Path(a)]


def test_real_conf_file_turns_cds_off(fake_spark_home, tmp_path, monkeypatch):
    (fake_spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert driver_launch() == (DRIVER_JAVA_OPTIONS, None)
    assert "SPARK_CONF_DIR" not in os.environ
    # the same for a SPARK_CONF_DIR of one's own, which stays as it was
    own = tmp_path / "own-conf"
    own.mkdir()
    (own / "log4j2.properties").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    (fake_spark_home / "conf" / "spark-defaults.conf").unlink()
    assert driver_launch() == (DRIVER_JAVA_OPTIONS, None)
    assert os.environ["SPARK_CONF_DIR"] == str(own)
    assert not (tmp_path / "cache").exists()


def test_unwritable_cache_turns_cds_off(fake_spark_home, tmp_path, monkeypatch):
    # a cache path under a regular file cannot be created, even by root
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    assert driver_launch() == (DRIVER_JAVA_OPTIONS, None)


def test_jdk_without_base_archive_turns_cds_off(fake_spark_home, tmp_path):
    (tmp_path / "jdk" / "lib" / "server" / "classes.jsa").unlink()
    assert driver_launch() == (DRIVER_JAVA_OPTIONS, None)


def test_running_jvm_gets_no_env_change(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    env = dict(os.environ)
    assert build_session(app_name="gtfs2lc-tests", master="local[8]", shuffle_partitions=8) is spark
    assert dict(os.environ) == env
    assert not (tmp_path / "cache").exists()


def _process_spark(pid: int):
    """A stand-in session whose driver JVM is process ``pid``."""
    handle = SimpleNamespace(pid=lambda: pid)
    lang = SimpleNamespace(ProcessHandle=SimpleNamespace(current=lambda: handle))
    jvm = SimpleNamespace(java=SimpleNamespace(lang=lang))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))


def _holder(archive: Path, flag: str, mapped: bool) -> subprocess.Popen:
    """A process with ``flag<archive>`` on its command line that maps
    the archive (or not), as a JVM would."""
    code = (
        "import mmap, sys, time\n"
        f"if {mapped}:\n"
        f"    f = open({str(archive)!r}, 'rb')\n"
        "    m = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)\n"
        "print('ready', flush=True)\n"
        "time.sleep(60)\n"
    )
    p = subprocess.Popen([sys.executable, "-c", code, flag + str(archive)], stdout=subprocess.PIPE, text=True)
    assert p.stdout.readline() == "ready\n"
    return p


@pytest.mark.parametrize(
    "flag, mapped, state, kept",
    [
        ("-XX:SharedArchiveFile=", True, "mapped", True),
        ("-XX:SharedArchiveFile=", False, "off", False),  # rejected: discarded
        ("-XX:ArchiveClassesAtExit=", False, "writing", True),
    ],
)
def test_cds_state_reads_proc(fake_spark_home, tmp_path, flag, mapped, state, kept):
    cache = tmp_path / "cache" / "gtfs2lc_spark"
    cache.mkdir(parents=True)
    archive = cache / "driver-0123456789abcdef.jsa"
    archive.write_bytes(b"\0" * 4096)
    with _holder(archive, flag, mapped) as p:
        try:
            assert cds_state(_process_spark(p.pid)) == state
        finally:
            p.kill()
    assert archive.exists() == kept


def test_cds_state_off_without_flags():
    assert cds_state(_process_spark(os.getpid())) == "off"


def _job(tmp_path: Path, out: str) -> tuple[str, str]:
    """Run the job CLI on one synthesized feed; its (stdout, stderr)."""
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        PYTHONPATH=str(ROOT),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    env.pop("SPARK_CONF_DIR", None)
    # files, not pipes: run() then waits for the Python process only, not
    # for a JVM that outlives it, so an archive is complete on return
    # only because job.main waits for its JVM
    streams = tmp_path / f"{out}.stdout", tmp_path / f"{out}.stderr"
    with open(streams[0], "w") as so, open(streams[1], "w") as se:
        r = subprocess.run(
            [sys.executable, "-m", "gtfs2lc_spark.job", "--synthesize-feeds", "1",
             "--output", str(tmp_path / out), "--format", "jsonld"],
            cwd=tmp_path, env=env, stdout=so, stderr=se, timeout=600,
        )
    stdout, stderr = (f.read_text() for f in streams)
    assert r.returncode == 0, stderr[-3000:]
    return stdout, stderr


def _lines(out: Path) -> list[str]:
    return sorted(line for f in out.glob("part-*") for line in f.read_text().splitlines())


def test_first_process_writes_archive_second_maps_it(tmp_path):
    cache = tmp_path / "cache" / "gtfs2lc_spark"
    states = []
    for out in ("out1", "out2"):
        stdout, _ = _job(tmp_path, out)
        # JVM warnings ([cds] Skipping ...) go to stderr: stdout is the summary
        assert len(stdout.splitlines()) == 1, stdout
        states.append(json.loads(stdout)["cds"])
        assert len(list(cache.glob("driver-*.jsa"))) == 1
    assert states == ["writing", "mapped"]
    assert len(_lines(tmp_path / "out1")) == 3472
    assert _lines(tmp_path / "out2") == _lines(tmp_path / "out1")

    # a truncated archive with an intact header crashes the JVM that maps
    # it: the session discards it, starts again and writes a fresh one
    (archive,) = cache.glob("driver-*.jsa")
    size = archive.stat().st_size
    archive.chmod(0o644)
    with open(archive, "r+b") as f:
        f.truncate(size // 4)
    stdout, stderr = _job(tmp_path, "out3")
    assert json.loads(stdout.splitlines()[-1])["cds"] == "writing"
    assert "rejected CDS archive" in stderr
    # the crashed JVM's log lands in the cache dir, not in the cwd
    assert not list(tmp_path.glob("hs_err_pid*.log"))
    assert list(cache.glob("hs_err_pid*.log"))
    assert _lines(tmp_path / "out3") == _lines(tmp_path / "out1")
    assert archive.stat().st_size > size // 4
