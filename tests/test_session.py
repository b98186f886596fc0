"""Driver start-up: the default heap, and the class-data-sharing (AppCDS)
archive that ``get_spark`` writes once and maps on later starts.

The archive tests start Spark in child processes, each with its own
``XDG_CACHE_HOME``, because the archive belongs to a JVM launch and the
test session's JVM is already running."""

from __future__ import annotations

import inspect
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

from database_query_processor_spark import session

ROOT = Path(__file__).resolve().parents[1]

CHILD = """
import json, os
from database_query_processor_spark.session import get_spark
spark = get_spark(app_name="cds-test", master="local[1]", driver_memory="1g")
jvm = spark.sparkContext._jvm
print("RESULT " + json.dumps({
    "count": spark.range(3).count(),
    "java_opts": spark.conf.get("spark.driver.extraJavaOptions", ""),
    "classpath": jvm.System.getProperty("java.class.path"),
    "jvm_conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.conf.get("spark.dqps.probe", None),
}))
"""


def _start(cache: Path, cwd: Path, conf_dir: Path | None = None) -> dict:
    """Start Spark in a fresh process and return what it reported; the
    process must exit 0, print no CDS log line and leave no crash log."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(cache), PYTHONPATH=str(ROOT), SPARK_GRAFT_CPUS="1")
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    cwd.mkdir(exist_ok=True)
    run = subprocess.run([sys.executable, "-c", CHILD], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "[cds" not in run.stdout
    assert not list(cwd.glob("hs_err_pid*.log"))
    line = next(ln for ln in run.stdout.splitlines() if ln.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])
    assert out["count"] == 3
    return out


def _maps(slot: Path, classpath: str) -> bool:
    """Whether a JVM with ``classpath`` maps ``slot`` (-Xshare:on fails otherwise)."""
    cmd = ["java", f"-XX:SharedArchiveFile={slot}", "-Xshare:on", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off", "-XX:ErrorFile=/dev/null", "-cp", classpath, "-version"]
    return subprocess.run(cmd, capture_output=True, timeout=60).returncode == 0


def test_default_driver_memory_keeps_compressed_oops(monkeypatch):
    assert inspect.signature(session.get_spark).parameters["driver_memory"].default is None
    for ram_gb, want in ((256, "31744m"), (15, "11520m"), (1, "1024m")):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert session._default_driver_memory() == want
        assert session._compressed_oops(want, "") is True


def test_console_progress_bar_off(spark):
    """get_spark itself turns off the [Stage N:> ...] bars on stderr."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_compressed_oops_follows_heap_and_flags():
    assert session._compressed_oops("48g", "") is False
    assert session._compressed_oops("32g", "") is False
    assert session._compressed_oops("31g", "") is True
    assert session._compressed_oops("3900m", "") is True
    assert session._compressed_oops("3900m", "-Dx=1 -XX:-UseCompressedOops") is False
    assert session._compressed_oops("48g", "-XX:+UseCompressedOops") is True
    assert session._compressed_oops("lots", "") is None


def test_archive_written_once_then_mapped(tmp_path):
    cache = tmp_path / "cache"
    cds = cache / "database_query_processor_spark" / "cds"

    # first start: no slot, so the JVM dumps at exit and the process promotes it
    first = _start(cache, tmp_path / "run1")
    assert "-XX:ArchiveClassesAtExit=" in first["java_opts"]
    assert first["conf_dir"] is None  # the redirect covered the launch only
    assert first["jvm_conf_dir"] == str(cds / "empty-conf")
    slots = list(cds.glob("driver-*.jsa"))
    assert len(slots) == 1 and not list(cds.glob("*.tmp-*"))
    slot = slots[0]

    # second start maps it
    second = _start(cache, tmp_path / "run2")
    assert f"-XX:SharedArchiveFile={slot}" in second["java_opts"]
    assert _maps(slot, second["classpath"])

    # an archive of another classpath in the slot: the JVM declines it. It
    # must hold app classes, or the JVM checks no classpath entry at all.
    good = tmp_path / "good.jsa"
    shutil.copyfile(slot, good)
    slot.unlink()
    launcher = next(p for p in second["classpath"].split(":") if "spark-launcher" in p)
    subprocess.run(["java", f"-XX:ArchiveClassesAtExit={slot}", "-Xlog:cds=off",
                    "-Xlog:cds+dynamic=off", "-cp", launcher, "org.apache.spark.launcher.Main"],
                   capture_output=True, timeout=60)  # exits 1 with its usage text
    assert _maps(slot, launcher) and not _maps(slot, second["classpath"])
    stale = _start(cache, tmp_path / "run3")
    assert f"-XX:SharedArchiveFile={slot}" in stale["java_opts"]

    # no slot, and a truncated dump beside it: start normally, dump afresh
    slot.unlink()
    truncated = cds / f"{slot.name}.tmp-truncated"
    with open(truncated, "wb") as fh:
        subprocess.run(["head", "-c", str(good.stat().st_size // 2), str(good)],
                       stdout=fh, check=True)
    fresh = _start(cache, tmp_path / "run4")
    assert "-XX:ArchiveClassesAtExit=" in fresh["java_opts"]
    assert slot.exists() and _maps(slot, fresh["classpath"])


def test_promote_only_an_archive_that_probes_clean(tmp_path):
    """A truncated archive kills a JVM that maps it, so promotion probes first."""
    full = tmp_path / "full.jsa"
    subprocess.run(["java", f"-XX:ArchiveClassesAtExit={full}", "-Xlog:cds=off",
                    "-Xlog:cds+dynamic=off", "-version"],
                   capture_output=True, timeout=60, check=True)
    java = shutil.which("java")
    for size, promoted in ((full.stat().st_size // 2, False), (full.stat().st_size, True)):
        tmp = tmp_path / "slot.jsa.tmp-x"
        tmp.write_bytes(full.read_bytes()[:size])
        slot = tmp_path / "slot.jsa"
        session._promote(session._Cds(java, True, slot, tmp_path, tmp))
        assert slot.exists() is promoted
        assert not tmp.exists()
    assert not list(tmp_path.glob("hs_err_pid*.log"))


def test_real_conf_dir_is_honoured_without_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.dqps.probe 1\n")
    out = _start(tmp_path / "cache", tmp_path / "run", conf_dir=conf)
    assert out["probe"] == "1"
    assert out["jvm_conf_dir"] == out["conf_dir"] == str(conf)
    assert out["classpath"].startswith(str(conf))
    for flag in ("SharedArchiveFile", "ArchiveClassesAtExit", "Xlog:cds"):
        assert flag not in out["java_opts"]
    assert not (tmp_path / "cache").exists()


def test_cds_plan_skips_callers_own_cds_options(monkeypatch, tmp_path):
    # plan as for a first launch; the test session's gateway is put back after
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    conf = {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Dx=1"}
    plan = session._cds_plan(conf)
    assert plan is not None and plan.tmp is not None
    assert plan.java_options("-Dx=1").startswith("-Dx=1 -XX:ArchiveClassesAtExit=")
    for own in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/x"):
        conf["spark.driver.extraJavaOptions"] = own
        assert session._cds_plan(conf) is None
