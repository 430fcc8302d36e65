"""The session factory's JVM defaults take effect: the JIT policy is read
back from the live driver VM (Spark's launcher passes
-XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would be dropped
without an error), the default heap follows the host's free memory, and a
launch records, maps or skips the host's class archive as its conf dir and
cache allow."""

import io
import os
import shutil
import stat
import subprocess
import sys

import pytest

from osm_to_netex_spark import session

POLICY = {
    "CICompilerCount": "2",
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def test_jit_policy_is_live_in_the_driver_vm(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = {name: bean.getVMOption(name).getValue() for name in POLICY}
    assert live == POLICY
    assert session.JIT_POLICY.split() == [f"-XX:{k}={v}" for k, v in POLICY.items()]


@pytest.mark.parametrize(
    "avail_kib, heap_gb",
    [(32 * 2**20, 8), (15_827_052, 7), (5 * 2**20, 2), (3 * 2**20, 1), (2**19, 1)],
)
def test_default_heap_is_half_the_available_memory(monkeypatch, avail_kib, heap_gb):
    meminfo = f"MemTotal: {64 * 2**20} kB\nMemAvailable: {avail_kib} kB\n"
    monkeypatch.setattr(session, "open", lambda *_: io.StringIO(meminfo), raising=False)
    assert session.mem_available_bytes() == avail_kib * 1024
    assert session.default_heap_gb() == heap_gb


@pytest.fixture
def fake_host(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, a java binary and an
    empty cache; returns (spark_home, java, cache)."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java = tmp_path / "java"
    java.write_bytes(b"\x7fELF")
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return str(home), str(java), tmp_path / "cache"


def test_templates_only_redirects_the_conf_dir_and_records(fake_host):
    home, java, cache = fake_host
    plan = session.cds_launch(home, java, cache)
    key = session.archive_key(java, home)
    assert plan.conf_dir == cache / "conf" and not any(plan.conf_dir.iterdir())
    assert plan.record == cache / f"{key}.{os.getpid()}.tmp"
    assert plan.option == f"-XX:ArchiveClassesAtExit={plan.record} -Xlog:cds=error"
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    shutil.rmtree(os.path.join(home, "conf"))  # no conf dir at all: the same plan
    assert session.cds_launch(home, java, cache) == plan


def test_a_real_conf_dir_keeps_its_conf_and_gets_no_archive(fake_host):
    home, java, cache = fake_host
    defaults = os.path.join(home, "conf", "spark-defaults.conf")
    with open(defaults, "w") as fh:
        fh.write("spark.driver.memory 2g\n")
    assert session.cds_launch(home, java, cache) is None
    assert open(defaults).read() == "spark.driver.memory 2g\n"


def test_a_published_archive_is_mapped(fake_host):
    home, java, cache = fake_host
    session.cds_launch(home, java, cache)
    jsa = cache / f"{session.archive_key(java, home)}.jsa"
    jsa.write_bytes(b"archive")
    jsa.chmod(0o444)
    plan = session.cds_launch(home, java, cache)
    assert (plan.option, plan.record) == (f"-XX:SharedArchiveFile={jsa}", None)
    jsa.chmod(0o664)  # writable by its group: ignored, recorded anew
    assert session.cds_launch(home, java, cache).record is not None


def test_a_failed_dump_stops_recording_for_its_key(fake_host):
    home, java, cache = fake_host
    session.cds_launch(home, java, cache)
    (cache / f"{session.archive_key(java, home)}.failed").touch()
    assert session.cds_launch(home, java, cache) is None
    os.utime(os.path.join(home, "jars", "spark-core.jar"), ns=(0, 0))  # new jars, new key
    assert session.cds_launch(home, java, cache).record is not None


SESSIONS = """
import os, subprocess, sys
from pathlib import Path
sys.path.insert(0, {repo!r})
from bench import JDK_JIT
from osm_to_netex_spark import session

def vm_option(spark, name):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()

ui = {{"spark.ui.showConsoleProgress": "false"}}
spark = session.get_spark(cores=2, extra_conf=ui)
spark.range(10).count()
session.stop_session(spark)
print("PUBLISHED", *sorted(p.name for p in session.cds_cache().iterdir()))

log = Path({log!r})
spark = session.get_spark(cores=2, extra_conf={{**ui, "spark.driver.extraJavaOptions":
                                               f"-Xlog:class+load=info:file={{log}}"}})
classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
print("CP0", classpath.split(":")[0])
session.stop_session(spark)

spark = session.get_spark(cores=2, extra_conf={{**ui, **JDK_JIT}})
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print("JDK", vm_option(spark, "CICompilerCount"), any("Shared" in a for a in args),
      spark._jvm.java.lang.System.getProperty("java.class.path").split(":")[0])
session.stop_session(spark)

(jsa,) = session.cds_cache().glob("*.jsa")
bad = {{"trunc": jsa.read_bytes()[: jsa.stat().st_size // 3], "garbage": os.urandom(4096)}}
gate = []
for name, data in bad.items():
    dump = session.cds_cache() / f"{{name}}.1.tmp"
    dump.write_bytes(data)
    done = subprocess.Popen(["true"])
    gate += [name, session.publish(session.Recording(dump, session.java_binary(), classpath, done))]
print("GATE", *gate)
print("LEFT", *sorted(p.name for p in session.cds_cache().iterdir()))
"""


def test_the_first_session_records_and_later_ones_map(tmp_path):
    """Session 1 records the class archive, stop_session publishes it,
    session 2 maps it from the empty conf dir, session 3 (the steady-state
    timers' JDK_JIT) relaunches as before; dumps that fail the trial JVM are
    deleted, never published."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "sessions.py"
    script.write_text(SESSIONS.format(repo=repo, log=str(tmp_path / "class.log")))
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg")}
    env.pop("SPARK_CONF_DIR", None)
    proc = subprocess.run([sys.executable, str(script)], capture_output=True, text=True,
                          timeout=600, env=env, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if line[:1].isupper())
    cache = tmp_path / "xdg" / "osm_to_netex_spark" / "cds"
    (jsa,) = [name for name in out["PUBLISHED"].split() if name.endswith(".jsa")]
    assert out["PUBLISHED"].split() == [jsa, "conf"]
    assert out["CP0"].rstrip("/") == str(cache / "conf")
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in (
        tmp_path / "class.log").read_text()
    compilers, shared, cp0 = out["JDK"].split()
    assert compilers != POLICY["CICompilerCount"] and shared == "False"  # 3 on 4 CPUs
    assert cp0.rstrip("/") != str(cache / "conf")
    assert out["GATE"] == "trunc False garbage False"
    assert out["LEFT"].split() == [jsa, "conf", "garbage.failed", "trunc.failed"]
    assert "[cds]" not in proc.stdout
