"""True `spark-submit --py-files` deployment smoke (the north rule's run
mode): the package shipped as a zip, the CLI job run in a fresh JVM via the
real spark-submit binary — not an in-process job.main call.  The driver JVM
is up before get_spark runs, so the JIT policy goes in with
--driver-java-options; the runner reads it back from the live VM."""

import os
import shutil
import subprocess
import zipfile

from osm_to_netex_spark.session import JIT_POLICY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "tests/fixtures/convert_corpus.parquet")
JIT_FLAGS = dict(f.removeprefix("-XX:").split("=") for f in JIT_POLICY.split())


def _build_zip(path):
    pkg = os.path.join(REPO, "osm_to_netex_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit not on PATH"

    engine_zip = str(tmp_path / "engine.zip")
    _build_zip(engine_zip)

    runner = tmp_path / "runner.py"
    out = str(tmp_path / "warehouse")
    xml = str(tmp_path / "out.xml")
    runner.write_text(
        "from osm_to_netex_spark.plans import job\n"
        f"res = job.main(['--input', {FIXTURE!r}, '--target', 'TariffZone',"
        f" '--output', {out!r}, '--xml-out', {xml!r}, '--run-tag', 'submit1'])\n"
        "print('SUBMIT_RESULT', res['n_zones'], bool(res['zones_snapshot']))\n"
        "from pyspark import SparkContext\n"
        "jvm = SparkContext._jvm  # job.main stopped its session; the gateway stays up\n"
        "bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(\n"
        "    jvm.java.lang.Class.forName('com.sun.management.HotSpotDiagnosticMXBean'))\n"
        f"print('SUBMIT_JIT', *[bean.getVMOption(n).getValue() for n in {list(JIT_FLAGS)!r}])\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY way to the package
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--driver-java-options", JIT_POLICY,
         "--py-files", engine_zip, str(runner)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    marker = [l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_RESULT")]
    assert marker, proc.stdout[-2000:]
    _tag, n_zones, has_snapshot = marker[0].split()
    jit = [l.split()[1:] for l in proc.stdout.splitlines() if l.startswith("SUBMIT_JIT")]
    assert jit == [list(JIT_FLAGS.values())], proc.stdout[-2000:]
    assert int(n_zones) > 0 and has_snapshot == "True"
    content = open(xml).read()
    assert "<TariffZone version=" in content and "gml:posList" in content
