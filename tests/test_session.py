"""The session factory's JVM defaults take effect: the JIT policy is read
back from the live driver VM (Spark's launcher passes
-XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would be dropped
without an error), and the default heap follows the host's free memory."""

import io

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
