"""bench.py's core levels and CPU pins come from the affinity mask: N → 4N
with N = min(2, n // 4), each level on the first CPUs of the mask, and an
explicit skip below 4 CPUs.  No JVM needed."""

import os

import pytest

import bench


@pytest.mark.parametrize(
    "cpus, lo, hi",
    [
        ([0, 1, 2, 3], [0], [0, 1, 2, 3]),
        (list(range(32)), [0, 1], list(range(8))),
        ([4, 5, 6, 7], [4], [4, 5, 6, 7]),
    ],
)
def test_scaling_plan_pins_inside_the_mask(cpus, lo, hi):
    plan = bench.scaling_plan(cpus)
    assert plan == {"cores_lo": len(lo), "cpus_lo": lo, "cores_hi": len(hi), "cpus_hi": hi}
    assert set(hi) <= set(cpus)


def test_scaling_plan_skips_below_four_cpus():
    plan = bench.scaling_plan([0, 1, 2])
    assert list(plan) == ["skipped"] and "3 CPUs" in plan["skipped"]


def test_flagship_body_refuses_a_clamped_pin():
    with pytest.raises(RuntimeError, match="expected"):
        bench._flagship_subprocess_body(len(os.sched_getaffinity(0)) + 1, 0.75, "", "")
