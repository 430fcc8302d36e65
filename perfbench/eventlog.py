"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
execution totals, with the standard library only.

Stages are attributed to the job group found in the properties of their
StageSubmitted event, falling back to the group of the job that declared
them; tasks are attributed through their stage.  Skipped stages (reused
shuffle output) never submit, so they count neither as stages nor tasks.

Spark reports reads of cached blocks as input too, so file reads are
counted separately: scan_bytes and scan_records come only from stages
whose RDD lineage contains a FileScanRDD.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"
FIELDS = (
    "jobs", "stages", "tasks", "cpu_s", "gc_s", "bytes_read", "bytes_written",
    "shuffle_write_bytes", "spill_bytes", "scan_bytes", "scan_records",
)


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def fold(lines) -> dict[str, dict[str, float]]:
    """{group: {field: total}} over an iterable of event-log lines; jobs run
    outside any group are folded under ''."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    file_scan: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties")) or ""
            totals[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if any(r.get("Name") == "FileScanRDD" for r in ev["Stage Info"].get("RDD Info", [])):
                file_scan.add(sid)
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[sid] = g
            totals[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            t = totals[stage_group.get(sid, "")]
            t["tasks"] += 1
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics") or {}
            t["bytes_read"] += inp.get("Bytes Read", 0)
            if sid in file_scan:
                t["scan_bytes"] += inp.get("Bytes Read", 0)
                t["scan_records"] += inp.get("Records Read", 0)
            t["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {g: dict(v) for g, v in totals.items()}


def fold_dir(path: Path) -> dict[str, dict[str, float]]:
    """Fold every event-log file under `path` (one per application)."""
    out: dict[str, dict[str, float]] = {}
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        with open(f) as fh:
            for g, v in fold(fh).items():
                acc = out.setdefault(g, dict.fromkeys(FIELDS, 0.0))
                for k in FIELDS:
                    acc[k] += v[k]
    return out


def group(totals: dict, name: str) -> dict[str, float]:
    return totals.get(name, dict.fromkeys(FIELDS, 0.0))
