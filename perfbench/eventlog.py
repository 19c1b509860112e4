"""Per-job-group ledger from a Spark event log.

Each job's ``spark.jobGroup.id`` property names the layer whose boundary
call started it. Tasks report only their stage, so the parser maps
stage -> job (the first job that lists the stage, which is the one that
ran it; later jobs list it again as skipped) -> job group, and sums task
metrics per group.

The log must be an uncompressed, non-rolling JSON-lines file
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``);
Spark 4.1's defaults write rolling zstd files that ``json`` cannot read.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

MIB = float(1 << 20)


@dataclass
class GroupLedger:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


def parse(path: str) -> dict[str | None, GroupLedger]:
    """Return ``{job_group: GroupLedger}``; jobs without a group are
    under ``None``. ``shuffle_mb`` counts shuffle bytes written (each
    byte is read once, so read volume is the same), ``spill_mb`` bytes
    spilled to disk."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupLedger] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out.setdefault(group, GroupLedger()).jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:  # tasks that failed before reporting metrics
                    continue
                led = out.setdefault(stage_group.get(ev["Stage ID"]), GroupLedger())
                led.tasks += 1
                led.task_s += m.get("Executor Run Time", 0) / 1000.0
                led.shuffle_mb += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MIB
                )
                led.spill_mb += m.get("Disk Bytes Spilled", 0) / MIB
    return out
