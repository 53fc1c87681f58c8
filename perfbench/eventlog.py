"""Task metrics per Spark job group, parsed from a local Spark event log.

The traced run sets one job group per span (see tracing.py) and enables
``spark.eventLog.enabled`` (uncompressed JSON lines). After the session
stops, ``group_metrics`` attributes every finished task to the job group
of the job that ran its stage.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    task_s: list[float] = field(default_factory=list)

    def minus(self, other: "GroupMetrics") -> "GroupMetrics":
        """The additive totals of self less other's: the cost of a span
        that re-ran `other`'s work as its prefix. Task durations are not
        subtracted, so the result has no task_skew."""
        return GroupMetrics(
            tasks=self.tasks - other.tasks,
            executor_cpu_s=self.executor_cpu_s - other.executor_cpu_s,
            shuffle_write_mb=self.shuffle_write_mb - other.shuffle_write_mb,
            input_mb=self.input_mb - other.input_mb,
            spill_mb=self.spill_mb - other.spill_mb,
        )

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 = no skew)."""
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 0.0


_MB = 1024.0 * 1024.0


def parse_lines(lines) -> dict[str, GroupMetrics]:
    """{job group: GroupMetrics} from event-log JSON lines. Tasks of jobs
    without a job group are filed under ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            # a stage listed by several jobs ran in the first one; later
            # jobs only skip it
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics")
            if tm is None or info.get("Failed"):
                continue
            g = out.setdefault(stage_group.get(ev["Stage ID"], ""), GroupMetrics())
            g.tasks += 1
            g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.task_s.append(tm.get("Executor Run Time", 0) / 1e3)
            g.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            g.input_mb += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            g.spill_mb += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / _MB
    return out


def group_metrics(log_dir: str) -> dict[str, GroupMetrics]:
    """Parse the single uncompressed application log under `log_dir`."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0]), encoding="utf-8") as f:
        return parse_lines(f)


def _fold(groups: dict[str, GroupMetrics], key) -> dict[str, GroupMetrics]:
    out: dict[str, GroupMetrics] = {}
    for name, g in groups.items():
        k = key(name)
        if k is None:
            continue
        acc = out.setdefault(k, GroupMetrics())
        acc.tasks += g.tasks
        acc.executor_cpu_s += g.executor_cpu_s
        acc.shuffle_write_mb += g.shuffle_write_mb
        acc.input_mb += g.input_mb
        acc.spill_mb += g.spill_mb
        acc.task_s.extend(g.task_s)
    return out


def by_layer(groups: dict[str, GroupMetrics], sep: str = ":") -> dict[str, GroupMetrics]:
    """Fold job groups named '<layer><sep><span>' into one entry per layer."""
    return _fold(groups, lambda name: name.split(sep, 1)[0] if sep in name else None)


def by_span(groups: dict[str, GroupMetrics]) -> dict[str, GroupMetrics]:
    """Fold job groups named '<layer>:<span>#<id>' into one entry per
    '<layer>:<span>', summed over the span's occurrences."""
    return _fold(groups, lambda name: name.rsplit("#", 1)[0] if ":" in name else None)
