"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
one span per pass, one per step (a call into one library module), and
the step's ``plan`` (inside the layer call) and ``action`` children.
They are kept in memory and written once when the run ends.

Spark counters are read per step from the application status store
under the step's job group (works with ``spark.ui.enabled=false``).
Bytes read and written are deltas of the JVM's ``/proc/<pid>/io``
``rchar``/``wchar``: the vectorized ORC/Parquet readers bypass Hadoop
FileSystem statistics, so OS counters are the only complete source.
They include shuffle and spill files; Python-worker CPU is not in the
task CPU counters.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# layers a step can belong to; ``session`` is the one-time set-up, not a
# per-pass step, so it has only the two extra metrics below
LAYERS = (
    "catalog", "io", "relational", "dedup", "graph", "text", "corpus",
    "sketches", "sampling", "similarity", "queries",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("plan_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("busy_share", "share"),
)
EXTRA_METRICS = (
    ("session.wall_s", "s"), ("session.start_s", "s"), ("io.read_mb", "MB"),
    ("io.write_mb", "MB"), ("io.files_written", "count"), ("catalog.partitions_listed", "count"),
    ("catalog.partitions_scanned_share", "share"),
    ("dedup.planted_recall", "share"), ("trace.pass_self_s", "s"),
    ("trace.overhead_s", "s"),
)
MB = 1 << 20


def proc_io(pid: int) -> tuple[int, int]:
    with open(f"/proc/{pid}/io") as f:
        kv = dict(line.split(": ") for line in f.read().splitlines())
    return int(kv["rchar"]), int(kv["wchar"])


@dataclass
class StepCounters:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    read_mb: float = 0.0
    write_mb: float = 0.0


@dataclass
class Tracer:
    spark: object
    jvm_pid: int
    spans: list[dict] = field(default_factory=list)
    _group: int = 0

    def span(self, name: str, start: float, end: float, parent: int | None,
             pass_id: int | None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "pass": pass_id, **attrs,
        })
        return len(self.spans) - 1

    def begin_step(self) -> tuple[str, tuple[int, int]]:
        self._group += 1
        gid = f"hivebench-{self._group}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid, proc_io(self.jvm_pid)

    def end_step(self, gid: str, io0: tuple[int, int]) -> StepCounters:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        r1, w1 = proc_io(self.jvm_pid)
        store = jsc.statusStore()
        c = StepCounters(read_mb=(r1 - io0[0]) / MB, write_mb=(w1 - io0[1]) / MB)
        stages: set[int] = set()
        for job in sc.statusTracker().getJobIdsForGroup(gid):
            c.jobs += 1
            it = store.job(job).stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        for sid in stages:
            st = store.lastStageAttempt(sid)
            c.tasks += st.numCompleteTasks()
            c.task_cpu_s += st.executorCpuTime() / 1e9
            c.gc_s += st.jvmGcTime() / 1e3
            c.shuffle_write_mb += st.shuffleWriteBytes() / MB
            c.spill_mb += st.diskBytesSpilled() / MB
        sc.setLocalProperty("spark.jobGroup.id", None)
        return c

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def layer_totals(steps: list[dict], cores: int) -> dict[str, float]:
    """Per-layer sums over one pass's traced steps."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
    for s in steps:
        L = s["layer"]
        out[f"{L}.wall_s"] += s["wall_s"]
        out[f"{L}.plan_s"] += s["plan_s"]
        for m in ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            out[f"{L}.{m}"] += s["counters"][m]
    # over the step's whole wall time, not only the action: writes run
    # their jobs inside the layer call
    for L in LAYERS:
        busy = out[f"{L}.wall_s"] * cores
        out[f"{L}.busy_share"] = out[f"{L}.task_cpu_s"] / busy if busy > 0 else 0.0
    return out
