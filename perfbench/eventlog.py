"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

The benchmark's traced run turns the event log on and, after the session
stops, attributes every finished task to a layer. Two attribution keys:

- a time window recorded by the benchmark around a call into the program
  (a build stage, a claim batch): a task belongs to the window that holds its
  launch time;
- the physical operators a stage ran, read from the RDD scopes in
  ``SparkListenerStageCompleted`` (e.g. ``FlatMapCoGroupsInPandas`` is the
  serving kernel, ``InMemoryTableScan`` / ``Scan parquet`` read segments).

Only ``SparkListenerTaskEnd`` and ``SparkListenerStageCompleted`` events are
read; every other event is skipped. The log must be uncompressed and not
rolled (``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled
=false``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

#: accumulable that PySpark's Python stages report per task: milliseconds
#: the JVM waited on its Python worker for results
PYTHON_RUN_ACC = "time to run Python workers"


@dataclass(frozen=True)
class Task:
    stage_id: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    python_ms: int
    shuffle_read_bytes: int
    fetch_wait_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int
    records_written: int


@dataclass(frozen=True)
class Stage:
    stage_id: int
    submit_ms: int
    complete_ms: int
    scopes: frozenset[str]

    @property
    def wall_s(self) -> float:
        return (self.complete_ms - self.submit_ms) / 1000.0


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    return Task(
        stage_id=int(ev["Stage ID"]),
        launch_ms=int(info["Launch Time"]),
        run_ms=int(m.get("Executor Run Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        python_ms=int(acc.get(PYTHON_RUN_ACC) or 0),
        shuffle_read_bytes=int(sr.get("Local Bytes Read", 0)) + int(sr.get("Remote Bytes Read", 0)),
        fetch_wait_ms=int(sr.get("Fetch Wait Time", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
        input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        records_written=int((m.get("Output Metrics") or {}).get("Records Written", 0)),
    )


def _stage(ev: dict) -> Stage:
    info = ev["Stage Info"]
    scopes = set()
    for rdd in info.get("RDD Info", []):
        if rdd.get("Scope"):
            scopes.add(json.loads(rdd["Scope"])["name"].strip())
    return Stage(
        stage_id=int(info["Stage ID"]),
        submit_ms=int(info.get("Submission Time", 0)),
        complete_ms=int(info.get("Completion Time", 0)),
        scopes=frozenset(scopes),
    )


def read_event_log(path: str) -> tuple[dict[int, Stage], list[Task]]:
    """Parse one event-log file into completed stages (by id) and tasks."""
    stages: dict[int, Stage] = {}
    tasks: list[Task] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if '"SparkListenerTaskEnd"' in line:
                tasks.append(_task(json.loads(line)))
            elif '"SparkListenerStageCompleted"' in line:
                st = _stage(json.loads(line))
                stages[st.stage_id] = st
    return stages, tasks


def in_window(tasks: list[Task], t0_ms: float, t1_ms: float) -> list[Task]:
    """Tasks launched inside [t0_ms, t1_ms)."""
    return [t for t in tasks if t0_ms <= t.launch_ms < t1_ms]


def stages_with(stages: dict[int, Stage], tasks: list[Task], scope: str) -> list[Stage]:
    """Stages (among those the given tasks ran in) whose operators include
    a scope whose name starts with ``scope``."""
    ids = {t.stage_id for t in tasks}
    return [
        stages[i] for i in sorted(ids)
        if i in stages and any(s.startswith(scope) for s in stages[i].scopes)
    ]


def totals(tasks: list[Task]) -> dict[str, float]:
    """Summed task metrics in seconds and bytes. ``cpu_s`` is JVM executor
    CPU plus the time the JVM waited on Python workers (the Python side's
    CPU is not in the JVM's counter)."""
    return {
        "run_s": sum(t.run_ms for t in tasks) / 1e3,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 + sum(t.python_ms for t in tasks) / 1e3,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_read_bytes": float(sum(t.shuffle_read_bytes for t in tasks)),
        "fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "input_bytes": float(sum(t.input_bytes for t in tasks)),
        "records_written": float(sum(t.records_written for t in tasks)),
    }
