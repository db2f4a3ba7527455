"""Tracing from outside the program: spans around the benchmark's calls into
each layer, and counters read from Spark's public status APIs.

- :class:`Tracer` keeps spans (name, start, end, parent span, op id) in
  memory; :class:`NullTracer` is the untraced stand-in with the same
  interface. Self time is a span's duration minus the part of it covered
  by its children, so the self times of an op's spans add up to the op's
  wall time.
- :class:`SparkProbe` reads per-op job, stage and SQL-operator counters by
  job group (``SparkContext.setJobGroup``), the status trackers and the SQL
  status store, plus Catalyst phase times from
  ``queryExecution().tracker()``.
- :class:`StreamListener` collects micro-batch progress through a
  ``StreamingQueryListener``.
- :class:`RssSampler` samples the resident memory of the process tree.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

_NULL = contextlib.nullcontext()


class NullTracer:
    enabled = False

    def span(self, name: str):
        return _NULL

    def begin_op(self, op_id: int, name: str) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    """In-memory span recorder (one client thread)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "name": name,
            "start_ns": time.perf_counter_ns(),
            "end_ns": None,
        })
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end_ns"] = time.perf_counter_ns()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._open(name)
        try:
            yield sid
        finally:
            self._close(sid)

    def begin_op(self, op_id: int, name: str) -> None:
        self._op = op_id
        self._open(f"op.{name}")

    def end_op(self) -> None:
        self._close(self._stack[-1])
        self._op = None

    def add(self, name: str, start_ns: int, end_ns: int, parent: int) -> None:
        """A span measured elsewhere (e.g. a Catalyst phase), clipped to its parent."""
        p = self.spans[parent]
        start_ns, end_ns = max(start_ns, p["start_ns"]), min(end_ns, p["end_ns"])
        if end_ns > start_ns:
            self.spans.append({"id": len(self.spans), "parent": parent, "op": p["op"],
                               "name": name, "start_ns": start_ns, "end_ns": end_ns})

    def find(self, op_id: int, name: str) -> int | None:
        for s in reversed(self.spans):
            if s["op"] == op_id and s["name"] == name:
                return s["id"]
        return None

    def self_times(self) -> dict[int, int]:
        """span id → self time in ns (duration minus the union of its children)."""
        children: dict[int, list[tuple[int, int]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
        return out


def layer_of(span_name: str) -> str:
    """The layer a span belongs to: the part of its name before the first dot
    (``op.*`` spans are the benchmark's own loop)."""
    head = span_name.split(".", 1)[0]
    return "bench" if head == "op" else head


_TIME = re.compile(r"^([\d.,]+) (ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NODE = re.compile(r'label="(.*?)" tooltip=', re.S)


def _top_operator(dot: str) -> tuple[str, float]:
    """(node name, ms) of the largest time metric in a plan-graph DOT dump."""
    best = ("", 0.0)
    for label in _NODE.findall(dot):
        parts = [p for p in label.split("<br>") if p]
        if not parts:
            continue
        node = re.sub(r"</?b>", "", parts[0])
        for i, p in enumerate(parts[1:], start=1):
            if p.endswith("total (min, med, max (stageId: taskId))"):
                metric = p[: -len("total (min, med, max (stageId: taskId))")]
                value = parts[i + 1] if i + 1 < len(parts) else ""
            elif ": " in p:
                metric, value = p.split(": ", 1)
            else:
                continue
            m = _TIME.match(value)
            if m and ("time" in metric or "duration" in metric):
                ms = float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]
                if ms > best[1]:
                    best = (f"{node}: {metric.strip()}", ms)
    return best


class SparkProbe:
    """Per-op counters from Spark's status APIs, read after the op returns."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.status = self.sc.statusTracker()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def execution_count(self) -> int:
        return int(self.sql_store.executionsCount())

    def phases(self, df) -> dict[str, tuple[int, int]]:
        """Catalyst phase → (start, end) in epoch ms, from the query's tracker."""
        try:
            ph = self.conv.asJava(df._jdf.queryExecution().tracker().phases())
        except Exception:  # a frame without a JVM query execution
            return {}
        return {k: (int(ph.get(k).startTimeMs()), int(ph.get(k).endTimeMs())) for k in ph.keySet()}

    def job_stats(self, group: str, timeout_s: float = 3.0) -> dict[str, float]:
        """Jobs, tasks, shuffle-write and spill bytes of a job group's jobs."""
        deadline = time.monotonic() + timeout_s
        while True:
            ids = list(self.status.getJobIdsForGroup(group))
            infos = [self.status.getJobInfo(j) for j in ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.02)
        out = {"jobs": float(len(ids)), "tasks": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
        for info in infos:
            if info is None:
                continue
            for sid in list(info.stageIds):
                try:
                    sd = self.app_store.lastStageAttempt(int(sid))
                except Exception:  # stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def top_operator(self, first_execution: int, timeout_s: float = 3.0) -> tuple[str, float]:
        """Largest operator time metric over the SQL executions since ``first_execution``."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = list(self.conv.asJava(self.sql_store.executionsList(first_execution, 1 << 20)))
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        best = ("", 0.0)
        for e in execs:
            eid = e.executionId()
            try:
                dot = self.sql_store.planGraph(eid).makeDotFile(self.sql_store.executionMetrics(eid))
            except Exception:  # execution evicted or never planned
                continue
            cand = _top_operator(dot)
            if cand[1] > best[1]:
                best = cand
        return best


class StreamListener:
    """Micro-batch progress of the streaming queries run during one op."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.spark = spark
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started.add(str(event.runId))

            def onQueryProgress(self, event):
                with outer.lock:
                    outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.runId))

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def drain(self, timeout_s: float = 5.0) -> dict[str, float]:
        """Wait for every started query's termination event, then sum its batches."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.02)
        with self.lock:
            progress, self.progress = self.progress, []
            self.started, self.terminated = set(), set()
        out = {k: 0.0 for k in ("batches", "trigger_ms", "add_batch_ms", "wal_commit_ms",
                                "commit_offsets_ms", "query_planning_ms", "state_rows",
                                "state_memory_bytes")}
        last_state: dict[str, tuple[float, float]] = {}
        for p in progress:
            d = p.durationMs or {}
            out["batches"] += 1
            out["trigger_ms"] += d.get("triggerExecution", 0)
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["wal_commit_ms"] += d.get("walCommit", 0)
            out["commit_offsets_ms"] += d.get("commitOffsets", 0)
            out["query_planning_ms"] += d.get("queryPlanning", 0)
            ops = p.stateOperators or []
            last_state[str(p.runId)] = (
                float(sum(o.numRowsTotal for o in ops)),
                float(sum(o.memoryUsedBytes for o in ops)),
            )
        out["state_rows"] = sum(v[0] for v in last_state.values())
        out["state_memory_bytes"] = sum(v[1] for v in last_state.values())
        return out


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
    except OSError:
        pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of the process tree, sampled every ``interval_s``.
    (RSS from ``statm`` is cheap to read; PSS from ``smaps_rollup`` walks the
    JVM's page tables and cost a quarter of a core at this rate.)"""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        sizes = {p: _rss_kb(p) for p in process_tree()}
        total = sum(sizes.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_by_process = {}
            for p, kb in sizes.items():
                try:
                    with open(f"/proc/{p}/comm") as f:
                        name = f.read().strip()
                except OSError:
                    name = "?"
                self.peak_by_process[name] = self.peak_by_process.get(name, 0.0) + kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0
