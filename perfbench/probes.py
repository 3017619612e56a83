"""Per-layer probes, timed from outside the program at its public handles.

* ``HopListener`` - a ``StreamingQueryListener`` that keeps every progress
  event (``recentProgress`` holds only the last 100 batches) and folds them
  into the ``topology.qN.*`` and ``fanin.*`` metrics.
* ``service_lags`` - when each request file and its response file became
  visible, read from the topic dirs after the run (``services.*``).
* ``scan_topics`` - files and lines per topic (``transport.*``).
* ``event_log_metrics`` - task, shuffle and spill totals from Spark event
  logs (``spark.*``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading

from pyspark.sql.streaming import StreamingQueryListener

HOP_DURATIONS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "get_batch_ms_p50": "getBatch",
    "planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
}


def visible_files(topic_dir: str) -> list[str]:
    """Published .json files under a topic dir, skipping hidden entries -
    the visibility rule Spark's file listing applies."""
    out = []
    for base, dirs, files in os.walk(topic_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel = os.path.relpath(base, topic_dir)
        for fn in files:
            if fn.endswith(".json") and not fn.startswith((".", "_")):
                out.append(fn if rel == "." else f"{rel}/{fn}")
    return out


class HopListener(StreamingQueryListener):
    def __init__(self):
        self.events: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = [
            (o.numRowsTotal, o.numRowsUpdated, o.memoryUsedBytes)
            for o in (p.stateOperators or [])
        ]
        with self._lock:
            self.events.append(
                (str(p.id), p.numInputRows, dict(p.durationMs or {}), ops)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def metrics(self, query_ids: list[str], wall_s: float) -> dict:
        """``topology.qN.*`` for the queries in ``query_ids`` (q1 first)
        and ``fanin.*`` from q6's state operator."""
        with self._lock:
            events = list(self.events)
        out: dict = {}
        for n, qid in enumerate(query_ids, start=1):
            mine = [e for e in events if e[0] == qid]
            busy = [e for e in mine if e[1] > 0]
            pre = f"topology.q{n}."
            out[pre + "batches"] = len(busy)
            out[pre + "rows_in"] = sum(e[1] for e in busy)
            for name, key in HOP_DURATIONS.items():
                xs = [e[2].get(key, 0) for e in busy]
                out[pre + name] = statistics.median(xs) if xs else 0.0
            total_ms = sum(e[2].get("triggerExecution", 0) for e in mine)
            out[pre + "busy_frac"] = total_ms / 1000 / wall_s if wall_s > 0 else 0.0
        q6 = [e for e in events if query_ids and e[0] == query_ids[-1]]
        ops = [op for e in q6 for op in e[3]]
        out["fanin.state_rows_max"] = max((o[0] for o in ops), default=0)
        out["fanin.rows_updated"] = sum(o[1] for o in ops)
        out["fanin.state_bytes_max"] = max((o[2] for o in ops), default=0)
        return out


def _visible_at(topic_dir: str, rel: str) -> float:
    """When a published file became visible: its last rename into place,
    or the rename of the epoch dir that holds it (a rename sets ctime)."""
    t, path = 0.0, topic_dir
    for part in rel.split("/"):
        path = os.path.join(path, part)
        t = max(t, os.stat(path).st_ctime)
    return t


def service_lags(pairs: dict) -> dict:
    """``services.*.{files_handled,lag_p50_s}`` from the topic dirs after a
    run, so nothing polls while the topology runs. ``pairs`` maps a service
    to its (request dir, response dir); a simulator answers request file
    ``<rel>.json`` with one response file ``r-<rel with / as _>.json``."""
    out = {}
    for svc, (req_dir, resp_dir) in pairs.items():
        answered = set(visible_files(resp_dir))
        lags = []
        for rel in visible_files(req_dir):
            answer = "r-" + rel[: -len(".json")].replace("/", "_") + ".json"
            if answer in answered:
                lags.append(_visible_at(resp_dir, answer) - _visible_at(req_dir, rel))
        out[f"services.{svc}.files_handled"] = len(lags)
        out[f"services.{svc}.lag_p50_s"] = statistics.median(lags) if lags else 0.0
    return out


def scan_topics(topics: dict) -> dict:
    out = {}
    for name, topic in topics.items():
        files = visible_files(topic.dir)
        n_lines = 0
        for rel in files:
            with open(os.path.join(topic.dir, rel)) as fh:
                n_lines += sum(1 for ln in fh if ln.strip())
        out[f"transport.{name}.files"] = len(files)
        out[f"transport.{name}.lines"] = n_lines
    return out


def event_log_metrics(paths: list[str]) -> dict:
    """Task count, shuffle bytes, spill bytes and the worst per-stage
    task-time skew (max over median, stages with >= 4 tasks) across the
    given Spark event logs."""
    tasks = shuffle_read = shuffle_write = spill = 0
    stage_times: dict = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks += 1
                sr = m.get("Shuffle Read Metrics") or {}
                shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                key = (path, ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                stage_times.setdefault(key, []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
    skews = [
        max(ts) / statistics.median(ts)
        for ts in stage_times.values()
        if len(ts) >= 4 and statistics.median(ts) > 0
    ]
    return {
        "spark.tasks": tasks,
        "spark.shuffle_read_bytes": shuffle_read,
        "spark.shuffle_write_bytes": shuffle_write,
        "spark.spill_bytes": spill,
        "spark.task_max_over_median": max(skews, default=0.0),
    }


def event_logs(directory: str) -> set:
    return set(glob.glob(os.path.join(directory, "*")))
