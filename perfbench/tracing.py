"""Tracing for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps ``Warehouse.stage`` (one span per pipeline stage) and
``query.prepare_query_mentions``, and opens spans around each request and
driver query itself. Opening a span also tags the calling thread's Spark
jobs with the span's layer and operation through Spark local properties.
Those are per-thread in pinned-thread mode, so the two pipeline branches
that build concurrently keep their own tags.

After the run, ``fold_event_log`` reads Spark's (uncompressed) event log
and sums every task's metrics per (operation, layer) tag.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from urllib.parse import unquote, urlparse

LAYER_KEY = "perfbench.layer"
OP_KEY = "perfbench.op"

STAGES = ["mentions", "idf", "mention_feats", "pairs", "pair_scores",
          "clusters", "entities"]

# per-stage fields folded from Spark task metrics
TASK_FIELDS = ["jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "python_s", "to_python_bytes", "shuffle_write_bytes",
               "shuffle_read_bytes", "spill_bytes"]
STAGE_FIELDS = ["wall_s", "rows_out", "bytes_written"] + TASK_FIELDS

# SQL metric (accumulator) names of the Python-worker operators
# (MapInPandas, FlatMapCoGroupsInArrow, ...)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so the untraced
    run executes the same benchmark code without touching Spark
    properties."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op = "setup"  # operation the next spans belong to
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str, op: str | None = None):
        if not self.enabled:
            yield {}
            return
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        op = op or self.op
        prev = (sc.getLocalProperty(LAYER_KEY), sc.getLocalProperty(OP_KEY))
        sc.setLocalProperty(LAYER_KEY, layer)
        sc.setLocalProperty(OP_KEY, op)
        sc.setJobDescription(f"{op}/{layer}")
        rec = {"layer": layer, "op": op,
               "thread": threading.current_thread().name,
               "start": time.monotonic()}
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            sc.setLocalProperty(LAYER_KEY, prev[0])
            sc.setLocalProperty(OP_KEY, prev[1])
            sc.setJobDescription(f"{prev[1]}/{prev[0]}" if prev[0] else None)
            with self._lock:
                self.spans.append(rec)

    def walls(self, op: str) -> dict[str, float]:
        """layer -> summed span wall of one operation."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] == op:
                out[s["layer"]] += s["end"] - s["start"]
        return dict(out)

    def instrument_program(self) -> None:
        """Wrap the program's layer entry points (once per process)."""
        if not self.enabled:
            return
        import webr.query
        from webr.catalog import Warehouse
        tracer = self
        orig_stage = Warehouse.stage
        orig_prepare = webr.query.prepare_query_mentions

        def stage(wh, table, snapshot, build, *args, **kwargs):
            with tracer.span(table) as rec:
                out = orig_stage(wh, table, snapshot, build, *args, **kwargs)
            rec["rows_out"] = (wh.manifest(table) or {}).get("rows", 0)
            rec["bytes_written"] = files_bytes(out)
            return out

        def prepare_query_mentions(*args, **kwargs):
            with tracer.span("query.prepare"):
                return orig_prepare(*args, **kwargs)

        Warehouse.stage = stage
        webr.query.prepare_query_mentions = prepare_query_mentions


def files_bytes(df) -> int:
    """On-disk bytes of the files behind a file-scan DataFrame."""
    total = 0
    for uri in df.inputFiles():
        path = unquote(urlparse(uri).path)
        if os.path.exists(path):
            total += os.path.getsize(path)
    return total


def find_event_log(log_dir: str, app_id: str) -> str:
    """The finished (renamed, no ``.inprogress``) log of an application."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no finished event log {path}")
    return path


def fold_event_log(path: str) -> dict[tuple[str, str], dict[str, float]]:
    """(op, layer) -> summed task metrics; untagged work folds under
    ("", "")."""
    stage_tag: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0.0))

    def tag_of(props: dict | None) -> tuple[str, str]:
        props = props or {}
        return props.get(OP_KEY, ""), props.get(LAYER_KEY, "")

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = tag_of(ev.get("Properties"))
                out[tag]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_tag[sid] = tag_of(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                m = out[stage_tag.get(ev["Stage ID"], ("", ""))]
                tm = ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables",
                                                            []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == _PY_TIME:
                        m["python_s"] += int(upd) / 1e3
                    elif name == _PY_SENT:
                        m["to_python_bytes"] += int(upd)
    return dict(out)
