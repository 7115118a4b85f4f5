"""Open-loop file generator and the stream bookkeeping both streaming
workloads share: which micro-batch took which file (from the file
source's checkpoint log) and when each batch started and ended (from the
engine's progress feed, ``streaming.metrics.ProgressLog``)."""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime


class Generator(threading.Thread):
    """Writes pre-rendered files into ``dest`` on a fixed schedule: file
    ``i`` is due at ``t0 + i * tick``. A file appears atomically (written
    under a hidden name, then renamed). The schedule never slows when the
    system does, and every write records how late it ran."""

    def __init__(self, dest: str, files, tick: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.dest = dest
        self.files = files
        self.tick = tick
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def start(self) -> None:
        self.t0 = time.time() + 0.05
        super().start()

    def run(self) -> None:
        try:
            for i, f in enumerate(self.files):
                due = self.t0 + i * self.tick
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                write_atomic(self.dest, f.name, f.text)
                self.due[f.name] = due
                self.late.append(time.time() - due)
        except BaseException as e:  # surfaced by the workload after join
            self.error = e


def write_atomic(dest: str, name: str, text: str) -> None:
    tmp = os.path.join(dest, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(dest, name))


def wait_idle(query, timeout: float = 60.0) -> None:
    """Block until a freshly started stream waits for data."""
    end = time.time() + timeout
    while time.time() < end:
        st = query.status
        if not st.get("isTriggerActive") and "Waiting for" in st.get("message", ""):
            return
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)
    raise TimeoutError("stream did not become idle")


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log
    (plain batch files and the periodic ``.compact`` files)."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_times(progress: list[dict], run_id: str) -> dict[int, dict]:
    """Per batch of one query run: trigger start, end of the sink call,
    and the duration breakdown in ms."""
    out = {}
    for p in progress:
        if p.get("runId") != run_id or not p.get("numInputRows"):
            continue
        d = p.get("durationMs") or {}
        start = _epoch(p["timestamp"])
        trig = d.get("triggerExecution", 0) / 1000.0
        out[int(p["batchId"])] = {
            "start": start,
            "sink_end": start + trig - d.get("commitOffsets", 0) / 1000.0,
            "rows": int(p["numInputRows"]),
            "trigger_ms": d.get("triggerExecution", 0),
            "sink_ms": d.get("addBatch", 0),
            "offset_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
            "log_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        }
    return out


def wait_progress(log, run_id: str, batch_id: int, timeout: float = 20.0) -> None:
    """Progress events arrive on the listener bus after the batch; wait
    until the one for ``batch_id`` is in."""
    end = time.time() + timeout
    while time.time() < end:
        if any(p.get("runId") == run_id and int(p.get("batchId", -1)) >= batch_id
               for p in list(log.events)):
            return
        time.sleep(0.05)
    raise TimeoutError(f"no progress event for batch {batch_id}")
