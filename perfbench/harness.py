"""Shared run loop, statistics, tracing and process accounting.

A workload is an object with

* ``setup()``: everything before the first step (servers, inputs,
  sessions); the harness times it as part of ``setup_s``;
* ``prepare(i)``: untimed work that readies step ``i`` (e.g. committing
  the WAL the step drains);
* ``step(i)``: the timed step; returns what ``check`` needs;
* ``check(i, out)``: untimed; raises :class:`CheckFailed` if the step's
  output is wrong, else returns the number of change events the step
  completed;
* ``layer_metrics(steps)``: per-layer metrics of the traced steps;
* ``close()``: stops every process and removes every file it made;
* ``max_steps`` (optional): the most timed steps its set-up allows.

Steps run closed-loop with one client: the next starts after the
previous one has committed and been checked.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from contextlib import contextmanager

# A run measures at least this many steps, so the tail percentile (the
# highest with >= TAIL_BEYOND steps beyond it) always exists.
TAIL_BEYOND = 10
MIN_STEPS = 12
# ...and stops taking new steps after this much measuring wall, however
# slow the program got, so a run ends well inside 180 s.
MAX_MEASURE_S = 100.0


# The per-layer metrics every traced run prints (BENCHMARK.json's
# per_layer), with units. A workload reports the layers it drives; a
# layer it bypasses reads 0. A workload may print more of its own.
PER_LAYER = {
    "pgwire.read_ms": "ms", "pgwire.messages": "count", "pgwire.bytes": "bytes",
    "capture.append_ms": "ms", "capture.flush_ms": "ms", "capture.ack_ms": "ms",
    "capture.files": "count", "capture.bytes_written": "bytes",
    "capture.file_p50_ms": "ms", "capture.ack_lag_bytes": "bytes",
    "pgoutput.decode_ms": "ms", "pgoutput.events_per_s_1thread": "events/s",
    "postgres_cdc.scan_ms": "ms", "postgres_cdc.scans_per_action": "count",
    "postgres_cdc.partitions": "count",
    "materialize.apply_ms": "ms", "materialize.jobs": "count",
    "materialize.stages": "count", "materialize.tasks": "count",
    "materialize.output_rows": "count",
    "session.persisted_rdds": "count", "session.tmp_dirs_leaked": "count",
    "calib.range_ms": "ms", "calib.cpu_ms": "ms", "trace.overhead_pct": "%",
}


class CheckFailed(AssertionError):
    """A step's output differs from the generator's model."""


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples strictly above its rank."""
    ordered = sorted(values)
    k = max(1, len(ordered) - TAIL_BEYOND)
    return ordered[k - 1], 100.0 * k / len(ordered)


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, step) and per-step
    counters, written as JSON lines at exit. Disabled, it records
    nothing and ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = {}
        self.step: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "step": self.step,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        """Add to a counter of the current step."""
        if self.enabled:
            per = self.counters.setdefault(self.step, {})
            per[name] = per.get(name, 0.0) + value

    def span_ms(self, name: str, steps: list[int]) -> list[float]:
        """Per-step total milliseconds of spans called ``name``."""
        tot = {s: 0.0 for s in steps}
        for rec in self.spans:
            if rec["name"] == name and rec["step"] in tot and rec["end"] is not None:
                tot[rec["step"]] += (rec["end"] - rec["start"]) * 1e3
        return [tot[s] for s in steps]

    def counter(self, name: str, steps: list[int]) -> list[float]:
        return [self.counters.get(s, {}).get(name, 0.0) for s in steps]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
            for step, per in sorted(self.counters.items(),
                                    key=lambda kv: (kv[0] is None, kv[0] or 0)):
                f.write(json.dumps({"counters": per, "step": step}) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- process accounting -------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None, exclude_comm: str = "postgres") -> list[int]:
    """``root`` and its live descendants, minus processes named
    ``exclude_comm`` and their subtrees."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == exclude_comm:
                    continue
        except OSError:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_calibration_ms(rounds: int = 5) -> float:
    """Median wall of a fixed pure-Python loop: host speed, not code."""
    walls = []
    for _ in range(rounds):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        walls.append((time.perf_counter() - t) * 1e3)
    return median(walls)


# -- the run ------------------------------------------------------------------


class Runner:
    """Drives one workload: setup, warm-up, measured steps, metrics."""

    def __init__(self, workload, seconds: float, trace: bool, t0: float,
                 log=print) -> None:
        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.plain_walls: list[float] = []
        self.plain_rates: list[float] = []
        self.traced_walls: list[float] = []
        self.traced_steps: list[int] = []

    def _one(self, i: int, traced: bool) -> tuple[float, int] | None:
        wl, tracer = self.wl, self.wl.tracer
        tracer.enabled = traced
        tracer.step = i
        try:
            wl.prepare(i)
            gc.collect()  # no collection of earlier garbage inside the step
            with tracer.span("step"):
                start = time.perf_counter()
                out = wl.step(i)
                wall = time.perf_counter() - start
            events = wl.check(i, out)
        except Exception as exc:  # a failed step is counted, not fatal
            self.log(f"step {i} failed: {type(exc).__name__}: {exc}")
            return None
        finally:
            tracer.enabled = False
        return wall, events

    def run(self) -> dict:
        wl = self.wl
        wl.setup()
        warm = []
        for i in range(wl.warmup_steps):
            res = self._one(-1 - i, traced=False)
            if res is None:  # counted, so the result reads correct=false
                self.attempted += 1
                self.failed += 1
            else:
                warm.append(round(res[0], 3))
        setup_s = wl.setup_seconds(time.perf_counter() - self.t0)
        self.log(f"info: setup_s={setup_s:.2f} warm-up step walls (s) {warm}")

        start = time.perf_counter()
        max_steps = getattr(wl, "max_steps", None) or float("inf")
        i = 0
        while ((time.perf_counter() - start < self.seconds or i < MIN_STEPS)
               and time.perf_counter() - start < MAX_MEASURE_S and i < max_steps):
            # traced runs alternate traced and plain steps, so the
            # tracing overhead is measured against the same host state
            traced = self.trace and i % 2 == 1
            res = self._one(i, traced)
            self.attempted += 1
            if res is None:
                self.failed += 1
            elif traced:
                self.traced_walls.append(res[0])
                self.traced_steps.append(i)
            else:
                self.plain_walls.append(res[0])
                self.plain_rates.append(res[1] / res[0])
            i += 1
        return self._metrics(setup_s)

    def _metrics(self, setup_s: float) -> dict:
        wl = self.wl
        plain = self.plain_walls or [float("nan")]
        tail_v, tail_p = tail(plain)
        self.log(f"info: workload={wl.name} steps={self.attempted} "
                 f"failed={self.failed} timed_steps={len(plain)} "
                 f"step_tail=p{tail_p:.1f} nproc={os.cpu_count()} "
                 f"{wl.describe()}")
        self.log(f"info: timed step walls (s) {[round(w, 3) for w in plain]}")
        rss = peak_rss_mb(process_tree())
        if not self.trace:
            return {
                "setup_s": (setup_s, "s"),
                "events_per_s": (median(self.plain_rates), "events/s"),
                "step_p50_ms": (median(plain) * 1e3, "ms"),
                "step_tail_ms": (tail_v * 1e3, "ms"),
                "peak_rss_mb": (rss, "MB"),
            }
        layers = wl.layer_metrics(self.traced_steps)
        plain_ms, traced_ms = median(self.plain_walls), median(self.traced_walls)
        layers["trace.overhead_pct"] = (
            100.0 * (traced_ms - plain_ms) / plain_ms if plain_ms else 0.0, "%")
        layers["calib.cpu_ms"] = (cpu_calibration_ms(), "ms")
        out = {name: (0.0, unit) for name, unit in PER_LAYER.items()}
        out.update({name: (float(v), unit) for name, (v, unit) in layers.items()})
        return out
