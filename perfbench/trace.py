"""Span tracing from outside the program, and Spark event-log attribution.

``Tracer.install`` swaps public functions of the program for timing wrappers
(restored by ``uninstall``). Each wrapper sets the Spark job group to its span
name for the duration of the call and restores the caller's group after, so
the group a job carries is the innermost span active when it started. The
parsed event log then gives per-span job counts, executor run time and bytes.

Spark is lazy: a span covers planning plus the eager actions the function
itself runs. Work a function only plans executes in the span of whatever
materializes it, usually ``io.append`` / ``io.overwrite``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from typing import Callable

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._t0 = time.perf_counter()
        self._frames: list[list] = []  # [name, start, child_seconds]
        self._patches: list[tuple] = []
        self.spans: list[dict] = []  # trace, name, start, end (s since creation), parent
        self.trace = ""  # shared by the spans of one day, read-mix pass or report
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)

    def _set_group(self, name: str | None) -> None:
        self._sc.setLocalProperty(GROUP_KEY, name)

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside span ``name``."""
        self._frames.append([name, time.perf_counter(), 0.0])
        self._set_group(name)
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            _, start, child = self._frames.pop()
            parent = self._frames[-1][0] if self._frames else None
            self._set_group(parent)
            dur = end - start
            self.self_s[name] += dur - child
            self.calls[name] += 1
            if self._frames:
                self._frames[-1][2] += dur
            self.spans.append({"trace": self.trace, "name": name,
                               "start": round(start - self._t0, 6),
                               "end": round(end - self._t0, 6), "parent": parent})

    def record(self, name: str, seconds: float) -> None:
        """Account a span timed elsewhere (the session start, before any
        wrapper could be installed)."""
        self.self_s[name] += seconds
        self.calls[name] += 1

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name or fn(args) -> name,
        optional fn(tracer, result) run on each result)."""
        for owner, attr, namer, on_result in targets:
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, namer, on_result))
            self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    @contextlib.contextmanager
    def installed(self, targets):
        self.install(targets)
        try:
            yield self
        finally:
            self.uninstall()

    def write_spans(self, path: str) -> None:
        """One JSON object per finished span, in finishing order."""
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")

    def _wrap(self, fn, namer, on_result):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = namer(args) if callable(namer) else namer
            result = tracer.call(name, fn, *args, **kwargs)
            if on_result is not None:
                on_result(tracer, result)
            return result

        return wrapper


def event_log_files(log_dir: str) -> list[str]:
    """The event-log file(s) under ``log_dir``. Spark 4 writes compressed,
    rolling logs by default; the traced run turns both off, and anything
    else is refused rather than misread."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    for p in paths:
        if os.path.isdir(p) or p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(
                f"rolling or compressed event log not supported: {p}; set "
                "spark.eventLog.rolling.enabled and spark.eventLog.compress to false"
            )
    return paths


def parse_event_log(files: list[str]) -> dict[str, dict]:
    """Per job group: jobs started, executor run seconds, shuffle bytes
    written and output bytes written. Jobs without a group are keyed ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "busy_s": 0.0, "shuffle_bytes": 0, "output_bytes": 0}
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    g["busy_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return dict(out)
