"""Traced-run spans, recorded from the benchmark's own files.

``Tracer.wrap`` replaces one engine attribute (a function, method,
staticmethod or classmethod) by a wrapper that records a span around
each call and restores the original on ``unwrap_all``. Spans are kept
in memory with their parent span and batch id and written out once, at
the end of the run. A boundary that no longer exists in the engine is
listed in ``absent`` instead of failing the run, and an argument hook
that no longer fits its boundary is listed in ``hook_errors``."""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Callable


class Tracer:
    def __init__(self, jobs: Callable[[], int] | None = None):
        self._jobs = jobs or (lambda: 0)
        self.spans: list[dict] = []
        self.absent: list[str] = []
        self.hook_errors: set[str] = set()
        self.batch: str | None = None
        # per-batch scratch the argument hooks fill (e.g. scan depth)
        self.scratch: dict = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "batch": self.batch,
            "name": name,
            **attrs,
        }
        j0 = self._jobs()
        rec["t0"] = time.perf_counter()
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
            rec["jobs"] = self._jobs() - j0
            with self._lock:
                self.spans.append(rec)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        hook: Callable[["Tracer", dict, dict], None] | None = None,
    ) -> bool:
        """Record a span named ``name`` around ``owner.attr``. ``hook``
        sees (tracer, span record, arguments by parameter name) before
        the call, to derive counts from the arguments."""
        try:
            raw = inspect.getattr_static(owner, attr)
        except AttributeError:
            self.absent.append(name)
            return False
        if isinstance(raw, (staticmethod, classmethod)):
            fn, rebind = raw.__func__, type(raw)
        else:
            fn, rebind = raw, None
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if hook is not None:
                    try:
                        hook(self, rec, sig.bind_partial(*args, **kwargs).arguments)
                    except Exception as e:  # a changed signature must not fail the call
                        self.hook_errors.add(f"{name}: {type(e).__name__}: {e}")
                return fn(*args, **kwargs)

        setattr(owner, attr, rebind(wrapper) if rebind else wrapper)
        self._patches.append((owner, attr, raw))
        return True

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def in_batch(self, batch: str | None) -> list[dict]:
        return [s for s in self.spans if s["batch"] == batch]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(s, default=_plain) + "\n")


def _plain(x):
    try:
        return x.item()
    except AttributeError:
        return str(x)


def dur_ms(spans: list[dict], name: str) -> float:
    return sum((s["t1"] - s["t0"]) for s in spans if s["name"] == name) * 1000.0


def jobs_of(spans: list[dict], name: str) -> int:
    return sum(s["jobs"] for s in spans if s["name"] == name)


def calls(spans: list[dict], name: str) -> int:
    return sum(1 for s in spans if s["name"] == name)


def self_ms(spans: list[dict], root: dict) -> float:
    """Duration of ``root`` minus the time its direct children cover."""
    kids = [s for s in spans if s["parent"] == root["id"]]
    covered = sum(s["t1"] - s["t0"] for s in kids)
    return (root["t1"] - root["t0"] - covered) * 1000.0
