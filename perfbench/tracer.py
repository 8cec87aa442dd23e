"""Outside-in tracing: spans around the program's public functions.

The tracer never edits program source. It replaces module attributes
with wrappers for the duration of a traced section and restores them
afterwards, so calls from inside the program (``pipeline`` calling
``read_csv_all_text``) are seen exactly where the program looks the
name up.

Spans are kept in memory. A span's parent is the innermost open span on
its own thread; a span opened on a thread with no open span (a worker
thread of the program's pools) takes the current operation span as its
parent, so overlapped work still hangs under the operation that caused
it. Self time is the span's duration minus the union of the intervals
its children cover, clipped to the span, which stays correct when
children on different threads overlap each other.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    thread: str = ""
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.sid] = s.duration - union_length(clipped)
    return out


class Tracer:
    """Span recorder plus attribute patching for a traced section."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- span recording ---------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._op
        with self._lock:
            span = Span(
                name, self.clock(), parent=parent,
                thread=threading.current_thread().name,
                sid=len(self.spans), attrs=attrs,
            )
            self.spans.append(span)
        st.append(span.sid)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        st = self._stack()
        if st and st[-1] == span.sid:
            st.pop()
        elif span.sid in st:
            st.remove(span.sid)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextlib.contextmanager
    def operation(self, name: str, **attrs):
        """Span for one benchmark operation; parent of orphan spans."""
        with self.span(name, **attrs) as s:
            self._op = s.sid
            try:
                yield s
            finally:
                self._op = None

    # -- patching ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str | None = None, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_call(span, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer.open(label)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            except BaseException:
                s.attrs["error"] = True
                raise
            finally:
                tracer.close(s)
                if on_call is not None:
                    on_call(s, args, kwargs, result)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def to_records(self) -> list[dict]:
        """Spans as plain records, with self time, for writing out."""
        st = self_times(self.spans)
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "thread": s.thread, "start": s.start, "end": s.end,
                "self": st.get(s.sid), **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))
