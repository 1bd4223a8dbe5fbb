"""In-memory spans for the traced run.

A span records name, start, end and parent. While a span is open, every
Spark job started from this thread carries the job description
``perfbench:<span id>``, which is how ``eventlog.attribute`` maps task
metrics back to spans.

``wrap_actions`` labels the Spark actions a program function makes
(``CrawlEngine.run`` and ``run_pipeline`` are single entry points, so
their inner actions cannot be wrapped from outside one by one): while
installed, each call of a wrapped pyspark action from a function of the
program opens a span named ``<function qualname>:<action>``.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

from eventlog import PREFIX, covered

#: (owner, method) pairs wrapped by ``wrap_actions``; owners resolved at
#: install time from a live DataFrame so the classic and Connect class
#: split of pyspark 4 does not matter
DATAFRAME_ACTIONS = ("count", "first", "collect", "localCheckpoint")
WRITER_ACTIONS = ("save", "parquet")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(PREFIX + rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                PREFIX + self._stack[-1]["id"] if self._stack else None
            )

    def children(self, span_id: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, rec: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(rec["id"])]
        return (rec["end"] - rec["start"]) - covered(kids, rec["start"], rec["end"])

    def descendants(self, span_id: str) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out


def _program_caller(roots: tuple[str, ...]) -> str | None:
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.startswith(roots):
            return f.f_code.co_qualname
        f = f.f_back
    return None


@contextmanager
def wrap_actions(tracer: Tracer, spark, program_dirs: list[str]):
    """Open a span around each pyspark action a program function calls."""
    roots = tuple(os.path.abspath(d) + os.sep for d in program_dirs)
    probe = spark.range(1)
    owners = [(type(probe), DATAFRAME_ACTIONS), (type(probe.write), WRITER_ACTIONS)]
    saved = []
    busy = [False]

    def make(orig, action):
        def wrapper(*args, **kwargs):
            if busy[0]:
                return orig(*args, **kwargs)
            caller = _program_caller(roots)
            if caller is None:
                return orig(*args, **kwargs)
            busy[0] = True
            try:
                with tracer.span(f"{caller}:{action}"):
                    return orig(*args, **kwargs)
            finally:
                busy[0] = False

        return wrapper

    for cls, names in owners:
        for name in names:
            orig = getattr(cls, name)
            saved.append((cls, name, orig))
            setattr(cls, name, make(orig, name))
    try:
        yield
    finally:
        for cls, name, orig in saved:
            setattr(cls, name, orig)
