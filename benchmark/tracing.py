"""Spans recorded from the benchmark's side of the package boundary.

:class:`Tracer` wraps the boundary functions of ``query.engine``,
``operators.wand`` and ``query.snippets`` at runtime (the package
itself is not changed).  A span keeps its name, start, end, parent and
request id; spans stay in memory and are written out when the run
ends.  Only a traced run (``--trace 1``) installs the wrappers; the
untraced run measures the end-to-end metrics without them.

Layers of one ``search()`` request and the spans they come from:

=====================  ==============================================
``engine.plan``        ``SearchEngine.plan``
``engine.score``       ``SearchEngine.search_df`` minus the WAND
                       kernel, plus the ``collect`` of its result in
                       ``search``
``wand.score``         ``score_salt_group`` (one call per salt)
``engine.match_stats`` ``SearchEngine._match_stats``
``engine.doc_meta``    ``SearchEngine._doc_meta``, its corpus re-read
                       for snippets included
``snippets.build``     ``build_snippet``
``engine.unattributed`` the request's own time outside those spans
=====================  ==============================================

A layer's time is self time: its spans' duration minus the part its
child spans cover, so the layers of a request add up to the request's
wall time.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass, field

REQUEST = "engine.request"
LAYERS = [
    "engine.plan",
    "engine.score",
    "wand.score",
    "engine.match_stats",
    "engine.doc_meta",
    "snippets.build",
]


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: int | None = None
        #: rows / bytes of every table ``SearchEngine._read_table`` returned,
        #: per request id
        self.reads: dict[int, list[int]] = {}
        #: off: the wrappers call straight through (tracing-overhead pairs)
        self.enabled = True

    # -- spans -----------------------------------------------------------
    def open(self, name: str, request: int | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        if request is not None:
            self._request = request
        sid = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent, self._request))
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.pop()
        if not self._stack:
            self._request = None

    def current(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    def wrap(self, owner, attr: str, name: str, only_under: str | None = None):
        """Replace ``owner.attr`` by a span-recording wrapper.  With
        ``only_under``, a span is recorded only when the innermost open
        span has that name (the ``collect`` that ``search`` itself
        issues, not the ones nested in other layers)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled or (
                only_under is not None and tracer.current() != only_under
            ):
                return fn(*a, **kw)
            sid = tracer.open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(sid)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the boundary functions for the rest of the process."""
        from pyspark.sql import DataFrame

        from searchengine_spark.query import engine as engine_mod

        SE = engine_mod.SearchEngine
        self.wrap(SE, "plan", "engine.plan")
        self.wrap(SE, "search_df", "engine.score")
        self.wrap(SE, "_match_stats", "engine.match_stats")
        self.wrap(SE, "_doc_meta", "engine.doc_meta")
        # engine.py imported these by name, so the module attribute the
        # engine calls through is the one to wrap
        self.wrap(engine_mod, "score_salt_group", "wand.score")
        self.wrap(engine_mod, "build_snippet", "snippets.build")
        self.wrap(DataFrame, "collect", "engine.score", only_under=REQUEST)

        read_table = SE._read_table  # noqa: SLF001
        tracer = self

        @functools.wraps(read_table)
        def counted(eng, *a, **kw):
            tbl = read_table(eng, *a, **kw)
            if tracer._request is not None:
                acc = tracer.reads.setdefault(tracer._request, [0, 0])
                acc[0] += tbl.num_rows
                acc[1] += tbl.nbytes
            return tbl

        SE._read_table = counted  # noqa: SLF001

    # -- analysis --------------------------------------------------------
    def request_layers(self, rid: int) -> dict[str, float]:
        """Self time (seconds) per layer for one request, plus
        ``engine.unattributed`` and ``engine.request`` (its wall)."""
        out = {name: 0.0 for name in LAYERS}
        root = next(s for s in self.spans if s.request == rid and s.parent is None)
        out[REQUEST] = root.end - root.start
        for s in self.spans:
            if s.request != rid:
                continue
            cover = sum(self.spans[c].end - self.spans[c].start for c in s.children)
            key = "engine.unattributed" if s.name == REQUEST else s.name
            out[key] = out.get(key, 0.0) + (s.end - s.start) - cover
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request": s.request,
                        }
                    )
                    + "\n"
                )
