"""Span recorder for the traced run.

Installed at run time by wrapping the names the engine's callers look
up (a module global such as ``http_server._t``, a class attribute such
as ``ParquetStateStore.apply_batch``); the engine's files are not
modified. Each span records its name, start, end, parent span and
request id. Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

PKG = "hyperion_history_api_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, request)
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # parent for spans opened on helper threads (the ingest sink's
        # leg pool) that have no span of their own on the stack
        self.ambient: tuple[int, int] | None = None

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[tuple[int, int]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> tuple[int, int] | None:
        st = self._stack()
        return st[-1] if st else self.ambient

    @contextmanager
    def span(self, name: str, *, new_request: bool = False):
        """Record one span; ``new_request`` starts a root span with a
        fresh request id."""
        parent = None if new_request else self.current()
        sid = next(self._ids)
        if parent is None:
            req = next(self._requests)
        else:
            req = parent[1]
        st = self._stack()
        st.append((sid, req))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append((sid, name, t0, t1, parent[0] if parent else 0, req))

    # -- installing --------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str | Callable[..., str], *, new_request: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``name``
        may be a function of the call's arguments (e.g. keyed by path)."""
        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench_wrapped", False):
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if label is None:
                return orig(*args, **kwargs)
            with tracer.span(label, new_request=new_request):
                return orig(*args, **kwargs)

        wrapper._perfbench_wrapped = True  # type: ignore[attr-defined]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_bindings(self, fn: object, name: str) -> int:
        """Wrap every engine-module global bound to ``fn`` (each module
        that did ``from x import fn`` holds its own binding); returns
        how many bindings were wrapped."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)
                    n += 1
        return n

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading -----------------------------------------------------------
    def total_ms_under(self, name: str, root: str) -> float:
        """Summed duration of spans called ``name`` that descend from a
        span called ``root`` (e.g. Spark actions of HTTP requests, not of
        ingest batches running at the same time); a span nested in
        another span of the same name is not counted twice."""
        by_id = {s[0]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s[1] != name:
                continue
            p, nested, rooted = by_id.get(s[4]), False, False
            while p is not None:
                nested = nested or p[1] == name
                rooted = rooted or p[1] == root
                p = by_id.get(p[4])
            if rooted and not nested:
                total += (s[3] - s[2]) * 1000.0
        return total

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s[1] == name)

    def per_span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span (enter + exit)."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, req in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sid,
                            "name": name,
                            "start": t0,
                            "end": t1,
                            "parent": parent,
                            "request": req,
                        }
                    )
                    + "\n"
                )


def install_api(tracer: Tracer) -> None:
    """Spans on the HTTP read path: serving cache, envelope, predicate
    compiler, table loading and every Spark action."""
    try:  # the session's concrete DataFrame class (Spark 4 "classic")
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from hyperion_history_api_spark import registry, tables
    from hyperion_history_api_spark.api import envelope, http_routes, http_server  # noqa: F401
    from hyperion_history_api_spark.plans import predicates

    tracer.wrap_bindings(http_server.timed_query, "api.serving_cache.timed_query")
    tracer.wrap_bindings(envelope.get_actions_with_envelope, "api.envelope")
    tracer.wrap_bindings(registry._t, "tables.load_tables")
    tracer.wrap_bindings(tables.load_tables, "tables.load_tables")
    for fn in (
        predicates.apply_query,
        predicates.compile_predicate,
        predicates.compile_code_action_filter,
    ):
        tracer.wrap_bindings(fn, "plans.predicates.compile")
    for action in ("collect", "count", "first", "take", "head"):
        tracer.wrap(DataFrame, action, "spark.action")


def install_http_handler(tracer: Tracer, server) -> None:
    """Root span per HTTP request on the server's handler thread."""
    tracer.wrap(server.RequestHandlerClass, "_dispatch", "api.http_server.dispatch", new_request=True)


def install_ingest(tracer: Tracer) -> None:
    """Spans on the ingest sink legs: the state MERGE and every parquet
    write keyed by the output it lands in."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hyperion_history_api_spark.streaming import state_store

    def by_path(_self, path, *a, **k):
        p = str(path)
        if "/action_log/" in p:
            return "streaming.ingest.log_write"
        if "/block_rollups/" in p:
            return "streaming.ingest.rollup_write"
        if "/user_state/" in p:
            return "streaming.state_store.commit_write"
        return None

    tracer.wrap(DataFrameWriter, "parquet", by_path)
    tracer.wrap(state_store.ParquetStateStore, "apply_batch", "streaming.state_store.apply_batch")


def tag_reader_jobs(tracer: Tracer, server, spark) -> None:
    """Put every Spark job an HTTP request submits in one job group, so
    jobs counted per ingest batch exclude the reader's."""
    cls = server.RequestHandlerClass
    orig = cls._dispatch
    sc = spark.sparkContext

    @functools.wraps(orig)
    def dispatch(self, params):
        sc.setLocalProperty("spark.jobGroup.id", READER_GROUP)
        return orig(self, params)

    tracer._patches.append((cls, "_dispatch", orig))
    cls._dispatch = dispatch


READER_GROUP = "perfbench-http"
