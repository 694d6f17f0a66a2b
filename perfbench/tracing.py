"""Tracing for the benchmark's traced run, installed from outside the engine.

- Spans: pass -> query -> construct/exec -> package call. A span
  is ``(id, parent, kind, name, start, end)`` with epoch-second times, held
  in memory and written out when the run ends.
- Package calls: every public function of the engine packages in
  ``PACKAGES`` is wrapped, and every module-level reference to it inside
  ``hadoop_gpu_spark`` is pointed at the wrapper. The wrapper keeps the
  original's ``__module__``/``__qualname__`` and replaces it as that module's
  attribute, so cloudpickle still ships it to Python workers by reference,
  where it resolves to the unwrapped original.
- Streaming: a ``StreamingQueryListener`` records every progress event.
- Spark events: the event log, enabled through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time

PACKAGES = ["dedup", "similarity", "ml", "operators", "streaming"]


def event_log_conf(directory: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
    }


class Tracer:
    def __init__(self):
        self.enabled = False  # spans and wrapped calls are recorded only while True
        self.spans: list[tuple] = []
        self.progress: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def span(self, kind: str, name: str):
        return _Span(self, kind, name) if self.enabled else contextlib.nullcontext()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap_packages(self) -> int:
        """Wrap the public functions of PACKAGES; return how many were wrapped."""
        wrappers: dict[int, object] = {}
        for package in PACKAGES:
            pkg = importlib.import_module(f"hadoop_gpu_spark.{package}")
            modules = [pkg] + [
                importlib.import_module(m.name)
                for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
            ]
            for mod in modules:
                for attr, obj in list(vars(mod).items()):
                    if (
                        inspect.isfunction(obj)
                        and not attr.startswith("_")
                        and obj.__module__ == mod.__name__
                        and not hasattr(obj, "evalType")  # pandas/Python UDF objects
                    ):
                        wrappers[id(obj)] = self._wrap(obj, package)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("hadoop_gpu_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and w.__wrapped__ is obj:
                    setattr(mod, attr, w)
        return len(wrappers)

    def _wrap(self, fn, package: str):
        name = f"{package}:{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span("call", name):
                return fn(*args, **kwargs)

        return wrapper

    def listen(self, spark) -> None:
        """Record every streaming progress event of the session."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Recorder(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Recorder())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)


class _Span:
    """Context manager recording one span under the thread's current span."""

    def __init__(self, tracer: Tracer, kind: str, name: str):
        self.tracer, self.kind, self.name = tracer, kind, name

    def __enter__(self):
        stack = self.tracer._stack()
        self.id, self.parent = next(self.tracer._ids), (stack[-1] if stack else 0)
        stack.append(self.id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self.tracer._stack().pop()
        self.tracer.spans.append((self.id, self.parent, self.kind, self.name, self.start, end))
        return False
