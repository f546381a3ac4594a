"""In-memory spans recorded around calls into the engine.

Spans are kept in a list and written out once, when the run ends. The
engine is never edited: :meth:`Tracer.wrap` temporarily replaces public
functions on their owning module or class with timing wrappers and
puts the originals back when the ``with`` block exits.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def wrap(self, owner, names, label=None):
        """Record a span around every call of ``owner.<name>`` while the
        block runs. ``label(name, args)`` may rename a span from its call
        arguments."""
        saved = {n: getattr(owner, n) for n in names}

        def make(n, fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(label(n, args) if label else n):
                    return fn(*args, **kwargs)

            return traced

        for n, fn in saved.items():
            setattr(owner, n, make(n, fn))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(owner, n, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
