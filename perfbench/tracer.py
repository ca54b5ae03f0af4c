"""In-memory span tracer that wraps package functions in place.

A span is ``(id, parent, op, name, start, end, attrs)``: ``parent`` is the
span open when it started, ``op`` the benchmark operation it belongs to
(``None`` during set-up).  Wrapping replaces every reference to a function
across the package's loaded modules, so a function imported by name into
another module (``from ..stats import collect_file_stats``) is traced too;
``uninstall`` puts every original back.

Only driver-side functions may be wrapped: a wrapper captures the tracer,
and a function Spark ships to executors must stay picklable by reference.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "lakehouse_sfc_spark"

Hooks = tuple  # (pre or None, post or None)


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = True
        self.op: int | None = None
        #: seconds each operation spent in the tracer's own wrapping: its
        #: hooks, span bookkeeping and the wrapper call itself
        self.overhead: dict[int | None, float] = {}
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, self.op, name, self.clock(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp.attrs["error"] = True
            raise
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def wrap(self, name: str, fn: Callable, hooks: Hooks | None = None) -> Callable:
        """``fn`` recording one span per call.  ``hooks`` is ``(pre, post)``:
        ``pre(args, kwargs)`` runs before the span opens and its result is
        handed to ``post(span, args, kwargs, result, state)``, which runs
        after the span has closed, so neither is charged to the call."""
        tracer = self
        pre, post = hooks or (None, None)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t0 = tracer.clock()
            state = pre(args, kwargs) if pre else None
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if post is not None:
                post(sp, args, kwargs, out, state)
            op = sp.op
            tracer.overhead[op] = tracer.overhead.get(op, 0.0) + (
                tracer.clock() - t0 - sp.duration
            )
            return out

        return traced

    # -- patching ------------------------------------------------------------

    def install(self, targets: dict[str, Hooks | None]) -> None:
        """Wrap each ``"module:attr"`` or ``"module:Class.attr"`` target,
        with the optional ``(pre, post)`` hooks of ``wrap``."""
        for target, hooks in targets.items():
            mod_name, _, attr = target.partition(":")
            module = importlib.import_module(mod_name)
            name = f"{mod_name.removeprefix(PACKAGE + '.')}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(module, cls_name)
                raw = inspect.getattr_static(cls, meth)
                if isinstance(raw, classmethod):
                    new = classmethod(self.wrap(name, raw.__func__, hooks))
                else:
                    new = self.wrap(name, raw, hooks)
                self._patch(cls, meth, new)
                continue
            orig = getattr(module, attr)
            new = self.wrap(name, orig, hooks)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if mname != PACKAGE and not mname.startswith(PACKAGE + "."):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._patch(mod, key, new)

    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its direct children cover."""
        out = {s.id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                rec = {
                    "id": s.id,
                    "parent": s.parent,
                    "op": s.op,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "self": selfs[s.id],
                }
                if s.attrs:
                    rec["attrs"] = s.attrs
                fh.write(json.dumps(rec, default=str) + "\n")
