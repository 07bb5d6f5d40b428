"""In-memory spans and kernel timers for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
each layer; nothing inside the program is instrumented. They stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import time
from collections.abc import Iterator

# the public kernel functions the single-document API reaches (through
# `oracle.annotate_document`, which looks them up on their modules at
# call time, so rebinding the module attribute times every call)
KERNELS = (
    ("segment", "nlp_cube_spark.kernels.segment_rules", "segment"),
    ("tag_sentence", "nlp_cube_spark.kernels.tagger_rules", "tag_sentence"),
    ("score_matrix", "nlp_cube_spark.kernels.arc_scores", "score_matrix"),
    ("decode_tree", "nlp_cube_spark.kernels.mst", "decode_tree"),
    ("label_arcs", "nlp_cube_spark.kernels.arc_scores", "label_arcs"),
    ("lemmatize", "nlp_cube_spark.kernels.lemma_rules", "lemmatize"),
)


class Tracer:
    """Spans of one run: name, start, end, parent span, attributes.

    Every span carries the run's trace id; the enclosing span is tracked
    as a stack, since the benchmark drives its layers from one thread."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "trace": self.trace_id,
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class KernelTimers:
    """Rebinds the public kernel functions to timed wrappers while active;
    `seconds[k]` and `calls[k]` accumulate per kernel, `tokens` counts the
    words tagged."""

    def __init__(self):
        self.seconds = {k: 0.0 for k, _, _ in KERNELS}
        self.calls = {k: 0 for k, _, _ in KERNELS}
        self.tokens = 0

    def _wrap(self, key: str, fn):
        clock = time.perf_counter

        def timed(*args, **kwargs):
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[key] += clock() - t0
                self.calls[key] += 1

        return timed

    @contextlib.contextmanager
    def active(self) -> Iterator["KernelTimers"]:
        saved = []
        try:
            for key, mod_name, attr in KERNELS:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                wrapped = self._wrap(key, fn)
                if key == "tag_sentence":
                    wrapped = self._counting(wrapped)
                setattr(mod, attr, wrapped)
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _counting(self, fn):
        def counted(forms, *args, **kwargs):
            self.tokens += len(forms)
            return fn(forms, *args, **kwargs)

        return counted

    @property
    def total_s(self) -> float:
        return sum(self.seconds.values())
