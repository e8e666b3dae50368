"""Spans around the pipeline's public calls, recorded from outside the
program.

:class:`Tracer` wraps the names ``pipeline.run_pipeline`` calls (the
corpus, the three operators and ``IceTable``'s stage I/O).  Each wrapper
tags the Spark jobs its call starts with a job group ``p<pass>:<layer>``
and records the call's start and end.  The event-log reader joins the two
on the group.  Nothing inside ``ehr_ner_spark`` is modified; the patches
are undone on exit.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from ehr_ner_spark import pipeline
from ehr_ner_spark.io.icetable import IceTable

#: the layer whose Spark jobs a ``write_stage`` call runs, by stage name
STAGE_LAYER = {
    "mentions": "mention_detect",
    "canon": "canonicalize",
    "triples": "canonical_triples",
}

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_no: int | None = None
        self._active = False
        self._undo: list = []

    def group(self, layer: str) -> str:
        return f"p{self.pass_no}:{layer}"

    @contextmanager
    def span(self, kind: str, layer: str, name: str):
        """Record one top-level call.  A call made while another span is
        open belongs to that span and is not recorded again."""
        if self._active or self.pass_no is None:
            yield
            return
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, self.group(layer))
        self._active = True
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._active = False
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append({
                "pass": self.pass_no, "kind": kind, "layer": layer,
                "name": name, "start_ms": t0 * 1000.0, "end_ms": t1 * 1000.0,
            })

    def _patch(self, owner, attr: str, wrapper_for) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_for(orig)))

    def install(self) -> "Tracer":
        def call(layer):
            def wrap(fn):
                def inner(*a, **k):
                    with self.span("call", layer, fn.__name__):
                        return fn(*a, **k)
                return inner
            return wrap

        for attr, layer in (("corpus", "corpus"),
                            ("detect_mentions", "mention_detect"),
                            ("canonicalize", "canonicalize"),
                            ("canonical_triples", "canonical_triples")):
            self._patch(pipeline, attr, call(layer))

        def write(fn):
            def inner(table, df, stage, *a, **k):
                with self.span("write", STAGE_LAYER[stage], f"write:{stage}"):
                    return fn(table, df, stage, *a, **k)
            return inner

        def read(fn):
            def inner(table, *a, **k):
                with self.span("read", "icetable", fn.__name__):
                    return fn(table, *a, **k)
            return inner

        self._patch(IceTable, "write_stage", write)
        self._patch(IceTable, "read_stage", read)
        self._patch(IceTable, "stage_complete", read)
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
