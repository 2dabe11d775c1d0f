"""In-process span tracing of the extraction kernel's sub-layers.

The benchmark wraps the package's module functions that the Arrow kernel
(``operators.unified_extract.full_kernel_batch_arrow``) calls, replays the
workload's Arrow batches through the kernel in this process, and records
one span per call: (name, start, end, parent index, run id). Spans stay in
memory and are written out once, when the benchmark ends.

Nothing in the package changes: the wrappers replace module attributes
for the duration of a ``Tracer`` context and put the originals back.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from indonesian_id_ocr_service_spark.functions import fuzzy
from indonesian_id_ocr_service_spark.functions import pandas_ktp
from indonesian_id_ocr_service_spark.operators import (
    ktp_spatial,
    sim_core,
    unified_extract,
)

#: (module, attribute, span name). unified_extract imports the classifier
#: and the KTP extractors by name, so they are wrapped where it looks
#: them up; the others are looked up on their own modules at call time.
WRAPPED = [
    (unified_extract, "identify_document_type", "classify"),
    (unified_extract, "_extract_one_doc", "ktp_spatial"),
    (unified_extract, "_nik_rescue", "ktp_spatial.nik_rescue"),
    (sim_core, "process_sim_doc", "sim_core"),
    (sim_core, "is_job", "sim_core.is_job"),
    (fuzzy, "extract_one", "fuzzy.extract_one"),
    (pandas_ktp, "post_chain", "pandas_ktp.post_chain"),
    (pandas_ktp, "_nik_best_vec", "pandas_ktp.nik"),
]

#: lru_caches whose hit ratios are reported, per layer
CACHES = {
    "ktp_spatial": [ktp_spatial._label_match, ktp_spatial._classify_span],
    "sim_core": [sim_core.identify_field, sim_core.is_job],
    "fuzzy": [fuzzy._position_masks, fuzzy._prepped_matcher,
              fuzzy._sorted_tokens, fuzzy._prepped_choices,
              fuzzy._choice_char_counts, fuzzy.cached_extract_one_wratio],
}


def cache_counts() -> dict[str, tuple[int, int]]:
    out = {}
    for layer, fns in CACHES.items():
        infos = [fn.cache_info() for fn in fns]
        out[layer] = (sum(i.hits for i in infos),
                      sum(i.misses for i in infos))
    return out


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.run_id = 0

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent,
                           self.run_id))
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        n, t0, _, p, r = self.spans[idx]
        self.spans[idx] = (n, t0, time.perf_counter(), p, r)

    def _wrap(self, fn, name):
        def wrapper(*args, **kwargs):
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def installed(self):
        saved = [(m, a, getattr(m, a)) for m, a, _ in WRAPPED]
        try:
            for (m, a, name), (_, _, fn) in zip(WRAPPED, saved):
                setattr(m, a, self._wrap(fn, name))
            yield self
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    @contextmanager
    def span(self, name: str):
        """A span around a block (the whole kernel call per replay)."""
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def summary(self, run_id: int) -> dict[str, dict]:
        """Per span name: inclusive seconds, self seconds, call count —
        over the spans of one run. Self time is a span's duration minus
        the time its direct children cover."""
        child_time = [0.0] * len(self.spans)
        for n, t0, t1, p, r in self.spans:
            if r == run_id and p >= 0:
                child_time[p] += t1 - t0
        out: dict[str, dict] = {}
        for i, (n, t0, t1, p, r) in enumerate(self.spans):
            if r != run_id:
                continue
            s = out.setdefault(n, {"s": 0.0, "self_s": 0.0, "calls": 0})
            s["s"] += t1 - t0
            s["self_s"] += t1 - t0 - child_time[i]
            s["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "run"],
                       "spans": self.spans}, f)
