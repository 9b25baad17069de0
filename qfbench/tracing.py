"""Spans around the pipeline's eager public calls, recorded from outside.

``Tracer.install`` wraps module attributes of ``bytefreq_spark.pipeline``;
the pipeline looks them up at call time (``quality_filter`` calls
``input_salt_decision``, the checkpoint drivers call ``write_snapshot``), so
the wrappers see every call without any change to the program.  Spans live
in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time

# eager pipeline calls that get a span; the values they return are recorded
# only for the salt decision (None = the salt exchange is skipped)
WRAPPED = ("input_salt_decision", "write_snapshot", "run_with_checkpoints",
           "run_incremental")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: dict[str, object] = {}
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"pipeline.{name}") as rec:
                out = fn(*args, **kwargs)
                if name == "input_salt_decision":
                    rec["kept"] = out is not None
                return out
        return traced

    def install(self, module) -> None:
        for name in WRAPPED:
            self._saved[name] = getattr(module, name)
            setattr(module, name, self._wrap(name, self._saved[name]))

    def uninstall(self, module) -> None:
        for name, fn in self._saved.items():
            setattr(module, name, fn)
        self._saved.clear()

    def of_op(self, op: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name]


def kernel_us_per_turn(texts, reps: int = 3) -> dict[str, float]:
    """Single-thread cost of each featurize / dictionary kernel on a fixed
    sample of texts, median of ``reps`` calls, in microseconds per turn."""
    import statistics

    from bytefreq_spark.langid import detect_language
    from bytefreq_spark.masks import lu_mask_key_series
    from bytefreq_spark.perplexity import perplexity
    from bytefreq_spark.quality import LU_KEY_LEN, LU_KEY_SRC_CHARS, text_features
    from bytefreq_spark.scrub import scrub_series_sparse

    prefixes = texts.str.slice(0, LU_KEY_SRC_CHARS)
    kernels = {
        "quality.text_features": lambda: text_features(texts),
        "langid.detect_language": lambda: detect_language(texts),
        "perplexity.perplexity": lambda: perplexity(texts),
        "scrub.scrub_series_sparse": lambda: scrub_series_sparse(texts),
        "masks.lu_mask_key_series": lambda: lu_mask_key_series(
            prefixes, LU_KEY_SRC_CHARS, LU_KEY_LEN),
    }
    out = {}
    for name, call in kernels.items():
        call()  # first call builds lookup tables
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        out[f"{name}.us_per_turn"] = statistics.median(times) / len(texts) * 1e6
    return out
