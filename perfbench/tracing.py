"""In-memory span recorder and the timing wrappers of the traced run.

A span is (id, parent, name, start_ns, end_ns), written out with the
recorder's run id. Start and end are epoch nanoseconds, so the spans of
this process line up with the Spark event log's millisecond timestamps.
Spans nest by call order on the one thread that records them, and are
written out once, when the run ends.

Wrappers are installed only in traced mode (``Recorder.install``) and
removed on exit, so untraced runs execute the program's own functions.
They wrap public functions at the module that *calls* them: a
``from x import f`` binding is looked up in the caller's globals.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter, defaultdict


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple[int, int, str, int, int]] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._epoch_ns = time.time_ns() - time.perf_counter_ns()

    def now_ns(self) -> int:
        return self._epoch_ns + time.perf_counter_ns()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((sid, parent, name, self.now_ns(), 0))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            _, parent, name, start, _ = self.spans[sid]
            self.spans[sid] = (sid, parent, name, start, self.now_ns())

    def wrap(self, fn, name: str, on_result=None, on_args=None):
        """fn wrapped in a span; ``on_result(recorder, result)`` and
        ``on_args(recorder, *args)`` record counts at the same boundary.
        A function returning a generator would end its span before its
        work ran, so none of the wrapped functions may return one."""

        def wrapper(*args, **kwargs):
            if on_args is not None:
                on_args(self, *args)
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(self, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def install(self, table):
        """Wrap every (owner, attr, name[, on_result[, on_args]]) in
        ``table`` for the duration of the block."""
        try:
            for owner, attr, name, *hooks in table:
                orig = getattr(owner, attr)
                self._patches.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, *hooks))
            yield self
        finally:
            while self._patches:
                owner, attr, orig = self._patches.pop()
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration minus
        the part of its interval its children cover."""
        children: dict[int, list[int]] = defaultdict(list)
        for sid, parent, *_ in self.spans:
            children[parent].append(sid)
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, start, end in self.spans:
            covered, cur_end = 0, start
            for c in sorted(children[sid], key=lambda k: self.spans[k][3]):
                lo, hi = max(self.spans[c][3], cur_end), min(self.spans[c][4], end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[name] += (end - start - covered) / 1e9
        return dict(out)

    def total(self, name: str) -> float:
        """Summed wall seconds of every span called ``name``."""
        return sum((end - start) / 1e9 for _, _, n, start, end in self.spans if n == name)

    def find(self, name: str) -> list[tuple[int, int, str, int, int]]:
        return [s for s in self.spans if s[2] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, start, end in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name,
                    "start_ns": start, "end_ns": end, "run": self.run_id,
                }) + "\n")
            f.write(json.dumps({"counts": dict(self.counts),
                                "run": self.run_id}) + "\n")


def ocr_wrappers() -> list[tuple]:
    """The per-image OCR layers, wrapped where ``ocr.textsystem`` and
    ``kernels.dbpostprocess`` call them. Stand-in model methods are
    patched on the stub classes, so both the raw and the tensor path of
    each session are covered."""
    from onnxocr_spark.kernels import dbpostprocess
    from onnxocr_spark.models import stubs
    from onnxocr_spark.ocr import textsystem as ts

    def count_boxes(r, out):
        r.counts["ocr.boxes"] += len(out)

    def count_rotated(r, out):
        r.counts["ocr.crops_rotated"] += bool(out)

    def det_bytes(r, _self, x):
        r.counts["kernels.det_input_bytes"] += x.nbytes

    def rec_batch(r, *_):
        r.counts["ocr.rec_batches"] += 1

    return [
        (ts, "ocr_image_text", "ocr.textsystem"),
        (ts, "det_resize_for_test", "kernels.resize.det"),
        (ts, "normalize_image", "kernels.normalize"),
        (ts, "to_chw", "kernels.normalize"),
        (ts, "db_postprocess", "kernels.dbpostprocess"),
        (dbpostprocess, "connected_components_with_runs",
         "kernels.dbpostprocess.label"),
        (ts, "sorted_boxes", "kernels.boxes.sort", count_boxes),
        (ts, "get_rotate_crop_image", "kernels.crop"),
        (ts, "aspect_sorted_batches", "kernels.batching"),
        (ts, "cls_resize_norm", "kernels.resize.cls"),
        (ts, "cls_decode", "kernels.cls.decode"),
        (ts, "should_rotate", "kernels.cls.decode", count_rotated),
        (ts, "rec_resize_norm", "kernels.resize.rec"),
        (ts, "ctc_greedy_decode", "kernels.ctc.decode"),
        (stubs.DetStubSession, "run", "models.stand_in.det", None, det_bytes),
        (stubs.DetStubSession, "run_raw", "models.stand_in.det", None,
         det_bytes),
        (stubs.ClsStubSession, "run", "models.stand_in.cls"),
        (stubs.ClsStubSession, "run_raw", "models.stand_in.cls"),
        (stubs.RecStubSession, "run", "models.stand_in.rec", None, rec_batch),
        (stubs.RecStubSession, "run_raw", "models.stand_in.rec", None,
         rec_batch),
    ]


def media_wrappers() -> list[tuple]:
    """Media resolution (render stands in for fetch) and byte decode,
    wrapped where ``operators.media`` calls them."""
    from onnxocr_spark.operators import media

    return [
        (media, "resolve_media", "operators.media.resolve"),
        (media, "decode_image", "imagecodec.decode"),
    ]


# per-layer metric name → span name, for the OCR layers above
OCR_LAYER_SPANS = {
    "kernels.normalize.s": "kernels.normalize",
    "kernels.resize.det_s": "kernels.resize.det",
    "kernels.resize.cls_s": "kernels.resize.cls",
    "kernels.resize.rec_s": "kernels.resize.rec",
    "kernels.dbpostprocess.s": "kernels.dbpostprocess",
    "kernels.dbpostprocess.label_s": "kernels.dbpostprocess.label",
    "kernels.boxes.sort_s": "kernels.boxes.sort",
    "kernels.crop.s": "kernels.crop",
    "kernels.cls.decode_s": "kernels.cls.decode",
    "kernels.ctc.decode_s": "kernels.ctc.decode",
    "kernels.batching.s": "kernels.batching",
    "models.stand_in.det_s": "models.stand_in.det",
    "models.stand_in.cls_s": "models.stand_in.cls",
    "models.stand_in.rec_s": "models.stand_in.rec",
    "ocr.textsystem.self_s": "ocr.textsystem",
}
# the layers the raw path runs: the stand-ins' ``run_raw`` shortcut skips
# normalization and the cls/rec resize
RAW_LAYER_SPANS = {m: s for m, s in OCR_LAYER_SPANS.items()
                   if m not in ("kernels.normalize.s", "kernels.resize.cls_s",
                                "kernels.resize.rec_s")}
OCR_COUNTS = ("ocr.boxes", "ocr.crops_rotated", "ocr.rec_batches",
              "kernels.det_input_bytes")
