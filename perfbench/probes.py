"""Measurement probes that watch the program from outside.

* :class:`Tracer` — in-memory spans (name, start, end, parent, run id)
  recorded around the benchmark's calls into each layer, written out
  once at the end. Off by default; a disabled tracer records nothing.
* :class:`RssSampler` — peak resident memory of the whole process tree
  (this driver, the Spark JVM it launched and the JVM's Python
  workers), read from ``/proc`` on a background thread.
* :func:`stage_totals` — shuffle write, spill, GC and executor CPU/run
  time summed over Spark stages, read from the status store through
  py4j. Works with the UI disabled.
* :func:`rule_family_times` — per-family rule time, by wrapping the
  rule functions ``golden.process_document`` looks up at call time.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict

# ----------------------------------------------------------------- trace


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


# ------------------------------------------------------------------- rss


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree rooted at this process every
    ``interval`` seconds; :meth:`reset` starts a new peak window."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------- spark internals


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def wait_listeners(spark) -> None:
    """Let the listener bus drain so the status store holds every
    finished stage."""
    _jsc(spark).listenerBus().waitUntilEmpty()


def stage_totals(spark, after_stage: int = -1) -> dict:
    """Sums over completed stages with id > ``after_stage``. Returns
    the sums plus ``max_stage`` so a caller can window the next read."""
    wait_listeners(spark)
    gw = spark.sparkContext._gateway
    empty = gw.new_array(gw.jvm.double, 0)
    stages = _jsc(spark).statusStore().stageList(None, False, False, empty, None)
    tot = {"shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0, "run_ms": 0,
           "cpu_ns": 0, "stages": 0, "max_stage": after_stage}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid <= after_stage or s.status().toString() != "COMPLETE":
            continue
        tot["max_stage"] = max(tot["max_stage"], sid)
        tot["stages"] += 1
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tot["gc_ms"] += s.jvmGcTime()
        tot["run_ms"] += s.executorRunTime()
        tot["cpu_ns"] += s.executorCpuTime()
    return tot


# ------------------------------------------------------------ rule times

# families -> the names golden.process_document resolves in its module
# namespace at call time (wrapping them times exactly the calls it makes)
RULE_FAMILIES = {
    "classify_clean": ("process_span",),
    "format": ("format_text",),
    "structure": ("detect_structure",),
    "extract": ("extract_structured", "extract_structured_typed"),
    "summarize": ("generate_summary", "extract_key_insights"),
    "langdetect": ("detect_language",),
    "confidence": ("weighted_confidence", "status_for", "confidence_level"),
}


@contextlib.contextmanager
def _timed_rules(acc: dict[str, float]):
    from smartglass_ocr_spark import golden

    saved = {}

    def wrap(family, fn):
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                acc[family] += time.perf_counter() - t
        return timed

    try:
        for family, names in RULE_FAMILIES.items():
            for name in names:
                saved[name] = getattr(golden, name)
                setattr(golden, name, wrap(family, saved[name]))
        yield
    finally:
        for name, fn in saved.items():
            setattr(golden, name, fn)


def rule_family_times(docs: list[dict], repeats: int = 3) -> dict[str, float]:
    """Single-threaded ms/doc per rule family over ``docs``, plus the
    unwrapped ``process_document`` ms/doc; each the median of
    ``repeats`` sweeps."""
    from statistics import median

    from smartglass_ocr_spark.golden import process_document

    n = max(1, len(docs))
    base, fam = [], defaultdict(list)
    for _ in range(repeats):
        t = time.perf_counter()
        for d in docs:
            process_document(d)
        base.append((time.perf_counter() - t) * 1000 / n)
        acc: dict[str, float] = defaultdict(float)
        with _timed_rules(acc):
            for d in docs:
                process_document(d)
        for family in RULE_FAMILIES:
            fam[family].append(acc[family] * 1000 / n)
    out = {f"rules.{f}_ms": median(v) for f, v in fam.items()}
    out["golden.process_document_ms"] = median(base)
    return out
