"""Spans for the traced run, recorded from the benchmark's side.

The benchmark wraps the program's public stage boundaries
(``StageManager.stage``, ``ParquetStore.write``,
``er_incremental.read_canonical`` and the three steps ``link_articles``
calls) for the duration of a traced run and restores them afterwards; no
program file carries tracing code.

Each span holds a name, start, end, its parent span and the process-tree
CPU clock at both ends. Spans stay in memory and are written out when the
run ends. While a span is open, Spark's job description is ``span:<id>``,
so the jobs, stages and tasks in Spark's event log can be attributed to it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections.abc import Callable

STAGE_FAMILIES = ("er", "inc", "link")


class Tracer:
    def __init__(self, sc, cpu_clock: Callable[[], float]):
        self.sc = sc
        self.cpu_clock = cpu_clock
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: name prefix for stage spans ("er" for a full run, "inc" for an
        #: append); None while nothing is traced
        self.family: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "cpu_start": self.cpu_clock(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_end"] = self.cpu_clock()
            self._stack.pop()
            self.sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None
            )

    @contextlib.contextmanager
    def traced(self, family: str):
        """Trace one operation: its stage calls become ``<family>.<stage>``
        spans under an ``op.<family>`` span."""
        self.family = family
        try:
            with self.span(f"op.{family}") as rec:
                yield rec
        finally:
            self.family = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def wrapped_program(tracer: Tracer):
    """Install the span wrappers on the program's stage boundaries."""
    from wiki_entity_linker_spark.plans import checkpoint, er_incremental, linking

    def wrap(fn, span_name, materialize=False):
        def wrapper(*args, **kwargs):
            if tracer.family is None:
                return fn(*args, **kwargs)
            with tracer.span(span_name(*args)) as rec:
                out = fn(*args, **kwargs)
                if materialize:
                    # linking steps build lazy DataFrames; materialize each
                    # one inside its span so the span holds the step's work
                    out = out.localCheckpoint(eager=True)
                    rec["rows_out"] = out.count()
            return out

        return wrapper

    patches = [
        (checkpoint.StageManager, "stage",
         wrap(checkpoint.StageManager.stage, lambda _mgr, name, *_: f"{tracer.family}.{name}")),
        (checkpoint.ParquetStore, "write",
         wrap(checkpoint.ParquetStore.write, lambda *_: "checkpoint.write")),
        (er_incremental, "read_canonical",
         wrap(er_incremental.read_canonical, lambda *_: "inc.read_canonical")),
    ] + [
        (linking, attr,
         wrap(getattr(linking, attr), lambda *_, n=name: f"link.{n}", materialize=True))
        for attr, name in (
            ("mention_candidates", "candidates"),
            ("top1_deterministic", "match_argmax"),
            ("suppress_overlaps", "suppress_overlaps"),
        )
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    for owner, attr, fn in patches:
        setattr(owner, attr, fn)
    try:
        yield tracer
    finally:
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)


# --------------------------------------------------------------------------
# reading the spans back


def is_stage(span: dict) -> bool:
    family, _, rest = span["name"].partition(".")
    return family in STAGE_FAMILIES and rest != "read_canonical"


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def owning_stage(spans: list[dict], sid: int | None) -> int | None:
    """Nearest stage span at or above ``sid``."""
    while sid is not None and not is_stage(spans[sid]):
        sid = spans[sid]["parent"]
    return sid


def stage_summaries(spans: list[dict]) -> dict[int, dict]:
    """Per stage span: self time, self CPU and checkpoint-write time.

    A stage's build runs lazily inside its checkpoint write, so the write
    counts toward the stage's own time; only nested stage spans are
    subtracted from it.
    """
    out: dict[int, dict] = {}
    for sp in spans:
        if is_stage(sp):
            out[sp["id"]] = {
                "name": sp["name"],
                "dur": sp["end"] - sp["start"],
                "cpu": sp["cpu_end"] - sp["cpu_start"],
                "children": [],
                "write_s": 0.0,
            }
    for sp in spans:
        owner = owning_stage(spans, sp["parent"])
        if owner is None:
            continue
        if is_stage(sp):
            out[owner]["children"].append(sp)
        elif sp["name"] == "checkpoint.write" and sp["parent"] == owner:
            out[owner]["write_s"] += sp["end"] - sp["start"]
    for s in out.values():
        kids = s.pop("children")
        s["self_s"] = s["dur"] - _union_length([(k["start"], k["end"]) for k in kids])
        s["self_cpu"] = s["cpu"] - sum(k["cpu_end"] - k["cpu_start"] for k in kids)
    return out


def coverage(spans: list[dict], op: dict) -> float:
    """Share of the operation's wall time covered by stage and
    read_canonical spans."""
    inside = [
        (sp["start"], sp["end"])
        for sp in spans
        if (is_stage(sp) or sp["name"] == "inc.read_canonical")
        and op["start"] <= sp["start"] and sp["end"] <= op["end"]
    ]
    return _union_length(inside) / max(1e-9, op["end"] - op["start"])


def event_log_totals(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Shuffle-write and spill bytes from Spark's event log, summed per
    owning stage span (via the ``span:<id>`` job description)."""
    stage_span: dict[int, int] = {}
    per_stage: dict[int, dict] = {}
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith("span:"):
                        stage_span[ev["Stage Info"]["Stage ID"]] = int(desc[5:])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per_stage.setdefault(ev["Stage ID"], {"shuffle": 0, "spill": 0})
                    acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill"] += m.get("Disk Bytes Spilled", 0)
    out: dict[int, dict] = {}
    for stage_id, acc in per_stage.items():
        owner = owning_stage(spans, stage_span.get(stage_id))
        if owner is not None:
            tot = out.setdefault(owner, {"shuffle": 0, "spill": 0})
            tot["shuffle"] += acc["shuffle"]
            tot["spill"] += acc["spill"]
    return out
