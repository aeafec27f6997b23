"""Span tree of a traced pass and the self time of its spans.

Spans nest as pass -> query -> build | action -> job -> stage, and
query -> stream batch. The harness runs one query at a time, so a job or
batch belongs to the query whose interval holds its start, and to the
build or action phase running at that moment. Times are epoch
milliseconds.
"""
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    kind: str
    name: str
    start: float
    end: float
    parent: int = None

    @property
    def duration(self):
        return self.end - self.start


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


def _holder(spans, t):
    for s in spans:
        if s.start <= t <= s.end:
            return s
    return None


def build_tree(pass_record):
    """Spans of one traced pass record, as the harness writes it."""
    spans = []

    def add(kind, name, start, end, parent=None):
        s = Span(len(spans), kind, name, start, end, parent)
        spans.append(s)
        return s

    root = add("pass", f"pass{pass_record['index']}", pass_record["start_ms"], pass_record["end_ms"])
    queries, phases = [], []
    for q in pass_record["queries"]:
        qs = add("query", q["name"], q["start_ms"], q["end_ms"], root.id)
        queries.append(qs)
        phases.append(add("build", q["name"], q["start_ms"], q["build_end_ms"], qs.id))
        if q["error"] is None:
            phases.append(add("action", q["name"], q["build_end_ms"], q["end_ms"], qs.id))
    trace = pass_record.get("trace") or {}
    jobs_of_stage = {}
    for j in trace.get("jobs", []):
        holder = _holder(phases, j["start_ms"]) or _holder(queries, j["start_ms"]) or root
        js = add("job", f"job{j['id']}", j["start_ms"], j["end_ms"], holder.id)
        for sid in j["stage_ids"]:
            jobs_of_stage.setdefault(sid, js)
    for st in trace.get("stages", []):
        if st["submit_ms"] is None or st["end_ms"] is None:
            continue
        job = jobs_of_stage.get(st["id"])
        add("stage", f"stage{st['id']}.{st['attempt']}", st["submit_ms"], st["end_ms"],
            job.id if job else root.id)
    for b in trace.get("batches", []):
        start = b["start_ms"]
        holder = _holder(queries, start) or root
        add("batch", f"batch{b['batch_id']}", start, start + b["duration_ms"].get("triggerExecution", 0),
            holder.id)
    return spans


def descendants(spans, parent, kind):
    """All spans of a kind below parent."""
    out, frontier = [], [parent.id]
    while frontier:
        ids = set(frontier)
        level = [s for s in spans if s.parent in ids]
        out += [s for s in level if s.kind == kind]
        frontier = [s.id for s in level]
    return out


def driver_gap(spans, query):
    """Time in a query span with no job of that query running."""
    return self_time(query, descendants(spans, query, "job"))
