"""Spans of a traced run and each layer's self time.

A span is ``{id, name, start, end, parent, batch, counts}`` with epoch
seconds; ``counts`` are the Spark jobs/stages/tasks/CPU rolled up from
the span's own job tag.  A span's self time is its duration minus the
part of it that its children cover.
"""

from __future__ import annotations

import statistics


def layer_spans(batches, progress, reads, epoch) -> list[dict]:
    spans: list[dict] = []

    def add(name, start, end, parent, batch, counts=None) -> int:
        spans.append(
            {
                "id": len(spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "batch": batch,
                "counts": counts or {},
            }
        )
        return len(spans) - 1

    batch_reads = set()
    for b in batches:
        p = progress[b.batch_id]
        t0 = epoch(p["timestamp"])
        trig = add(
            "stream.trigger",
            t0,
            t0 + p["durationMs"]["triggerExecution"] / 1000,
            None,
            b.batch_id,
            b.jobs.get(""),
        )
        pb = add("pipeline.process_batch", b.t0, b.t1, trig, b.batch_id)
        first = min((a["t0"] for a in b.applies), default=b.t1)
        add("pipeline.route", b.t0, first, pb, b.batch_id, b.jobs.get(f"pb-pipe-{b.batch_id}"))
        for a in b.applies:
            add(f"sink.apply_changeset[{a['table']}]", a["t0"], a["t1"], pb, b.batch_id, b.jobs.get(a["tag"]))
        for r in b.reads:
            batch_reads.add(id(r))
            add("read", r["t0"], r["t1"], trig, b.batch_id, b.jobs.get(r["tag"]))
    for r in reads:
        if id(r) not in batch_reads:  # the final reads, after the drain
            add("read", r["t0"], r["t1"], None, None)
    return spans


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: the median over batches of the layer's summed self
    time in a batch (for reads outside any batch: the median read)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    per_batch: dict[str, dict] = {}
    loose: dict[str, list[float]] = {}
    for s in spans:
        own = s["end"] - s["start"] - _covered(s["start"], s["end"], kids.get(s["id"], []))
        layer = s["name"].split("[")[0]
        if s["batch"] is None:
            loose.setdefault(layer, []).append(own)
        else:
            acc = per_batch.setdefault(layer, {})
            acc[s["batch"]] = acc.get(s["batch"], 0.0) + own
    out = {k: statistics.median(v.values()) for k, v in per_batch.items()}
    for k, v in loose.items():
        out.setdefault(k, statistics.median(v))
    for k in ("stream.trigger", "pipeline.process_batch", "pipeline.route", "sink.apply_changeset", "read"):
        out.setdefault(k, 0.0)
    return out
