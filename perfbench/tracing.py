"""In-memory spans around the public functions of each crawley_spark layer.

The tracer patches functions where their caller resolves them (for example
``crawley_spark.engine.process_wave``, not the defining module, because the
engine imported the name) and restores the originals afterwards. Nothing in
``crawley_spark`` is edited.

Two kinds of wrapper:

* timed: the call does eager work (a Spark action, a file write, a driver-side
  wave), so it gets a span with start, end, parent and thread;
* counted: the call only builds a lazy DataFrame plan, so timing it would
  measure plan construction, not work. It is recorded as an ordered event and
  reported as a call count only.

Spans stay in memory; ``dump`` writes them out once the benchmark ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list = []
        self.spans: list = []
        self.events: list = []
        self.calls: Counter = Counter()

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.events = []
            self.calls = Counter()

    @contextmanager
    def span(self, name: str, **info):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = {
            "id": next(self._ids),
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.current_thread().name,
            "info": info,
        }
        self._event(name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.monotonic()
            with self._lock:
                self.spans.append(sp)

    def _event(self, name: str) -> None:
        with self._lock:
            self.calls[name] += 1
            self.events.append((name, threading.current_thread().name))

    def _timed(self, name, fn, info_fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if info_fn is not None:
                    sp["info"].update(info_fn(args, out))
                return out

        return wrapper

    def _counted(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self._event(name)
            return fn(*args, **kwargs)

        return wrapper

    def install(self, targets) -> None:
        """targets: (owner, attribute, span name, info_fn or "lazy")."""
        for owner, attr, name, info in targets:
            orig = getattr(owner, attr)
            if info == "lazy":
                wrapped = self._counted(name, orig)
            else:
                wrapped = self._timed(name, orig, info)
            setattr(owner, attr, wrapped)
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


def layer_targets() -> list:
    """Every wrapped public function, patched where the caller resolves it."""
    import crawley_spark.engine as engine
    import crawley_spark.operators.bloom as bloom
    import crawley_spark.operators.seen as seen
    import crawley_spark.streaming.ingest as ingest
    from crawley_spark.sources.state import CrawlState

    def wave_info(args, out):
        return {"rows_in": len(args[0]), "iteration": args[2]}

    def index_info(args, out):
        return {"rows": out[2]}

    def commit_info(args, out):
        return {"iteration": args[1]}

    return [
        (engine, "process_wave", "local_wave.process_wave", wave_info),
        (engine, "assign_flagged_indexes_bucketed", "ordering.index_pass", index_info),
        (engine, "schedule", "politeness.schedule", "lazy"),
        (engine, "first_occurrence", "seen.first_occurrence", "lazy"),
        (engine, "anti_join_seen", "seen.anti_join_seen", "lazy"),
        (bloom, "prefilter", "bloom.prefilter", "lazy"),
        (bloom, "build_shards", "bloom.build_shards", "lazy"),
        # streaming.run_discovery imports these two from operators.seen at call time
        (seen, "first_occurrence", "seen.first_occurrence", "lazy"),
        (seen, "anti_join_seen", "seen.anti_join_seen", "lazy"),
        (ingest, "extract_links_stream", "streaming.extract_links_stream", "lazy"),
        (CrawlState, "write", "state.write", None),
        (CrawlState, "write_seen", "state.write", None),
        (CrawlState, "write_local", "state.write", None),
        (CrawlState, "write_local_binary", "state.write", None),
        (CrawlState, "commit", "state.commit", commit_info),
        (CrawlState, "compact_seen", "state.compact", None),
    ]


def _busy(spans: list) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _union(intervals: list) -> float:
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


def pct(values: list, q: float):
    """Nearest-rank percentile; None for an empty sample."""
    if not values:
        return None
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


def seen_paths(events: list, thread: str) -> list:
    """One entry per wave, in iteration order: driver, broadcast, shuffle,
    bloom_semi or bloom_shuffle. A Spark wave's seen check is decided by the
    lazy calls made between the previous index pass and its own."""
    waves, prefilter, anti = [], False, False
    for name, th in events:
        if th != thread:
            continue
        if name == "local_wave.process_wave":
            waves.append("driver")
        elif name == "bloom.prefilter":
            prefilter = True
        elif name == "seen.anti_join_seen":
            anti = True
        elif name == "ordering.index_pass":
            if prefilter:
                waves.append("bloom_shuffle" if anti else "bloom_semi")
            else:
                waves.append("shuffle" if anti else "broadcast")
            prefilter, anti = False, False
    return waves


def crawl_layers(
    tr: Tracer, crawl_span: dict, iterations: int, engine_metrics: list, fetched: int, state_bytes: int
) -> dict:
    """Per-layer figures of one traced crawl. engine_metrics: the engine's
    own metrics table rows (iter, metric, label, value); fetched: distinct
    URLs the reference interpreter fetched. A layer that did not run is None,
    never 0."""
    thread = crawl_span["thread"]
    spans = [s for s in tr.spans if s is not crawl_span]

    def by(name):
        return [s for s in spans if s["name"] == name]

    waves = seen_paths(tr.events, thread)
    wave_iter = {i + 1: p for i, p in enumerate(waves)}
    per_iter: dict = {}
    for it, metric, _label, value in engine_metrics:
        per_iter.setdefault(metric, {})[it] = value
    bloom_iters = [i for i, p in wave_iter.items() if p.startswith("bloom")]

    commits = sorted(by("state.commit"), key=lambda s: s["end"])
    commit_ends = [s["end"] for s in commits]
    iter_ms = [(b - a) * 1000 for a, b in zip(commit_ends, commit_ends[1:])]
    first = [s for s in commits if s["info"].get("iteration", 0) >= 1]
    driver_children = [(s["start"], s["end"]) for s in spans if s["thread"] == thread]
    crawl_s = crawl_span["end"] - crawl_span["start"]

    lw = by("local_wave.process_wave")
    ix = by("ordering.index_pass")
    writes = by("state.write")
    compacts = by("state.compact")
    frontier_in = sum(per_iter.get("frontier_in", {}).values())
    deferred = sum(per_iter.get("deferred", {}).values())
    maybe = sum(per_iter.get("bloom_maybe", {}).get(i, 0) for i in bloom_iters)
    fp = sum(per_iter.get("bloom_false_positives", {}).get(i, 0) for i in bloom_iters)
    buckets = sum(per_iter.get("seen_buckets_read", {}).get(i, 0) for i in bloom_iters)
    calls = tr.calls
    return {
        "engine.iterations": iterations,
        "engine.driver_waves": waves.count("driver"),
        "engine.spark_waves": len(ix),
        "engine.iter_ms.p50": pct(iter_ms, 0.5),
        "engine.iter_ms.p95": pct(iter_ms, 0.95),
        "engine.first_commit_s": first[0]["end"] - crawl_span["start"] if first else None,
        "engine.self_s": crawl_s - _union(driver_children),
        "local_wave.busy_s": _busy(lw) if lw else None,
        "local_wave.rows_in": sum(s["info"]["rows_in"] for s in lw) if lw else None,
        "local_wave.ms_per_wave": _busy(lw) * 1000 / len(lw) if lw else None,
        "ordering.index_pass_s": _busy(ix) if ix else None,
        "ordering.rows_indexed": sum(s["info"]["rows"] for s in ix) if ix else None,
        "ordering.ms_per_wave": _busy(ix) * 1000 / len(ix) if ix else None,
        "seen.path.driver": waves.count("driver"),
        "seen.path.broadcast": waves.count("broadcast"),
        "seen.path.shuffle": waves.count("shuffle"),
        "seen.path.bloom_semi": waves.count("bloom_semi"),
        "seen.path.bloom_shuffle": waves.count("bloom_shuffle"),
        "bloom.maybe_rows": maybe if bloom_iters else None,
        "bloom.false_positive_rows": fp if bloom_iters else None,
        "bloom.useful_ratio": (maybe - fp) / maybe if bloom_iters and maybe else None,
        "seen.buckets_read": buckets if bloom_iters else None,
        "politeness.deferred_rows": deferred if calls["politeness.schedule"] else None,
        "politeness.reschedule_ratio": frontier_in / fetched if calls["politeness.schedule"] and fetched else None,
        "state.write_s": _busy(writes),
        "state.write_calls": len(writes),
        "state.commit_s": _busy(commits),
        "state.compact_s": _busy(compacts) if compacts else None,
        "state.compact_calls": len(compacts),
        "state.bytes": state_bytes,
        "calls.schedule": calls["politeness.schedule"],
        "calls.first_occurrence": calls["seen.first_occurrence"],
        "calls.anti_join_seen": calls["seen.anti_join_seen"],
        "calls.prefilter": calls["bloom.prefilter"],
    }


def stream_layers(tr: Tracer, progress: list) -> dict:
    """Per-layer figures of one traced run_discovery query."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    batch_ms = [p["batchDuration"] for p in batches]
    add_ms = [p["durationMs"].get("addBatch", 0) for p in batches]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_ms.p50": pct(batch_ms, 0.5),
        "streaming.batch_ms.p95": pct(batch_ms, 0.95),
        "streaming.add_batch_ms": pct(add_ms, 0.5),
        "streaming.anti_join_calls": tr.calls["seen.anti_join_seen"],
    }


def spark_from_event_log(path: str, windows: list, iterations: int) -> dict:
    """Spark totals of the jobs submitted inside ``windows`` ([(start, end)]
    epoch seconds), per window. Reads the event log written by this session."""
    jobs, stage_ids = 0, set()
    completed, tasks = set(), 0
    run_ms = cpu_ns = gc_ms = shuf_w = shuf_r = input_b = 0
    lo_hi = [(a * 1000, b * 1000) for a, b in windows]
    task_ends = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev.get("Submission Time", 0)
                if any(a <= t <= b for a, b in lo_hi):
                    jobs += 1
                    stage_ids.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        if ev.get("Stage ID") not in stage_ids:
            continue
        m = ev.get("Task Metrics") or {}
        tasks += 1
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        shuf_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        shuf_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    n = max(1, len(windows))
    mb = 1024 * 1024
    return {
        "spark.jobs": jobs / n,
        "spark.jobs_per_iter": jobs / n / iterations if iterations else None,
        "spark.stages": len(stage_ids & completed) / n,
        "spark.tasks": tasks / n,
        "spark.executor_run_s": run_ms / 1000 / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
        "spark.gc_s": gc_ms / 1000 / n,
        "spark.shuffle_write_mb": shuf_w / mb / n,
        "spark.shuffle_read_mb": shuf_r / mb / n,
        "spark.input_mb": input_b / mb / n,
    }
