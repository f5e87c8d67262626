"""Per-layer attribution for the traced run.

Three sources, all recorded from the benchmark's own files:

1. spans around the eager public functions (``ShardedBloom.add_urls`` and
   the ``SnapshotStore`` methods), installed by patching them for the
   duration of one traced crawl; a span's self time excludes the wrapped
   calls it makes itself (``merge_into`` calls ``write``);
2. replays of the lazy layer functions (``prune_new``,
   ``schedule_fetches``, ``salted_repartition``, ``global_sequence_arith``,
   ``filter_allowed``) on the inputs captured from their last call in the
   traced crawl, forced through a ``noop`` sink — timing the call itself
   would time plan building only, since execution lands in a later phase;
3. the Spark event log of the traced process, whose jobs are assigned to a
   span by submission time and whose stages are assigned to layers by
   their plan nodes.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

from crawler_seo_spark import engine as engine_mod
from crawler_seo_spark.operators import politeness, sequence
from crawler_seo_spark.operators.bloom import ShardedBloom
from crawler_seo_spark.tables import SnapshotStore

# (owner, attribute, span name); spans time eager calls
SPANS = [
    (ShardedBloom, "add_urls", "bloom.add_urls"),
    (SnapshotStore, "merge_into", "tables.merge_into"),
    (SnapshotStore, "write", "tables.write"),
    (SnapshotStore, "commit_round", "tables.commit"),
    (SnapshotStore, "read", "tables.read"),
]
# (owner, attribute, capture name); captures keep the last call's inputs
CAPTURES = [
    (ShardedBloom, "prune_new", "prune_new"),
    (engine_mod, "schedule_fetches", "schedule_fetches"),
    (politeness, "salted_repartition", "salted_repartition"),
    (sequence, "global_sequence_arith", "global_sequence_arith"),
    (engine_mod, "filter_allowed", "filter_allowed"),
]


class Recorder:
    """Spans and captured inputs of one traced crawl, kept in memory."""

    def __init__(self) -> None:
        self.self_ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.inputs: dict[str, tuple] = {}
        self.candidates = self.definitely_new = 0
        self.windows: dict[str, tuple[float, float]] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    def _span(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            stack.append(0.0)  # time spent in wrapped children
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                total = time.perf_counter() - t
                child = stack.pop()
                if stack:
                    stack[-1] += total
                with self._lock:
                    self.self_ms[name] += (total - child) * 1000
                    self.calls[name] += 1
        return wrapper

    def _capture(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.inputs[name] = (fn, args, kwargs)
            out = fn(*args, **kwargs)
            if name == "prune_new":
                self._count_definitely_new(*args[:2])
            return out
        return wrapper

    _PROBE_COUNTERS = ("last_changed_shards", "last_rebroadcast_bytes",
                       "total_rebroadcast_bytes", "probe_rounds")

    def _count_definitely_new(self, bloom, candidates) -> None:
        """Candidates the filter reports as never seen, counted in the
        round that probes them: afterwards the filter holds them, so a
        replay would report every one as maybe-seen. The filter's reload
        accounting is restored, so the round's own counters are unchanged."""
        saved = {k: getattr(bloom, k) for k in self._PROBE_COUNTERS}
        maybe = bloom.maybe_seen_col(candidates.sparkSession)(
            F.col("_bh1"), F.col("_bh2"))
        for k, v in saved.items():
            setattr(bloom, k, v)
        row = (bloom.with_hashes(candidates)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum((~maybe).cast("long")).alias("new"))
               .first())
        self.candidates += row["n"]
        self.definitely_new += row["new"] or 0

    def install(self):
        """Patch the traced functions; returns a function that restores
        them."""
        saved = []
        for owner, attr, name in SPANS + CAPTURES:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            wrap = self._span if (owner, attr, name) in SPANS else self._capture
            setattr(owner, attr, wrap(name, fn))

        def restore():
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
        return restore

    def window(self, name: str):
        """Context manager marking a wall-clock window whose Spark jobs the
        event log attributes to ``name``."""
        rec = self

        class _Window:
            def __enter__(self):
                self.t0 = time.time()
                self.p0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                self.seconds = time.perf_counter() - self.p0
                rec.windows[name] = (self.t0 * 1000, time.time() * 1000)
        return _Window()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ms_since(t: float) -> float:
    return (time.perf_counter() - t) * 1000


def replay_layers(rec: Recorder) -> dict:
    """Re-run each captured lazy call on its captured inputs and force the
    result, so the layer's execution time is measured on its own."""
    out = {}
    if "prune_new" in rec.inputs:
        fn, args, kwargs = rec.inputs["prune_new"]
        t = time.perf_counter()
        noop(fn(*args, **kwargs))
        out["bloom.probe_ms"] = _ms_since(t)
        if rec.candidates:
            out["bloom.definitely_new_frac"] = (rec.definitely_new
                                                / rec.candidates)
    if "schedule_fetches" in rec.inputs:
        fn, args, kwargs = rec.inputs["schedule_fetches"]
        t = time.perf_counter()
        noop(fn(*args, **kwargs))
        out["politeness.schedule_ms"] = _ms_since(t)
    if "salted_repartition" in rec.inputs:
        fn, args, kwargs = rec.inputs["salted_repartition"]
        counts = [r["n"] for r in fn(*args, **kwargs)
                  .groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.count(F.lit(1)).alias("n")).collect()]
        if counts:
            out["politeness.salt_task_skew"] = (
                max(counts) / statistics.median(counts))
    if "global_sequence_arith" in rec.inputs:
        fn, args, kwargs = rec.inputs["global_sequence_arith"]
        t = time.perf_counter()
        numbered = fn(*args, **kwargs)
        noop(numbered[0] if isinstance(numbered, tuple) else numbered)
        out["sequence.assign_ms"] = _ms_since(t)
    fn, args, kwargs = rec.inputs.get("filter_allowed", (None, (None, None), {}))
    if args[1] is not None:  # the workload has robots rules
        candidates = args[0]
        t = time.perf_counter()
        noop(fn(*args, **kwargs))
        out["robots.filter_ms"] = _ms_since(t)
        n_in = candidates.count()
        if n_in:
            out["robots.blocked_frac"] = 1 - fn(*args, **kwargs).count() / n_in
    return out


_HREF = re.compile(r'<a [^>]*href="([^"]*)"')


def replay_kernels(pages: list[tuple[str, str]], base_domain: str,
                   fetch=None) -> dict:
    """In-process replay of the per-page Python kernels over crawled pages
    ``(url, html)``: the HTML parser, the full page analysis, URL
    canonicalization of the page's links and, for the live origin, the
    origin's page generation. Times are medians over pages."""
    import pandas as pd

    from crawler_seo_spark.functions.htmldoc import parse_html
    from crawler_seo_spark.functions.parse import analyze_page
    from crawler_seo_spark.functions.urlnorm import (
        canonicalize_series,
        filter_reason_series,
    )
    parse_us, analyze_us, canon_us, origin_us, links = [], [], [], [], []
    n_canonical = n_filtered = 0
    for url, html in pages:
        if fetch is not None:
            t = time.perf_counter()
            fetch(url)
            origin_us.append((time.perf_counter() - t) * 1e6)
        t = time.perf_counter()
        parse_html(html)
        parse_us.append((time.perf_counter() - t) * 1e6)
        t = time.perf_counter()
        analysis = analyze_page(html, url, base_domain, want_links=True)
        analyze_us.append((time.perf_counter() - t) * 1e6)
        links.append(len(analysis["links"]))
        hrefs = pd.Series(_HREF.findall(html), dtype=object)
        if len(hrefs):
            t = time.perf_counter()
            canonical = canonicalize_series(
                hrefs, pd.Series([url] * len(hrefs), dtype=object),
                base_domain)
            canon_us.append((time.perf_counter() - t) * 1e6 / len(hrefs))
            canonical = canonical.dropna()
            n_canonical += len(canonical)
            n_filtered += int(filter_reason_series(canonical).notna().sum())

    def p50(xs):
        return float(statistics.median(xs)) if xs else 0.0
    return {"htmldoc.parse_html_us_p50": p50(parse_us),
            "parse.analyze_page_us_p50": p50(analyze_us),
            "parse.links_per_page": (sum(links) / len(links)
                                     if links else 0.0),
            "urlnorm.canonicalize_us_p50": p50(canon_us),
            "urlnorm.filtered_frac": (n_filtered / n_canonical
                                      if n_canonical else 0.0),
            "origin.page_us_p50": p50(origin_us)}


# -- Spark event log ------------------------------------------------------------

_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(re.sub(r"\s*\(\d+\)$", "",
                                 json.loads(scope).get("name", "")))
            except ValueError:
                pass
    return names


def read_event_log(events_dir: Path) -> dict:
    """Parse the (uncompressed) event log of this process's application."""
    jobs, stages, tasks = {}, {}, defaultdict(list)
    # Spark 4 writes the log as a directory of events_* parts, next to a
    # status file and checksums
    for path in sorted(events_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = (ev["Submission Time"],
                                          ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = _scope_names(info)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks[ev["Stage ID"]].append((
                        m.get("Executor Run Time", 0),
                        m.get("JVM GC Time", 0),
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0)))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def window_stats(log: dict, window: tuple[float, float], cores: int) -> dict:
    """Job, stage and task totals of the jobs submitted inside ``window``."""
    lo, hi = window
    job_ids = [j for j, (t, _) in log["jobs"].items() if lo <= t <= hi]
    stage_ids = {s for j in job_ids for s in log["jobs"][j][1]
                 if s in log["stages"]}
    run = gc = shuffle = 0
    skew, heaviest = 0.0, -1
    for s in stage_ids:
        ts = log["tasks"].get(s, [])
        run += sum(t[0] for t in ts)
        gc += sum(t[1] for t in ts)
        shuffle += sum(t[2] for t in ts)
        # the fetch/parse stage: the costliest stage running the Python
        # analysis kernel (not the grouped Bloom build)
        names = log["stages"][s]
        if (names & set(_PYTHON_NODES)
                and "FlatMapGroupsInPandas" not in names and len(ts) > 1):
            cost = sum(t[0] for t in ts)
            med = statistics.median(t[0] for t in ts)
            if cost > heaviest and med > 0:
                heaviest, skew = cost, max(t[0] for t in ts) / med
    wall_ms = max(hi - lo, 1.0)
    return {"jobs": len(job_ids), "stages": len(stage_ids),
            "executor_run_ms": float(run), "gc_ms": float(gc),
            "shuffle_write_bytes": float(shuffle), "task_skew": skew,
            "core_idle_frac": max(0.0, 1 - run / (cores * wall_ms))}
