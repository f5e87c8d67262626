"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bfs_small_rounds --seed 1 \
        --seconds 10 --trace 0

Runs the workload's crawl through the public API (``CrawlEngine.run``,
then ``enrich_results`` with ``reports.write_report``), checks crawl order
and seen set against ``crawler_seo_spark.oracle.run_oracle``, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits non-zero when any output differs from
the oracle. See perfbench/README.md for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import machine

SETUP_REPEATS = 3  # input builds per run; setup_s takes their median

# metric names and units are those BENCHMARK.json declares
_SPEC = json.loads((Path(__file__).resolve().parent.parent
                    / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs):
    """``(fn(*args, **kwargs), seconds it took)``."""
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def crawl(wl, cfg):
    """One crawl as a user runs it: ``run()``, then its results pinned and
    counted. Returns the state, the pinned results and the URL count."""
    state = wl.engine(cfg).run()
    results = state.results.localCheckpoint(eager=True)
    return state, results, results.count()


def write_report(results, out_dir: Path) -> None:
    from crawler_seo_spark.plans.enrich import enrich_results
    from crawler_seo_spark.plans.reports import write_report as write
    write(enrich_results(results), str(out_dir))


def check(state, results, expected) -> tuple[int, int]:
    """(attempted, failed) against the oracle. An operation is a dequeued
    URL; it fails when its row is missing or duplicated, when its status is
    0, or when its crawl position differs from the oracle's. Each URL in
    only one of the two seen sets is one more failed operation."""
    rows = defaultdict(list)
    for r in results.select("crawl_seq", "url", "status_code").collect():
        rows[r["crawl_seq"]].append(r)
    want = [e["url"] for e in expected.crawl_order]
    seqs = set(rows) | set(range(len(want)))
    failed = sum(1 for s in seqs
                 if not (s < len(want) and len(rows[s]) == 1
                         and rows[s][0]["url"] == want[s]
                         and rows[s][0]["status_code"]))
    seen = {r["url"] for r in state.seen.select("url").collect()}
    diff = len(seen ^ expected.seen_urls)
    return len(seqs) + diff, failed + diff


def engine_counters(rounds: list[dict]) -> dict:
    walls = [r["wall_ms"] for r in rounds]
    dequeued = sum(r["dequeued"] for r in rounds)
    out = {"engine.rounds": len(rounds),
           "engine.round_p50_ms": statistics.median(walls),
           "engine.round_max_ms": max(walls),
           "engine.enqueued_per_dequeued":
               sum(r["enqueued"] for r in rounds) / max(dequeued, 1),
           "bloom.rebroadcast_bytes":
               sum(r["bloom_rebroadcast_bytes"] for r in rounds)}
    for phase in ("dequeue", "fetch_parse", "prune", "seq", "merge"):
        out[f"engine.{phase}_ms"] = sum(r[f"t_{phase}_ms"] for r in rounds)
    return out


def sample_pages(wl, results, n: int = 200) -> list[tuple[str, str]]:
    """(url, html) of the first ``n`` crawled pages that were analyzed."""
    urls = [r["url"] for r in results.filter("analysis IS NOT NULL")
            .orderBy("crawl_seq").select("url").limit(n).collect()]
    if wl.pages is not None:
        return [(u, wl.store[u]["html"]) for u in urls]
    fetch = wl.fetch_factory()
    return [(u, fetch(u)["html"]) for u in urls]


def traced_pass(wl, cfg, expected, untraced_ups: float, info: dict,
                work: Path) -> tuple[dict, int, int, callable]:
    """The traced crawl plus replays. Returns the per-layer metrics known
    before the session stops, the crawl's check, and a finisher that adds
    the event-log metrics once the log is complete."""
    import tracing
    from crawler_seo_spark.functions.urlnorm import base_domain_of
    from crawler_seo_spark.plans.enrich import enrich_results
    rec = tracing.Recorder()
    restore = rec.install()
    try:
        with rec.window("crawl") as w:
            state, results, n = crawl(wl, cfg)
    finally:
        restore()
    attempted, failed = check(state, results, expected)
    layer = dict.fromkeys(PER_LAYER, 0.0)
    ups = n / w.seconds
    layer["trace.crawl_urls_per_s"] = ups
    layer["trace.overhead_frac"] = 1 - ups / untraced_ups
    layer.update(engine_counters(state.rounds))
    layer["bloom.add_urls_ms"] = rec.self_ms["bloom.add_urls"]
    layer["bloom.add_urls_calls"] = rec.calls["bloom.add_urls"]
    for span in ("merge_into", "write", "commit", "read"):
        layer[f"tables.{span}_ms"] = rec.self_ms[f"tables.{span}"]
    if cfg.checkpoint_dir:
        files = [p for p in Path(cfg.checkpoint_dir).rglob("*")
                 if p.is_file()]
        layer["tables.files_written"] = len(files)
        layer["tables.bytes_written"] = sum(p.stat().st_size for p in files)
        t = time.perf_counter()
        wl.engine(cfg).run(resume=True).crawl_order.count()
        layer["tables.resume_ms"] = (time.perf_counter() - t) * 1000
    layer.update(tracing.replay_layers(rec))
    layer["parse.pages_analyzed"] = results.filter(
        "analysis IS NOT NULL").count()
    fetch = wl.fetch_factory() if wl.pages is None else None
    layer.update(tracing.replay_kernels(sample_pages(wl, results),
                                        base_domain_of(cfg.seed_url), fetch))
    t = time.perf_counter()
    tracing.noop(enrich_results(results))
    layer["enrich.ms"] = (time.perf_counter() - t) * 1000
    with rec.window("report") as rw:
        write_report(results, work / "report-traced")
    layer["reports.tabs_ms"] = rw.seconds * 1000
    if wl.validates_images:
        layer.update(validate_images(wl))

    def finish() -> None:
        log_ = tracing.read_event_log(work / "events")
        c = tracing.window_stats(log_, rec.windows["crawl"], info["cores"])
        layer["engine.spark_jobs"] = c["jobs"]
        layer["engine.spark_stages"] = c["stages"]
        for k in ("executor_run_ms", "gc_ms", "shuffle_write_bytes",
                  "task_skew", "core_idle_frac"):
            layer[f"spark.{k}"] = c[k]
        layer["reports.spark_jobs"] = tracing.window_stats(
            log_, rec.windows["report"], info["cores"])["jobs"]
    return layer, attempted, failed, finish


def validate_images(wl) -> dict:
    """``operators.multimodal``: validate a generated image+caption table
    whose generation (seeded like the site) is not timed."""
    import pandas as pd

    from crawler_seo_spark.operators.multimodal import validate_images
    from crawler_seo_spark.sources.images import make_image_row
    rows = [make_image_row(i, wl.seed) for i in range(wl.n_images)]
    df = wl.spark.createDataFrame(pd.DataFrame(rows), schema=(
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")).localCheckpoint(eager=True)
    t = time.perf_counter()
    ok = (validate_images(df, seed=wl.seed)
          .filter("decode_ok AND pixels_ok AND phash_ok AND caption_ok")
          .count())
    return {"multimodal.validate_ms": (time.perf_counter() - t) * 1000,
            "multimodal.valid_frac": ok / len(rows)}


def bench(args, work: Path, info: dict) -> dict:
    from crawler_seo_spark.session import get_spark
    from workloads import WORKLOADS

    with machine.PeakRss() as rss:
        spark, session_s = timed(get_spark, "perfbench", info["cores"],
                                 info["cores"])
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            builds = [timed(wl.build_inputs)[1] for _ in range(SETUP_REPEATS)]
            setup_s = session_s + statistics.median(builds)

            # untimed warm-up crawl, so the timed crawl runs in a warm JVM
            # with warm Python workers; the oracle (pure Python, untimed)
            # runs alongside it and is done before timing starts
            cfg = wl.timed_config()
            with ThreadPoolExecutor(1) as pool:
                oracle = pool.submit(wl.run_oracle, cfg)
                warmup_s = timed(crawl, wl, wl.warmup_config())[1]
                expected = oracle.result()

            crawls = []
            deadline = time.perf_counter() + args.seconds
            while not crawls or time.perf_counter() < deadline:
                (state, results, n), dt = timed(crawl, wl, cfg)
                crawls.append((state, results, n / dt))
            peak_mb = rss.peak_mb

            attempted = failed = 0
            for state, results, _ in crawls:
                a, f = check(state, results, expected)
                attempted, failed = attempted + a, failed + f
            ups = statistics.median([c[2] for c in crawls])
            log(f"{args.workload} seed={args.seed}: {len(crawls)} crawls, "
                f"{ups:.1f} URLs/s, "
                f"setup {setup_s:.2f} s (session {session_s:.2f} s), "
                f"warm-up {warmup_s:.2f} s, "
                f"peak RSS {peak_mb:.0f} MB, {failed}/{attempted} failed, "
                f"{info['cores']} of {info['nproc']} cores, driver heap "
                f"{info['driver_heap_mb']} MB")
            finish = None
            if args.trace:
                metrics, a, f, finish = traced_pass(wl, cfg, expected, ups,
                                                    info, work)
                attempted, failed = attempted + a, failed + f
            else:
                metrics = {"setup_s": setup_s, "crawl_urls_per_s": ups,
                           "peak_rss_mb": peak_mb}
        finally:
            machine.stop_spark(spark)
    if finish is not None:
        finish()
    units = PER_LAYER if args.trace else END_TO_END
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = Path(__file__).resolve().parent.parent
    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    t = time.perf_counter()
    info = machine.configure_environment(root, work, bool(args.trace))
    sys.path.insert(0, str(root))
    try:
        result = bench(args, work, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left if another run uses it
            work.parent.rmdir()
    log(f"run took {time.perf_counter() - t:.1f} s")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
