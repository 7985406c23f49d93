"""Workload ``crawl_durable_recrawl``: the crawl loop with durable state.

``CrawlEngine`` in scale mode (wave 64, 8 per host) over the synthetic
web, with the Bloom and cuckoo seen-sets and a checkpoint after every
wave.  Set-up runs the bootstrap wave, which is also the warm-up.  The
timed part runs ``--seconds // 30`` normal waves (none at the default
20 s), then the recrawl cycle:
``retire_stalest(k)`` -> ``checkpoint`` -> drop the engine ->
``CrawlEngine.resume`` -> one recrawl wave, then the crawler's corpus
frequency report.  Every wave, the final frontier, the per-URL OK-fetch
counts and the report are checked against ``WaveOracle`` outside the
clock.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from common import log, median

WAVE_SIZE = 64
PER_HOST = 8
RETIRE_K = 8
PROBE_KEYS = 20_000
REPORTS = 9
SECONDS_PER_WAVE = 30  # --seconds buys one normal timed wave per this many


def bootstrap_links(seed: int) -> tuple[str, ...]:
    """A full first wave of seeded bootstrap URLs on the synthetic
    web's content hosts (at most ``PER_HOST`` per host), so every timed
    wave selects ``WAVE_SIZE`` URLs whatever the seed."""
    return tuple(
        f"https://site{i % 12}.example/{('topic', 'article', 'story')[i % 3]}-{(seed * 31 + i) % 1000}"
        for i in range(WAVE_SIZE)
    )


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes in files, segment directories) under a checkpoint dir."""
    size = segs = 0
    for d, subdirs, fs in os.walk(path):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
        segs += sum(1 for s in subdirs if s.startswith("seg"))
    return size, segs


class _Oracle:
    """WaveOracle run to the same plan as the engine, with snapshots
    of what each check needs."""

    def __init__(self, cfg, fetch, n_waves: int):
        from gocrawler_spark.oracle.pyoracle import WaveOracle

        o = WaveOracle(cfg, fetch)
        o.bootstrap()
        for _ in range(1 + n_waves):
            if not o.step_wave():
                raise RuntimeError("oracle frontier exhausted early")
        self.pool_before = [(e.url, e.domain, e.count, e.status) for e in o.pool]
        o.retire_stalest(RETIRE_K)
        if not o.step_wave():
            raise RuntimeError("oracle recrawl wave selected nothing")
        self.visited = {}
        ok = {}
        for wave, url, st in o.visited:
            self.visited.setdefault(wave, set()).add((url, st))
            if st == 2:
                ok[url] = ok.get(url, 0) + 1
        self.final = [
            (e.url, e.domain, e.count, e.status, ok.get(e.url, 0))
            for e in o.pool
        ]
        self.corpus = dict(o.res.corpus_freqs)


def _frontier_rows(eng):
    rows = eng.state.frontier.select("url", "domain", "count", "status", "seq").collect()
    return [(r["url"], r["domain"], r["count"], r["status"]) for r in sorted(rows, key=lambda r: r["seq"])]


def _install_trace(tr) -> None:
    from gocrawler_spark.operators import bloom as BL
    from gocrawler_spark.operators import corpus as CO
    from gocrawler_spark.operators import cuckoo as CK
    from gocrawler_spark.operators import curation as CU
    from gocrawler_spark.operators import frontier as FR
    from gocrawler_spark.pins import PinSet
    from gocrawler_spark.plans.store import TableStore

    tr.wrap(PinSet, "pin", "pins.pin")
    for meth in ("commit", "write_segment", "load_snapshot"):
        tr.wrap(TableStore, meth, f"store.{meth}")
    for mod, fn, name in (
        (FR, "select_wave", "frontier.select_wave"),
        (FR, "candidate_links", "frontier.candidate_links"),
        (FR, "merge_into_frontier", "frontier.merge"),
        (CU, "curate_docs", "curation.curate_docs"),
        (CU, "doc_gates", "curation.doc_gates"),
        (CU, "signature_dedup", "curation.signature_dedup"),
        (CO, "token_freq", "corpus.token_freq"),
        (BL, "build", "bloom.build"),
        (BL, "probe", "bloom.probe"),
        (BL, "merge", "bloom.merge"),
        (CK, "build", "cuckoo.build"),
        (CK, "merge", "cuckoo.merge"),
        (CK, "delete", "cuckoo.delete"),
    ):
        tr.wrap(mod, fn, name, replay=True)


def run(spark, seed: int, seconds: int, tracer, work: str, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from gocrawler_spark.config import test_profile
    from gocrawler_spark.operators import cuckoo as CK
    from gocrawler_spark.pins import _persistent_ids
    from gocrawler_spark.plans.crawl import CrawlEngine
    from gocrawler_spark.sources import synthetic_web as SW

    n_waves = seconds // SECONDS_PER_WAVE
    cfg = test_profile(
        wave_size=WAVE_SIZE, per_host_budget=PER_HOST, seed=seed,
        bootstrapping_links=bootstrap_links(seed),
    )
    fetch = functools.partial(SW.fetch_page, seed=seed)
    ckpt = os.path.join(work, "checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    kw = dict(fetch_fn=fetch, use_bloom=True, use_cuckoo=True, checkpoint_every=1)

    # ---- set-up: oracle precompute beside the engine's bootstrap wave ----
    # (the oracle is plain Python; the driver thread mostly waits on the
    # JVM, so the two overlap)
    pool = ThreadPoolExecutor(max_workers=1)
    pending = pool.submit(_Oracle, cfg, fetch, n_waves)
    baseline_pins = _persistent_ids(spark)
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt, **kw)
    eng.step()  # bootstrap wave = warm-up
    eng.checkpoint()
    oracle = pending.result()
    pool.shutdown()
    setup_s = time.perf_counter() - t_start
    tracer_on = tracer.enabled
    if tracer_on:
        _install_trace(tracer)

    sc = spark.sparkContext
    waves = []  # per timed wave: dict of measurements

    def wave(e, label: str) -> None:
        rec = {"wave": e.state.wave + 1}
        mark = len(tracer.spans)
        group = f"perfbench-{label}"
        sc.setJobGroup(group, label)
        front_n = e.state.frontier.count() if tracer_on else 0
        bytes0, segs0 = _dir_stats(ckpt) if tracer_on else (0, 0)
        t0 = time.perf_counter()
        with tracer.span("plans.crawl.step"):
            e.step()
        t1 = time.perf_counter()
        sc.setJobGroup("", "")
        with tracer.span("plans.crawl.checkpoint"):
            e.checkpoint()
        t2 = time.perf_counter()
        rec.update(step_s=t1 - t0, ckpt_s=t2 - t1, wall_s=t2 - t0)
        if tracer_on:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            rec["pin_calls"] = tracer.calls("pins.pin", mark)
            rec["pin_s"] = tracer.total("pins.pin", mark)
            size, segs = _dir_stats(ckpt)
            rec["bytes"], rec["segments"] = size - bytes0, segs - segs0
            rec["new_urls"] = e.state.frontier.count() - front_n
            tracer.replay_pending(
                {
                    "frontier.candidate_links": lambda d: d.count(),
                    "corpus.token_freq": lambda d: d.agg(F.sum("count")).first()[0] or 0,
                }
            )
        waves.append(rec)

    # ---- timed: normal waves, then the recrawl cycle ----
    for i in range(n_waves):
        wave(eng, f"wave{i}")
    pool_before = _frontier_rows(eng)  # outside the clock

    t0 = time.perf_counter()
    with tracer.span("plans.crawl.retire_stalest"):
        retired = eng.retire_stalest(RETIRE_K)
    with tracer.span("plans.crawl.checkpoint"):
        eng.checkpoint()
    t1 = time.perf_counter()
    # outside the clock: no retired key may still test as seen
    n_retired = retired.count()
    still_seen = (
        CK.probe(eng.state.cuckoo, retired, n_shards=eng.cuckoo_shards)
        .filter(F.col("maybe_seen")).count()
    )
    probes = {}
    if tracer_on:
        probes = _seen_set_probes(spark, eng, tracer)
    eng.pins.release_all()  # the crash: nothing of this engine survives
    del eng
    t2 = time.perf_counter()
    with tracer.span("plans.crawl.resume"):
        eng = CrawlEngine.resume(spark, cfg, ckpt, **kw)
    t3 = time.perf_counter()
    if tracer_on:
        tracer.replay_pending()
    wave(eng, "recrawl")
    resume_s = t3 - t2
    maintain_s = (t1 - t0) + resume_s

    # the report is a sub-second op: the median of REPORTS repeats
    report_times = []
    for i in range(REPORTS):
        report_dir = os.path.join(work, f"report{i}")
        t0 = time.perf_counter()
        with tracer.span("sinks.corpus_files"):
            paths = eng.snapshot_files(report_dir)
        report_times.append(time.perf_counter() - t0)
    report_s = median(report_times)
    if tracer_on:
        tracer.restore()
    log(f"set-up {setup_s:.2f}s, waves {[round(w['wall_s'], 2) for w in waves]}, "
        f"maintain {maintain_s:.2f}s, reports {[round(x, 2) for x in report_times]}")
    t_checks = time.perf_counter()

    # ---- checks, outside the clock ----
    attempted, failed, notes = 0, 0, []

    def check(ok: bool, what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            notes.append(what)

    crawl_log = eng.state.crawl_log.select("wave", "url", "status_after").collect()
    got = {}
    for r in crawl_log:
        got.setdefault(r["wave"], set()).add((r["url"], r["status_after"]))
    for w in sorted(oracle.visited):
        check(got.get(w) == oracle.visited[w], f"wave {w} visited set")
    check(pool_before == oracle.pool_before, "frontier before retire")
    check(n_retired > 0 and still_seen == 0, f"{still_seen} of {n_retired} retired keys still seen")
    ok_counts = {}
    for r in crawl_log:
        if r["status_after"] == 2:
            ok_counts[r["url"]] = ok_counts.get(r["url"], 0) + 1
    final = [(u, d, c, s, ok_counts.get(u, 0)) for u, d, c, s in _frontier_rows(eng)]
    check(final == oracle.final, "frontier and OK-fetch counts after recrawl")
    with open(paths["corpusFrequencies"]) as f:
        report = {}
        for line in f:
            cnt, tok = line.split(" ")[:2]
            report[tok] = int(cnt)
    check(report == oracle.corpus, "corpus frequency report")

    layers = {}
    if tracer_on:
        layers = _layer_metrics(tracer, waves, crawl_log, eng, fetch, resume_s)
        layers.update(probes)
        layers["cuckoo.deleted_still_seen"] = still_seen
    eng.pins.release_all()
    leaked = _persistent_ids(spark) - baseline_pins
    check(not leaked, f"{len(leaked)} pinned RDDs survived the run")

    log(f"checks {time.perf_counter() - t_checks:.2f}s")
    # every timed committed wave, the recrawl wave included
    timed_waves = {w["wave"] for w in waves}
    ok_pages = sum(1 for r in crawl_log if r["status_after"] == 2 and r["wave"] in timed_waves)
    loop_s = sum(w["wall_s"] for w in waves)
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": median([w["wall_s"] for w in waves]),
        "urls_per_s": ok_pages / loop_s,
        "maintain_s": maintain_s,
        "report_s": report_s,
    }
    return {
        "attempted": attempted, "failed": failed, "notes": notes,
        "e2e": e2e, "layers": layers,
        "timed_wall_s": loop_s + maintain_s + sum(report_times),
    }


def _seen_set_probes(spark, eng, tr) -> dict:
    """Probe both seen-sets with URLs the crawl can never produce:
    every hit is a false positive."""
    from pyspark.sql import functions as F

    from gocrawler_spark.operators import bloom as BL
    from gocrawler_spark.operators import cuckoo as CK

    never = spark.range(PROBE_KEYS).select(
        F.concat(F.lit("https://never"), F.col("id").cast("string"), F.lit(".invalid/x")).alias("url")
    )
    out = {}
    for name, mod, filt, shards in (
        ("bloom", BL, eng.state.bloom, eng.bloom_shards),
        ("cuckoo", CK, eng.state.cuckoo, eng.cuckoo_shards),
    ):
        t0 = time.perf_counter()
        out[f"{name}.false_positives"] = (
            mod.probe(filt, never, n_shards=shards).filter(F.col("maybe_seen")).count()
        )
        out[f"{name}.probe_s"] = time.perf_counter() - t0
        tr.overhead_s += out[f"{name}.probe_s"]
    return out


def _layer_metrics(tr, timed, crawl_log, eng, fetch, resume_s) -> dict:
    from pyspark.sql import functions as F

    n = len(timed)
    per_wave = lambda key: median([w[key] for w in timed])  # noqa: E731
    fetched = [r for r in crawl_log if r["wave"] in {w["wave"] for w in timed}]
    ok = [r for r in fetched if r["status_after"] == 2]
    sample = [r["url"] for r in fetched][:64]
    t0 = time.perf_counter()
    for u in sample:
        fetch(u)
    fetch_s = (time.perf_counter() - t0) / max(1, len(sample))
    waves = {w["wave"] for w in timed}
    accepted = eng.state.accepted.filter(F.col("wave").isin(list(waves))).count()
    ex = tr.exec_s
    cand = tr.counts.get("frontier.candidate_links", 0)
    return {
        "crawl.spark_jobs_per_wave": per_wave("jobs"),
        "crawl.pin_calls_per_wave": per_wave("pin_calls"),
        "crawl.pin_s_per_wave": per_wave("pin_s"),
        "crawl.driver_s_per_wave": median([w["step_s"] - w["pin_s"] for w in timed]),
        "store.checkpoint_s": per_wave("ckpt_s"),
        "store.bytes_written_per_wave": per_wave("bytes"),
        "store.segments_per_wave": per_wave("segments"),
        "store.load_snapshot_s": tr.total("store.load_snapshot"),
        "store.resume_s": resume_s,
        "frontier.select_wave_s": ex.get("frontier.select_wave", 0.0) / n,
        "frontier.candidate_links_s": ex.get("frontier.candidate_links", 0.0) / n,
        "frontier.merge_s": ex.get("frontier.merge", 0.0) / n,
        "frontier.new_url_ratio": sum(w["new_urls"] for w in timed) / cand if cand else 0.0,
        "bloom.build_s": ex.get("bloom.build", 0.0) / n,
        "bloom.merge_s": ex.get("bloom.merge", 0.0) / n,
        "cuckoo.build_s": ex.get("cuckoo.build", 0.0) / n,
        "cuckoo.merge_s": ex.get("cuckoo.merge", 0.0) / n,
        "cuckoo.delete_s": ex.get("cuckoo.delete", 0.0),
        "fetch.pages_per_wave": len(fetched) / n,
        "fetch.ok_ratio": len(ok) / len(fetched) if fetched else 0.0,
        "fetch.fetch_page_s": fetch_s,
        "curation.curate_docs_s": ex.get("curation.curate_docs", 0.0) / n,
        "curation.doc_gates_s": ex.get("curation.doc_gates", 0.0) / n,
        "curation.signature_dedup_s": ex.get("curation.signature_dedup", 0.0) / n,
        "curation.accept_ratio": accepted / len(ok) if ok else 0.0,
        "corpus.token_freq_s": ex.get("corpus.token_freq", 0.0) / n,
        "corpus.tokens_counted": tr.counts.get("corpus.token_freq", 0),
    }
