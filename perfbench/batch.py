"""Workload ``corpus_frontier``: large-state batch jobs.

Two jobs that each run a few large Spark stages, the opposite of the
crawl's many tiny jobs:

* the corpus report: two analytics queries (``QUERIES``) over a seeded
  ``documents`` table, each result checked against its DuckDB
  ``ORACLES`` entry;
* frontier maintenance at 500k rows: ``BucketedFrontier.select_wave``
  (wave 25k, 4 per host) and the merge of 250k candidates (half of
  them already in the frontier) as one fused action, checked against a
  DuckDB recomputation, then the commit of the merged frontier as the
  next bucketed table.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

from common import canon_rows, force, log, median

QUERY_NAMES = ("corpus_freq_top100", "ngrams_pruned_2to5")
N_DOCS = 1000
WARM_REPS = 2  # one rep leaves the next still about twice as slow
FRONTIER_ROWS = 500_000
CAND_ROWS = 250_000
N_HOSTS = 12_500
WAVE = 25_000
PER_HOST = 4
_REP_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}
SECONDS_PER_REP = 4  # --seconds buys one timed frontier rep per this many

_WORDS = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def write_documents(path: str, n: int, seed: int) -> None:
    """Seeded stand-in for the test data's ``documents`` table: the same
    columns, vocabulary, language mix and length range, with 5% near
    duplicates (a copy of an earlier document with one word changed)
    so the dedup queries find pairs."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, size=int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    os.makedirs(path, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).to_parquet(os.path.join(path, "documents.parquet"), index=False)


def query_oracles(sf_dir: str) -> dict:
    from gocrawler_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        out = {}
        for q in QUERY_NAMES:
            res = con.execute(ORACLES[q])
            out[q] = canon_rows([c[0] for c in res.description], res.fetchall())
        return out
    finally:
        con.close()


# The generators below use plain integer arithmetic (no engine-specific
# hash function), so DuckDB regenerates the identical rows for the oracle.
def _host_sql(k: str, seed: int) -> str:
    return f"'host' || CAST(({k} * {k} + {k} + {seed * 7919}) % {N_HOSTS} AS STRING) || '.example'"


def _frontier_sql(seed: int) -> str:
    """Seeded frontier: hosts skewed like bench.py's generator
    (quadratic residues), per-URL counts drawn from the seed."""
    h = _host_sql("id", seed)
    return f"""SELECT 'https://' || {h} || '/p' || CAST(id AS STRING) AS url,
        {h} AS domain, CAST((id * 2654435761 + {seed}) % 13 + 1 AS BIGINT) AS count,
        0 AS status, CAST(id AS BIGINT) AS seq, true AS eligible"""


def _candidate_sql(seed: int) -> str:
    """Distinct candidates with path ids p = (7*id + seed) mod 2N, so
    about half land on an existing URL (the host is a function of p)."""
    p = f"((id * 7 + {seed}) % {2 * FRONTIER_ROWS})"
    h = _host_sql(p, seed)
    return f"""SELECT 'https://' || {h} || '/p' || CAST({p} AS STRING) AS url,
        CAST(1 AS BIGINT) AS delta, {h} AS domain,
        CAST((id * 40503 + {seed}) % 10000 AS BIGINT) AS parent_seq,
        CAST(id AS BIGINT) AS pos"""


def frontier_oracle(seed: int) -> dict:
    """DuckDB recomputation of one rep: the selection (empty domain
    counter, so priority = count^2) and the merge (count += delta for
    existing URLs, dense seq after the frontier for new ones)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW f AS {_frontier_sql(seed)} FROM range({FRONTIER_ROWS}) t(id)")
        con.execute(f"CREATE VIEW c AS {_candidate_sql(seed)} FROM range({CAND_ROWS}) t(id)")
        sel = con.execute(f"""
            WITH ranked AS (
              SELECT seq, count, CAST(count * count AS DOUBLE) AS pr,
                     row_number() OVER (PARTITION BY domain ORDER BY count * count DESC, seq) AS hr
              FROM f WHERE status = 0 AND eligible)
            SELECT count(*), sum(seq), sum(count) FROM (
              SELECT * FROM ranked WHERE hr <= {PER_HOST}
              ORDER BY pr DESC, seq LIMIT {WAVE})""").fetchone()
        n_f, s_f, c_f = con.execute("SELECT count(*), sum(seq), sum(count) FROM f").fetchone()
        n_new, c_new = con.execute(
            "SELECT count(*), coalesce(sum(delta), 0) FROM c ANTI JOIN f USING (url)"
        ).fetchone()
        c_hit = con.execute("SELECT coalesce(sum(c.delta), 0) FROM c JOIN f USING (url)").fetchone()[0]
    finally:
        con.close()
    base = n_f  # seqs are 0..N-1
    merged = (
        n_f + n_new,
        s_f + n_new * base + n_new * (n_new - 1) // 2,
        c_f + c_hit + c_new,
    )
    return {"sel": tuple(int(x) for x in sel), "merged": tuple(int(x) for x in merged)}


def run(spark, seed: int, seconds: int, tracer, work: str, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from gocrawler_spark.operators import corpus as CO
    from gocrawler_spark.operators import ngrams as NG
    from gocrawler_spark.pins import PinSet
    from gocrawler_spark.plans.bucketed import BucketedFrontier
    from gocrawler_spark.queries import QUERIES

    n_reps = max(2, seconds // SECONDS_PER_REP)
    sc = spark.sparkContext
    docs_dir = os.path.join(work, "docs")

    # ---- set-up ----
    # input generation: repeated, median reported
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        shutil.rmtree(docs_dir, ignore_errors=True)
        write_documents(docs_dir, N_DOCS, seed)
        gen_s.append(time.perf_counter() - t0)
    log(f"inputs {[round(x, 2) for x in gen_s]}")
    # DuckDB runs the oracles beside the Spark set-up (it releases the
    # interpreter lock while it executes)
    pool = ThreadPoolExecutor(max_workers=1)
    oracles = pool.submit(lambda: (query_oracles(docs_dir), frontier_oracle(seed)))

    t_once = time.perf_counter()
    bf = BucketedFrontier(spark, name="perfbench_frontier", n_buckets=max(8, sc.defaultParallelism))
    t0 = time.perf_counter()
    bf.write(spark.sql(f"{_frontier_sql(seed)} FROM range({FRONTIER_ROWS})"))
    write_s = time.perf_counter() - t0
    cand = (
        spark.sql(f"{_candidate_sql(seed)} FROM range({CAND_ROWS})")
        .select("url", "delta", F.struct("parent_seq", "pos").alias("first_at"), "domain")
        .localCheckpoint(eager=True)
    )
    log(f"frontier write {write_s:.2f}s, candidates {time.perf_counter() - t0 - write_s:.2f}s")
    dc = spark.createDataFrame([], "domain string, n_scheduled long")

    def rep(label: str, split: bool = False):
        """One fused select_wave + merge commit; returns (seconds,
        {leg: (rows, sum seq, sum count)}, jobs, select_s, merge_s)."""
        pins = PinSet(spark)
        group = f"perfbench-{label}"
        sc.setJobGroup(group, label)
        # bench.py's frontier shape: every partitioning is explicit, so
        # AQE and size-based broadcasts are off for the rep
        prev = {k: spark.conf.get(k) for k in _REP_CONFS}
        for k, v in _REP_CONFS.items():
            spark.conf.set(k, v)
        t0 = time.perf_counter()
        sel = bf.select_wave(dc, wave_size=WAVE, per_host_budget=PER_HOST)
        merged = bf.merge(cand, pin=pins.pin, base=FRONTIER_ROWS)
        rows = (
            sel.select(F.lit("sel").alias("leg"), "seq", "count")
            .unionByName(merged.select(F.lit("merged").alias("leg"), "seq", "count"))
            .groupBy("leg")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("seq").alias("s"), F.sum("count").alias("c"))
            .collect()
        )
        dt = time.perf_counter() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        pins.release_all()
        legs = {r["leg"]: (r["n"], r["s"], r["c"]) for r in rows}
        sel_s = merge_s = 0.0
        if split:  # per-leg execution time, traced runs only
            pins = PinSet(spark)
            t0 = time.perf_counter()
            force(bf.select_wave(dc, wave_size=WAVE, per_host_budget=PER_HOST))
            sel_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            force(bf.merge(cand, pin=pins.pin, base=FRONTIER_ROWS))
            merge_s = time.perf_counter() - t0
            pins.release_all()
        for k, v in prev.items():
            spark.conf.set(k, v)
        return dt, legs, jobs, sel_s, merge_s

    def analytics_pass(sf_src: str, label: str):
        """Run every query through a fresh sf_dir alias, so the query
        registry's per-(session, sf_dir) result memo never serves it."""
        alias = os.path.join(work, f"sf_{label}")
        os.makedirs(alias)
        os.symlink(os.path.join(sf_src, "documents.parquet"), os.path.join(alias, "documents.parquet"))
        per_q, results = {}, {}
        t0 = time.perf_counter()
        for q in QUERY_NAMES:
            tq = time.perf_counter()
            with tracer.span(f"queries.{q}"):
                df = QUERIES[q](spark, alias)
                results[q] = (df.columns, df.collect())
            per_q[q] = time.perf_counter() - tq
        return time.perf_counter() - t0, per_q, results

    # warm-up: the timed code paths on the timed inputs (the analytics
    # pass through its own alias, so the timed pass still misses the memo)
    t0 = time.perf_counter()
    analytics_pass(docs_dir, "warm")
    log(f"warm-up analytics {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    for i in range(WARM_REPS):
        rep(f"warm{i}")
    log(f"warm-up reps {time.perf_counter() - t0:.2f}s")
    expected, expect_rep = oracles.result()
    pool.shutdown()
    once_s = time.perf_counter() - t_once
    setup_s = (t_once - t_start) - sum(gen_s) + median(gen_s) + once_s

    # ---- timed ----
    tracer_on = tracer.enabled
    reps = [rep(f"rep{i}", split=tracer_on) for i in range(n_reps)]
    # the durable half of a wave commit: the merged frontier becomes the
    # next bucketed table (the ping-pong side the reps do not read)
    pins = PinSet(spark)
    t0 = time.perf_counter()
    with tracer.span("plans.bucketed.write"):
        bf.write(bf.merge(cand, pin=pins.pin, base=FRONTIER_ROWS))
    maintain_s = time.perf_counter() - t0
    pins.release_all()
    committed = tuple(bf.df().agg(F.count(F.lit(1)), F.sum("seq"), F.sum("count")).first())
    if tracer_on:
        tracer.wrap(CO, "token_freq", "corpus.token_freq", replay=True)
        tracer.wrap(NG, "ngrams_all_levels", "ngrams.all_levels", replay=True)
    report_s, per_q, results = analytics_pass(docs_dir, "timed")
    if tracer_on:
        tracer.restore()
        tracer.replay_pending(
            {
                "corpus.token_freq": lambda d: d.agg(F.sum("count")).first()[0] or 0,
                "ngrams.all_levels": lambda d: d.count(),
            }
        )
    log(f"timed: report {report_s:.2f}s {per_q}, reps {[r[0] for r in reps]}, commit {maintain_s:.2f}s")

    # ---- checks, outside the clock ----
    attempted, failed, notes = 0, 0, []

    def check(ok: bool, what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            notes.append(what)

    for q in QUERY_NAMES:
        cols, rows = results[q]
        check(canon_rows(cols, [tuple(r) for r in rows]) == expected[q], f"query {q}")
    for i, (_, legs, *_rest) in enumerate(reps):
        check(legs.get("sel") == expect_rep["sel"] and legs.get("merged") == expect_rep["merged"],
              f"frontier rep {i}: {legs} != {expect_rep}")
    check(committed == expect_rep["merged"], "committed frontier table")

    rep_s = [r[0] for r in reps]
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": median(rep_s),
        "urls_per_s": (FRONTIER_ROWS + CAND_ROWS) / median(rep_s),
        "maintain_s": maintain_s,
        "report_s": report_s,
    }
    layers = {}
    if tracer_on:
        ex = tracer.exec_s
        layers = {
            "bucketed.write_s": maintain_s,
            "bucketed.select_wave_s": median([r[3] for r in reps]),
            "bucketed.merge_s": median([r[4] for r in reps]),
            "bucketed.jobs_per_rep": median([r[2] for r in reps]),
            "corpus.token_freq_s": ex.get("corpus.token_freq", 0.0),
            "corpus.tokens_counted": tracer.counts.get("corpus.token_freq", 0),
            "ngrams.all_levels_s": ex.get("ngrams.all_levels", 0.0),
            "ngrams.grams_emitted": tracer.counts.get("ngrams.all_levels", 0),
            **{f"query_s.{q}": v for q, v in per_q.items()},
        }
    return {
        "attempted": attempted, "failed": failed, "notes": notes,
        "e2e": e2e, "layers": layers,
        "timed_wall_s": report_s + sum(rep_s) + maintain_s,
    }
