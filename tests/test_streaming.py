"""Structured Streaming corpus analytics: cross-batch state
accumulation, checkpointed exactly-once file processing, streaming
dedup, windowed rates."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.streaming import corpus_stream as CS

CFG = _tp()

T0 = datetime.datetime(2026, 1, 1, 12, 0, 0)


def _write_docs(spark, path, rows):
    df = spark.createDataFrame(rows, CS.ACCEPTED_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _rows(batch, start_i):
    out = []
    for i, (text, sig) in enumerate(batch):
        out.append(
            (
                f"https://s.example/p{start_i + i}",
                text,
                sig,
                T0 + datetime.timedelta(seconds=30 * (start_i + i)),
            )
        )
    return out


def test_corpus_freq_accumulates_across_batches(spark, tmp_path):
    inp, ckpt, state = (str(tmp_path / d) for d in ("in", "ck", "state"))
    os.makedirs(inp, exist_ok=True)

    _write_docs(spark, inp, _rows([("quark lepton quark", "s1"),
                                   ("lepton boson", "s2")], 0))
    q = CS.merge_stream_into_corpus(
        CS.accepted_docs_stream(spark, inp), CFG, state, ckpt
    )
    q.awaitTermination()
    got = {r["token"]: r["count"] for r in CS.read_corpus_state(spark, state).collect()}
    assert got == {"quark": 2, "lepton": 2, "boson": 1}

    # batch 2 arrives later; restart from the SAME checkpoint
    _write_docs(spark, inp, _rows([("boson boson gluon", "s3")], 2))
    q2 = CS.merge_stream_into_corpus(
        CS.accepted_docs_stream(spark, inp), CFG, state, ckpt
    )
    q2.awaitTermination()
    got2 = {r["token"]: r["count"] for r in CS.read_corpus_state(spark, state).collect()}
    assert got2 == {"quark": 2, "lepton": 2, "boson": 3, "gluon": 1}

    # restart with nothing new: exactly-once (no double count)
    q3 = CS.merge_stream_into_corpus(
        CS.accepted_docs_stream(spark, inp), CFG, state, ckpt
    )
    q3.awaitTermination()
    got3 = {r["token"]: r["count"] for r in CS.read_corpus_state(spark, state).collect()}
    assert got3 == got2


def test_corpus_upsert_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state commit but
    before the streaming checkpoint advances replays the same batch_id.
    The replay must be a no-op, not a double count."""
    state = str(tmp_path / "state_r")
    upsert = CS.corpus_upsert(CFG, state)
    batch = spark.createDataFrame(_rows([("quark lepton quark", "s1")], 0),
                                  CS.ACCEPTED_SCHEMA)
    upsert(batch, 0)
    first = {r["token"]: r["count"]
             for r in CS.read_corpus_state(spark, state).collect()}
    upsert(batch, 0)  # replay of an already-applied batch
    assert {r["token"]: r["count"]
            for r in CS.read_corpus_state(spark, state).collect()} == first
    upsert(batch, 1)  # a genuinely new batch still merges
    assert {r["token"]: r["count"]
            for r in CS.read_corpus_state(spark, state).collect()} == {
        "quark": 4, "lepton": 2}


def test_streaming_signature_dedup(spark, tmp_path):
    inp, ckpt = str(tmp_path / "in2"), str(tmp_path / "ck2")
    os.makedirs(inp, exist_ok=True)
    _write_docs(
        spark, inp,
        _rows([("a b", "sigX"), ("c d", "sigX"), ("e f", "sigY")], 0),
    )
    out = (
        CS.streaming_signature_dedup(CS.accepted_docs_stream(spark, inp))
        .writeStream.format("memory").queryName("dedup_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    out.awaitTermination()
    rows = spark.sql("select signature, url from dedup_sink").collect()
    sigs = sorted(r["signature"] for r in rows)
    assert sigs == ["sigX", "sigY"]  # duplicate sigX dropped in-stream


def test_windowed_doc_rate(spark, tmp_path):
    inp, ckpt = str(tmp_path / "in3"), str(tmp_path / "ck3")
    os.makedirs(inp, exist_ok=True)
    # 3 docs in minute 0, 1 doc in minute 1 (30s spacing)
    _write_docs(
        spark, inp,
        _rows([("w x", "a"), ("y z", "b"), ("p q", "c"), ("r s", "d")], 0),
    )
    out = (
        CS.windowed_doc_rate(CS.accepted_docs_stream(spark, inp))
        .writeStream.format("memory").queryName("rate_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    out.awaitTermination()
    rows = {
        r["window_start"].minute: (r["docs"], r["tokens"])
        for r in spark.sql("select * from rate_sink").collect()
    }
    # 30s spacing: minute-0 window holds t=0,30s; minute-1 holds 60,90s
    assert rows == {0: (2, 4), 1: (2, 4)}


def test_domain_quota_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-domain quota must count across
    micro-batches through the checkpointed state store — batch 2's
    admissions depend on batch 1's state."""
    inp, ckpt, outp = (str(tmp_path / d) for d in ("qin", "qck", "qout"))
    os.makedirs(inp, exist_ok=True)

    def run_available_now():
        stream = CS.accepted_docs_stream(spark, inp)
        gated = CS.domain_quota_stream(stream, quota=3)
        q = (
            gated.writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: domain a.example has 2 docs, b.example has 1
    _write_docs(
        spark,
        inp,
        [
            (f"https://a.example/p{i}", "t", f"s{i}", T0)
            for i in range(2)
        ]
        + [("https://b.example/p0", "t", "sb0", T0)],
    )
    run_available_now()
    # batch 2: 3 more docs per domain -> a admits only 1 more (2+1=3),
    # b admits 2 more
    _write_docs(
        spark,
        inp,
        [
            (f"https://a.example/q{i}", "t", f"sq{i}", T0)
            for i in range(3)
        ]
        + [(f"https://b.example/q{i}", "t", f"sbq{i}", T0) for i in range(3)],
    )
    run_available_now()

    out = spark.read.parquet(outp)
    by_domain = {
        r["domain"]: r["n"]
        for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by_domain == {"a.example": 3, "b.example": 3}


def test_content_dedup_stateful_drop_accounting(spark, tmp_path):
    """applyInPandasWithState exact-dedup: only the first-ever arrival
    per signature is admitted (lowest url wins inside its batch), and
    every batch reports its dup count per key — state persists across
    restarts via the checkpoint."""
    inp, ckpt, outp = (str(tmp_path / d) for d in ("din", "dck", "dout"))
    os.makedirs(inp, exist_ok=True)

    def run_available_now():
        stream = CS.accepted_docs_stream(spark, inp)
        q = (
            CS.content_dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: sig A twice, sig B once
    _write_docs(
        spark,
        inp,
        [
            ("https://x.example/a2", "t", "sigA", T0),
            ("https://x.example/a1", "t", "sigA", T0),
            ("https://x.example/b1", "t", "sigB", T0),
        ],
    )
    run_available_now()
    # batch 2: sig A again (pure dups), sig C new
    _write_docs(
        spark,
        inp,
        [
            ("https://x.example/a3", "t", "sigA", T0),
            ("https://x.example/c1", "t", "sigC", T0),
        ],
    )
    run_available_now()

    rows = spark.read.parquet(outp).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.signature, []).append((r.kept_url, r.new_dups))
    # sigA: batch1 admitted a1 (a2 = 1 dup); batch2 pure dups (1)
    assert sorted(by_key["sigA"], key=lambda t: (t[0] is None, t[0] or "")) == [
        ("https://x.example/a1", 1),
        (None, 1),
    ]
    assert by_key["sigB"] == [("https://x.example/b1", 0)]
    assert by_key["sigC"] == [("https://x.example/c1", 0)]


def test_streaming_corpus_top100_commits_per_file(spark):
    """The registered streaming query must actually run MULTIPLE MERGE
    commits (one per landed file) — a single mega-batch would pass the
    oracle without exercising cross-batch accumulation."""
    import os
    import tempfile

    from gocrawler_spark.plans.store import TableStore
    from gocrawler_spark.queries.stream_q import (
        N_BATCH_FILES,
        streaming_corpus_top100,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = streaming_corpus_top100(spark, sf_dir).collect()
    assert rows and rows[0].cnt >= rows[-1].cnt
    state = os.path.join(
        tempfile.gettempdir(), "gocrawler_spark_stream_q", "state"
    )
    man = TableStore(state).read_manifest()
    assert man is not None and man["wave"] == N_BATCH_FILES - 1
