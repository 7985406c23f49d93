"""Structured Streaming corpus analytics.

The reference's corpus aggregation IS a stream: accepted docs arrive
one at a time and fold into global term frequencies with periodic
top-100 snapshots (crawler.go:1061,1282,1285-1345 — SURVEY §2.8).
The crawl loop itself stays an iterative-batch wave engine (the
engine generates its own input; exact ordering needs wave barriers),
but the DOWNSTREAM analytics consume the accepted-docs table as a
proper stream:

- `accepted_docs_stream`: file-source stream over the accepted-docs
  directory (new parquet files = new docs, exactly-once per file via
  the checkpointed file index);
- `streaming_corpus_freq`: explode(analyzed tokens) → groupBy(token)
  — incremental hash aggregation; Spark keeps the running counts in
  state store, update mode emits only changed tokens per batch;
- `streaming_signature_dedup`: the P5 near-dup gate as a streaming
  dropDuplicates over the doc signature, with an event-time watermark
  bounding state (late duplicates beyond the watermark age out —
  the reference has no late data, so the watermark is a pure
  state-size control at scale);
- `windowed_doc_rate`: tumbling event-time window + watermark over
  accept timestamps (docs/min with late-data tolerance) — the
  streaming analog of the reference's every-50-docs checkpoint
  cadence;
- `merge_stream_into_corpus`: foreachBatch MERGE of per-batch token
  deltas into a parquet corpus_freq table — the same merge_freq
  operator the wave engine uses, applied incrementally, committed
  through a full-mode ``TableStore`` table (plans/store.py) like every
  other durable state.

Scale: state is keyed by token / signature — both hash-partitioned by
the state store; per-batch shuffle is the same explode→groupBy plan
as the batch path (map-side partial aggregation applies).

Tested with trigger(availableNow) in tests/test_streaming.py:
cross-batch state accumulation + checkpoint restart equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.config import CrawlConfig
from gocrawler_spark.functions import text as TX
from gocrawler_spark.operators import corpus as CO
from gocrawler_spark.plans.store import TableStore

ACCEPTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("curated", T.StringType(), True),
        T.StructField("signature", T.StringType(), True),
        T.StructField("accepted_at", T.TimestampType(), True),
    ]
)


def accepted_docs_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(ACCEPTED_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def streaming_corpus_freq(docs: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """A2 as an incremental aggregation: (token, count) running totals."""
    toks = TX.analyzed_tokens(F.col("curated"), cfg)
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def streaming_signature_dedup(
    docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """P5 streaming analog: first doc per signature passes; duplicates
    within the watermark horizon are dropped; state ages out beyond it."""
    return docs.withWatermark("accepted_at", watermark).dropDuplicates(
        ["signature"]
    )


def windowed_doc_rate(docs: DataFrame, watermark: str = "5 minutes") -> DataFrame:
    """Tumbling 1-minute accept-rate with late-data tolerance."""
    return (
        docs.withWatermark("accepted_at", watermark)
        .groupBy(F.window("accepted_at", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(TX.tokens_count(F.col("curated"))).alias("tokens"),
        )
        .select(F.col("w.start").alias("window_start"), "docs", "tokens")
    )


def read_corpus_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Last committed corpus_freq state, or None before the first batch."""
    return TableStore(state_path).load_table(spark, "corpus_freq")


def corpus_upsert(cfg: CrawlConfig, state_path: str):
    """The foreachBatch body for merge_stream_into_corpus (exposed for
    direct replay testing).

    Executor-side merge, no driver collect: each batch's token deltas
    are merged with the committed state and committed as a NEW version
    of a full-mode ``TableStore`` table rooted at ``state_path``
    (plans/store.py); the store's snapshot GC removes superseded
    versions. At 100 TB state this is the same
    write-new-version-then-swap-pointer shape as an Iceberg MERGE.

    Idempotent under foreachBatch's at-least-once contract: the
    manifest's commit id is the last applied batch_id, and a replayed
    batch (crash after commit, before the streaming checkpoint
    advanced) is skipped instead of double-counted.
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        store = TableStore(state_path)
        if batch_id <= store.last_commit():
            return  # replayed batch: its deltas are already in the state
        delta = (
            batch.select(F.explode(TX.analyzed_tokens(F.col("curated"), cfg)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        prev = store.load_table(batch.sparkSession, "corpus_freq")
        merged = delta if prev is None else CO.merge_freq(prev, delta)
        store.commit(batch_id, {"corpus_freq": merged})

    return upsert


def merge_stream_into_corpus(
    docs: DataFrame,
    cfg: CrawlConfig,
    state_path: str,
    checkpoint_dir: str,
):
    """foreachBatch: per-batch token deltas MERGEd into a versioned
    parquet corpus_freq state table (see corpus_upsert). Returns the
    query; read results with read_corpus_state."""
    return (
        docs.writeStream.foreachBatch(corpus_upsert(cfg, state_path))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DOMAIN_QUOTA_OUTPUT = T.StructType(
    [
        T.StructField("domain", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("signature", T.StringType(), True),
    ]
)

DOMAIN_QUOTA_STATE = T.StructType([T.StructField("used", T.LongType(), True)])


def domain_quota_stream(docs: DataFrame, quota: int) -> DataFrame:
    """CUSTOM STATEFUL operator (applyInPandasWithState): per-domain
    accept quota enforced ACROSS micro-batches.

    The reference's per-domain damping is selection-time arithmetic
    (crawler.go:405); its streaming analog needs keyed state no
    built-in can express: each domain may contribute at most `quota`
    accepted docs over the stream's lifetime, where "how many so far"
    lives in the state store and must survive checkpoints/restarts.
    State per key is ONE long (bounded, no watermark needed); rows
    within a batch are admitted in deterministic (url) order.
    """
    import pandas as pd

    def fn(key, pdfs, state):
        (used,) = state.get if state.exists else (0,)
        # accumulate EVERY Arrow chunk before sorting: pdfs yields the
        # group in arrival-ordered chunks, so a chunk-local sort+take
        # would admit from whichever urls happened to land in the
        # first chunk — nondeterministic for any domain bigger than
        # one Arrow batch (~10k rows default). Same accumulate-first
        # discipline as content_dedup_stream below; memory is bounded
        # by the domain's rows in ONE micro-batch (3 string columns).
        parts = [pdf[["domain", "url", "signature"]] for pdf in pdfs]
        take = None
        if parts:
            allp = pd.concat(parts, ignore_index=True).sort_values("url")
            room = max(0, quota - used)
            take = allp.head(room)
            used += len(allp)
        state.update((used,))
        if take is not None and len(take):
            yield take

    with_domain = docs.withColumn(
        "domain",
        F.regexp_replace(F.expr("parse_url(url, 'HOST')"), r"^www\.", ""),
    )
    return with_domain.groupBy("domain").applyInPandasWithState(
        fn,
        outputStructType=DOMAIN_QUOTA_OUTPUT,
        stateStructType=DOMAIN_QUOTA_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


CONTENT_DEDUP_OUTPUT = T.StructType(
    [
        T.StructField("signature", T.StringType(), True),
        T.StructField("kept_url", T.StringType(), True),
        T.StructField("new_dups", T.LongType(), True),
    ]
)

CONTENT_DEDUP_STATE = T.StructType([T.StructField("seen", T.LongType(), True)])


def content_dedup_stream(docs: DataFrame) -> DataFrame:
    """CUSTOM STATEFUL operator (applyInPandasWithState): streaming
    exact dedup WITH drop accounting, keyed by content signature.

    dropDuplicates can admit first-arrivals but silently discards the
    rest; an ingestion pipeline also needs the dup pressure per key
    (it drives crawl-source demotion and dedup-rate dashboards). Per
    key and micro-batch this emits ONE row: the first arrival ever
    admits the deterministically-first (lowest url) doc as kept_url
    and reports the batch's remaining arrivals as new_dups; every
    later batch emits kept_url=NULL with that batch's full arrival
    count. State per key is one long (total arrivals so far) — it
    survives checkpoints/restarts and needs no watermark.

    Scale: state is hash-partitioned by signature in the state store;
    per-batch work is one shuffle of (signature, url) pairs — the
    curated text never moves; the admitted-doc payload is re-joined
    downstream by (signature, kept_url) if needed."""
    import pandas as pd

    def fn(key, pdfs, state):
        (seen,) = state.get if state.exists else (0,)
        urls = []
        for pdf in pdfs:
            urls.extend(pdf["url"].tolist())
        urls.sort()
        first = seen == 0
        state.update((seen + len(urls),))
        yield pd.DataFrame(
            {
                "signature": [key[0]],
                "kept_url": [urls[0] if first else None],
                "new_dups": [len(urls) - 1 if first else len(urls)],
            }
        )

    return docs.groupBy("signature").applyInPandasWithState(
        fn,
        outputStructType=CONTENT_DEDUP_OUTPUT,
        stateStructType=CONTENT_DEDUP_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
