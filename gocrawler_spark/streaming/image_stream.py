"""Structured Streaming ingest for the image+caption payload table
(the graft axis: the north_rule's crawl output is an Iceberg-style
table of (image_id, bytes, w, h, fmt, caption, phash) rows).

A crawl fleet lands image batches as parquet files; this module is the
streaming consumer that validates and commits them:

- ``image_batches_stream``: file-source stream over the landing
  directory (new parquet file = new crawl batch; exactly-once per file
  via the checkpointed file index);
- ``streaming_validate``: the batch validator (decode + dims + PSNR >=
  40 dB for lossy codecs + byte-equal caption + phash recompute,
  operators/images.py) applied to the stream — mapInPandas works
  unchanged on streaming frames, payload bytes never shuffle;
- ``ingest_images``: foreachBatch commit through a ``TableStore``
  (plans/store.py) rooted at the state path — every batch appends its
  ACCEPTED rows (validation passed) to the ``accepted`` delta table
  and its rejected rows to the ``rejects`` quarantine, and one store
  commit makes both visible. Idempotent under foreachBatch's
  at-least-once contract: the manifest's commit id is the last
  applied batch_id, so a replayed batch is skipped (the same store
  commit as corpus_stream.corpus_upsert);
- ``read_images_state`` / ``read_rejects``: the committed tables.

Scale: per-batch work is one mapInPandas decode pass (Arrow batches,
no per-row Python) + one filtered append; no shuffle at all unless a
downstream consumer groups. The store commit is the same
write-new-then-swap-pointer shape as an Iceberg append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gocrawler_spark.operators import images as IM
from gocrawler_spark.plans.store import TableStore


def image_batches_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(IM.IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def streaming_validate(images: DataFrame, psnr_floor: float = 40.0) -> DataFrame:
    """Validation verdicts joined back onto the payload rows (the join
    is on image_id within the same micro-batch — stream-stream within
    one batch is a plain join inside foreachBatch; here we keep it as
    a column-preserving validate pass instead)."""
    v = IM.validate_images(images, psnr_floor=psnr_floor)
    ok = (
        F.col("decode_ok")
        & F.col("dims_ok")
        & F.col("pixels_ok")
        & F.col("caption_ok")
        & F.col("phash_ok")
    )
    return v.withColumn("accepted", ok)


def read_images_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All committed accepted-image batches, or None before batch 0."""
    return TableStore(state_path).load_table(spark, "accepted")


def read_rejects(spark: SparkSession, state_path: str) -> DataFrame | None:
    return TableStore(state_path).load_table(spark, "rejects")


def read_scores_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All committed score batches (score-on-ingest), or None."""
    return TableStore(state_path).load_table(spark, "scores")


def image_upsert(state_path: str, psnr_floor: float = 40.0, score: bool = False):
    """The foreachBatch body for ingest_images (exposed for replay
    testing). Accepted payload rows append to the ``accepted`` table;
    rejects (any failed validation check) quarantine in ``rejects``
    with their verdict columns; with ``score=True`` the accepted rows
    are ALSO run through the batched-inference harness
    (operators/inference.infer_batched) and their scores append to
    ``scores`` — score-on-ingest, so a payload is decoded while it is
    already hot instead of by a second pass over the table later. One
    store commit covers all of it, so scores can never drift out of
    sync with the accepted table under replay."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        store = TableStore(state_path)
        if batch_id <= store.last_commit():
            return  # replayed batch — already committed
        # a crawl fleet can land the same image_id twice in one
        # trigger's file set; joining the raw batch with its own
        # validation output on image_id would then multiply k arrivals
        # into k² committed rows. Admit ONE row per image_id first,
        # deterministically (lowest payload md5 — content-addressed,
        # so the pick is independent of file/partition arrival order).
        from pyspark.sql import Window

        w = Window.partitionBy("image_id").orderBy(F.md5("bytes"), "fmt")
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        v = streaming_validate(batch, psnr_floor=psnr_floor).select(
            "image_id", "accepted", "psnr_db"
        )
        # persist the validated batch: the segment writes below would
        # otherwise each re-run the decode/PSNR pass over every payload
        # (the dominant ingest cost at scale)
        joined = batch.join(v, "image_id").persist()
        try:
            accepted = joined.filter(F.col("accepted")).drop(
                "accepted", "psnr_db"
            )
            store.append("accepted", accepted)
            store.append(
                "rejects", joined.filter(~F.col("accepted")).drop("accepted")
            )
            if score:
                from gocrawler_spark.operators import inference as INF

                store.append("scores", INF.infer_batched(accepted))
            store.commit(batch_id, {})
        finally:
            joined.unpersist()

    return upsert


def ingest_images(
    images: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    psnr_floor: float = 40.0,
    score: bool = False,
):
    """Validate-and-commit the image stream into the versioned table;
    returns the streaming query (availableNow trigger). With
    ``score=True``, accepted rows are inference-scored in the same
    commit (score-on-ingest)."""
    return (
        images.writeStream.foreachBatch(
            image_upsert(state_path, psnr_floor, score=score)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_into_store(spark: SparkSession, state_path: str, store) -> DataFrame:
    """Small-files maintenance: the streaming ingest necessarily lands
    one directory per micro-batch (that is what makes its commit
    idempotent), so after N batches the accepted table is N small
    fragments — the classic streaming small-files problem. This pass
    rewrites the whole accepted state into the bucketed payload store
    (plans/image_store.py): one shuffle by image_id, after which every
    enrichment join is shuffle-free AND the fragment count drops to
    n_buckets files. The per-batch dirs stay committed until the
    caller retires the manifest — readers never see a partial compact
    (same swap discipline as every other state table here)."""
    acc = read_images_state(spark, state_path)
    if acc is None:
        raise ValueError("nothing committed to compact")
    return store.write_payloads(acc)
