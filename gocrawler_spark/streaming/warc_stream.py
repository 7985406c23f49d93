r"""Structured Streaming ingest of WARC segments.

A crawl fleet lands WARC segment files (sinks/warc.py) as they close;
this module is the streaming consumer that parses, verifies, and
commits their records — the WARC twin of ``image_stream.ingest_images``
and the bridge from the durable fetch log to queryable tables:

- ``warc_segments_stream``: file-source stream over the landing
  directory through the ``binaryFile`` format (new ``*.warc[.gz]``
  file = one new segment; exactly-once per file via the checkpointed
  file index);
- ``parse``: ``sinks.warc.parse_segments`` applied to the stream —
  mapInPandas runs unchanged on streaming frames, one task per
  segment file, payload bytes never shuffle;
- ``ingest_warc``: foreachBatch commit through a ``TableStore``
  (plans/store.py) rooted at the state path — digest-verified records
  append to the ``records`` delta table, digest-failed records
  quarantine in ``rejects``, one store commit makes both visible.
  Idempotent under foreachBatch's at-least-once contract: the
  manifest's commit id is the last applied batch_id, and a replayed
  batch (crash after the write, before the streaming checkpoint
  commit) is skipped — the same store commit as
  ``corpus_stream.corpus_upsert`` / ``image_stream.image_upsert``.

Scale: per-batch work is one parse pass over the new segments + two
filtered appends; no shuffle. State growth is one delta segment per
non-empty table per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gocrawler_spark.plans.store import TableStore
from gocrawler_spark.sinks import warc as W


#: binaryFile's fixed schema — streaming sources require it stated.
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def warc_segments_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", 4)
        .load(input_dir)
    )


def read_warc_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All committed digest-verified records, or None before batch 0."""
    return TableStore(state_path).load_table(spark, "records")


def read_warc_rejects(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    return TableStore(state_path).load_table(spark, "rejects")


def warc_upsert(state_path: str):
    """The foreachBatch body for ingest_warc (exposed for replay
    testing)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        store = TableStore(state_path)
        if batch_id <= store.last_commit():
            return  # replayed batch — already committed
        parsed = W.parse_segments(batch).persist()
        try:
            ok = F.col("digest_ok")
            store.append("records", parsed.filter(ok).drop("digest_ok"))
            store.append("rejects", parsed.filter(~ok).drop("digest_ok"))
            store.commit(batch_id, {})
        finally:
            parsed.unpersist()

    return upsert


def ingest_warc(
    segments: DataFrame, state_path: str, checkpoint_dir: str
):
    """Parse-verify-commit the WARC segment stream into the versioned
    record table; returns the streaming query (availableNow trigger)."""
    return (
        segments.writeStream.foreachBatch(warc_upsert(state_path))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
