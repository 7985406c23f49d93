"""Streaming image+caption ingest: validate-and-commit with
exactly-once batch accounting, reject quarantine, and replay
idempotence (streaming/image_stream.py)."""

import os

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators.images import build_image_table
from gocrawler_spark.streaming import image_stream as IS


@pytest.fixture(scope="module")
def img_rows(spark):
    pages = spark.createDataFrame(
        [(f"https://img{i}.example/p",) for i in range(20)], "url string"
    )
    df = build_image_table(pages).limit(24).cache()
    df.count()
    return df


def _stage(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def test_ingest_accepts_valid_and_quarantines_tampered(spark, tmp_path, img_rows):
    inp, ckpt, state = (str(tmp_path / d) for d in ("in", "ck", "state"))
    os.makedirs(inp, exist_ok=True)

    good = img_rows.filter(F.xxhash64("image_id") % 2 == 0)
    _stage(good, inp)
    q = IS.ingest_images(IS.image_batches_stream(spark, inp), state, ckpt)
    q.awaitTermination()
    st = IS.read_images_state(spark, state)
    n_good_valid = (
        IS.streaming_validate(good).filter(F.col("accepted")).count()
    )
    assert st.count() == n_good_valid > 0
    assert set(st.columns) == {
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    }

    # batch 2: half valid, half with tampered captions -> quarantined
    rest = img_rows.filter(F.xxhash64("image_id") % 2 != 0)
    tampered = rest.withColumn(
        "caption",
        F.when(
            F.xxhash64("image_id") % 4 == 1,
            F.concat(F.col("caption"), F.lit(" TAMPERED")),
        ).otherwise(F.col("caption")),
    )
    _stage(tampered, inp)
    q2 = IS.ingest_images(IS.image_batches_stream(spark, inp), state, ckpt)
    q2.awaitTermination()

    st2 = IS.read_images_state(spark, state)
    rej = IS.read_rejects(spark, state)
    assert rej is not None and rej.count() > 0
    # every tampered-caption row was rejected, none accepted
    tampered_ids = {
        r["image_id"]
        for r in tampered.filter(F.col("caption").endswith("TAMPERED"))
        .select("image_id")
        .collect()
    }
    accepted_ids = {r["image_id"] for r in st2.select("image_id").collect()}
    rejected_ids = {r["image_id"] for r in rej.select("image_id").collect()}
    assert tampered_ids <= rejected_ids
    assert not (tampered_ids & accepted_ids)
    # rejects carry the verdict columns for auditing
    assert "caption_ok" not in st2.columns  # payload table stays clean...
    # (verdicts live on the quarantine side)
    assert {"psnr_db"} <= set(rej.columns)


def test_replayed_batch_is_skipped(spark, tmp_path, img_rows):
    inp, ckpt, state = (str(tmp_path / d) for d in ("in", "ck", "state"))
    os.makedirs(inp, exist_ok=True)
    _stage(img_rows.limit(6), inp)
    q = IS.ingest_images(IS.image_batches_stream(spark, inp), state, ckpt)
    q.awaitTermination()
    before = IS.read_images_state(spark, state).count()

    # crash-replay: foreachBatch re-delivers an already-committed batch
    IS.image_upsert(state)(img_rows.limit(6), 0)
    after = IS.read_images_state(spark, state).count()
    assert after == before

    # restart on the same checkpoint with no new files: nothing changes
    q2 = IS.ingest_images(IS.image_batches_stream(spark, inp), state, ckpt)
    q2.awaitTermination()
    assert IS.read_images_state(spark, state).count() == before


def test_scored_ingest_commit_and_replay(spark, tmp_path):
    """score=True commits scores with the accepted rows in one
    manifest swap; a replayed batch (same batch_id) is skipped and
    duplicates nothing in either table."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    from gocrawler_spark.fixtures.image_probe import PROBE
    from gocrawler_spark.sources import synthetic_images as SI
    from gocrawler_spark.streaming import image_stream as IS

    state = str(tmp_path / "state")
    rows = []
    for d in range(20):
        w, h = 16 + d % 49, 16 + (d * 7) % 49
        px = SI.render_pixels(str(d), w, h)
        fmt = "qjpg" if d % 3 == 0 else "png"
        data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
        bad = b"\x00nope" if d == 7 else data
        from gocrawler_spark.sources.synthetic_web import _sentence, h64

        rows.append(
            (str(d), bad, w, h, fmt, _sentence(h64(str(d), "cap", seed=42), 12, 4, 3),
             SI.ahash64(SI.decode_image(data, fmt)))
        )
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    up = IS.image_upsert(state, score=True)
    import os as _os

    _os.makedirs(state, exist_ok=True)
    up(df, 0)
    up(df, 0)  # replay: must be a no-op
    acc = IS.read_images_state(spark, state)
    sc = IS.read_scores_state(spark, state)
    assert acc.count() == 19 and sc.count() == 19  # d=7 quarantined
    pinned = dict(PROBE)
    got = {int(r["image_id"]): r["score_milli"] for r in sc.collect()}
    for d, v in got.items():
        if not (d % 5 == 1 and d > 0):  # non-twin: native render == fixture
            assert v == pinned[d], d
    # scored set == accepted set, never the quarantined row
    assert sorted(got) == sorted(int(r["image_id"]) for r in acc.collect())


def test_compaction_reduces_files_and_conserves_rows(spark, tmp_path):
    """compact_into_store rewrites N per-batch fragment dirs into
    n_buckets files; rows/ids conserved exactly."""
    import os as _os

    from gocrawler_spark.plans.image_store import ImageStore
    from gocrawler_spark.sources import synthetic_images as SI
    from gocrawler_spark.sources.synthetic_web import _sentence, h64
    from gocrawler_spark.streaming import image_stream as IS

    state = str(tmp_path / "state")
    _os.makedirs(state, exist_ok=True)
    up = IS.image_upsert(state)
    for b in range(5):  # 5 micro-batches -> 5 fragment dirs
        rows = []
        for i in range(8):
            d = b * 8 + i
            w, h = 16 + d % 49, 16 + (d * 7) % 49
            px = SI.render_pixels(str(d), w, h)
            fmt = "qjpg" if d % 3 == 0 else "png"
            data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
            rows.append(
                (str(d), data, w, h, fmt,
                 _sentence(h64(str(d), "cap", seed=42), 12, 4, 3),
                 SI.ahash64(SI.decode_image(data, fmt)))
            )
        up(
            spark.createDataFrame(
                rows,
                "image_id string, bytes binary, w int, h int, fmt string, "
                "caption string, phash long",
            ),
            b,
        )
    acc = IS.read_images_state(spark, state)
    frag_files = sum(
        1
        for _, _, fs in _os.walk(_os.path.join(state, "accepted"))
        for f in fs
        if f.endswith(".parquet")
    )
    store = ImageStore(spark, name="t_compact", n_buckets=4)
    compacted = IS.compact_into_store(spark, state, store)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tbl_files = sum(
        1
        for _, _, fs in _os.walk(_os.path.join(wh, "t_compact__payloads"))
        for f in fs
        if f.endswith(".parquet")
    )
    assert frag_files >= 5 and tbl_files == 4, (frag_files, tbl_files)
    assert compacted.count() == acc.count() == 40
    assert sorted(r["image_id"] for r in compacted.collect()) == sorted(
        r["image_id"] for r in acc.collect()
    )
