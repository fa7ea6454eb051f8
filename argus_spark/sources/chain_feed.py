"""Chain-event feed: the Spark-native stand-in for the reference's
chain-sync providers (N2CProvider.cs:47-106, N2NProvider.cs:89-215,
U5CProvider.cs:21-76).

A feed is a directory of sequentially-named JSON files, each holding a
batch of ``CHAIN_EVENTS`` rows. Structured Streaming's file source
discovers files in arrival order; total event order is re-established
per micro-batch by ``seq`` (the provider's stream is totally ordered —
on a real deployment use a single-partition Kafka topic and the same
``seq`` column).

Resume/intersection (A1): the *driver's* committed checkpoint decides
which replayed blocks are skipped (IndexDriver.graph_resume_slot);
Spark's streaming checkpoint only tracks which files were read. The
two compose into the reference's at-least-once + idempotent-replay
model (B41, docs/design/unified-branch-batch-commit.md:117-130).

Scale: events are control-plane metadata (~5 columns, no payloads);
block payloads stay in their own table and never transit the feed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from argus_spark.schemas import BLOCKS, CHAIN_EVENTS


def write_feed_file(feed_dir: str, file_idx: int, events: list[dict]) -> str:
    """Append one feed file (ndjson). ``file_idx`` fixes arrival order;
    each event dict needs at least (seq, action) + the action's fields."""
    os.makedirs(feed_dir, exist_ok=True)
    name = f"feed-{file_idx:08d}.json"
    path = os.path.join(feed_dir, name)
    # Spark's file source lists every name not starting with "." or "_",
    # so the temp file is dot-prefixed: a stream triggering mid-write
    # must not read it. Same directory, so the rename stays atomic.
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for ev in events:
            row = {
                "seq": ev["seq"],
                "action": ev["action"],
                "rollback_type": ev.get("rollback_type"),
                "rollback_slot": ev.get("rollback_slot"),
                "block_slot": ev.get("block_slot"),
            }
            f.write(json.dumps(row) + "\n")
    os.replace(tmp, path)  # atomic publish — the source never sees partials
    return path


def read_feed(spark: SparkSession, feed_dir: str) -> DataFrame:
    """Batch read of a feed directory (declared schema, no inference)."""
    return spark.read.schema(CHAIN_EVENTS).json(os.path.join(feed_dir, "feed-*.json"))


def read_feed_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of a feed directory. ``maxFilesPerTrigger`` is the
    A2 adaptive-depth analogue: small triggers at tip (low latency),
    unbounded for catch-up (throughput)."""
    reader = spark.readStream.schema(CHAIN_EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(feed_dir)


def adaptive_pipeline_depth(max_depth: int, tip_gap: int) -> int:
    """A2 — source batch depth as a function of the slot-gap to tip
    (N2NProvider.AdaptivePipelineDepth, N2NProvider.cs:263-279): 1 at
    the tip (never over-request), growing monotonically with the gap,
    clamped to ``max_depth``. Feed the result to ``read_feed_stream``'s
    ``max_files_per_trigger`` (or Kafka's ``maxOffsetsPerTrigger``) to
    reproduce the reference's latency-vs-throughput trade."""
    if tip_gap <= 4:
        target = 1
    elif tip_gap <= 20:
        target = 2
    elif tip_gap <= 100:
        target = 5
    elif tip_gap <= 500:
        target = 20
    elif tip_gap <= 2_000:
        target = 100
    elif tip_gap <= 10_000:
        target = 500
    elif tip_gap <= 50_000:
        target = 2_000
    else:
        target = max_depth
    return min(max_depth, max(1, target))


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """B1 — batch scan of a materialized nested blocks table with the
    declared schema (no inference; SURVEY §1.2)."""
    return spark.read.schema(BLOCKS).parquet(path)


def read_raw_fixtures(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """B2 — binary fixture scan (the TestData/Blocks/*.cbor analogue,
    MockChainSyncProvider.cs:44-76): path, modificationTime, length,
    content(binary). Decode with :func:`decode_fixture_blocks`."""
    return spark.read.format("binaryFile").load(fixture_dir)


def decode_fixture_blocks(spark: SparkSession, raw_df: DataFrame) -> DataFrame:
    """A4/B37 — eager ingest-time decode of raw block blobs.

    Real CBOR decode is gated on ``cbor2`` (not in this container):
    when available, blobs are parsed tag-24-unwrapped exactly like
    ArgusUtil.DeserializeBlockWithEra (ArgusUtil.cs:38-71) — eagerly,
    into fully-materialized rows, so the reference's defensive
    byte-copy hazard (lazy decode over reused buffers, ibid:40-48)
    cannot exist here. Without cbor2 the deterministic fixture format
    is ndjson-encoded block rows (utf-8), which exercises the same
    plumbing: binary in → nested BLOCKS rows out via mapInPandas.
    """
    import pandas as pd

    try:
        import cbor2  # noqa: F401

        def _parse(blob: bytes) -> dict:
            raise NotImplementedError(
                "real CBOR block layout decode is chain-specific; plug the "
                "era-tagged parse here (ArgusUtil.cs:38-71)"
            )

    except ImportError:

        def _parse(blob: bytes) -> dict:
            return json.loads(blob.decode("utf-8"))

    def _batches(it):
        for pdf in it:
            rows = [_parse(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "hash": [r["hash"] for r in rows],
                    "slot": pd.Series([r["slot"] for r in rows], dtype="int64"),
                    "height": pd.Series([r["height"] for r in rows], dtype="int64"),
                    "era": [r.get("era") for r in rows],
                    "txs": [r["txs"] for r in rows],
                }
            )

    return raw_df.select("content").mapInPandas(_batches, schema=BLOCKS)
