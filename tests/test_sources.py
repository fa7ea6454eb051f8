"""Source-connector tests (B1/B2/A4): declared-schema block scan and
binary fixture ingest with the gated decode."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from argus_spark.chain.synth import synth_blocks
from argus_spark.sources.chain_feed import (
    decode_fixture_blocks,
    read_blocks,
    read_raw_fixtures,
)
from tests.conftest import SF_SMOKE


def test_blocks_roundtrip_declared_schema(spark, tmp_path):
    path = str(tmp_path / "blocks.parquet")
    src = synth_blocks(spark, SF_SMOKE).orderBy("slot").limit(20)
    src.write.parquet(path)
    back = read_blocks(spark, path)
    assert back.count() == 20
    assert back.schema["txs"].dataType.elementType["inputs"].dataType.typeName() == "array"
    assert sorted(r.slot for r in back.select("slot").collect()) == sorted(
        r.slot for r in src.select("slot").collect()
    )


def test_binary_fixture_ingest(spark, tmp_path):
    """The MockChainSyncProvider fixture path: one blob per block,
    binaryFile scan → eager decode → nested BLOCKS rows."""
    src = synth_blocks(spark, SF_SMOKE).orderBy("slot").limit(8)
    rows = [json.loads(r) for r in src.toJSON().collect()]
    fx = tmp_path / "fixtures"
    fx.mkdir()
    for i, r in enumerate(rows):
        (fx / f"block-{i:04d}.bin").write_bytes(json.dumps(r).encode())

    raw = read_raw_fixtures(spark, str(fx))
    assert raw.count() == 8
    assert dict(raw.dtypes)["content"] == "binary"

    decoded = decode_fixture_blocks(spark, raw)
    got = {r.slot for r in decoded.select("slot").collect()}
    assert got == {r["slot"] for r in rows}
    # nested payload survives the decode
    n_tx = decoded.select(F.explode("txs").alias("tx")).count()
    assert n_tx == src.select(F.explode("txs")).count()


def test_register_sql_views_full_surface(spark):
    """SQL entry point: every testdata table + derived chain view is
    queryable via spark.sql, and a representative query through the
    views matches the DataFrame-API result."""
    from pyspark.sql import functions as F

    from argus_spark.chain.synth import synth_outputs
    from argus_spark.session import register_sql_views
    from tests.conftest import SF_SMOKE

    names = register_sql_views(spark, SF_SMOKE)
    assert set(names) >= {"lineitem", "events", "blocks", "outputs", "watched"}
    for n in names:
        assert spark.sql(f"SELECT * FROM {n} LIMIT 1").count() >= 0
    got = spark.sql(
        "SELECT address_name, sum(amount) AS total FROM outputs "
        "GROUP BY address_name ORDER BY address_name"
    ).collect()
    want = (
        synth_outputs(spark, SF_SMOKE)
        .groupBy("address_name")
        .agg(F.sum("amount").alias("total"))
        .orderBy("address_name")
        .collect()
    )
    assert got == want
    # events view is timestamp-normalized (the nanosAsLong gotcha)
    assert dict(spark.sql("SELECT ts FROM events").dtypes)["ts"] == "timestamp"


def test_feed_file_in_progress_is_invisible_to_the_file_source(
    spark, tmp_path, monkeypatch
):
    """A feed file being written is never listed by Spark's file source:
    a stream triggering mid-write would read its partial lines as rows
    with null ``seq``/``action`` and read the renamed file again later.
    Checked at the last moment before the atomic rename."""
    import re

    from argus_spark.schemas import CHAIN_EVENTS
    from argus_spark.sources import chain_feed

    feed = str(tmp_path / "feed")
    ev = [{"seq": 0, "action": "roll_forward", "block_slot": 1}]
    chain_feed.write_feed_file(feed, 0, ev)

    real_replace = chain_feed.os.replace
    listed: list[list[str]] = []

    def replace(src, dst):
        listed.append(
            spark.read.schema(CHAIN_EVENTS).json(feed).inputFiles()
        )
        return real_replace(src, dst)

    monkeypatch.setattr(chain_feed.os, "replace", replace)
    chain_feed.write_feed_file(feed, 1, [dict(ev[0], seq=1, block_slot=2)])
    assert len(listed) == 1
    names = sorted(os.path.basename(f) for f in listed[0])
    assert names == ["feed-00000000.json"], names
    after = spark.read.schema(CHAIN_EVENTS).json(feed).inputFiles()
    assert all(re.fullmatch(r"feed-\d{8}\.json", os.path.basename(f)) for f in after)
    assert len(after) == 2
