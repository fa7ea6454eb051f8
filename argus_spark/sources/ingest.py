"""Materialized block ingest — decode once, query many times (SURVEY
§2.A A4).

The reference decodes each CBOR block exactly once at ingest and pays a
defensive byte-copy to make that safe (ArgusUtil.cs:38-71). The Spark
analogue: the nested ``blocks`` table is *materialized* to parquet the
first time an sf_dir is seen, and every downstream query scans the
materialized table instead of re-running the build lineage (two window
shuffles + two collect_list aggregations). At 100 TB this IS the
architecture — an ingest job writes the canonical nested table, range-
partitioned by slot so slot predicates prune at the file level; queries
never re-decode.

Publication is crash-safe: build into a temp sibling, atomic
``os.rename`` into place (same pattern as the state-store manifest). A
concurrent builder that loses the rename race just reads the winner.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
CACHE_ROOT = os.environ.get(
    "ARGUS_SPARK_INGEST_CACHE", os.path.join(_REPO_ROOT, ".ingest_cache")
)


def _dest(sf_dir: str, table: str = "blocks") -> str:
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(CACHE_ROOT, table, key)


def _publish(df: DataFrame, dest: str, order_col: str) -> None:
    """Crash-safe materialization: range-partition by the slot column
    (file-level pruning for slot predicates), build into a temp
    sibling, atomic rename into place."""
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = f"{dest}.build-{uuid.uuid4().hex}"
    try:
        (
            df.repartitionByRange(32, order_col)
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(tmp, dest)
    except OSError:
        if not os.path.isdir(dest):  # lost a benign publish race → reread
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ingest_blocks(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build-and-publish the nested blocks table for ``sf_dir`` plus the
    flat ``outputs``/``inputs`` silver views; returns the blocks path.
    Idempotent; safe under concurrent callers. Materializing the flat
    views too is the medallion-layer call: the hot UTxO queries start
    from a columnar flat scan (with pushdown on slot/address) instead
    of re-exploding the nested table on every query."""
    dest = _dest(sf_dir)
    if not os.path.isdir(dest) or force:
        from argus_spark.chain.synth import synth_blocks

        if force and os.path.isdir(dest):
            shutil.rmtree(dest, ignore_errors=True)
        # Range-partition by slot: rollback (slot >= X) and epoch reads
        # (slot BETWEEN lo AND hi) prune whole files via parquet min/max.
        _publish(synth_blocks(spark, sf_dir), dest, "slot")
    for name, lineage, order_col in (
        ("outputs", _outputs_lineage, "slot"),
        ("inputs", _inputs_lineage, "spend_slot"),
    ):
        d2 = _dest(sf_dir, name)
        if not os.path.isdir(d2) or force:
            if force and os.path.isdir(d2):
                shutil.rmtree(d2, ignore_errors=True)
            _publish(lineage(spark, sf_dir), d2, order_col)
    return dest


def blocks_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical nested blocks table (hash, slot, height, era, txs),
    materialized on first use. Drop-in for ``synth_blocks`` on read
    paths; identical rows (same derivation, FIXTURES.md §5)."""
    return spark.read.parquet(ingest_blocks(spark, sf_dir))


def _outputs_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat created-outputs lineage (explode of the materialized nested
    table; reads the parquet path directly — must not recurse back
    through ``ingest_blocks``)."""
    b = spark.read.parquet(_dest(sf_dir))
    tx = b.select("slot", F.explode("txs").alias("tx"))
    return tx.select(
        F.col("tx.tx_hash").alias("tx_hash"),
        F.posexplode("tx.outputs").alias("tx_index", "o"),
        "slot",
    ).select(
        "tx_hash",
        "tx_index",
        "slot",
        F.col("o.address").alias("address"),
        # address = 'addr_<k>', address_name = 's_<k>' (FIXTURES §5)
        F.concat(F.lit("s_"), F.expr("substring(o.address, 6)")).alias(
            "address_name"
        ),
        F.col("o.lovelace").alias("amount"),
    )


def _inputs_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat spend-refs lineage — the inputs array of the *spending*
    block, so spend_slot = block slot."""
    b = spark.read.parquet(_dest(sf_dir))
    tx = b.select("slot", F.explode("txs").alias("tx"))
    return tx.select(
        F.explode("tx.inputs").alias("inp"), F.col("slot").alias("spend_slot")
    ).select(
        F.col("inp.tx_id").alias("tx_id"),
        F.col("inp.index").alias("idx"),
        "spend_slot",
    )


def outputs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat created-outputs view, materialized on first use (silver
    layer) — row-identical to ``chain.synth.synth_outputs`` (the
    outputs array is ordinal-sorted at build, so the array position IS
    tx_index). Queries scan flat columnar parquet with pushdown on
    (slot, address, …) instead of re-exploding the nested table."""
    ingest_blocks(spark, sf_dir)
    return spark.read.parquet(_dest(sf_dir, "outputs"))


def inputs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat spend-refs view, materialized on first use — row-identical
    to ``chain.synth.synth_inputs`` (inputs only exist at block slots by
    construction)."""
    ingest_blocks(spark, sf_dir)
    return spark.read.parquet(_dest(sf_dir, "inputs"))


def first_n_blocks(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """The chain's first ``n`` blocks, cheaply: a slot-threshold filter
    over the range-partitioned table (file-pruned), not a global sort."""
    b = blocks_table(spark, sf_dir)
    # threshold = n-th smallest slot; tiny driver-side scalar
    thr = (
        b.select("slot").orderBy("slot").limit(n)
        .agg(F.max("slot").alias("m")).collect()[0]["m"]
    )
    if thr is None:
        return b
    return b.filter(F.col("slot") <= thr)
