"""Seeded synthetic Cardano-shaped chain for the indexer benchmark.

Everything here is a pure function of ``(params, seed)``: the same seed
gives a byte-identical blocks file, feed and watched set, a different
seed a different chain. The indexer never sees the seed, only the files.

Shape (per workload parameters in ``workloads.json``):

* sparse slots: slot gaps are ``1 + geometric`` with mean ``slot_gap_mean``
* ~``txs_per_block`` txs per block (Poisson), each with 1-4 outputs and
  1-3 inputs
* inputs spend earlier unspent outputs; a share ``recent_frac`` picks a
  recent output (geometric distance back from the newest), the rest pick
  uniformly back to genesis, which gives the long age tail
* output addresses are Zipf(``zipf_s``)-skewed over ``addr_population``
  addresses; the watched set is a contiguous band of ranks starting at
  ``watched_rank_start``, which fixes the share of watched outputs at a
  few percent independent of the seed
* block 0 is a genesis block: one tx with no inputs and
  ``genesis_outputs`` outputs, the first spendable pool
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_OUTPUT_T = pa.struct(
    [
        pa.field("address", pa.string(), nullable=False),
        pa.field("address_hex", pa.string()),
        pa.field("lovelace", pa.int64(), nullable=False),
    ]
)
_INPUT_T = pa.struct(
    [
        pa.field("tx_id", pa.string(), nullable=False),
        pa.field("index", pa.int32(), nullable=False),
    ]
)
_TX_T = pa.struct(
    [
        pa.field("tx_hash", pa.string(), nullable=False),
        pa.field("inputs", pa.list_(_INPUT_T), nullable=False),
        pa.field("outputs", pa.list_(_OUTPUT_T), nullable=False),
        pa.field("raw", pa.binary()),
    ]
)
BLOCKS_SCHEMA = pa.schema(
    [
        pa.field("hash", pa.string(), nullable=False),
        pa.field("slot", pa.int64(), nullable=False),
        pa.field("height", pa.int64(), nullable=False),
        pa.field("era", pa.string()),
        pa.field("txs", pa.list_(_TX_T), nullable=False),
    ]
)
WATCHED_SCHEMA = pa.schema(
    [
        pa.field("name", pa.string(), nullable=False),
        pa.field("address", pa.string(), nullable=False),
    ]
)


@dataclass
class Chain:
    """A generated chain in flat columnar form (one row per block, tx,
    output and input), plus the watched address set."""

    slots: np.ndarray  # int64 [blocks]
    block_hashes: list[str]
    tx_block: np.ndarray  # int64 [txs] -> block index
    tx_hashes: list[str]
    out_tx: np.ndarray  # int64 [outputs] -> tx index (creation order)
    out_index: np.ndarray  # int32 [outputs] position inside its tx
    out_addr: np.ndarray  # int64 [outputs] -> address id
    out_lovelace: np.ndarray  # int64 [outputs]
    in_tx: np.ndarray  # int64 [inputs] -> spending tx
    in_out: np.ndarray  # int64 [inputs] -> spent output (global position)
    addresses: list[str]
    watched_ids: np.ndarray  # int64 address ids
    watched_names: list[str]

    @property
    def n_blocks(self) -> int:
        return len(self.slots)


def _hexes(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    h = rng.bytes(n * nbytes).hex()
    w = 2 * nbytes
    return [h[i * w : (i + 1) * w] for i in range(n)]


def generate(params: dict, n_blocks: int, seed: int) -> Chain:
    """Generate ``n_blocks`` blocks (genesis included) from ``seed``."""
    rng = np.random.default_rng(seed)
    pop = int(params["addr_population"])

    # address population; rank r (0-based) has Zipf weight 1/(r+1)^s and
    # maps to a seeded address id
    raw = rng.bytes(pop * 28).hex()
    addresses = ["addr1" + raw[i * 56 : (i + 1) * 56] for i in range(pop)]
    rank_to_id = rng.permutation(pop)
    cdf = np.cumsum(1.0 / np.arange(1, pop + 1) ** float(params["zipf_s"]))
    cdf /= cdf[-1]
    w0 = int(params["watched_rank_start"])
    watched_ids = np.sort(rank_to_id[w0 : w0 + int(params["watched"])])
    watched_names = [f"w{int(a):06d}" for a in watched_ids]

    slots = np.concatenate(
        [[0], np.cumsum(1 + rng.geometric(1.0 / float(params["slot_gap_mean"]), n_blocks - 1))]
    ).astype(np.int64)
    n_txs = np.maximum(1, rng.poisson(float(params["txs_per_block"]), n_blocks))
    n_txs[0] = 1  # genesis
    tx_block = np.repeat(np.arange(n_blocks, dtype=np.int64), n_txs)
    t = len(tx_block)
    n_out = rng.integers(1, 5, t)
    n_out[0] = int(params["genesis_outputs"])
    n_in = rng.integers(1, 4, t)
    n_in[0] = 0

    out_tx = np.repeat(np.arange(t, dtype=np.int64), n_out)
    out_start = np.concatenate([[0], np.cumsum(n_out)[:-1]])
    out_index = (np.arange(len(out_tx)) - out_start[out_tx]).astype(np.int32)
    ranks = np.searchsorted(cdf, rng.random(len(out_tx)))
    out_addr = rank_to_id[np.minimum(ranks, pop - 1)].astype(np.int64)
    out_lovelace = np.clip(
        rng.lognormal(np.log(5e6), 1.5, len(out_tx)), 1e6, 1e13
    ).astype(np.int64)

    # spends: walk txs in order; an input may only take an output created
    # by an earlier tx (``avail`` = outputs before this tx) that is unspent
    total_in = int(n_in.sum())
    kind = rng.random(total_in) < float(params["recent_frac"])
    back = rng.geometric(1.0 / float(params["recent_mean"]), total_in)
    uni = rng.random(total_in)
    retry = rng.random((total_in, 8))
    spent = np.zeros(len(out_tx), dtype=bool)
    in_tx = np.repeat(np.arange(t, dtype=np.int64), n_in)
    in_out = np.empty(total_in, dtype=np.int64)
    k = 0
    for tx in range(1, t):
        avail = int(out_start[tx])
        for _ in range(int(n_in[tx])):
            pos = avail - back[k] if kind[k] else int(uni[k] * avail)
            if pos < 0 or spent[pos]:
                for r in retry[k]:
                    pos = int(r * avail)
                    if not spent[pos]:
                        break
                else:
                    # dense spent region: nearest unspent output below
                    pos = avail - 1
                    while spent[pos]:
                        pos -= 1
            spent[pos] = True
            in_out[k] = pos
            k += 1

    return Chain(
        slots=slots,
        block_hashes=_hexes(rng, n_blocks, 32),
        tx_block=tx_block,
        tx_hashes=_hexes(rng, t, 32),
        out_tx=out_tx,
        out_index=out_index,
        out_addr=out_addr,
        out_lovelace=out_lovelace,
        in_tx=in_tx,
        in_out=in_out,
        addresses=addresses,
        watched_ids=watched_ids,
        watched_names=watched_names,
    )


def self_check(chain: Chain) -> None:
    """Every input spends an output created by an EARLIER tx, and no
    output is spent twice. Raises ValueError otherwise."""
    spent_tx = chain.out_tx[chain.in_out]
    if np.any(spent_tx >= chain.in_tx):
        raise ValueError("an input spends an output of the same or a later tx")
    if len(np.unique(chain.in_out)) != len(chain.in_out):
        raise ValueError("an output is spent twice")
    if np.any(np.diff(chain.slots) <= 0):
        raise ValueError("slots are not strictly increasing")


def _list_array(counts: np.ndarray, values: pa.Array) -> pa.ListArray:
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def blocks_table(chain: Chain) -> pa.Table:
    """The chain as a ``BLOCKS``-schema arrow table."""
    t = len(chain.tx_hashes)
    addr = np.asarray(chain.addresses, dtype=object)
    outputs = pa.StructArray.from_arrays(
        [
            pa.array(addr[chain.out_addr], pa.string()),
            pa.nulls(len(chain.out_addr), pa.string()),  # unused by the reducers
            pa.array(chain.out_lovelace, pa.int64()),
        ],
        fields=list(_OUTPUT_T),
    )
    tx_hashes = np.asarray(chain.tx_hashes, dtype=object)
    inputs = pa.StructArray.from_arrays(
        [
            pa.array(tx_hashes[chain.out_tx[chain.in_out]], pa.string()),
            pa.array(chain.out_index[chain.in_out], pa.int32()),
        ],
        fields=list(_INPUT_T),
    )
    txs = pa.StructArray.from_arrays(
        [
            pa.array(chain.tx_hashes, pa.string()),
            _list_array(np.bincount(chain.in_tx, minlength=t), inputs),
            _list_array(np.bincount(chain.out_tx, minlength=t), outputs),
            pa.array([bytes.fromhex(h) for h in chain.tx_hashes], pa.binary()),
        ],
        fields=list(_TX_T),
    )
    return pa.Table.from_arrays(
        [
            pa.array(chain.block_hashes, pa.string()),
            pa.array(chain.slots, pa.int64()),
            pa.array(np.arange(chain.n_blocks, dtype=np.int64), pa.int64()),
            pa.array(["conway"] * chain.n_blocks, pa.string()),
            _list_array(np.bincount(chain.tx_block, minlength=chain.n_blocks), txs),
        ],
        schema=BLOCKS_SCHEMA,
    )


def watched_table(chain: Chain) -> pa.Table:
    addr = np.asarray(chain.addresses, dtype=object)
    return pa.Table.from_arrays(
        [
            pa.array(chain.watched_names, pa.string()),
            pa.array(addr[chain.watched_ids], pa.string()),
        ],
        schema=WATCHED_SCHEMA,
    )


def write_inputs(chain: Chain, blocks_path: str, watched_path: str) -> None:
    pq.write_table(blocks_table(chain), blocks_path, row_group_size=256)
    pq.write_table(watched_table(chain), watched_path)


def digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def rollback_plan(params: dict, n_tip: int, seed: int) -> dict[int, int]:
    """Seeded reorgs for the tip schedule: ``{tip block i: depth}`` — after
    delivering tip block ``i`` the feed rolls back ``depth`` blocks and
    re-delivers them. One reorg falls in the middle half of every
    ``rollback_every`` blocks; every ``rollback_deep_every``-th one is deep
    (4 to ``rollback_depth_max`` blocks), the rest shallow (1-3), with the
    seed choosing which comes first. The count of each kind thus depends
    on the run length and, by one at most, on the seed."""
    every = int(params["rollback_every"])
    deep_every = int(params["rollback_deep_every"])
    rng = np.random.default_rng([seed, 1])
    out = {}
    for k, start in enumerate(range(0, n_tip, every)):
        i = start + int(rng.integers(every // 4, 3 * every // 4))
        if (k + seed) % deep_every == 1 % deep_every:
            depth = int(rng.integers(4, int(params["rollback_depth_max"]) + 1))
        else:
            depth = int(rng.integers(1, 4))
        if i < n_tip:
            out[i] = depth
    return out
