"""Independent oracle for the indexer's committed state.

Computed with numpy over the generator's columnar chain — it imports
nothing from ``argus_spark``. Reorgs in the benchmark feeds re-deliver
the same blocks, so the expected state after any feed is the plain fold
over the committed block prefix.
"""

from __future__ import annotations

import numpy as np

from chain_gen import Chain


def expected(chain: Chain, n_blocks: int) -> dict:
    """Row counts per output table and the balance of every watched
    address after folding blocks ``[0, n_blocks)``."""
    n_tx = int(np.searchsorted(chain.tx_block, n_blocks))
    created = chain.out_tx < n_tx
    watched_out = created & np.isin(chain.out_addr, chain.watched_ids)
    spending = chain.in_tx < n_tx
    spent_watched = spending & watched_out[chain.in_out]

    pos = np.searchsorted(chain.watched_ids, chain.out_addr)
    pos = np.minimum(pos, len(chain.watched_ids) - 1)
    bal = np.zeros(len(chain.watched_ids), dtype=np.int64)
    np.add.at(bal, pos[watched_out], chain.out_lovelace[watched_out])
    spent_outs = chain.in_out[spent_watched]
    np.subtract.at(bal, pos[spent_outs], chain.out_lovelace[spent_outs])
    return {
        "counts": {
            "block_tests": n_blocks,
            "transaction_tests": n_tx,
            "wallet_utxos": int(watched_out.sum()),
            "utxo_spends": int(spent_watched.sum()),
        },
        "balances": dict(zip(chain.watched_names, bal.tolist())),
    }


def mismatch_rows(exp: dict, counts: dict, balances: dict) -> int:
    """Rows by which the committed state differs from the oracle: the
    row-count difference of every table plus every watched address whose
    latest balance is missing, extra or different."""
    rows = sum(abs(counts.get(t, 0) - n) for t, n in exp["counts"].items())
    want = exp["balances"]
    rows += sum(1 for a, b in want.items() if balances.get(a) != b)
    rows += sum(1 for a in balances if a not in want)
    return rows
