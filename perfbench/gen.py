"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's
seed with numpy and written as parquet with pyarrow, so generation
launches no Spark job and the same seed always yields the same bytes.

Chain world (the four E1 tables, FIXTURES.md schemas): burn block b has
hash H("b", b) and parent H("b", b-1); one Stacks block per burn block;
`commits_per_block` commits per block, each from a seeded miner with a
seeded fee, one of them the seeded winner. At about 1% of heights the
seed places twins: a pox-invalid sortition re-run and a dead-fork row,
which the canonical walk must exclude. Twins never sit on a height that
can be a tip (the last height of any landed batch), so the tip is always
the generated one.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_HEIGHT = 1000
ZERO64 = "0" * 64
SATOSHI = pa.decimal128(20, 0)


class Hasher:
    """64-char lowercase-hex ids: 2 hex of kind, 14 hex of seed salt,
    48 hex of the number. The salt makes ids differ between seeds."""

    KINDS = {"b": 1, "i": 2, "f": 3, "c": 4, "s": 5, "t": 6}

    def __init__(self, seed: int):
        self.salt = f"{seed % (1 << 56):014x}"

    def __call__(self, kind: str, nums) -> list[str]:
        pre = f"{self.KINDS[kind]:02x}{self.salt}"
        return [f"{pre}{int(x):048x}" for x in nums]


def _twin_positions(rng, n: int, batch: int, frac: float = 0.01):
    """Seeded heights (block offsets) that get twins: never the first
    block and never the last block of a batch (a possible tip)."""
    cand = np.arange(1, n - 1)
    cand = cand[(cand + 1) % batch != 0]
    k = max(1, int(round(n * frac)))
    return np.sort(rng.choice(cand, size=min(k, len(cand)), replace=False))


def chain_world(seed: int, n_blocks: int, commits_per_block: int,
                n_miners: int, batch: int) -> dict:
    """The four E1 tables for burn heights BASE .. BASE+n_blocks-1 as
    pyarrow tables. Stacks heights run 0 .. n_blocks-1, one per burn
    block, on both the snapshot and the header side.

    `batch` (>= 2) only constrains twin placement: every prefix of
    batch*j blocks ends on a twin-free tip."""
    rng = np.random.default_rng(seed)
    h = Hasher(seed)
    off = np.arange(n_blocks, dtype=np.int64)
    bh = BASE_HEIGHT + off
    cpb = commits_per_block

    fees = rng.integers(1, 10_000, size=(n_blocks, cpb), dtype=np.int64)
    if cpb <= n_miners:
        # distinct miners within a block, seeded per block
        miners = np.argsort(rng.random((n_blocks, n_miners)),
                            axis=1)[:, :cpb]
    else:
        miners = rng.integers(0, n_miners, size=(n_blocks, cpb))
    winner = rng.integers(0, cpb, size=n_blocks)
    txnum = bh[:, None] * cpb + np.arange(cpb)[None, :]

    total_burn = np.cumsum(fees.sum(axis=1))
    burn_hash = h("b", bh)
    parent_hash = h("b", bh - 1)
    cons_hash = h("c", bh)
    win_txid = h("t", txnum[off, winner])
    snap = {
        "block_height": bh,
        "burn_header_hash": burn_hash,
        "parent_burn_header_hash": parent_hash,
        "consensus_hash": cons_hash,
        "pox_valid": np.ones(n_blocks, dtype=np.int32),
        "total_burn": total_burn,
        "winning_block_txid": win_txid,
        "stacks_block_height": off,
    }
    tw = _twin_positions(rng, n_blocks, batch)
    twins = {
        "block_height": np.concatenate([bh[tw], bh[tw]]),
        "burn_header_hash": h("i", bh[tw]) + h("f", bh[tw]),
        "parent_burn_header_hash": [parent_hash[i] for i in tw] * 2,
        "consensus_hash": [cons_hash[i] for i in tw] * 2,
        "pox_valid": np.concatenate([np.zeros(len(tw), np.int32),
                                     np.ones(len(tw), np.int32)]),
        "total_burn": np.concatenate([total_burn[tw]] * 2),
        "winning_block_txid": [win_txid[i] for i in tw] * 2,
        "stacks_block_height": np.concatenate([off[tw], off[tw]]),
    }
    commits = {
        "burn_header_hash": np.repeat(np.asarray(burn_hash, dtype=object),
                                      cpb).tolist(),
        "txid": h("t", txnum.ravel()),
        "burn_fee": fees.ravel(),
        "key_block_ptr": np.full(n_blocks * cpb, BASE_HEIGHT, np.int64),
        "key_vtxindex": miners.ravel().astype(np.int32),
        "apparent_sender": ["s"] * (n_blocks * cpb),
    }
    headers = {
        "burn_header_hash": burn_hash,
        "block_hash": h("s", bh),
        "parent_block": [ZERO64 if b == BASE_HEIGHT else x
                         for b, x in zip(bh, h("s", bh - 1))],
        "consensus_hash": cons_hash,
        "block_height": off,
    }
    return {
        "snapshots": _snapshots_table(snap, twins),
        "block_commits": _table(commits, {"burn_fee": SATOSHI,
                                          "key_block_ptr": pa.int64(),
                                          "key_vtxindex": pa.int32()}),
        "leader_keys": _table({
            "burn_header_hash": h("b", [BASE_HEIGHT] * n_miners),
            "block_height": np.full(n_miners, BASE_HEIGHT, np.int64),
            "vtxindex": np.arange(n_miners, dtype=np.int32),
            "address": [f"MINER_{i}" for i in range(n_miners)],
        }, {"block_height": pa.int64(), "vtxindex": pa.int32()}),
        "block_headers": _table(headers, {"block_height": pa.int64()}),
    }


def _table(cols: dict, types: dict) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        t = types.get(k)
        if t == SATOSHI:
            arrays[k] = pa.array(np.asarray(v, np.int64)).cast(SATOSHI)
        else:
            arrays[k] = pa.array(v, type=t or pa.string())
    return pa.table(arrays)


def _snapshots_table(snap: dict, twins: dict) -> pa.Table:
    types = {"block_height": pa.int64(), "pox_valid": pa.int32(),
             "total_burn": SATOSHI, "stacks_block_height": pa.int64()}
    return pa.concat_tables([_table(snap, types), _table(twins, types)])


CHAIN_TABLES = ("snapshots", "block_commits", "leader_keys",
                "block_headers")


def burn_heights(world: dict) -> dict:
    """Burn height of every row of every table (leader keys are
    registered once, at BASE)."""
    n = world["block_headers"].num_rows
    cpb = world["block_commits"].num_rows // n
    bh = BASE_HEIGHT + np.arange(n, dtype=np.int64)
    return {
        "snapshots": world["snapshots"].column("block_height").to_numpy(),
        "block_commits": np.repeat(bh, cpb),
        "leader_keys": np.full(world["leader_keys"].num_rows, BASE_HEIGHT),
        "block_headers": bh,
    }


def slice_heights(world: dict, heights: dict, lo: int, hi: int) -> dict:
    """The rows of each table whose burn height lies in [lo, hi): how a
    batch of blocks arrives."""
    return {name: world[name].filter(
                pa.array((heights[name] >= lo) & (heights[name] < hi)))
            for name in CHAIN_TABLES}


def write_tables(tables: dict, root: str, part: str) -> int:
    """Write each non-empty table as `<root>/<name>/<part>.parquet`;
    returns the bytes written."""
    total = 0
    for name in CHAIN_TABLES:
        if tables[name].num_rows == 0:
            continue
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{part}.parquet")
        pq.write_table(tables[name], p)
        total += os.path.getsize(p)
    return total


def dir_bytes(path: str) -> int:
    """Bytes of the data files under `path` (Spark's _SUCCESS and
    checksum dot-files excluded)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, f))
    return total


# --- index corpora --------------------------------------------------------

def index_inputs(seed: int, n_vec: int, n_vec_append: int, n_queries: int,
                 n_docs: int, n_doc_append: int, n_planted: int,
                 dim: int = 64, dead_frac: float = 0.08,
                 n_words: int = 200) -> dict:
    """The index_lifecycle inputs as pyarrow tables, plus what the
    checks expect.

    Vectors are drawn around 16 seeded cluster centres (so IVF cells
    and the NSW graph have structure); queries are fresh draws around
    the same centres. Documents are n_words words from a 50k-word
    vocabulary, so unrelated documents share no word 3-gram. The seed
    picks the deleted ids and the planted near-duplicate queries: each
    plants one word-edit copy of a corpus or appended document, and
    some of the planted sources are deleted, so a probe must find the
    live ones and must not return the deleted ones."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 40.0, size=(16, dim))

    def draw(n):
        return np.round(centres[rng.integers(0, 16, size=n)]
                        + rng.normal(0.0, 12.0, size=(n, dim)), 3)

    n_vt = n_vec + n_vec_append
    vecs = pa.table({
        "vec_id": np.arange(n_vt, dtype=np.int64),
        "embedding": pa.array(draw(n_vt).tolist(), pa.list_(pa.float64()))})
    queries = pa.table({
        "q_id": np.arange(n_queries, dtype=np.int64),
        "q_emb": pa.array(draw(n_queries).tolist(), pa.list_(pa.float64()))})
    dead_vecs = np.sort(rng.choice(n_vec, int(n_vec * dead_frac),
                                   replace=False))

    n_dt = n_docs + n_doc_append
    words = rng.integers(0, 50_000, size=(n_dt, n_words))
    texts = [" ".join(f"w{w}" for w in row) for row in words]
    docs = pa.table({"doc_id": np.arange(n_dt, dtype=np.int64),
                     "text": texts})
    dead_docs = np.sort(rng.choice(n_docs, int(n_docs * dead_frac),
                                   replace=False))
    # a quarter of the planted sources are deleted corpus documents, a
    # quarter are appended documents, the rest live corpus documents
    live = np.setdiff1d(np.arange(n_docs), dead_docs)
    n_dead_src, n_app_src = n_planted // 4, n_planted // 4
    sources = np.concatenate([
        rng.choice(dead_docs, n_dead_src, replace=False),
        rng.choice(np.arange(n_docs, n_dt), n_app_src, replace=False),
        rng.choice(live, n_planted - n_dead_src - n_app_src, replace=False),
    ])
    q_ids = 1_000_000 + np.arange(n_planted, dtype=np.int64)
    qdocs = pa.table({"doc_id": q_ids,
                      "text": [_one_word_edit(texts[s], i)
                               for i, s in enumerate(sources)]})
    dead_set = set(dead_docs.tolist())
    return {
        "vecs": vecs, "queries": queries, "qdocs": qdocs, "docs": docs,
        "n_vec": n_vec, "n_docs": n_docs,
        "dead_vecs": pa.table({"vec_id": dead_vecs}),
        "dead_docs": pa.table({"doc_id": dead_docs}),
        # (query doc, planted source) pairs a probe must return
        "planted": {(int(q), int(s)) for q, s in zip(q_ids, sources)
                    if int(s) not in dead_set},
    }


def _one_word_edit(doc: str, i: int) -> str:
    """A planted near-duplicate: the document with its last word
    replaced. That changes one word 3-gram of ~200 (Jaccard ~0.99), so
    4 bands of 4 MinHash rows pair it with its source with probability
    about 1 - 3e-6."""
    words = doc.split(" ")
    words[-1] = f"edit{i}"
    return " ".join(words)
