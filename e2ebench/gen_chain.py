"""Seeded, hash-chained EVM chain generator with plain-Python bookkeeping.

Writes ``blocks``, ``transactions`` and ``logs`` as cryo-style chunked
parquet (one file per ``CHUNK_BLOCKS`` blocks, one directory per table)
and returns a :class:`ChainTruth` holding the answers the output checks
compare against. Everything here is independent of ``cherry_spark``: the
Transfer topic0 is a literal, amounts and malformed payloads are tallied
while the rows are made, so a bug in the engine cannot leak into the
expected values.

The same ``(seed, n_blocks)`` always yields byte-identical parquet
(``digest`` checks that).

Density follows Ethereum mainnet in 2024. Etherscan's daily transactions
chart (etherscan.io/chart/tx) shows about 1.1-1.3 million transactions a
day over 7,200 twelve-second slots, about 160 per block. The public
``bigquery-public-data.crypto_ethereum`` dataset holds about twice as
many ``logs`` rows as ``transactions`` rows, and its ``token_transfers``
table (ERC-20 Transfer events) a little under half the logs. So a block
here has 100-220 transactions, 0-5 logs each (2 on average), 45% of them
Transfers: about 320 logs a block.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# keccak256("Transfer(address,address,uint256)") / ("Approval(...)")
TRANSFER_TOPIC0 = bytes.fromhex(
    "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
)
APPROVAL_TOPIC0 = bytes.fromhex(
    "8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
)
FIRST_BLOCK = 20_000_000
CHUNK_BLOCKS = 500
N_ADDRESSES = 3000
N_TOKENS = 16
MALFORMED_RATE = 0.001
TX_PER_BLOCK = (100, 220)
LOGS_PER_TX = (0, 0, 1, 1, 2, 3, 4, 5)
TRANSFER_SHARE = 0.45
APPROVAL_SHARE = 0.1

BLOCKS_SCHEMA = pa.schema(
    [
        ("number", pa.int64()),
        ("hash", pa.binary()),
        ("parent_hash", pa.binary()),
        ("timestamp", pa.int64()),
        ("miner", pa.binary()),
        ("tx_count", pa.int64()),
    ]
)
TRANSACTIONS_SCHEMA = pa.schema(
    [
        ("block_number", pa.int64()),
        ("transaction_index", pa.int64()),
        ("hash", pa.binary()),
        ("from", pa.binary()),
        ("to", pa.binary()),
        ("gas_used", pa.int64()),
    ]
)
LOGS_SCHEMA = pa.schema(
    [
        ("block_number", pa.int64()),
        ("transaction_index", pa.int64()),
        ("log_index", pa.int64()),
        ("transaction_hash", pa.binary()),
        ("address", pa.binary()),
        ("topic0", pa.binary()),
        ("topic1", pa.binary()),
        ("topic2", pa.binary()),
        ("topic3", pa.binary()),
        ("data", pa.binary()),
    ]
)
SCHEMAS = {
    "blocks": BLOCKS_SCHEMA,
    "transactions": TRANSACTIONS_SCHEMA,
    "logs": LOGS_SCHEMA,
}


@dataclass
class ChainTruth:
    """Per-block tallies made while generating, summed over a block range
    on demand. ``first_block``/``last_block`` are inclusive."""

    first_block: int
    last_block: int
    logs: list[int]
    transfers: list[int]  # well-formed Transfer logs
    amounts: list[int]  # sum of their amounts
    malformed: list[int]  # Transfer logs with an undecodable payload

    def _sum(self, series: list[int], lo: int, hi: int) -> int:
        lo = max(lo, self.first_block) - self.first_block
        hi = min(hi, self.last_block) - self.first_block
        return sum(series[lo : hi + 1]) if hi >= lo else 0

    def range_stats(self, lo: int, hi: int) -> dict[str, int]:
        return {
            "logs": self._sum(self.logs, lo, hi),
            "transfers": self._sum(self.transfers, lo, hi),
            "amount_sum": self._sum(self.amounts, lo, hi),
            "malformed": self._sum(self.malformed, lo, hi),
        }


def address(seed: int, i: int) -> bytes:
    return hashlib.sha256(f"addr:{seed}:{i}".encode()).digest()[:20]


def _pad(addr: bytes) -> bytes:
    return b"\x00" * 12 + addr


def generate_chain(seed: int, n_blocks: int, out_dir: str) -> ChainTruth:
    """Write the chain under ``out_dir/<table>.parquet/`` and return the
    bookkeeping."""
    rng = random.Random(f"chain:{seed}")
    addrs = [address(seed, i) for i in range(N_ADDRESSES)]
    tokens = [hashlib.sha256(f"token:{seed}:{i}".encode()).digest()[:20] for i in range(N_TOKENS)]
    other_topics = [hashlib.sha256(f"topic:{seed}:{i}".encode()).digest() for i in range(8)]

    def pick_addr() -> bytes:
        # skewed: a few hot senders/receivers, a long tail
        return addrs[int(N_ADDRESSES * rng.random() ** 3)]

    truth = ChainTruth(FIRST_BLOCK, FIRST_BLOCK + n_blocks - 1, [], [], [], [])
    rows: dict[str, dict[str, list]] = {}
    parent = hashlib.sha256(f"genesis:{seed}".encode()).digest()
    ts = 1_700_000_000 + rng.randrange(86_400)

    def flush(chunk_lo: int) -> None:
        for name, cols in rows.items():
            table = pa.table(cols, schema=SCHEMAS[name])
            tdir = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(tdir, exist_ok=True)
            pq.write_table(table, os.path.join(tdir, f"chunk_{chunk_lo:09d}.parquet"))
        rows.clear()

    def new_rows() -> None:
        for name, schema in SCHEMAS.items():
            rows[name] = {f.name: [] for f in schema}

    new_rows()
    chunk_lo = FIRST_BLOCK
    for number in range(FIRST_BLOCK, FIRST_BLOCK + n_blocks):
        ts += rng.randint(40, 200)
        n_tx = rng.randint(*TX_PER_BLOCK)
        tx_hashes = []
        n_logs = n_transfers = amount_sum = n_malformed = 0
        tx, lg = rows["transactions"], rows["logs"]
        log_index = 0
        for ti in range(n_tx):
            sender, receiver = pick_addr(), pick_addr()
            tx_hash = hashlib.sha256(f"tx:{seed}:{number}:{ti}".encode()).digest()
            tx_hashes.append(tx_hash)
            for col, v in (
                ("block_number", number),
                ("transaction_index", ti),
                ("hash", tx_hash),
                ("from", sender),
                ("to", receiver),
                ("gas_used", rng.randint(21_000, 300_000)),
            ):
                tx[col].append(v)
            for _ in range(rng.choice(LOGS_PER_TX)):
                r = rng.random()
                topic3 = None
                if r < TRANSFER_SHARE:
                    topic0 = TRANSFER_TOPIC0
                    amount = rng.getrandbits(rng.choice((24, 48, 64)))
                    data = amount.to_bytes(32, "big")
                    topics = (_pad(sender), _pad(pick_addr()))
                    if rng.random() < MALFORMED_RATE:
                        data = rng.choice((b"", data[:31], data + bytes(32)))
                        n_malformed += 1
                    else:
                        n_transfers += 1
                        amount_sum += amount
                elif r < TRANSFER_SHARE + APPROVAL_SHARE:
                    topic0 = APPROVAL_TOPIC0
                    data = rng.getrandbits(64).to_bytes(32, "big")
                    topics = (_pad(sender), _pad(pick_addr()))
                else:
                    topic0 = other_topics[rng.randrange(len(other_topics))]
                    data = rng.getrandbits(512).to_bytes(64, "big")
                    topics = (_pad(pick_addr()), None)
                    topic3 = rng.getrandbits(256).to_bytes(32, "big")
                for col, v in (
                    ("block_number", number),
                    ("transaction_index", ti),
                    ("log_index", log_index),
                    ("transaction_hash", tx_hash),
                    ("address", tokens[rng.randrange(N_TOKENS)]),
                    ("topic0", topic0),
                    ("topic1", topics[0]),
                    ("topic2", topics[1]),
                    ("topic3", topic3),
                    ("data", data),
                ):
                    lg[col].append(v)
                log_index += 1
                n_logs += 1
        block_hash = hashlib.sha256(
            parent + number.to_bytes(8, "big") + ts.to_bytes(8, "big") + b"".join(tx_hashes)
        ).digest()
        for col, v in (
            ("number", number),
            ("hash", block_hash),
            ("parent_hash", parent),
            ("timestamp", ts),
            ("miner", pick_addr()),
            ("tx_count", n_tx),
        ):
            rows["blocks"][col].append(v)
        parent = block_hash
        truth.logs.append(n_logs)
        truth.transfers.append(n_transfers)
        truth.amounts.append(amount_sum)
        truth.malformed.append(n_malformed)
        if number - chunk_lo + 1 == CHUNK_BLOCKS:
            flush(chunk_lo)
            new_rows()
            chunk_lo = number + 1
    if rows["blocks"]["number"]:
        flush(chunk_lo)
    return truth


def digest(out_dir: str) -> str:
    """sha256 over every file under ``out_dir`` (relative path + bytes)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
