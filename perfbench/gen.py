"""Seeded input generator for the benchmark.

Everything here is plain Python + pyarrow: the inputs are written before
any Spark session exists, outside every timed window and outside
``setup_s``, so no change to the program can change them. The same seed
gives byte-identical files (``digest`` hashes a generated directory).

Two families of inputs:

* hypermap raw-log histories (``write_history``): one block-aligned,
  block-sorted parquet file per extract range, with a hot-parent Zipf
  skew over the entries tree, a share of logs from a foreign contract
  (the decoder must drop them) and a share of redelivered duplicates
  (the merge must absorb them). The decoded rows every contract log
  should produce are returned beside the files, as the ground truth.
* documents (``write_documents``): English-like text with a controlled
  near-duplicate share, a short/foreign-language share the quality
  filter drops, and PII strings the redactor masks.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CONTRACT = "0x000000000044c6b8cb4d8f0f889a3e47664eaeda"
FOREIGN = "0x00000000000000000000000000000000deadbeef"
ROOT = "0x" + "00" * 32
FIRST_BLOCK = 27_270_000

RAW_SCHEMA = pa.schema(
    [
        pa.field("address", pa.string(), False),
        pa.field("blockNumber", pa.int64(), False),
        pa.field("blockHash", pa.string(), False),
        pa.field("transactionHash", pa.string(), False),
        pa.field("transactionIndex", pa.int32(), False),
        pa.field("logIndex", pa.int32(), False),
        pa.field("topics", pa.list_(pa.field("element", pa.string(), False)), False),
        pa.field("data", pa.string(), False),
    ]
)

# decoded columns the ground truth carries (the EVENT_SCHEMA payload
# columns; timestamp is NULL on the streaming path and not compared)
TRUTH_COLS = [
    "event_id", "eventType", "blockNumber", "blockHash", "transactionHash",
    "transactionIndex", "logIndex", "parenthash", "childhash", "facthash",
    "notehash", "labelhash", "label", "data", "entry", "gene", "from", "to",
    "id", "zeroTba", "implementation",
]

# event mix from the one measured datum on real traffic, the reference's
# golden 5,000-block histogram {Note: 8, Transfer: 4, Mint: 2}
# (FIXTURES.md): Note > Transfer > Mint, with a 4% remainder for the
# types it did not see
EVENT_MIX = [
    ("Note", 0.55), ("Transfer", 0.27), ("Mint", 0.14), ("Fact", 0.02),
    ("Gene", 0.01), ("Zero", 0.005), ("Upgraded", 0.005),
]


def _h(*parts) -> str:
    return "0x" + hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()


def _addr(n: int) -> str:
    return "0x" + hashlib.sha256(f"addr|{n}".encode()).hexdigest()[:40]


def _addr_topic(a: str) -> str:
    return "0x" + a[2:].rjust(64, "0")


def _word(n: int) -> str:
    return format(n, "064x")


def _padded(hexs: str) -> str:
    return hexs + "0" * (-len(hexs) % 64)


def _abi_one_bytes(p: str) -> str:
    return "0x" + _word(32) + _word(len(p) // 2) + _padded(p)


def _abi_two_bytes(p1: str, p2: str) -> str:
    off2 = 64 + 32 + (len(_padded(p1)) // 64) * 32
    return (
        "0x" + _word(64) + _word(off2) + _word(len(p1) // 2) + _padded(p1)
        + _word(len(p2) // 2) + _padded(p2)
    )


class History:
    """A growing hypermap registry: emits decoded events and their raw
    logs block range by block range. Deterministic in ``seed``."""

    def __init__(self, seed: int, foreign_share: float = 0.04, dup_share: float = 0.03):
        self.rng = random.Random(seed)
        self.seed = seed
        from hypermap_etl_spark.constants import TOPIC0

        self.topic0 = TOPIC0
        self.foreign_share = foreign_share
        self.dup_share = dup_share
        self.entries: list[str] = []  # minted namehashes, oldest first
        self.next_block = FIRST_BLOCK
        self.n = 0
        self.offered: list[int] = []  # contract logs per chunk, duplicates included
        names, weights = zip(*EVENT_MIX)
        self._types, self._weights = list(names), list(weights)

    def _zipf_entry(self) -> str:
        """Bounded Zipf(1) pick over minted entries: old entries (low
        rank) are the hot parents. Inverse CDF of the log-uniform rank."""
        n = len(self.entries)
        r = int(math.exp(self.rng.random() * math.log(n + 1))) - 1
        return self.entries[min(max(r, 0), n - 1)]

    def _event(self, block: int, log_index: int, tx: str, tx_index: int) -> tuple[dict, dict]:
        et = "Mint" if not self.entries else self.rng.choices(self._types, self._weights)[0]
        self.n += 1
        row = dict.fromkeys(TRUTH_COLS)
        row.update(
            event_id=f"{tx}_{log_index}", eventType=et, blockNumber=block,
            blockHash=_h("block", self.seed, block), transactionHash=tx,
            transactionIndex=tx_index, logIndex=log_index,
        )
        sig = self.topic0[et]
        if et == "Mint":
            # a fifth of mints hang directly off the root
            parent = ROOT if (not self.entries or self.rng.random() < 0.2) else self._zipf_entry()
            label = f"n{self.seed}x{self.n}"
            child = _h("entry", self.seed, self.n)
            lh = "0x" + hashlib.sha256(label.encode()).hexdigest()
            row.update(parenthash=parent, childhash=child, labelhash=lh, label=label)
            topics = [sig, parent, child, lh]
            data = _abi_one_bytes(label.encode().hex())
            self.entries.append(child)
        elif et in ("Fact", "Note"):
            parent = self._zipf_entry()
            label = f"~{et.lower()}{self.rng.randrange(6)}"
            lh = "0x" + hashlib.sha256(label.encode()).hexdigest()
            key = _h(et, parent, label)
            payload = hashlib.sha256(f"{self.seed}|{self.n}".encode()).hexdigest()
            row.update(parenthash=parent, labelhash=lh, label=label, data="0x" + payload)
            row["facthash" if et == "Fact" else "notehash"] = key
            topics = [sig, parent, key, lh]
            data = _abi_two_bytes(label.encode().hex(), payload)
        elif et == "Gene":
            entry, gene = self._zipf_entry(), _addr(self.rng.randrange(50))
            row.update(entry=entry, gene=gene)
            topics = [sig, entry, _addr_topic(gene)]
            data = "0x"
        elif et == "Transfer":
            ident = self._zipf_entry()
            src, dst = _addr(self.rng.randrange(500)), _addr(self.rng.randrange(500))
            row.update(**{"from": src, "to": dst, "id": ident})
            topics = [sig, _addr_topic(src), _addr_topic(dst), ident]
            data = "0x"
        else:  # Zero / Upgraded
            a = _addr(1000 + self.rng.randrange(100))
            row["zeroTba" if et == "Zero" else "implementation"] = a
            topics = [sig, _addr_topic(a)]
            data = "0x"
        raw = {
            "address": CONTRACT, "blockNumber": block, "blockHash": row["blockHash"],
            "transactionHash": tx, "transactionIndex": tx_index,
            "logIndex": log_index, "topics": topics, "data": data,
        }
        return row, raw

    def _foreign(self, block: int, log_index: int, tx: str, tx_index: int) -> dict:
        # a Mint-shaped log from another contract: same topic0, wrong address
        label = f"f{self.seed}x{log_index}"
        return {
            "address": FOREIGN, "blockNumber": block, "blockHash": _h("block", self.seed, block),
            "transactionHash": tx, "transactionIndex": tx_index, "logIndex": log_index,
            "topics": [self.topic0["Mint"], ROOT, _h("foreign", tx), _h("fl", label)],
            "data": _abi_one_bytes(label.encode().hex()),
        }

    def chunk(self, n_logs: int, n_blocks: int) -> tuple[list[dict], list[dict]]:
        """The next ``n_blocks`` blocks holding ``n_logs`` contract logs
        (plus foreign logs and redelivered duplicates on top), in block
        and log order. Returns (raw logs, decoded truth rows)."""
        lo = self.next_block
        self.next_block += n_blocks
        blocks = sorted(lo + self.rng.randrange(n_blocks) for _ in range(n_logs))
        raws, truth = [], []
        log_index, tx_index, prev = 0, 0, None
        for b in blocks:
            if b != prev:
                log_index, tx_index, prev = 0, 0, b
            tx = _h("tx", self.seed, b, tx_index)
            if self.rng.random() < self.foreign_share:
                raws.append(self._foreign(b, log_index, tx, tx_index))
                log_index += 1
            row, raw = self._event(b, log_index, tx, tx_index)
            raws.append(raw)
            truth.append(row)
            if self.rng.random() < self.dup_share:
                raws.append(dict(raw))  # redelivered verbatim
            log_index += 1
            tx_index += 1
        self.offered.append(sum(r["address"] == CONTRACT for r in raws))
        return raws, truth


def write_raw(path: str, raws: list[dict], mtime: float) -> None:
    """One extract file; the mtime is set explicitly so pickup order is
    strictly increasing with block order (the delta-strategy contract)."""
    pq.write_table(pa.Table.from_pylist(raws, schema=RAW_SCHEMA), path, compression="zstd")
    os.utime(path, (mtime, mtime))


def write_history(
    hist: History, out_dir: str, n_files: int, logs_per_file: int,
    blocks_per_file: int, mtime0: float, name: str = "chunk",
) -> list[dict]:
    """``n_files`` consecutive block-aligned extract files; returns the
    decoded truth rows of all of them."""
    os.makedirs(out_dir, exist_ok=True)
    truth = []
    for i in range(n_files):
        raws, rows = hist.chunk(logs_per_file, blocks_per_file)
        write_raw(os.path.join(out_dir, f"{name}-{i:05d}.parquet"), raws, mtime0 + i)
        truth.extend(rows)
    return truth


def write_truth(path: str, rows: list[dict]) -> None:
    fields = [
        pa.field(c, pa.int64() if c == "blockNumber" else
                 pa.int32() if c in ("transactionIndex", "logIndex") else pa.string())
        for c in TRUTH_COLS
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(fields)), path)


# ------------------------------------------------------------- documents ----

_STOP = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]
_DE = ["der", "und", "die", "das"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(n)]


def write_documents(path: str, seed: int, n_docs: int, dup_share: float = 0.2) -> dict:
    """A corpus of ``n_docs`` documents: ~``dup_share`` are near-copies of
    an earlier document (a few words substituted, Jaccard well above the
    0.8 dedup threshold), ~5% are too short and ~5% German, both of which
    the quality filter drops; a tenth carry an e-mail address."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    docs, n_dups = [], 0
    for i in range(n_docs):
        r = rng.random()
        if docs and r < dup_share:
            words = docs[rng.randrange(len(docs))]["text"].split(" ")
            for _ in range(max(1, len(words) // 60)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
            n_dups += 1
        else:
            n = 8 if r > 0.95 else rng.randint(80, 220)
            stop = _DE if 0.90 < r <= 0.95 else _STOP
            words = [
                rng.choice(stop) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(n)
            ]
            if rng.random() < 0.1:
                words.insert(rng.randrange(len(words)), f"{rng.choice(vocab)}@example.com")
            text = " ".join(words)
        docs.append({"doc_id": i, "text": text})
    table = pa.Table.from_pylist(
        docs, schema=pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])
    )
    pq.write_table(table, path, compression="zstd")
    return {"docs": n_docs, "near_dups": n_dups}


def digest(path: str) -> str:
    """sha256 over a file, or over every file under a directory
    (relative names + bytes)."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs)
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, os.path.dirname(path)).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
