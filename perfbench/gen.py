"""Seeded input generator for the ingest benchmark.

Everything a workload feeds the engine comes from here, as files
written with pyarrow (never through the engine): document corpora,
CDC changelog drops and Kafka topic files whose ``value`` column holds
Confluent-framed Avro records encoded by this module's own encoder.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = [
    "technology", "cooking", "travel", "science", "sports", "music",
    "finance", "health", "history", "art", "gaming", "politics",
]
TAGS = [f"tag{i:02d}" for i in range(48)]
AUTHORS = [f"author {i:03d}" for i in range(300)]
ZIPF_S = 1.1


def _make_vocab(n: int = 4000) -> list[str]:
    """A fixed vocabulary of pronounceable lowercase words (the same for
    every seed: seeds change which words are drawn, not the language)."""
    rng = np.random.default_rng(20240115)
    onset = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh st th tr".split()
    vowel = "a e i o u ai ea ee io oo ou".split()
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            onset[int(rng.integers(len(onset)))] + vowel[int(rng.integers(len(vowel)))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _make_vocab()


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


_VOCAB_P = zipf_probs(len(VOCAB))
CATEGORY_P = zipf_probs(len(CATEGORIES))


def draw_words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.choice(len(VOCAB), size=n, p=_VOCAB_P)]


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    words = draw_words(rng, int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


def doc_fields(rng: np.random.Generator, n: int) -> dict[str, list]:
    """The F1 ``documents`` payload columns (flattened metadata)."""
    cats = rng.choice(len(CATEGORIES), size=n, p=CATEGORY_P)
    ntags = rng.integers(1, 4, size=n)
    tag_idx = rng.integers(0, len(TAGS), size=int(ntags.sum()))
    tags, pos = [], 0
    for k in ntags:
        tags.append([TAGS[i] for i in tag_idx[pos : pos + k]])
        pos += k
    days = rng.integers(0, 730, size=n)
    return {
        "title": _texts(rng, n, 3, 7),
        "content": _texts(rng, n, 12, 40),
        "category": [CATEGORIES[i] for i in cats],
        "rating": [round(float(x), 1) for x in rng.uniform(1.0, 5.0, size=n)],
        "tags": tags,
        "metadata_author": [AUTHORS[i] for i in rng.integers(0, len(AUTHORS), size=n)],
        "metadata_publishDate": [
            str(np.datetime64("2023-01-01") + np.timedelta64(int(d), "D")) for d in days
        ],
    }


def key_name(k: int) -> str:
    return f"doc{k:07d}"


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents with distinct ids ``doc0000000..``."""
    rng = np.random.default_rng([seed, 1])
    cols = {"id": [key_name(k) for k in range(n)]}
    cols.update(doc_fields(rng, n))
    return pa.table(cols)


class Changelog:
    """A growing CDC changelog over a fixed key space: Zipf-skewed keys
    (hot keys are scattered over the key space by a seeded
    permutation), a global increasing ``_seq``, ``+I`` on a key's
    first op, ``+U`` after, and ``delete_frac`` of ops ``-D``. Each
    op's payload is a row of a seeded pool of document bodies (column
    ``_body`` names the row)."""

    POOL = 4096

    def __init__(self, seed: int, key_space: int, delete_frac: float = 0.1):
        self.rng = np.random.default_rng([seed, 2])
        self.key_space = key_space
        self.delete_frac = delete_frac
        self.perm = self.rng.permutation(key_space)
        self.key_p = zipf_probs(key_space, 0.8)
        self.pool = pa.table(doc_fields(self.rng, self.POOL))
        self.live: set[int] = set()
        self.seq = 0

    def preload(self, n_keys: int) -> pa.Table:
        """``+I`` of keys 0..n_keys-1 (uniform, no skew): the initial
        table contents."""
        keys = np.arange(n_keys)
        return self._ops(keys, np.zeros(n_keys, dtype=bool))

    def batch(self, n: int) -> pa.Table:
        keys = self.perm[self.rng.choice(self.key_space, size=n, p=self.key_p)]
        dels = self.rng.random(n) < self.delete_frac
        return self._ops(keys, dels)

    def _ops(self, keys: np.ndarray, dels: np.ndarray) -> pa.Table:
        n = len(keys)
        kinds = []
        for k, d in zip(keys.tolist(), dels.tolist()):
            if d:
                kinds.append("-D")
                self.live.discard(k)
            else:
                kinds.append("+U" if k in self.live else "+I")
                self.live.add(k)
        body = self.rng.integers(0, self.POOL, size=n)
        out = pa.table(
            {
                "_seq": pa.array(np.arange(self.seq + 1, self.seq + n + 1), pa.int64()),
                "_row_kind": kinds,
                "id": [key_name(k) for k in keys.tolist()],
                "_body": pa.array(body, pa.int32()),
            }
        )
        self.seq += n
        payload = self.pool.take(pa.array(body))
        for name in payload.column_names:
            out = out.append_column(name, payload.column(name))
        return out


# ----------------------------------------------------------------------
# Avro binary encoding (Apache Avro 1.11 spec) + Confluent framing
# ----------------------------------------------------------------------


def zigzag(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63)
    out = bytearray()
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def avro_encode(value, schema) -> bytes:
    """Binary-encode ``value`` under ``schema`` (records, unions,
    arrays and the primitives the benchmark schemas use)."""
    if isinstance(schema, list):  # union: branch index, then value
        if value is None:
            return zigzag(schema.index("null"))
        i = next(i for i, b in enumerate(schema) if b != "null")
        return zigzag(i) + avro_encode(value, schema[i])
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "record":
        return b"".join(avro_encode(value.get(f["name"]), f["type"]) for f in schema["fields"])
    if t == "array":
        if not value:
            return b"\x00"
        return zigzag(len(value)) + b"".join(avro_encode(x, schema["items"]) for x in value) + b"\x00"
    if t == "string":
        raw = value.encode("utf-8")
        return zigzag(len(raw)) + raw
    if t in ("int", "long"):
        return zigzag(int(value))
    if t == "double":
        return struct.pack("<d", value)
    if t == "null":
        return b""
    raise ValueError(f"unsupported Avro type {t!r}")


def confluent_frame(record: dict, schema: dict, schema_id: int) -> bytes:
    return b"\x00" + struct.pack(">i", schema_id) + avro_encode(record, schema)


_META = {
    "type": "record",
    "name": "Metadata",
    "fields": [
        {"name": "author", "type": "string"},
        {"name": "publishDate", "type": "string"},
    ],
}
_V1_FIELDS = [
    {"name": "_seq", "type": "long"},
    {"name": "_row_kind", "type": "string"},
    {"name": "id", "type": "string"},
    {"name": "title", "type": "string"},
    {"name": "content", "type": "string"},
    {"name": "category", "type": "string"},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "metadata", "type": _META},
]
# v2 adds a nullable rating: the backward-compatible evolution step
DOC_SCHEMAS = {
    1: {"type": "record", "name": "Document", "fields": _V1_FIELDS},
    2: {
        "type": "record",
        "name": "Document",
        "fields": _V1_FIELDS + [{"name": "rating", "type": ["null", "double"]}],
    },
}
UNKNOWN_SCHEMA_ID = 99


def schema_jsons() -> dict[int, str]:
    return {k: json.dumps(v) for k, v in DOC_SCHEMAS.items()}


class FrameEncoder:
    """Confluent frames for changelog ops. A record's fields after
    ``id`` come from the changelog's body pool, so their encoding is
    done once per (body, schema) and each frame is header + ``_seq`` +
    ``_row_kind`` + ``id`` + the cached tail."""

    def __init__(self, pool: pa.Table):
        rows = pool.to_pylist()
        self.tails = {
            sid: [
                b"".join(avro_encode(v, f["type"]) for v, f in zip(self._values(r), schema["fields"][3:]))
                for r in rows
            ]
            for sid, schema in DOC_SCHEMAS.items()
        }

    @staticmethod
    def _values(r: dict) -> list:
        # in schema order after ``id``; zip() with a schema's fields
        # drops the trailing rating for v1
        return [
            r["title"], r["content"], r["category"], r["tags"],
            {"author": r["metadata_author"], "publishDate": r["metadata_publishDate"]},
            r["rating"],
        ]

    def frames(
        self, ops: pa.Table, rng: np.random.Generator, poison_frac: float = 0.01, v2_frac: float = 0.5
    ) -> tuple[list[bytes], list[bool], list[int]]:
        """Frame every op; returns (frames, is_poison, schema id).
        Poison is half unknown-schema-id frames, half truncated
        payloads."""
        n = ops.num_rows
        u = rng.random(n).tolist()
        sids = np.where(rng.random(n) < v2_frac, 2, 1).tolist()
        seqs = ops.column("_seq").to_pylist()
        kinds = ops.column("_row_kind").to_pylist()
        ids = ops.column("id").to_pylist()
        bodies = ops.column("_body").to_pylist()
        headers = {sid: b"\x00" + struct.pack(">i", sid) for sid in DOC_SCHEMAS}
        frames, poison = [], []
        for i in range(n):
            sid = sids[i]
            frame = (
                headers[sid] + zigzag(seqs[i]) + avro_encode(kinds[i], "string")
                + avro_encode(ids[i], "string") + self.tails[sid][bodies[i]]
            )
            bad = u[i] < poison_frac
            if bad and u[i] < poison_frac / 2:
                frame = b"\x00" + struct.pack(">i", UNKNOWN_SCHEMA_ID) + frame[5:]
            elif bad:
                frame = frame[: 5 + (len(frame) - 5) // 2]
            frames.append(frame)
            poison.append(bad)
        return frames, poison, sids


TOPIC_SCHEMA = pa.schema(
    [("partition", pa.int32()), ("offset", pa.int64()), ("value", pa.binary())]
)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def land(tmp_path: str, dest_path: str) -> None:
    """Atomically publish a written file into a watched directory,
    stamped with the landing time (the file source orders files by
    modification time)."""
    now = time.time()
    os.utime(tmp_path, (now, now))
    os.rename(tmp_path, dest_path)
