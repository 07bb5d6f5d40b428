"""Seeded inputs for the three benchmark workloads.

The corpus reproduces the shape of the sf0.1 `documents` table, measured
from that table: 5,000 documents, each one run-on sentence of 10 to 99
tokens drawn uniformly from a closed 30-word vocabulary, every 20th
document ending in the extra token "dup", and the language mix
en 41% / zh, es, fr, de 15% each. Each document becomes a `pages` row the
way `__spark_entry__._docs_as_pages` builds one. The url namespace is
salted with the seed, so a seed moves documents between url-hash buckets
(and hence partitions); the texts themselves are also seed-drawn.

Everything here is a pure function of the seed: no Spark, no clock.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

N_DOCS = 5000
N_BUCKETS = 8
API_SAMPLE = 500

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
BASE_TS = dt.datetime(2025, 1, 1)


def corpus(seed: int, n_docs: int = N_DOCS) -> list[dict]:
    """pages rows (url, warc_ts, html, text, lang) for one seed."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
        if i % 20 == 19:
            toks.append("dup")
        text = " ".join(toks)
        rows.append(
            {
                "url": f"https://s{seed}.ex.org/doc/{i}",
                "warc_ts": BASE_TS + dt.timedelta(seconds=37 * i),
                "html": f"<html><p>{text}</p></html>".encode("utf-8"),
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            }
        )
    return rows


def resume_held_out(seed: int, n_buckets: int = N_BUCKETS) -> int:
    """The bucket the crash-resume template leaves unbuilt."""
    return int(hashlib.md5(f"resume:{seed}".encode()).hexdigest(), 16) % n_buckets


def api_sample(seed: int, rows: list[dict], n: int = API_SAMPLE) -> list[dict]:
    """Seed-drawn sample of documents for the single-document API loop."""
    return random.Random(seed ^ 0x5EED).sample(rows, min(n, len(rows)))


_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's `xxhash64` of a string column (XXH64, seed 42), as a signed
    64-bit int, so bucket splits can be computed without a session."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(url: str, n_buckets: int = N_BUCKETS) -> int:
    """`plans.pipeline.with_bucket`'s bucket: pmod(xxhash64(url), n)."""
    return xxhash64(url.encode("utf-8")) % n_buckets
