"""Seeded flagship input tables, written without a JVM.

A port of graft.core.TokenGen (splitmix64, so every token equals
`TokenGen.token(doc, pos)`) and of Spark's Murmur3 string hash, which
places the hot entity on the last stage-1 partition. The table has
TokenGen's columns (doc_id, tokens, n_tok, source) and FILES files of
consecutive docs.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = 50257
MIN_TOK = 64
TOK_SPAN = 1985
FILES = 16
M32 = (1 << 32) - 1


def mix(z):
    """splitmix64 finalizer on uint64 numpy arrays (wrapping)."""
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def u64(x):
    return np.asarray(x, dtype=np.int64).astype(np.uint64)


def hash2(seed, a):
    return mix(np.uint64(seed) ^ mix(u64(a)))


def hash3(seed, a, b):
    return mix(mix(np.uint64(seed) ^ mix(u64(a))) ^ mix(u64(b)))


def n_tok(i):
    """TokenGen.nTok(i, skewed = false)."""
    return MIN_TOK + (hash2(SEED, i) % np.uint64(TOK_SPAN)).astype(np.int64)


def tokens(i, n):
    p = np.arange(n, dtype=np.int64)
    return ((hash3(SEED, np.full(n, i), p) >> np.uint64(33))
            % np.uint64(VOCAB)).astype(np.int32)


def source(i):
    r = int(hash2(1337, [i])[0] % np.uint64(100))
    return ("web" if r < 48 else "chat" if r < 72 else
            "code" if r < 88 else "wiki")


def doc_id(i):
    return f"doc_{i:08d}"


def _rotl(x, r):
    return ((x << r) | (x >> (32 - r))) & M32


def _mix_k1(k):
    k = (k * 0xCC9E2D51) & M32
    return (_rotl(k, 15) * 0x1B873593) & M32


def _mix_h1(h, k):
    h = _rotl(h ^ k, 13)
    return (h * 5 + 0xE6546B64) & M32


def murmur3(s, seed=42):
    """Spark's Murmur3_x86_32.hashUnsafeBytes of a UTF-8 string (the
    hash of `functions.hash` and of HashPartitioning), as a signed int."""
    b = s.encode("utf-8")
    h = seed
    aligned = len(b) - len(b) % 4
    for o in range(0, aligned, 4):
        h = _mix_h1(h, _mix_k1(int.from_bytes(b[o:o + 4], "little")))
    for o in range(aligned, len(b)):
        h = _mix_h1(h, _mix_k1((b[o] - 256 if b[o] > 127 else b[o]) & M32))
    h ^= len(b)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M32
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def docs(seed, hot, points, partitions):
    """(doc index, length) of every doc: docs from a doc-index range the
    seed selects until `points` points, the last one cut to fit; with
    `hot`, a tenth of the points in one more doc whose id hashes to the
    last of `partitions` partitions."""
    base = int(mix(u64([seed]))[0] % np.uint64(1_000_000_000))
    hot_len = points // 10 if hot else 0
    out, acc, i = [], 0, base
    while acc < points - hot_len:
        n = min(int(n_tok([i])[0]), points - hot_len - acc)
        out.append((i, n))
        acc += n
        i += 1
    if hot:
        k = next(k for k in range(1, 4097)
                 if murmur3(doc_id(base - k)) % partitions == partitions - 1)
        out.append((base - k, hot_len))
    return out


def write(path, ds):
    """Write the docs `ds` (from `docs`) as a tokens table at `path`."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()), ("source", pa.string())])
    for f in range(FILES):
        part = ds[f * len(ds) // FILES:(f + 1) * len(ds) // FILES]
        pq.write_table(pa.table({
            "doc_id": [doc_id(i) for i, _ in part],
            "tokens": [tokens(i, n) for i, n in part],
            "n_tok": pa.array([n for _, n in part], pa.int32()),
            "source": [source(i) for i, _ in part]}, schema=schema),
            os.path.join(tmp, f"part-{f:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
