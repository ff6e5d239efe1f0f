"""Seeded input generator for the perfbench workloads.

Every input the program sees is made here, from the seed alone, before
any timing starts. The same seed gives byte-identical inputs; another
seed gives inputs of the same shape and row counts with other content.
Text is built from fixed-width words and position-determined document
lengths, so the raw text bytes of the ``curation`` and ``ingest_serve``
inputs are equal across seeds too.

Besides the parquet files, the generator returns the ground truth the
checks need: the interactive call sequence, the injected duplicates of
the curation corpus and the per-batch document ids of the ingest
stream.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes are part of the benchmark definition: changing them redefines
# the benchmark, and its baseline must be measured again
SIZES = {
    "customer": 6_000,
    "orders": 40_000,
    "lineitem": 160_000,
    "documents": 2_000,
    "inventory": 400,
    "corpus": 6_000,  # curation corpus rows, injected duplicates included
    "vectors": 4_000,
    "queries": 32,
    "dim": 64,
    "batches": 48,  # ingest_serve micro-batches made available
    "batch_docs": 150,
}

WORD_LEN = 6
_CONS = "bdfgklmnprstvz"
_VOWELS = "aou"
SEGMENTS = ("AUTOMOB", "BUILDNG", "FURNITR", "HOUSEHD", "MACHINE")
PRIORITIES = ("1-URGENT", "2-HIGHXX", "3-MEDIUM", "4-NOTSPC", "5-LOWXXX")
STATUSES = ("F", "O", "P")
FLAGS = ("A", "N", "R")
LANGS = ("en", "de", "fr", "es", "zh")

# interactive call kinds with their count per pass (fixed composition,
# so another seed changes keys, parameters and order but not the mix)
CALL_MIX = {
    "lookup_cached": 11,
    "lookup_uncached": 3,
    "where_len": 12,
    "where_iter": 2,
    "orderby_head": 2,
    "join": 1,
    "groupby": 1,
    "pivot": 1,
    "stats": 1,
    "search": 2,
    "markdown": 1,
    "update": 1,
    "upsert": 1,
    "insert_many": 1,
}


def vocabulary(n: int = 4096) -> list[str]:
    """Fixed-width words that the search normalizer leaves unchanged
    (consonant-vowel syllables over a/o/u, never a plural ending)."""
    rng = np.random.default_rng(12345)
    words: dict[str, None] = {}
    while len(words) < n:
        c = rng.integers(0, len(_CONS), WORD_LEN // 2)
        v = rng.integers(0, len(_VOWELS), WORD_LEN // 2)
        words["".join(_CONS[a] + _VOWELS[b] for a, b in zip(c, v))] = None
    return list(words)


VOCAB = vocabulary()


def _zipf_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """Word indices with a Zipf-like frequency profile over VOCAB."""
    ranks = np.arange(1, len(VOCAB) + 1)
    p = 1.0 / ranks**0.9
    return rng.choice(len(VOCAB), size=n, p=p / p.sum())


def _doc_lengths(n: int, lo: int, hi: int) -> np.ndarray:
    """Position-determined word counts (seed-independent sizes)."""
    return lo + (np.arange(n) * 7919) % (hi - lo + 1)


def _texts(rng: np.random.Generator, lengths: np.ndarray) -> list[str]:
    idx = _zipf_words(rng, int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[i] for i in idx[pos : pos + ln]))
        pos += ln
    return out


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """Replace one word: 3-shingle Jaccard stays near 0.9."""
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    j = int(rng.integers(0, len(VOCAB) - 1))
    words[i] = VOCAB[j + (VOCAB[j] == words[i])]  # never the same word
    return " ".join(words)


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """Zipf-skewed keys over [0, n_keys) with a seeded hot set."""
    perm = rng.permutation(n_keys)
    draws = np.minimum(rng.zipf(1.3, size) - 1, n_keys - 1)
    return perm[draws]


# ---------------------------------------------------------------------------
# interactive


def interactive(seed: int, out: str, passes: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    files: dict[str, dict] = {}
    nc, no, nl = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    cust = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    files["customer"] = _write(cust, f"{out}/customer.parquet")
    day0 = dt.datetime(1992, 1, 1)
    odays = rng.integers(0, 2400, no)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(_zipf_keys(rng, nc, no), pa.int64()),
            "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, no)],
            # cents + a per-row fraction: every price distinct, so
            # orderby has no ties to break
            "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2)
            + np.arange(no) * 1e-7,
            "o_orderdate": pa.array(
                [day0 + dt.timedelta(days=int(d)) for d in odays],
                pa.timestamp("us"),
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    files["orders"] = _write(orders, f"{out}/orders.parquet")
    lorder = np.sort(rng.integers(0, no, nl))
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [FLAGS[i] for i in rng.integers(0, 3, nl)],
            "l_shipdays": pa.array(rng.integers(0, 2500, nl), pa.int32()),
        }
    )
    files["lineitem"] = _write(lineitem, f"{out}/lineitem.parquet")
    nd = SIZES["documents"]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": _texts(rng, _doc_lengths(nd, 20, 80)),
            "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        }
    )
    files["documents"] = _write(docs, f"{out}/documents.parquet")
    ni = SIZES["inventory"]
    inv = pa.table(
        {
            "sku": pa.array(np.arange(ni), pa.int64()),
            "qty": pa.array(rng.integers(0, 1000, ni), pa.int64()),
            "price": np.round(rng.uniform(1, 500, ni), 2),
        }
    )
    files["inventory"] = _write(inv, f"{out}/inventory.parquet")
    calls = [_interactive_pass(rng) for _ in range(passes)]
    return {"dir": out, "files": files, "calls": calls}


def _interactive_pass(rng: np.random.Generator) -> list[dict]:
    nc, no, ni = SIZES["customer"], SIZES["orders"], SIZES["inventory"]
    kinds = [k for k, n in CALL_MIX.items() for _ in range(n)]
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    calls = []
    for kind in kinds:
        c: dict = {"kind": kind}
        if kind == "lookup_cached":
            c["key"] = int(_zipf_keys(rng, nc, 1)[0])
        elif kind == "lookup_uncached":
            c["key"] = int(_zipf_keys(rng, no, 1)[0])
        elif kind == "where_len":
            c["status"] = STATUSES[int(rng.integers(0, 3))]
            c["min_price"] = float(np.round(rng.uniform(50_000, 350_000), 2))
        elif kind == "where_iter":
            c["segment"] = SEGMENTS[int(rng.integers(0, 5))]
            lo = float(np.round(rng.uniform(0, 9000), 2))
            c["lo"], c["hi"] = lo, lo + 150.0
        elif kind == "orderby_head":
            c["priority"] = PRIORITIES[int(rng.integers(0, 5))]
            c["n"] = int(rng.integers(5, 25))
        elif kind == "join":
            lo = float(np.round(rng.uniform(1000, 390_000), 2))
            c["lo"], c["hi"] = lo, lo + 2_000.0
        elif kind == "groupby":
            c["status"] = STATUSES[int(rng.integers(0, 3))]
        elif kind == "pivot":
            c["min_price"] = float(np.round(rng.uniform(100_000, 300_000), 2))
        elif kind == "stats":
            c["flag"] = FLAGS[int(rng.integers(0, 3))]
            lo = int(rng.integers(0, 2000))
            c["lo"], c["hi"] = lo, lo + 300
        elif kind == "search":
            hot = _zipf_words(rng, 2)
            c["words"] = sorted({VOCAB[i] for i in hot} | {VOCAB[int(rng.integers(200, 2000))]})
            c["limit"] = 10
        elif kind == "markdown":
            c["nation"] = int(rng.integers(0, 25))
            c["n"] = 8
        elif kind == "update":
            c["sku"] = int(rng.integers(0, ni))
            c["qty"] = int(rng.integers(0, 1000))
        elif kind in ("upsert", "insert_many"):
            # upsert keys overlap the table and run past its end (some
            # rows replace, some append); inserted keys are new
            keys = rng.choice(ni + 50, 4, replace=False) if kind == "upsert" else ni + 100 + np.arange(3)
            c["rows"] = [
                {"sku": int(k), "qty": int(rng.integers(0, 1000)),
                 "price": float(np.round(rng.uniform(1, 500), 2))}
                for k in keys
            ]
        calls.append(c)
    return calls


# ---------------------------------------------------------------------------
# curation


def curation(seed: int, out: str) -> dict:
    """Corpus with injected duplicates of two kinds: exact copies that
    differ only in letter case (fingerprint-identical) and one-word
    edits (near duplicates, 3-shingle Jaccard about 0.9). The ground
    truth lists both as (original id, copy id) pairs."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n = SIZES["corpus"]
    n_exact, n_near = n // 20, n // 10
    n_base = n - n_exact - n_near
    lengths = _doc_lengths(n, 40, 90)
    base = _texts(rng, lengths[:n_base])
    texts = list(base)
    # each copy's source has the copy slot's length, so the text bytes
    # do not depend on which source the seed picks
    by_len = {int(ln): rng.permutation(np.flatnonzero(lengths[:n_base] == ln)).tolist()
              for ln in np.unique(lengths[n_base:])}
    exact_pairs, near_pairs = [], []
    for j in range(n_exact + n_near):
        s = by_len[int(lengths[n_base + j])].pop()
        if j < n_exact:
            texts.append(base[s].upper())
            exact_pairs.append((s, n_base + j))
        else:
            texts.append(_near_dup(rng, base[s]))
            near_pairs.append((s, n_base + j))
    # ids are a seeded permutation so copies interleave with originals
    ids = rng.permutation(n).astype(np.int64) * 3 + 7
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": [texts[i] for i in order],
        }
    )
    files = {"corpus": _write(table, f"{out}/corpus.parquet")}
    files["corpus"]["text_bytes"] = sum(len(t) for t in texts)
    dim, nv = SIZES["dim"], SIZES["vectors"]
    centers = rng.normal(size=(32, dim))
    labels = rng.integers(0, 32, nv)
    vecs = centers[labels] + 0.35 * rng.normal(size=(nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vec_tab = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    files["vectors"] = _write(vec_tab, f"{out}/vectors.parquet")
    nq = SIZES["queries"]
    qlab = rng.integers(0, 32, nq)
    q = centers[qlab] + 0.35 * rng.normal(size=(nq, dim))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    q_tab = pa.table(
        {
            "vec_id": pa.array(np.arange(nq) + 1_000_000, pa.int64()),
            "embedding": pa.array(list(q.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    files["queries"] = _write(q_tab, f"{out}/queries.parquet")
    return {
        "dir": out,
        "files": files,
        "ids": ids,
        "texts": texts,
        "exact_pairs": [(int(ids[a]), int(ids[b])) for a, b in exact_pairs],
        "near_pairs": [(int(ids[a]), int(ids[b])) for a, b in near_pairs],
        "vectors": vecs,
        "queries": q,
    }


# ---------------------------------------------------------------------------
# ingest_serve


def ingest_serve(seed: int, out: str) -> dict:
    """Micro-batches with duplicates inside a batch and across batches.

    Batch b holds ids [b*M, (b+1)*M). Every batch after the first holds
    M/10 copies of earlier documents, the first M/20; the copies
    alternate between exact (same text) and near (one word swapped).
    The ground truth names every injected copy and its original. Read
    keys name documents that are never copied nor copies, so they must
    survive ingest.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    nb, m = SIZES["batches"], SIZES["batch_docs"]
    lengths = _doc_lengths(nb * m, 30, 80)
    by_len: dict[int, list[int]] = {}  # length -> earlier ids that are not copies
    texts: list[str] = []
    copies: dict[int, tuple[int, str]] = {}  # copy id -> (original, kind)
    originals: set[int] = set()
    batches = []
    for b in range(nb):
        start = b * m
        fresh = _texts(rng, lengths[start : start + m])
        # batch 0 copies its first half into its second half; later
        # batches copy earlier batches. A copy's source has the copy
        # slot's length (fixed-width words keep the bytes equal across
        # seeds), and slots are filled in id order, so a copy is never
        # an original.
        n_copy = m // 20 if b == 0 else m // 10
        lo = m // 2 if b == 0 else 0
        if b == 0:
            for i in range(lo):
                by_len.setdefault(int(lengths[i]), []).append(i)
        slots = np.sort(rng.choice(np.arange(lo, m), n_copy, replace=False))
        for j, slot in enumerate(slots):
            did = start + int(slot)
            pool = by_len[int(lengths[did])]
            src = pool[int(rng.integers(0, len(pool)))]
            src_text = texts[src] if src < start else fresh[src - start]
            kind = "exact" if j % 2 == 0 else "near"
            fresh[int(slot)] = src_text if kind == "exact" else _near_dup(rng, src_text)
            copies[did] = (src, kind)
            originals.add(src)
        texts.extend(fresh)
        for i in range(start if b else m // 2, start + m):
            if i not in copies:
                by_len.setdefault(int(lengths[i]), []).append(i)
        tab = pa.table(
            {
                "doc_id": pa.array(np.arange(start, start + m), pa.int64()),
                "text": fresh,
            }
        )
        path = f"{out}/batch_{b:03d}.parquet"
        _write(tab, path)
        batches.append(path)
    safe = [i for i in range(nb * m) if i not in copies and i not in originals]
    return {
        "dir": out,
        "files": {
            "batches": {
                "rows": nb * m,
                "bytes": sum(os.path.getsize(p) for p in batches),
                "text_bytes": sum(len(t) for t in texts),
            }
        },
        "batches": batches,
        "texts": texts,
        "copies": copies,
        "safe_ids": np.array(safe, dtype=np.int64),
        "read_rng": np.random.default_rng([seed, 4]),
    }
