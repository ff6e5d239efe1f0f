"""``ingest_serve``: sequential micro-batches through the curated ingest
sink, with reads against the growing assets between batches.

A pass is one compaction cycle: ``COMPACT_EVERY`` batches go through
``ingest_batch`` (band index and term-stats asset enabled), the last one
followed by ``compact_asset`` on every asset, and after each batch the
client issues ``doc_id`` point lookups and ``bm25_topk(against_stats=...)``
queries. One client, closed loop.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as ds

from littletable_spark import Table
from littletable_spark.operators import textops
from littletable_spark.streaming.ingest import ingest_batch
from littletable_spark.streaming.maintenance import compact_asset

COMPACT_EVERY = 2
LOOKUPS_PER_BATCH = 5
SEARCHES_PER_BATCH = 1
MIN_NEAR_RECALL = 0.9
MAX_FALSE_DROP = 0.01
ASSETS = ("corpus", "bands", "stats")


def _asset_files(root: str) -> dict[str, int]:
    out = {}
    for a in ASSETS:
        for dirpath, _, names in os.walk(f"{root}/{a}"):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[p] = os.path.getsize(p)
    return out


def generate(gen, seed: int, out: str) -> dict:
    return gen.ingest_serve(seed, out)


def layer_extras(inputs: dict, result: dict) -> dict:
    counts = result["batch_counts"]
    rewritten = [c["bytes"] for c in result["compactions"] if c.get("compacted")]
    return {
        "streaming.ingest.write_amp": result["write_amp"],
        "streaming.ingest.files_per_batch": result["files_per_batch"],
        "streaming.ingest.survivor_ratio": sum(c["appended"] for c in counts) / sum(c["received"] for c in counts),
        "streaming.maintenance.bytes_rewritten": float(np.mean(rewritten)) if rewritten else 0.0,
    }


def setup(spark, work: str) -> tuple[dict, dict]:
    """Fresh, empty asset root; the batch readers are opened lazily."""
    t0 = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    paths = {a: f"{work}/{a}" for a in ASSETS}
    return paths, {"table.import_persist_s": time.perf_counter() - t0}


def run(spark, inputs: dict, seconds: float, rec, trace: bool) -> dict:
    work = f"{inputs['dir']}/assets"
    t0 = time.perf_counter()
    paths, parts = setup(spark, work)
    parts["total_s"] = time.perf_counter() - t0
    rng = inputs["read_rng"]
    m = len(inputs["texts"]) // len(inputs["batches"])
    safe = inputs["safe_ids"]
    passes, batch_counts, reads, compactions = [], [], [], []
    written = seen_files = 0
    known: dict[str, int] = {}
    deadline = None
    n_cycles = len(inputs["batches"]) // COMPACT_EVERY
    with rec.span("ingest_serve"):
        for i in range(n_cycles):
            warm = i > 0
            if warm and deadline is None:
                deadline = time.perf_counter() + seconds
            elif warm and time.perf_counter() >= deadline and (not trace or len(passes) >= 3):
                break
            rec.trace = trace and i % 2 == 1
            t_write = 0.0
            t0 = time.perf_counter()
            with rec.span("pass", index=i):
                for b in range(i * COMPACT_EVERY, (i + 1) * COMPACT_EVERY):
                    tw = time.perf_counter()
                    with rec.op("ingest_batch", "streaming.ingest", warm) as op:
                        with op.phase("construct"):
                            counts = ingest_batch(
                                spark.read.parquet(inputs["batches"][b]), b, paths["corpus"],
                                paths["bands"], stats_path=paths["stats"],
                            )
                        op.rows_out = counts.get("appended")
                    batch_counts.append(counts)
                    if b % COMPACT_EVERY == COMPACT_EVERY - 1:
                        for a in ASSETS:
                            with rec.op("compact_asset", "streaming.maintenance", warm) as op:
                                with op.phase("construct"):
                                    compactions.append(compact_asset(spark, paths[a]))
                    t_write += time.perf_counter() - tw
                    if trace:
                        files = _asset_files(work)
                        written += sum(s for p, s in files.items() if known.get(p) != s)
                        known = files
                        seen_files = len(files)
                    reads.extend(_serve(spark, paths, inputs, safe[safe < (b + 1) * m], b, rng, rec, warm))
            passes.append({"wall_s": time.perf_counter() - t0, "write_s": t_write, "warm": warm,
                           "traced": rec.trace, "docs": m * COMPACT_EVERY})
        else:
            raise RuntimeError("ingest_serve: generated batches ran out before the deadline")
    rec.trace = False
    in_bytes = sum(os.path.getsize(p) for p in inputs["batches"][: len(batch_counts)])
    return {
        "setup": parts,
        "passes": passes,
        "batch_counts": batch_counts,
        "reads": [(k, b, q, got) for k, b, q, got, _ in reads],
        "read_walls_warm": [op.end - op.start for _, b, *_, op in reads if b >= COMPACT_EVERY],
        "compactions": compactions,
        "corpus_path": paths["corpus"],
        "write_amp": written / in_bytes if trace else None,
        "files_per_batch": seen_files / len(batch_counts) if trace else None,
    }


def _serve(spark, paths: dict, inputs: dict, pool, b: int, rng, rec, warm: bool) -> list:
    """Reads after batch ``b``: lookups of documents that must have
    survived, then BM25 queries against the folded term stats."""
    out = []
    with rec.op("reopen", "table", warm) as op:
        with op.phase("construct"):
            corpus = Table.parquet_import(spark, paths["corpus"], "corpus")
            stats = textops.fold_term_stats(Table.parquet_import(spark, paths["stats"], "stats"))
    for _ in range(LOOKUPS_PER_BATCH):
        key = int(pool[int(rng.integers(0, len(pool)))])
        with rec.op("lookup", "table", warm) as op:
            with op.phase("construct"):
                t = corpus.where(doc_id=key)
            with op.phase("exec"):
                got = [(r.doc_id, r.text) for r in t]
            op.rows_out = len(got)
            out.append(("lookup", b, key, got, op))
    for _ in range(SEARCHES_PER_BATCH):
        words = sorted({inputs["texts"][int(pool[int(rng.integers(0, len(pool)))])].split(" ")[int(rng.integers(0, 20))]
                        for _ in range(2)})
        query = " ".join(words)
        with rec.op("bm25_topk", "operators.textops", warm) as op:
            with op.phase("construct"):
                top = textops.bm25_topk(corpus, "text", "doc_id", query, k=10, against_stats=stats)
            with op.phase("exec"):
                got = [tuple(r) for r in top.df.select("doc_id", "score", "rank").collect()]
            op.rows_out = len(got)
            out.append(("bm25", b, query, got, op))
    return out


# -- checks ------------------------------------------------------------------


def _bm25(snapshot: dict[int, list[str]], query: str, k: int = 10) -> list[tuple]:
    """Okapi BM25 top-k (k1=1.5, b=0.75), scores rounded to 6 places,
    ties by id -- the documented contract of ``bm25_topk``."""
    terms = sorted(set(query.split()))
    n = len(snapshot)
    avgdl = sum(len(w) for w in snapshot.values()) / n
    df = {t: sum(1 for w in snapshot.values() if t in w) for t in terms}
    scores = []
    for did, words in snapshot.items():
        s = 0.0
        hit = False
        for t in terms:
            tf = words.count(t)
            if not tf:
                continue
            hit = True
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * len(words) / avgdl))
        if hit:
            scores.append((round(s, 6), did))
    scores.sort(key=lambda x: (-x[0], x[1]))
    return [(did, s, r + 1) for r, (s, did) in enumerate(scores[:k])]


def check(inputs: dict, result: dict) -> tuple[int, list[str]]:
    failures: list[str] = []
    attempted = 0

    def expect(cond: bool, msg: str) -> None:
        nonlocal attempted
        attempted += 1
        if not cond:
            failures.append(msg)

    texts = inputs["texts"]
    nb = len(result["batch_counts"])
    m = len(texts) // len(inputs["batches"])
    ingested = set(range(nb * m))
    final = ds.dataset(result["corpus_path"], format="parquet", partitioning="hive").to_table(columns=["doc_id", "text"])
    ids = final.column("doc_id").to_pylist()
    corpus = dict(zip(ids, final.column("text").to_pylist()))
    expect(len(ids) == len(corpus), "ingest_serve: duplicate doc_id in corpus")
    expect(set(corpus) <= ingested, "ingest_serve: corpus holds ids never ingested")
    expect(all(corpus[i] == texts[i] for i in corpus), "ingest_serve: corpus text differs from input")
    for b, counts in enumerate(result["batch_counts"]):
        survivors = sum(1 for i in corpus if b * m <= i < (b + 1) * m)
        expect(counts.get("appended") == survivors and counts.get("received") == m,
               f"ingest_serve: batch {b} lineage (appended {counts.get('appended')}, found {survivors})")
    copies = {c: v for c, v in inputs["copies"].items() if c in ingested}
    exact = [c for c, (src, kind) in copies.items() if kind == "exact" and src in corpus]
    expect(not any(c in corpus for c in exact), "ingest_serve: an exact copy survived next to its original")
    near = [c for c, (src, kind) in copies.items() if kind == "near" and src in corpus]
    if near:
        recall = sum(c not in corpus for c in near) / len(near)
        expect(recall >= MIN_NEAR_RECALL, f"ingest_serve: near-copy recall {recall:.3f}")
    # MinHash-LSH drops every candidate without verifying it, so a pair
    # with a few shared shingles can collide in a band; bound that rate
    safe = [int(i) for i in inputs["safe_ids"] if i in ingested]
    false_drops = sum(i not in corpus for i in safe)
    expect(false_drops <= MAX_FALSE_DROP * len(safe),
           f"ingest_serve: {false_drops} of {len(safe)} documents with no copy were dropped")
    split = {i: t.split(" ") for i, t in corpus.items()}
    for kind, b, q, got in result["reads"]:
        if kind == "lookup":
            # the corpus only grows, so a key missing now was missing at
            # read time; that drop is bounded by the false-drop check
            want = [(q, texts[q])] if q in corpus else []
            expect(got == want, f"ingest_serve: lookup {q} after batch {b}")
        else:
            snap = {i: w for i, w in split.items() if i < (b + 1) * m}
            want = _bm25(snap, q)
            ok = len(got) == len(want) and all(
                g[0] == w[0] and g[2] == w[2] and abs(g[1] - w[1]) <= 2e-6 for g, w in zip(got, want))
            expect(ok, f"ingest_serve: bm25 {q!r} after batch {b}")
    return attempted, failures


def corrupt(result: dict) -> dict:
    """Self-test hook: damage the first lookup answer (an empty text is
    wrong whether or not the document survived)."""
    for i, r in enumerate(result["reads"]):
        if r[0] == "lookup":
            result["reads"][i] = (r[0], r[1], r[2], [(r[2], "")])
            break
    return result
