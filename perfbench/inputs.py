"""Seeded benchmark inputs, generated once per (workload, seed, size) and cached.

The engine only ever sees the files written here. The CDC change stream comes
from the package's public ``synth.write_debezium_stream``; the first few
equal-sized files are merged into one bulk snapshot file so a stream is "one
bulk batch, then small micro-batches". Documents for the dedup workload come
from a seeded generator in this module with planted near-duplicate pairs and
shared boilerplate spans.

Each cache entry is a directory with a ``_DONE`` marker written last; an
entry without the marker is discarded and rebuilt. The oracles are computed
here too, without Spark, so they are computed once per seed and never timed.
They use engine code (``synth``, ``extract_text_series``, the constants of
``operators/dedup.py``), so the cache key includes a hash of those sources:
a checkout whose engine differs never reuses another checkout's oracles.
"""

from __future__ import annotations

import concurrent.futures
import glob
import hashlib
import json
import math
import multiprocessing
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

DONE = "_DONE"


@dataclass(frozen=True)
class CdcSize:
    n_events: int
    n_urls: int
    bulk_parts: int  # equal-sized synth files merged into the bulk file
    n_micro: int  # micro-batch files after the bulk file
    n_lookup_keys: int


@dataclass(frozen=True)
class DocsSize:
    n_docs: int
    n_batches: int  # first batch is the bulk load (a third of the docs)
    n_lookup_keys: int


#: sources the inputs and oracles are computed with, relative to the checkout
ORACLE_SOURCES = (
    "migration_pair_spark/synth.py",
    "migration_pair_spark/functions/extract.py",
    "migration_pair_spark/operators/dedup.py",
    "perfbench/inputs.py",
)


def sources_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in ORACLE_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()[:12]


def _entry(cache_dir: str, name: str, seed: int, size) -> str:
    key = "-".join(f"{v}" for v in asdict(size).values())
    return os.path.join(cache_dir, f"{name}-s{seed}-{key}-{sources_hash(os.getcwd())}")


def cached(cache_dir: str, name: str, seed: int, size, build) -> tuple[str, dict]:
    """Return (entry dir, manifest). ``build(dir)``, a picklable callable,
    fills a fresh entry and returns its manifest; generation time is
    recorded in it."""
    path = _entry(cache_dir, name, seed, size)
    done = os.path.join(path, DONE)
    if os.path.exists(done):
        with open(done) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    # built in a process of its own, so the measuring process never holds
    # the generator's memory (it would show in retained_mb on a cache miss)
    spawn = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=spawn) as pool:
        manifest = pool.submit(build, path).result()
    manifest["gen_s"] = time.perf_counter() - t0
    with open(done, "w") as f:
        json.dump(manifest, f)
    return path, manifest


def _set_mtimes(files: list[str]) -> None:
    # the file stream source orders files by mtime: keep name order == LSN order
    base = time.time() - len(files)
    for i, fp in enumerate(files):
        os.utime(fp, (base + i * 0.01, base + i * 0.01))


def _merge_bulk(events_dir: str, parts: int) -> list[str]:
    files = sorted(glob.glob(os.path.join(events_dir, "events-*.jsonl")))
    head, rest = files[:parts], files[parts:]
    bulk = os.path.join(events_dir, "events-bulk.jsonl")
    with open(bulk, "w") as out:
        for f in head:
            with open(f) as src:
                out.write(src.read())
    for f in head:
        os.remove(f)
    # the merged file takes the first file's name: name order stays LSN order
    first = os.path.join(events_dir, "events-00000.jsonl")
    os.rename(bulk, first)
    ordered = [first] + rest
    _set_mtimes(ordered)
    return ordered


def _text_len(html: pd.Series) -> np.ndarray:
    from migration_pair_spark.functions.extract import extract_text_series

    return extract_text_series(html.reset_index(drop=True)).map(len).to_numpy()


def build_cdc(path: str, seed: int, size: CdcSize) -> dict:
    """Debezium change stream with schema-evolution epochs, and the oracle
    state after every delivered file."""
    from migration_pair_spark import synth

    events_dir = os.path.join(path, "events")
    n_files = size.bulk_parts + size.n_micro
    full = synth.write_debezium_stream(
        events_dir, size.n_events, size.n_urls, n_files, seed=seed, evolution=True
    )
    files = _merge_bulk(events_dir, size.bulk_parts)
    # LSN upper bound of each delivered file (synth splits with linspace)
    bounds = np.linspace(0, size.n_events, n_files + 1, dtype=int)
    ends = [int(bounds[size.bulk_parts])] + [
        int(b) for b in bounds[size.bulk_parts + 1 :]
    ]
    rng = np.random.default_rng(seed + 7)
    urls = full["url"].unique()
    keys = list(rng.choice(urls, size=min(size.n_lookup_keys - 1, len(urls)), replace=False))
    keys.append("https://absent.example/p/0")  # never in the stream

    full = full.assign(text_len=0)
    live = full["op"] != "delete"
    full.loc[live, "text_len"] = _text_len(full.loc[live, "html"])

    prefixes = []
    for end in ends:
        win = synth.oracle_final_state(full[full["change_lsn"] <= end])
        by_url = win.set_index("url")
        prefixes.append(
            {
                "lsn_end": end,
                "rows": int(len(win)),
                "chars": int(win["text_len"].sum()),
                # per lookup key: [winning lsn, html] or None when absent
                "lookups": {
                    k: (
                        [int(by_url.at[k, "change_lsn"]), by_url.at[k, "html"].decode()]
                        if k in by_url.index
                        else None
                    )
                    for k in keys
                },
            }
        )
    final = synth.oracle_final_state(full)
    final[["url", "change_lsn", "html"]].to_parquet(os.path.join(path, "oracle.parquet"))
    deleted = sorted(set(urls) - set(final["url"]))
    return {
        "files": [os.path.relpath(f, path) for f in files],
        "file_bytes": [os.path.getsize(f) for f in files],
        "rows_per_file": [int(ends[0])] + [int(b - a) for a, b in zip(ends, ends[1:])],
        "prefixes": prefixes,
        "lookup_keys": keys,
        "deleted_keys": deleted,
    }


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, size=n)
    flat = rng.choice(letters, size=int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append("".join(flat[i : i + ln]))
        i += ln
    return out


def make_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """Seeded (doc_id, text) corpus shaped like a crawl shard.

    A large random vocabulary keeps unrelated documents far apart. A quarter
    of the documents are duplicates of an earlier one: an exact copy, or a
    near-duplicate with one word replaced. An original gets at most one
    near-duplicate and copies are exact, so a copy has the same MinHash
    signature as its source and links only what the source links: no
    document can bridge two duplicate clusters, whatever LSH misses. A fifth
    of the originals start with one of a few shared 8-word boilerplate
    spans, which the chunk index removes.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_words(rng, 40_000))
    boiler = [" ".join(rng.choice(vocab, size=8)) for _ in range(12)]
    sources: list[list[str]] = []  # documents a later copy may repeat
    unmutated: list[int] = []  # originals without a near-duplicate yet
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if unmutated and r < 0.15:
            words = list(sources[unmutated.pop(int(rng.integers(len(unmutated))))])
            words[int(rng.integers(len(words)))] = str(vocab[int(rng.integers(len(vocab)))])
            sources.append(words)
        elif sources and r < 0.25:
            words = sources[int(rng.integers(len(sources)))]
        else:
            words = rng.choice(vocab, size=int(rng.integers(40, 90))).tolist()
            if rng.random() < 0.2:
                words = boiler[int(rng.integers(len(boiler)))].split() + words
            unmutated.append(len(sources))
            sources.append(words)
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def build_docs(path: str, seed: int, size: DocsSize, threshold: float) -> dict:
    docs = make_documents(size.n_docs, seed)
    rng = np.random.default_rng(seed + 11)
    bulk = size.n_docs // 3
    # seed-chosen cut points for the incremental batches after the bulk load,
    # each batch within 10% of the mean size
    weights = rng.uniform(0.9, 1.1, size=size.n_batches - 1)
    cuts = np.cumsum(weights / weights.sum() * (size.n_docs - bulk)).round().astype(int)
    bounds = [0, bulk, *[bulk + int(c) for c in cuts[:-1]], size.n_docs]
    files = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        fp = os.path.join(path, f"batch-{i:03d}.parquet")
        docs.iloc[lo:hi].to_parquet(fp, index=False)
        files.append(os.path.relpath(fp, path))
    keys = [int(k) for k in rng.choice(size.n_docs, size=size.n_lookup_keys, replace=False)]
    with open(os.path.join(path, "truth.json"), "w") as f:
        json.dump(batch_dedup_truth(docs, threshold, bounds[1:], keys), f)
    return {
        "files": files,
        "file_bytes": [os.path.getsize(os.path.join(path, f)) for f in files],
        "rows_per_file": [hi - lo for lo, hi in zip(bounds, bounds[1:])],
        "lookup_keys": keys,
    }


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def batch_dedup_truth(
    docs: pd.DataFrame, threshold: float, bounds: list[int] = (), keys: list[int] = ()
) -> dict:
    """From-scratch batch dedup of the whole corpus, written independently
    of Spark with the engine's batch semantics (``operators/dedup.py``):
    char 5-gram shingles, MinHash over the default seeds, the default
    2 x 4 banding, candidate pairs sharing a band bucket, exact Jaccard
    rounded to 4 places and kept at ``>= threshold``, and connected
    components keyed by their minimum doc id. Chunk dedup keeps the first
    occurrence, by (doc_id, position), of every 8-word chunk.

    ``prefixes`` holds, per doc-id bound in ``bounds``, the same batch run
    over the documents below it: accepted (rows, chars) and the keeper of
    each of ``keys`` (None when the document is not in the prefix)."""
    from migration_pair_spark.operators import dedup as dd

    ids = [int(i) for i in docs["doc_id"]]
    texts = dict(zip(ids, docs["text"]))
    k = dd.SHINGLE_K
    shingles = {
        i: {t[p : p + k] for p in range(max(len(t) - k + 1, 1))} for i, t in texts.items()
    }
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sh in shingles.items():
        sig = [min(_md5(seed + x) for x in sh) for seed in dd.MINHASH_SEEDS]
        for b, cols in enumerate(dd.DEFAULT_BANDS):
            key = _md5("|".join(sig[j] for j in cols))
            buckets.setdefault((b, key), []).append(i)
    pairs = {(a, b) for members in buckets.values() for a in members for b in members if a < b}
    linked = []
    for a, b in sorted(pairs):
        inter = len(shingles[a] & shingles[b])
        jac = inter / (len(shingles[a]) + len(shingles[b]) - inter)
        if math.floor(jac * 10_000 + 0.5) / 10_000 >= threshold:
            linked.append((a, b))

    def components(hi: float) -> dict[int, int]:
        parent = {i: i for i in ids if i < hi}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in linked:
            if b < hi:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in parent}

    def accepted(keepers: dict[int, int]) -> tuple[int, int]:
        acc = [i for i, kp in keepers.items() if kp == i]
        return len(acc), sum(len(texts[i]) for i in acc)

    keepers = components(math.inf)
    rows, chars = accepted(keepers)
    prefixes = []
    for hi in bounds:
        kp = components(hi)
        n, c = accepted(kp)
        prefixes.append(
            {"doc_end": int(hi), "rows": n, "chars": c, "lookups": {str(x): kp.get(x) for x in keys}}
        )

    seen: set[str] = set()
    chunks = {}
    for i in sorted(ids):
        words = texts[i].split()
        parts = [" ".join(words[c : c + dd.CHUNK_W]) for c in range(0, len(words), dd.CHUNK_W)]
        kept = []
        for c in parts:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        chunks[str(i)] = [len(parts), len(kept), " ".join(kept)]
    return {
        "keepers": {str(i): kp for i, kp in keepers.items()},
        "accepted_rows": rows,
        "accepted_chars": chars,
        "chunks": chunks,
        "prefixes": prefixes,
    }
