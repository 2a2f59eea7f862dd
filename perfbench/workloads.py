"""One run of one benchmark workload, in its own process.

Started by ``perfbench/run.py`` (which pins the environment) as
``python3 -m perfbench.workloads --workload W --seed N --seconds S --trace T
--work DIR --cache DIR --out FILE`` from the root of a source checkout. The
run drives the engine only through public calls, checks every output
against an oracle, and writes its measurements to ``--out`` as JSON.

Each workload is a closed loop with one driver thread: the next batch, read
or ingest starts only when the previous call has returned. A *pass* replays
the workload's whole input into fresh tables, reading the tables back after
every batch; the run measures whole passes until ``--seconds`` would be
exceeded (at least one), after an untimed two-batch warm-up pass over an
input of a fixed seed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from functools import partial

ROOT = os.getcwd()
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, spans as sp  # noqa: E402

WARMUP_SEED = 0
CDC_BUCKETS = 8
CDC = inputs.CdcSize(102_000, 5_250, 30, 4, 10)  # the 10th key is never written
CDC_WARM = inputs.CdcSize(12_000, 3_000, 2, 1, 2)
COMPACT_FILES_PER_BUCKET = 14
WARM_COMPACT_FILES_PER_BUCKET = 4  # low enough that the warm-up compacts
DOC_BUCKETS = 8
DOCS = inputs.DocsSize(480, 4, 8)
DOCS_WARM = inputs.DocsSize(60, 2, 1)
DEDUP_THRESHOLD = 0.5
LOOKUPS_PER_READ = 2  # point lookups after each batch, then one scan


class Run:
    """Session, spans and operation counts of one benchmark run."""

    def __init__(self, spark, work: str, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.traced = traced
        self.spans: list[sp.Span] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._groups = 0  # never reset: warm-up groups must not be reused

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call; in traced runs its Spark jobs carry a job group
        naming the span."""
        group = prev = None
        if self.traced:
            self._groups += 1
            group = f"{name}#{self._groups}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        s = sp.Span(name, time.time() * 1000, 0.0, group, None, attrs)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.attrs["dur_s"] = time.perf_counter() - t0
            s.end_ms = time.time() * 1000
            self.spans.append(s)
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def check(self, ok: bool, what: str) -> None:
        """Count an oracle comparison; a mismatch is a failed operation."""
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


# ---------------------------------------------------------------- reads


def read_back(run: Run, prefix: dict, keys: list, lookup, want, scan) -> None:
    """Point lookups of ``keys`` and one full scan aggregating the text
    payload, each checked against ``prefix``, the oracle state after the
    batch just committed. ``lookup(key)`` is a one-column DataFrame whose
    values must equal ``want(key)``; ``scan()`` is the DataFrame scanned."""
    from pyspark.sql import functions as F

    for key in keys:
        run.attempted += 1
        with run.span("lookup"):
            got = [r[0] for r in lookup(key).collect()]
        run.check(got == want(key), f"lookup {key} after {prefix_name(prefix)}: got {str(got)[:80]}")
    run.attempted += 1
    with run.span("scan"):
        r = scan().agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")).collect()[0]
    run.check(
        (r["n"], r["chars"] or 0) == (prefix["rows"], prefix["chars"]),
        f"scan after {prefix_name(prefix)}: (rows, chars) = ({r['n']}, {r['chars']}) "
        f"!= ({prefix['rows']}, {prefix['chars']})",
    )


def prefix_name(prefix: dict) -> str:
    return f"lsn {prefix['lsn_end']}" if "lsn_end" in prefix else f"doc {prefix['doc_end']}"


def rotating(keys: list, i: int, k: int) -> list:
    """The ``k`` keys read after batch ``i``: the key list in rotation."""
    return [keys[(i * k + j) % len(keys)] for j in range(k)]


# ---------------------------------------------------------------- CDC


def cdc_pass(run: Run, entry: str, manifest: dict, tag: str, warm: bool) -> dict:
    """Stream the whole change stream into a fresh merge-on-read table (one
    file per micro-batch) with ``run_stream``, reading the table back after
    every commit. The warm-up pass compacts early and reads once, at its
    end. Returns the pass record."""
    from migration_pair_spark.cdc.runner import CdcPipeline
    from migration_pair_spark.functions.extract import extract_text
    from migration_pair_spark.lakehouse.table import LakeTable

    table_path = os.path.join(run.work, f"{tag}-table")
    pipe = CdcPipeline(
        table_path=table_path,
        n_buckets=CDC_BUCKETS,
        salt_buckets=CDC_BUCKETS,
        write_mode="mor",
        source_format="debezium-json",
        auto_compact_files_per_bucket=WARM_COMPACT_FILES_PER_BUCKET if warm else COMPACT_FILES_PER_BUCKET,
    )
    keys = manifest["lookup_keys"]
    n_files = len(manifest["files"])
    batches: list[dict] = []
    mark = {}

    def read(i: int) -> None:
        prefix = manifest["prefixes"][i]
        table = LakeTable.load(run.spark, table_path)
        read_back(
            run, prefix, keys[:1] if warm else rotating(keys, i, LOOKUPS_PER_READ),
            lookup=lambda k: table.lookup(k).select("text"),
            want=lambda k: [] if prefix["lookups"][k] is None else [extract_text(prefix["lookups"][k][1].encode())],
            scan=table.read,
        )

    def on_batch(batch_id, lineage):
        now, now_ms = time.perf_counter(), time.time() * 1000
        i = len(batches)
        rec = {
            "index": i,
            "dur_s": now - mark["t"],
            # the engine's own time for the batch: no stream start-up, which
            # the first callback interval would include
            "work_s": (lineage.get("wall_ms") or 0) / 1000,
            "rows": lineage.get("rows_in_batch", 0),
            "lineage": {
                k: lineage.get(k)
                for k in (
                    "rows_upserted", "rows_deleted", "wall_ms", "phase_ms",
                    "snapshot_id", "auto_compact_snapshot",
                )
            },
        }
        batches.append(rec)
        run.spans.append(
            sp.Span("batch", mark["ms"], now_ms, None, str(batch_id), {"index": i, "dur_s": rec["dur_s"]})
        )
        run.attempted += 1
        if not warm or i == n_files - 1:
            read(i)
        mark["t"], mark["ms"] = time.perf_counter(), time.time() * 1000

    t0 = time.perf_counter()
    mark["t"], mark["ms"] = t0, time.time() * 1000
    pipe.run_stream(run.spark, os.path.join(entry, "events"), os.path.join(run.work, f"{tag}-ckpt"), 1, on_batch)
    run.check(len(batches) == n_files, f"{tag}: {len(batches)} micro-batches for {n_files} files")
    return {"table": table_path, "batches": batches, "wall_s": time.perf_counter() - t0}


def verify_cdc(run: Run, table_path: str, entry: str, manifest: dict, seed: int) -> int:
    """Final state vs ``synth.oracle_final_state``: key set, winning LSN per
    key, deleted keys absent, and extracted text on a seeded key sample.
    Returns the live row count."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from migration_pair_spark.functions.extract import extract_text_series
    from migration_pair_spark.lakehouse.table import LakeTable

    table = LakeTable.load(run.spark, table_path)
    got = table.read(include_tombstones=True).select("url", "_lsn", "_deleted").toPandas()
    live = got[~got["_deleted"].fillna(False).astype(bool)]
    oracle = pd.read_parquet(os.path.join(entry, "oracle.parquet"))
    run.check(live["url"].is_unique, "final state: duplicate live keys")
    want = dict(zip(oracle["url"], oracle["change_lsn"]))
    have = dict(zip(live["url"], live["_lsn"]))
    run.check(set(have) == set(want), f"final state: key sets differ by {len(set(have) ^ set(want))}")
    wrong = sum(1 for k, v in want.items() if k in have and int(have[k]) != int(v))
    run.check(wrong == 0, f"final state: {wrong} keys with a non-winning change_lsn")
    zombies = set(manifest["deleted_keys"]) & set(have)
    run.check(not zombies, f"final state: {len(zombies)} deleted keys still live")
    sample = oracle.sample(n=min(64, len(oracle)), random_state=np.random.RandomState(seed))
    texts = dict(
        (r["url"], r["text"])
        for r in table.read().filter(F.col("url").isin(list(sample["url"]))).select("url", "text").collect()
    )
    expect = dict(zip(sample["url"], extract_text_series(sample["html"].reset_index(drop=True))))
    bad = sum(1 for k, v in expect.items() if texts.get(k) != v)
    run.check(bad == 0, f"final state: {bad} sampled keys whose text differs from extract_text")
    return len(live)


# ---------------------------------------------------------------- dedup


def dedup_pass(run: Run, entry: str, manifest: dict, tag: str, warm: bool) -> dict:
    """Ingest every batch through a fresh IncrementalDeduper and
    IncrementalChunkIndex, reading the deduped corpus back after every batch
    (the warm-up pass reads once, at its end)."""
    from migration_pair_spark.operators.incremental import (
        IncrementalChunkIndex,
        IncrementalDeduper,
    )

    with open(os.path.join(entry, "truth.json")) as f:
        prefixes = json.load(f)["prefixes"]
    root = os.path.join(run.work, tag)
    t0 = time.perf_counter()
    deduper = IncrementalDeduper.create(
        run.spark, os.path.join(root, "dedup"), corpus_buckets=DOC_BUCKETS,
        index_buckets=DOC_BUCKETS, threshold=DEDUP_THRESHOLD,
    )
    chunks = IncrementalChunkIndex.create(
        run.spark, os.path.join(root, "chunk"), corpus_buckets=DOC_BUCKETS,
        index_buckets=DOC_BUCKETS,
    )
    keys = manifest["lookup_keys"]
    batches = []
    for i, rel in enumerate(manifest["files"]):
        df = run.spark.read.parquet(os.path.join(entry, rel))
        run.attempted += 2
        with run.span("dedup.ingest", index=i) as s1:
            r1 = deduper.ingest(df, f"b{i}")
        with run.span("chunk.ingest", index=i) as s2:
            r2 = chunks.ingest(df, f"b{i}")
        dur_s = s1.attrs["dur_s"] + s2.attrs["dur_s"]
        batches.append(
            {
                "index": i,
                "dur_s": dur_s,
                "work_s": dur_s,
                "dedup_s": s1.attrs["dur_s"],
                "chunk_s": s2.attrs["dur_s"],
                "rows": manifest["rows_per_file"][i],
                "n_new": r1.get("n_new", 0),
                "n_accepted": r1.get("n_accepted", 0),
                "probe_buckets": len(r1.get("probe_buckets") or []) + len(r2.get("probe_buckets") or []),
            }
        )
        if warm and i < len(manifest["files"]) - 1:
            continue
        prefix = prefixes[i]
        read_back(
            run, prefix, keys[:1] if warm else rotating(keys, i, LOOKUPS_PER_READ),
            lookup=lambda k: deduper.corpus.lookup(k).select("keeper_doc_id"),
            want=lambda k: [] if prefix["lookups"][str(k)] is None else [prefix["lookups"][str(k)]],
            scan=deduper.accepted,
        )
    return {
        "roots": [os.path.join(root, "dedup"), os.path.join(root, "chunk")],
        "deduper": deduper,
        "chunks": chunks,
        "batches": batches,
        "wall_s": time.perf_counter() - t0,
    }


def verify_dedup(run: Run, p: dict, truth: dict) -> int:
    got = {str(r["doc_id"]): int(r["keeper_doc_id"]) for r in p["deduper"].keepers().collect()}
    bad = sum(1 for k, v in truth["keepers"].items() if got.get(k) != v)
    run.check(
        len(got) == len(truth["keepers"]) and bad == 0,
        f"dedup: {bad} keepers differ from the batch run ({len(got)} docs)",
    )
    rw = {
        str(r["doc_id"]): [r["n_chunks"], r["n_kept"], r["deduped_text"]]
        for r in p["chunks"].rewritten().collect()
    }
    bad = sum(1 for k, v in truth["chunks"].items() if rw.get(k) != v)
    run.check(
        len(rw) == len(truth["chunks"]) and bad == 0,
        f"chunk index: {bad} rewritten docs differ from batch chunk_dedup",
    )
    return len(got)


# ---------------------------------------------------------------- storage


def _manifests(table_path: str) -> list[dict]:
    import glob

    out = []
    for fp in sorted(glob.glob(os.path.join(table_path, "manifests", "v*.json"))):
        with open(fp) as f:
            out.append(json.load(f))
    return out


def _file_sizes(table_path: str, manifest: dict) -> dict[str, int]:
    return {
        e["path"]: os.path.getsize(os.path.join(table_path, e["path"]))
        for files in manifest["buckets"].values()
        for e in files
    }


def table_commits(table_path: str) -> list[dict]:
    """Per committed version: files and bytes it added, its commit time,
    max files per bucket, and whether it was a compaction."""
    out, prev = [], {}
    for m in _manifests(table_path):
        sizes = _file_sizes(table_path, m)
        added = [p for p in sizes if p not in prev]
        lineage = m.get("lineage") or {}
        out.append(
            {
                "version": m["version"],
                "committed_at_ms": m.get("committed_at_ms"),
                "files_added": len(added),
                "bytes_added": sum(sizes[p] for p in added),
                "live_bytes": sum(sizes.values()),
                "files_per_bucket_max": max((len(f) for f in m["buckets"].values()), default=0),
                "compaction": bool(lineage.get("compaction")),
            }
        )
        prev = sizes
    return out


# ---------------------------------------------------------------- replays


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay(run: Run, name: str, build, repeats: int = 3) -> float:
    """Median ms of running ``build()`` into a noop sink."""
    times = []
    for _ in range(repeats):
        with run.span(name) as s:
            _noop(build())
        times.append(s.attrs["dur_s"] * 1000)
    return statistics.median(times)


def cdc_replays(run: Run, entry: str, manifest: dict) -> dict:
    """Isolated replays of the bulk batch through the public Debezium parse,
    LWW and extract functions."""
    from pyspark.sql import functions as F

    from migration_pair_spark.cdc.lww import lww_dedup_agg
    from migration_pair_spark.cdc.runner import pages_wire_payload_schema
    from migration_pair_spark.functions.extract import with_extracted_text
    from migration_pair_spark.sources.debezium import read_debezium_jsonl

    fp = os.path.join(entry, manifest["files"][0])

    def source():
        return read_debezium_jsonl(run.spark, fp, pages_wire_payload_schema())

    batch = source().localCheckpoint()
    n_html = batch.filter(F.col("html").isNotNull()).count()
    out = {
        "lww.agg_ms": replay(run, "lww.agg", lambda: lww_dedup_agg(batch)),
        "extract.ms_per_mrow": replay(
            run, "extract", lambda: with_extracted_text(batch.filter(F.col("html").isNotNull()).select("html"))
        ) / (n_html / 1e6),
        "source.parse_ms": replay(run, "source.parse", source),
    }
    return out


def dedup_replays(run: Run, entry: str, manifest: dict) -> dict:
    from migration_pair_spark.operators import dedup as dd

    docs = run.spark.read.parquet(os.path.join(entry, manifest["files"][0])).localCheckpoint()
    return {"dedup.sign_ms": replay(run, "dedup.sign", lambda: dd.minhash_signatures(docs))}


# ---------------------------------------------------------------- process


def _vm_kb(pid, field: str) -> float:
    """A ``/proc/<pid>/status`` memory field in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"{field} missing from /proc/{pid}/status")


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def start_session(work: str, traced: bool):
    from migration_pair_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    proc = _jvm_proc()
    spark.stop()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("cdc_mor_mixed", "dedup_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    wl, traced = a.workload, bool(a.trace)
    is_cdc = wl == "cdc_mor_mixed"

    # -- inputs (cached; generation time is reported, never part of setup_s)
    if is_cdc:
        build = inputs.build_cdc
        size, warm_size = CDC, CDC_WARM
    else:
        build = partial(inputs.build_docs, threshold=DEDUP_THRESHOLD)
        size, warm_size = DOCS, DOCS_WARM
    entry, manifest = inputs.cached(a.cache, wl, a.seed, size, partial(build, seed=a.seed, size=size))
    wentry, wmanifest = inputs.cached(
        a.cache, wl, WARMUP_SEED, warm_size, partial(build, seed=WARMUP_SEED, size=warm_size)
    )

    # -- set-up: session start plus the untimed warm-up pass
    t0 = time.perf_counter()
    spark = start_session(a.work, traced)
    session_s = time.perf_counter() - t0
    run = Run(spark, a.work, traced)
    t1 = time.perf_counter()
    if is_cdc:
        warm = cdc_pass(run, wentry, wmanifest, "warmup", warm=True)
    else:
        warm = dedup_pass(run, wentry, wmanifest, "warmup", warm=True)
    warmup_s = time.perf_counter() - t1
    run.spans.clear()
    run.attempted = run.failed = 0
    run.errors.clear()

    # -- measured passes
    passes = []
    t_meas = time.perf_counter()
    while True:
        tag = f"pass{len(passes)}"
        pass_start_ms = time.time() * 1000
        p = cdc_pass(run, entry, manifest, tag, warm=False) if is_cdc else dedup_pass(run, entry, manifest, tag, warm=False)
        p["start_ms"], p["end_ms"] = pass_start_ms, time.time() * 1000
        passes.append(p)
        elapsed = time.perf_counter() - t_meas
        if elapsed + p["wall_s"] > a.seconds:
            break
    measured_s = time.perf_counter() - t_meas
    jvm = _jvm_proc()
    peak_rss_mb = _vm_kb("self", "VmHWM") + _vm_kb(jvm.pid, "VmHWM")
    # what the session and the engine keep: driver Python RSS plus the JVM
    # heap still in use after a full GC. Python's collector runs first: JVM
    # objects stay reachable while an unreachable Python cycle still holds
    # their py4j proxies. The least of three collections half a second apart
    # is taken: one collection alone read ~80 or ~145 MB at random.
    j = spark.sparkContext._jvm
    mx = j.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    heap_used = []
    for _ in range(3):
        j.System.gc()
        heap_used.append(mx.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    py_rss_mb, heap_live_mb = _vm_kb("self", "VmRSS"), min(heap_used) / 2**20

    # -- oracle checks (untimed)
    t_check = time.perf_counter()
    live_rows = []
    if is_cdc:
        for p in passes:
            live_rows.append(verify_cdc(run, p["table"], entry, manifest, a.seed))
    else:
        with open(os.path.join(entry, "truth.json")) as f:
            truth = json.load(f)
        for p in passes:
            live_rows.append(verify_dedup(run, p, truth))
    check_s = time.perf_counter() - t_check

    replays = {}
    if traced:
        replays = cdc_replays(run, entry, manifest) if is_cdc else dedup_replays(run, entry, manifest)
    java_version = spark.sparkContext._jvm.System.getProperty("java.version")
    stop_session(spark)

    for p in passes:
        roots = [p["table"]] if is_cdc else [
            os.path.join(r, t) for r in p["roots"] for t in ("corpus", "index")
        ]
        p["commits"] = {r: table_commits(r) for r in roots}
        p.pop("deduper", None)
        p.pop("chunks", None)
    result = {
        "workload": wl,
        "seed": a.seed,
        "traced": traced,
        "java_version": java_version,
        "gen_s": manifest["gen_s"],
        "session_s": session_s,
        "warmup_s": warmup_s,
        "measured_s": measured_s,
        "check_s": check_s,
        "peak_rss_mb": peak_rss_mb,
        "py_rss_mb": py_rss_mb,
        "heap_live_mb": heap_live_mb,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "manifest": {k: manifest[k] for k in ("file_bytes", "rows_per_file")},
        "warmup_batch_s": [b["dur_s"] for b in warm["batches"]],
        "passes": passes,
        "live_rows": live_rows,
        "spans": [vars(s) for s in run.spans],
        "replays": replays,
    }
    if traced:
        jobs = sp.read_event_logs(os.path.join(a.work, "eventlog"))
        spans = run.spans
        by_span = sp.attribute(jobs, spans)
        for i, s in enumerate(spans):
            result["spans"][i]["spark"] = sp.span_counters(s, by_span.get(i, []))
        claimed = {j.job_id for v in by_span.values() for j in v}
        lo, hi = passes[0]["start_ms"], passes[-1]["end_ms"]
        result["unattributed_jobs"] = sum(
            1 for j in jobs.values() if lo <= j.start_ms <= hi and j.job_id not in claimed
        )
    with open(a.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
