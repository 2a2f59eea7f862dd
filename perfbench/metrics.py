"""Turn one run's raw record (written by ``workloads.py``) into the
end-to-end metrics, the per-layer metrics of a traced run, and the
workload-specific detail the report prints. Pure: no Spark."""

from __future__ import annotations

import statistics

from perfbench import stats
from perfbench.spans import COUNTERS

#: (name, unit) of the end-to-end metrics every workload reports
END_TO_END = (
    ("setup_s", "s"),
    ("retained_mb", "MB"),
    ("bulk_events_per_s", "rows/s"),
    ("stream_events_per_s", "rows/s"),
    ("batch_p50_s", "s"),
    ("stored_bytes_per_row", "B/row"),
    ("lookup_p50_ms", "ms"),
    ("scan_p50_s", "s"),
)

#: (name, unit) of the per-layer metrics every workload reports when traced
PER_LAYER = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.exec_run_ms", "ms"),
    ("spark.exec_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.input_bytes", "B"),
    ("spark.output_bytes", "B"),
    ("spark.driver_gap_ms", "ms"),
    ("spark.slot_util", "ratio"),
    ("session.start_ms", "ms"),
    ("session.warmup_ms", "ms"),
    ("table.bytes_written", "B"),
    ("table.files_written", "count"),
    ("table.write_amp", "ratio"),
    ("table.files_per_bucket_max", "count"),
    ("table.lookup_bytes_read", "B"),
    ("table.scan_bytes_read", "B"),
    ("trace.wall_covered", "ratio"),
)

#: units of the workload-specific detail metrics (printed, not in the JSON line)
DETAIL_UNITS = {
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
    "py_rss_mb": "MB",
    "heap_live_mb": "MB",
    "lookup_p90_ms": "ms",
    "docs_per_s": "docs/s",
    "ingest_p50_s": "s",
    "gen_s": "s",
    "apply.gate_ms": "ms",
    "apply.evolve_ms": "ms",
    "apply.plan_ms": "ms",
    "apply.write_commit_ms": "ms",
    "apply.lww_collapse": "ratio",
    "runner.trigger_overhead_ms": "ms",
    "table.compactions": "count",
    "table.compact_ms": "ms",
    "table.compact_bytes_rewritten": "B",
    "lww.agg_ms": "ms",
    "extract.ms_per_mrow": "ms/Mrow",
    "source.parse_ms": "ms",
    "ingest.jobs": "count",
    "ingest.dedup_p50_s": "s",
    "ingest.chunk_p50_s": "s",
    "ingest.probe_buckets": "count",
    "ingest.accept_ratio": "ratio",
    "dedup.sign_ms": "ms",
    "spark.spill_bytes": "B",
    "spark.unattributed_jobs": "count",
}


def _median(xs, default=None):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def _durations(spans: list[dict], name: str) -> list[float]:
    return [s["attrs"]["dur_s"] for s in spans if s["name"] == name]


def _batches(result: dict) -> list[dict]:
    return [b for p in result["passes"] for b in p["batches"]]


def end_to_end(result: dict) -> dict:
    """End-to-end metric values plus their sample counts."""
    batches = _batches(result)
    bulk = [b for b in batches if b["index"] == 0]
    steady = [b for b in batches if b["index"] > 0]
    lookups = [d * 1000 for d in _durations(result["spans"], "lookup")]
    scans = _durations(result["spans"], "scan")
    stored = []
    for p, rows in zip(result["passes"], result["live_rows"]):
        live = sum(c[-1]["live_bytes"] for c in p["commits"].values() if c)
        stored.append(live / max(rows, 1))
    lk = stats.summarize(lookups)
    out = {
        "setup_s": result["session_s"] + result["warmup_s"],
        "retained_mb": result["py_rss_mb"] + result["heap_live_mb"],
        "bulk_events_per_s": _median([b["rows"] / b["work_s"] for b in bulk]),
        "stream_events_per_s": sum(b["rows"] for b in steady) / sum(b["dur_s"] for b in steady),
        "batch_p50_s": _median([b["dur_s"] for b in steady]),
        "stored_bytes_per_row": _median(stored),
        "lookup_p50_ms": lk.get("p50"),
        "scan_p50_s": _median(scans),
    }
    counts = {
        "bulk_events_per_s": len(bulk),
        "stream_events_per_s": len(steady),
        "batch_p50_s": len(steady),
        "lookup_p50_ms": len(lookups),
        "scan_p50_s": len(scans),
    }
    detail = {
        "error_rate": result["failed"] / max(result["attempted"], 1),
        "peak_rss_mb": result["peak_rss_mb"],
        "py_rss_mb": result["py_rss_mb"],
        "heap_live_mb": result["heap_live_mb"],
        "gen_s": result["gen_s"],
    }
    # printed as n/a where they do not apply: every row names all metrics
    detail["lookup_p90_ms"] = lk.get("p90")
    counts["lookup_p90_ms"] = len(lookups)
    dedup = result["workload"] == "dedup_ingest"
    detail["docs_per_s"] = out["stream_events_per_s"] if dedup else None
    detail["ingest_p50_s"] = out["batch_p50_s"] if dedup else None
    return {"metrics": out, "counts": counts, "detail": detail}


def _units(result: dict, spans: list[dict]) -> list[list[dict]]:
    """The spans making up each measured batch: one micro-batch span, or
    the two ingest spans of one document batch. Bulk batches excluded."""
    if result["workload"] == "dedup_ingest":
        ingests = [s for s in spans if s["name"] in ("dedup.ingest", "chunk.ingest")]
        pairs = [ingests[i : i + 2] for i in range(0, len(ingests), 2)]
        return [u for u in pairs if u[0]["attrs"]["index"] > 0]
    return [[s] for s in spans if s["name"] == "batch" and s["attrs"]["index"] > 0]


def per_layer(result: dict, cores: int) -> tuple[dict, dict]:
    """(per-layer metrics, workload-specific detail) of a traced run."""
    spans = result["spans"]
    units = _units(result, spans)
    n = max(len(units), 1)
    tot = dict.fromkeys(COUNTERS, 0.0)
    gaps, wall_ms = [], 0.0
    for u in units:
        for s in u:
            for k in COUNTERS:
                tot[k] += s["spark"][k]
        gaps.append(sum(s["spark"]["driver_gap_ms"] for s in u))
        wall_ms += sum(s["end_ms"] - s["start_ms"] for s in u)
    out = {f"spark.{k}": tot[k] / n for k in COUNTERS if k != "spill_bytes"}
    out["spark.driver_gap_ms"] = _median(gaps, 0.0)
    out["spark.slot_util"] = tot["exec_run_ms"] / max(wall_ms * cores, 1e-9)
    out["session.start_ms"] = result["session_s"] * 1000
    out["session.warmup_ms"] = result["warmup_s"] * 1000
    detail = {
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.unattributed_jobs": result.get("unattributed_jobs", 0),
        **result["replays"],
    }

    src_bytes = result["manifest"]["file_bytes"]
    written, files, amp_src, compact_ms, compact_bytes, fpb = [], [], 0, [], [], 0
    if result["workload"] == "dedup_ingest":
        # a table's first manifest is its creation; each ingest then commits
        # once to each of the four tables, in batch order
        for p in result["passes"]:
            tables = list(p["commits"].values())
            fpb = max([fpb] + [c["files_per_bucket_max"] for cs in tables for c in cs])
            for i in range(1, len(p["batches"])):
                batch = [cs[i + 1] for cs in tables if len(cs) > i + 1]
                written.append(sum(c["bytes_added"] for c in batch))
                files.append(sum(c["files_added"] for c in batch))
                amp_src += src_bytes[i]
    else:
        for p, commits in ((p, c) for p in result["passes"] for c in p["commits"].values()):
            by_version = {c["version"]: c for c in commits}
            fpb = max([fpb] + [c["files_per_bucket_max"] for c in commits])
            for b in p["batches"]:
                lin = b["lineage"]
                c = by_version.get(lin.get("snapshot_id"))
                if b["index"] > 0 and c is not None:
                    written.append(c["bytes_added"])
                    files.append(c["files_added"])
                    amp_src += src_bytes[b["index"]]
                cv = lin.get("auto_compact_snapshot")
                if cv is not None and cv in by_version:
                    # the compaction commit follows the batch's own commit;
                    # MOR compaction may add one more, file-less manifest
                    comp = next(
                        (x for x in commits if x["compaction"] and lin["snapshot_id"] < x["version"] <= cv),
                        None,
                    )
                    prev = by_version.get(lin["snapshot_id"])
                    if comp is not None and prev is not None:
                        compact_ms.append(by_version[cv]["committed_at_ms"] - prev["committed_at_ms"])
                        compact_bytes.append(comp["bytes_added"])
                        b["compact_ms"] = compact_ms[-1]
    out["table.bytes_written"] = _mean(written)
    out["table.files_written"] = _mean(files)
    out["table.write_amp"] = sum(written) / max(amp_src, 1)
    out["table.files_per_bucket_max"] = fpb
    look = [s["spark"]["input_bytes"] for s in spans if s["name"] == "lookup"]
    scan = [s["spark"]["input_bytes"] for s in spans if s["name"] == "scan"]
    out["table.lookup_bytes_read"] = _mean(look)
    out["table.scan_bytes_read"] = _mean(scan)

    pass_wall_ms = sum(p["end_ms"] - p["start_ms"] for p in result["passes"])
    reads_ms = sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] in ("lookup", "scan"))
    if result["workload"] == "dedup_ingest":
        batches = _batches(result)
        steady = [b for b in batches if b["index"] > 0]
        covered = sum(b["dur_s"] for b in batches) * 1000 + reads_ms
        detail.update(
            {
                "ingest.jobs": out["spark.jobs"],
                "ingest.dedup_p50_s": _median([b["dedup_s"] for b in steady]),
                "ingest.chunk_p50_s": _median([b["chunk_s"] for b in steady]),
                "ingest.probe_buckets": _mean([b["probe_buckets"] for b in steady]),
                "ingest.accept_ratio": sum(b["n_accepted"] for b in steady)
                / max(sum(b["n_new"] for b in steady), 1),
            }
        )
    else:
        batches = _batches(result)
        steady = [b for b in batches if b["index"] > 0]
        # merge-on-read writes and commits in one phase, "write_commit"
        named = ("gate", "evolve", "plan", "write_commit")

        def phase(b, k):
            return (b["lineage"].get("phase_ms") or {}).get(k, 0)

        covered = reads_ms
        trig = []
        for b in batches:
            wall = b["lineage"].get("wall_ms") or 0
            t = b["dur_s"] * 1000 - wall - b.get("compact_ms", 0)
            covered += sum(phase(b, k) for k in named) + t + b.get("compact_ms", 0)
            if b["index"] > 0:
                trig.append(t)
        detail.update(
            {
                "apply.gate_ms": _median([phase(b, "gate") for b in steady]),
                "apply.evolve_ms": _median([phase(b, "evolve") for b in steady]),
                "apply.plan_ms": _median([phase(b, "plan") for b in steady]),
                "apply.write_commit_ms": _median([phase(b, "write_commit") for b in steady]),
                "apply.lww_collapse": _median(
                    [
                        ((b["lineage"].get("rows_upserted") or 0) + (b["lineage"].get("rows_deleted") or 0))
                        / max(b["rows"], 1)
                        for b in steady
                    ]
                ),
                "runner.trigger_overhead_ms": _median(trig),
                "table.compactions": len(compact_ms),
                "table.compact_ms": _median(compact_ms, 0.0),
                "table.compact_bytes_rewritten": _mean(compact_bytes),
            }
        )
    out["trace.wall_covered"] = covered / max(pass_wall_ms, 1e-9)
    detail["trace.driver_gap_share"] = sum(gaps) / max(wall_ms, 1e-9)
    return out, detail
