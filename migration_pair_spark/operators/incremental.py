"""Incremental near-duplicate detection against a PERSISTED signature index.

Batch dedup (operators/dedup.py) recomputes shingles and MinHash signatures
for the whole corpus every run — fine for one-shot curation, wrong for the
operational loop at 100 TB: "1 TB of new documents arrives daily into an
already-deduped corpus". This module persists the LSH band rows as a
LakeTable and signs/probes ONLY the new batch:

    new docs -> shingle -> sign -> band        O(batch): narrow + 1 shuffle
    band rows JOIN index on bucket_key         new x index, bucket-pruned —
                                               NEVER index x index
    candidates -> fetch candidate text         bucket-pruned corpus read
               -> exact Jaccard verify         candidate pairs only
    all new docs + band rows appended          gated, idempotent commits

Structure: three (data table, index table) pairs — LSH text
(:class:`IncrementalDeduper`), SRP embedding
(:class:`IncrementalEmbeddingIndex`) and chunk-key span
(:class:`IncrementalChunkIndex`) — share ONE exactly-once frame,
:class:`_IncrementalIndex`, written once as gate -> sign -> probe ->
commit -> heal:

- gate: ``_gate`` (stats job, uniqueness, replay/heal decision, monotone
  check); empty and replayed batches return before any scope is entered;
- scope: one ``contextlib.ExitStack`` per batch — AQE off, a shuffle width
  sized from ``rows_per_task`` x the variant's ``_fan_out``, persisted
  intermediates released on exit, plus the small-batch repartition;
- commit: the data-table append carrying ``dedup.applied``, then
  ``_append_index`` (always looked up through ``self``);
- heal: ``_heal_index`` re-signs the pending id ranges from the data table;
- shared reads: ``probe_lake_buckets``, the live-bucket scan, the
  candidate-row fetch, ``pending_ranges`` and ``auto_compact``.

Each variant keeps its schemas, ``create`` and three hooks: ``_sign`` (the
batch's rows keyed by doc_id: band rows, SRP bucket rows, or chunk
occurrences), ``_probe_verify`` (returns the data rows and index rows to
commit plus the variant's result fields: keeper resolution and bridge
policy for LSH, quantized cosine for SRP, ``_flag_chunks`` and its
pushed-IN probe for chunks) and ``_index_rows`` (what a heal commits from
signed rows).

Scale shape: the index table is keyed by the LSH bucket string, so a probe
touches only the lake buckets the new batch's band rows hash into — the
index-side SCAN opens those buckets' files and nothing else (file-level
pin in tests/test_incremental_dedup.py). Driver state stays O(n_buckets):
the only collects are two bounded bucket-id sets, one batch-stats row, the
replay gate, and (below the configurable cap) the verified duplicate-edge
set of the batch.

HOT-BUCKET GUARD: a web-scale boilerplate cluster of m near-identical docs
collapses into a single LSH band bucket, and an uncapped probe join emits
O(m^2) candidates before any verify. Index-side buckets holding more than
``dedup.max_bucket`` rows therefore contribute only ONE exemplar row (the
minimum seen doc id) to the probe join — new docs still meet the cluster
(via its exemplar) and are still collapsed into it by the keeper
substitution, but candidate volume stays linear in the batch. Recall
contract: within an over-cap bucket, pairwise candidate enumeration is
reduced to exemplar edges; a bucket that hot IS a near-identical cluster
(every member agreed on a full MinHash band), so cluster membership —
the thing dedup consumes — is preserved whenever the exemplar verifies.
The batch-side new x new join applies the same policy via
``dedup.capped_self_join`` (the join behind ``dedup.lsh_candidate_pairs``).
Pinned on a planted mega-cluster fixture in tests/test_hot_bucket.py.

Semantic contract (pinned by the two-sequential-runs == one-batch-run test):

- The index and corpus keep EVERY seen doc, accepted or rejected, because
  duplicate transitivity flows through rejected docs: if a~b rejected b,
  a later c~b (with c!~a) must still be rejected — exactly what one batch
  run over the union decides. An accepted-only index would silently accept
  c. Rejected rows are marked (keeper_doc_id != doc_id), not dropped; their
  text is retained because IT is what future candidates verify against.
- Doc ids must be MONOTONE across batches (each batch's min id > every seen
  id — the same LSN discipline as the CDC core; enforced via the applied
  doc-id intervals). Ids must also be UNIQUE within a batch: a duplicate
  id would multiply rows through the keeper join and permanently commit
  duplicate corpus rows under the exactly-once gate, so ingest gates on
  count == countDistinct (review-caught, round 4).
- Keeper semantics are GREEDY FROZEN-LABEL: once a doc's keeper is
  committed it never changes. Under monotone ids this equals the batch
  connected-component minima EXCEPT when a new doc BRIDGES two
  previously-committed components (doc x ~ old cluster A and ~ old cluster
  B): a batch run over the union would relabel one old cluster onto the
  other, which no incremental system can honor retroactively. Bridges are
  therefore DETECTED (a resolved component containing >= 2 distinct seen
  keepers) and handled per the ``dedup.on_bridge`` policy: ``error``
  (default) fails the batch loudly before any commit, like the monotone
  gate; ``greedy`` proceeds — the batch's docs join the oldest bridged
  cluster, old clusters keep their labels, and keepers() is documented to
  diverge from a from-scratch batch run for exactly those docs. Pinned in
  tests/test_incremental_dedup.py::test_bridge_*.
- Exactly-once ingest: each table carries a ``dedup.applied`` doc-id
  INTERVAL SET in its manifest properties (the same compacted-interval
  algebra as the CDC gate's ``engine.applied_lsn_ranges`` —
  cdc/apply.py:merge_ranges/subtract_ranges, property-tested in
  tests/test_properties.py), updated atomically WITH the data commit.
  Monotone contiguous ingest keeps the property at ONE interval forever —
  O(active-pending) manifest state, not O(batch history) (pinned by the
  60-micro-batch long-run test in tests/test_dedup_stream.py). A crash between the
  corpus append and the index append leaves the two interval sets
  differing; the difference IS the pending work, and any later ingest (or
  a retry of the same batch) heals it by re-signing exactly those id
  ranges from the corpus. Signing is deterministic, so the healed index is
  byte-equal. ``batch_id`` is retained for lineage/logging only — replay
  identity is the id range itself.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.cdc.apply import (
    _aqe_disabled,
    covered_expr,
    merge_ranges,
    subtract_ranges,
)
from migration_pair_spark.lakehouse.table import LakeTable
from migration_pair_spark.operators import dedup as dd
# re-exported: the union-find lives with dedup_clusters
from migration_pair_spark.operators.dedup import _UnionFind  # noqa: F401

APPLIED_PROP = "dedup.applied"

#: corpus property holding the CDC->dedup bridge's swept-LSN watermark
#: (operators/cdc_dedup.py advances it atomically with each sweep's corpus
#: commit). Stamped "0" at chunk-index CREATE so the watermark is always
#: property-backed on new indexes — deriving it from applied doc-id
#: intervals conflates seed ids with LSNs (review-caught); only indexes
#: predating the property fall back to the derived value.
SWEEP_PROP = "sweep.lsn"
DEFAULT_MAX_BUCKET = 1000

_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("keeper_doc_id", T.LongType(), True),
    ]
)
_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)


@contextlib.contextmanager
def _scoped_shuffle_partitions(spark, n: int):
    """Temporarily size spark.sql.shuffle.partitions DOWN to ``n`` for one
    ingest's jobs (saved/restored; never raises the value). The ingest
    pipelines shuffle O(batch) rows — at the session default (cluster
    width) a small batch pays a full wave of near-empty reduce tasks per
    shuffle stage, pure scheduler overhead across the ~10 stages of an
    ingest. ``n`` derives from the batch's ROW COUNT (the same
    rows_per_task sizing as the signing repartition), so a cluster-scale
    batch keeps the session value — this is data-adaptive, not a local
    tuning constant."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if int(prev) <= n:
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextlib.contextmanager
def _kept():
    """Yields ``keep(df)``: persist ``df`` (lazy — materialized inside its
    first consumer job, reused after) until the scope exits. The round-4
    ingest spent ~7 jobs on eager localCheckpoints of DataFrames that only
    needed recompute protection, not lineage truncation."""
    cached: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    try:
        yield keep
    finally:
        for df in cached:
            df.unpersist()


def _with_system(df: DataFrame, table: LakeTable) -> DataFrame:
    """``df`` with the system columns of a fresh append to ``table``."""
    return (
        df.withColumn("_lsn", F.lit(0).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", table.bucket_expr())
    )


def _live(table: LakeTable, buckets: list[int]) -> DataFrame:
    """The non-tombstoned rows of ``table``'s named lake buckets."""
    return table.read_buckets(buckets).filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    )


def _touched_buckets(table: LakeTable, rows: DataFrame, col: str) -> list[int]:
    """The lake buckets of ``table`` that ``rows[col]`` hash into: a
    bounded driver collect (<= table.n_buckets values) — the same shape as
    the CDC gate's touched-bucket set."""
    ids = rows.select(table.bucket_expr(col).alias("b")).distinct().collect()
    return sorted(int(r["b"]) for r in ids)


def applied_ranges(
    table: LakeTable, range_source: "LakeTable | None" = None
) -> list[tuple[int, int]]:
    """The committed applied doc-id intervals of a dedup table.

    LEGACY FALLBACK (review-caught): tables written by the round-4 gate
    carry a ``dedup.batches`` id list plus per-batch ``dedup.batch.{id}``
    = [lo, hi] properties instead of the interval set — and the INDEX
    table's ranges live on its corpus/vectors sibling (``range_source``).
    Loading such a table with an empty applied set would silently disable
    the exactly-once and monotone gates (a replayed batch would re-commit
    duplicate rows forever), so the legacy layout is reconstructed — or
    refused loudly when its range properties are gone."""
    p = table.properties
    if APPLIED_PROP in p:
        return [
            (int(lo), int(hi)) for lo, hi in json.loads(p[APPLIED_PROP])
        ]
    legacy = p.get("dedup.batches")
    if legacy is None:
        return []
    src = (range_source or table).properties
    ranges = []
    for bid in json.loads(legacy):
        r = src.get(f"dedup.batch.{bid}")
        if r is None:
            raise ValueError(
                f"table {table.path} uses the legacy dedup batch gate but "
                f"range property dedup.batch.{bid} is missing — cannot "
                "reconstruct the applied intervals; re-create the deduper "
                "or restore the sibling table's properties"
            )
        lo, hi = json.loads(r)
        ranges.append((int(lo), int(hi)))
    return merge_ranges(ranges)


def _covered(lo: int, hi: int, ranges: list[tuple[int, int]]) -> bool:
    return not subtract_ranges([(lo, hi)], ranges)


class _IncrementalIndex:
    """A persisted (data table, index table) pair with exactly-once batch
    ingest: the frame all three variants share (module docstring).

    Subclasses set the data table's directory and id column, the lineage
    tag of their commits, the result keys holding DataFrames (None on
    empty/replayed batches) and counters (0 on empty batches), and
    ``_fan_out`` — derived shuffle rows per batch row, which sizes the
    scoped shuffle width — and implement the hooks ``_sign`` and
    ``_probe_verify`` (``_index_rows`` defaults to the band-row index)."""

    _DATA, _ID, _TAG = "corpus", "doc_id", "dedup"
    _FRAMES: tuple[str, ...] = ()
    _COUNTERS: tuple[str, ...] = ()
    _fan_out: int
    rows_per_task: int

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data = LakeTable.load(spark, os.path.join(root, self._DATA))
        self.index = LakeTable.load(spark, os.path.join(root, "index"))

    @classmethod
    def _create_pair(
        cls, spark, root, data_schema, data_buckets, props, index_schema,
        index_buckets, data_blooms=(), index_blooms=(),
    ):
        """Create both tables, each with an empty applied-interval set;
        the index is keyed by its schema's first column."""
        LakeTable.create(
            spark,
            os.path.join(root, cls._DATA),
            data_schema,
            key_col=cls._ID,
            n_buckets=data_buckets,
            properties={**props, APPLIED_PROP: "[]"},
            bloom_filter_cols=data_blooms,
        )
        LakeTable.create(
            spark,
            os.path.join(root, "index"),
            index_schema,
            key_col=index_schema.fieldNames()[0],
            n_buckets=index_buckets,
            properties={APPLIED_PROP: "[]"},
            bloom_filter_cols=index_blooms,
        )
        return cls(spark, root)

    # ---------------------------------------------------------------- hooks

    def _sign(self, batch: DataFrame) -> DataFrame:
        """The batch's signed rows, keyed by doc_id."""
        raise NotImplementedError

    def _probe_verify(
        self, batch: DataFrame, keep, g: dict, batch_id: str
    ) -> tuple[DataFrame, DataFrame, dict]:
        """(data rows, index rows, result fields) for a gated batch."""
        raise NotImplementedError

    def _index_rows(self, signed: DataFrame, keep, n_docs: int) -> DataFrame:
        """The index rows that ``signed`` rows contribute (LSH/SRP: the
        bucket rows themselves)."""
        return signed.select("bucket_key", "doc_id")

    # ------------------------------------------------------------- internals

    def pending_ranges(self) -> list[tuple[int, int]]:
        """Id intervals committed to the data table but not the index —
        the exact recovery work a crash between the two commits leaves
        behind."""
        return subtract_ranges(
            applied_ranges(self.data), applied_ranges(self.index, self.data)
        )

    def _refuse_while_lagging(self, op: str, runs: str) -> None:
        """Purges refuse while the index lags the data table: heal re-signs
        pending ranges FROM data rows a purge would have holed."""
        self.data.refresh()
        self.index.refresh()
        pending = self.pending_ranges()
        if pending:
            raise ValueError(
                f"{op}: index lags the corpus (pending id ranges "
                f"{pending}) — run {runs} first (it heals "
                f"automatically), then purge"
            )

    def _index_has_rows(self) -> bool:
        # cold start: an empty index has no probe targets
        return any(self.index.manifest["buckets"].values())

    def probe_lake_buckets(self, rows: DataFrame) -> list[int]:
        """The index lake buckets the probe must open: distinct
        pmod(xxhash64(key), n_buckets) over the NEW batch's index-key rows
        (see _touched_buckets)."""
        return _touched_buckets(self.index, rows, self.index.key_col)

    def _probe_index(
        self, signed: DataFrame, keep=lambda df: df
    ) -> tuple[DataFrame, list[int]]:
        """The LSH/SRP probe: bucket-pruned index scan joined to the new
        band rows — candidate (doc_a, doc_b, seen_doc_id) pairs. The index
        side reads ONLY the probe buckets' files (new x index — the index
        never self-joins), and over-cap buckets contribute only their
        exemplar via the shared tiny-agg + broadcast cap
        (dedup.cap_exemplar_star; module docstring). ``keep`` persists the
        pruned scan: the cap consumes it twice (per-bucket aggregate +
        join back), and without the cache each consumer would re-read the
        probe buckets' files (review-caught)."""
        lake_buckets = self.probe_lake_buckets(signed)
        idx = _live(self.index, lake_buckets).select(
            "bucket_key", F.col("doc_id").alias("seen_doc_id")
        )
        if self.max_bucket:
            idx = keep(idx)
        idx = dd.cap_exemplar_star(
            idx, ["bucket_key"], "seen_doc_id", self.max_bucket
        )
        cand = (
            signed.select("bucket_key", F.col("doc_id").alias("new_doc_id"))
            .join(idx, "bucket_key")
            .filter(F.col("seen_doc_id") != F.col("new_doc_id"))
            .select(
                F.least("seen_doc_id", "new_doc_id").alias("doc_a"),
                F.greatest("seen_doc_id", "new_doc_id").alias("doc_b"),
                "seen_doc_id",
            )
            .distinct()
        )
        return cand, lake_buckets

    def _candidate_rows(self, ids: DataFrame, *cols: str) -> DataFrame:
        """Data rows (id + ``cols``) for candidate SEEN ids only, via a
        bucket-pruned read: collect the bounded set of lake buckets the
        ids hash into, open only those, semi-join down to the candidates."""
        buckets = _touched_buckets(self.data, ids, self._ID)
        return (
            _live(self.data, buckets)
            .select(self._ID, *cols)
            .join(F.broadcast(ids), self._ID, "left_semi")
        )

    def _lineage(self, kind: str, label: str, n: int) -> dict:
        # {"dedup_ingest": batch id, "n_docs": n}, {"emb_heal": ranges,
        # "n_vecs": n}, ...
        return {f"{self._TAG}_{kind}": label, f"n_{self._ID[:-3]}s": n}

    def _gate(self, batch: DataFrame, batch_id: str) -> dict:
        """The exactly-once batch gate: one bounded stats job (id range +
        count + uniqueness), the replay/heal decision from the two
        applied-interval sets, the monotone check, pre-probe healing of any
        pending interval (an index missing committed entries would accept
        what it should reject — never retractable), and the gap-absorbed
        committed range. One copy for all three variants: a gate fix
        applied to one copy and not the others is exactly how the round-4
        unique-id hole happened.

        Returns one of
          {"status": "empty"}
          {"status": "replayed", "healed": bool}   (fully-covered batch)
          {"status": "ok", "lo", "hi", "n_new", "rng", "applied"}
        and raises ValueError on duplicate or non-monotone ids."""
        col, noun = self._ID, f"{self._ID[:-3]} ids"
        stats = batch.agg(
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(col).alias("nd"),
        ).collect()[0]
        if stats["lo"] is None:
            return {"status": "empty"}
        lo, hi, n_new = int(stats["lo"]), int(stats["hi"]), int(stats["n"])
        if int(stats["nd"]) != n_new:
            raise ValueError(
                f"batch {batch_id}: {noun} must be unique within a batch "
                f"({n_new - int(stats['nd'])} duplicated) — a duplicate id "
                "would commit duplicate rows under the exactly-once gate"
            )
        applied = applied_ranges(self.data)
        idx_applied = applied_ranges(self.index, self.data)
        if _covered(lo, hi, applied):
            if _covered(lo, hi, idx_applied):
                return {"status": "replayed", "healed": False}
            # heal the FULL data-vs-index difference (not just this batch's
            # literal range): committed intervals are gap-absorbed, so the
            # pending span may start below the batch's min id
            self._heal_index(subtract_ranges(applied, idx_applied))
            return {"status": "replayed", "healed": True}
        # None, not -1, as the nothing-applied sentinel: ids are arbitrary
        # longs (snapshot seeds deliberately use NEGATIVE ids to stay below
        # the LSN space) and a -1 sentinel rejected any negative first batch
        # (review-caught by the seeding tests)
        seen_max = applied[-1][1] if applied else None
        if seen_max is not None and lo <= seen_max:
            raise ValueError(
                f"batch {batch_id}: {noun} must be monotone across batches "
                f"(batch min {lo} <= seen max {seen_max})"
            )
        pending = subtract_ranges(applied, idx_applied)
        if pending:
            self._heal_index(pending)
        # the committed interval extends DOWN to the watermark: the monotone
        # gate guarantees ids in (seen_max, lo) can never legitimately arrive
        # later, so absorbing the gap keeps the applied set at exactly ONE
        # interval forever — O(1) manifest state, not O(batch history)
        return {
            "status": "ok",
            "lo": lo,
            "hi": hi,
            "n_new": n_new,
            "rng": (seen_max + 1 if seen_max is not None else lo, hi),
            "applied": applied,
        }

    # --------------------------------------------------------------- ingest

    def _ingest(
        self, batch: DataFrame, batch_id: str, corpus_properties=None
    ) -> dict:
        """gate -> sign -> probe -> commit for one batch (module
        docstring). A batch of never-committed gap ids is
        indistinguishable from a redelivery and no-ops; under the monotone
        allocator contract such a batch is already a violation."""
        g = self._gate(batch, batch_id)
        if g["status"] == "empty":
            # quiet-day case: nothing arrived — clean no-op, no commits
            return {
                "replayed": False,
                "empty": True,
                **dict.fromkeys(self._FRAMES),
                "n_new": 0,
                **dict.fromkeys(self._COUNTERS, 0),
            }
        if g["status"] == "replayed":
            out = {"replayed": True, **dict.fromkeys(self._FRAMES)}
            if g["healed"]:
                out["healed"] = "index"
            return out
        n_new, rng = g["n_new"], g["rng"]
        # Parallelize the narrow signing chain: a small batch often arrives
        # as ONE file -> one input partition, and the explode-heavy map then
        # runs single-threaded (profiled ~2 s of a ~10 s LSH ingest at
        # sf0.1). The target partition count is sized by the batch's ROW
        # count (known from the stats job) — a tiny batch must not fan out
        # to full cluster width and pay scheduler overhead per near-empty
        # task; a large multi-file batch keeps its natural partitioning and
        # pays no shuffle. A related width bounds the ingest's SHUFFLE
        # stages (scoped conf): reduce waves sized to the batch, not the
        # cluster — but sized by the DERIVED row volume (_fan_out rows per
        # batch row), not the raw count, so a small batch never collapses
        # the verify stages to one task (a doc-count-sized width of 1
        # serialized the SRP cosine verify: measured 10 s -> 19 s at sf0.1).
        cap = self.spark.sparkContext.defaultParallelism
        par = min(cap, max(1, n_new // self.rows_per_task))
        width = min(cap, max(1, n_new * self._fan_out // self.rows_per_task))
        with contextlib.ExitStack() as scope:
            keep = scope.enter_context(_kept())
            # AQE off for the ingest's own jobs (same refcounted per-session
            # toggle as the CDC apply): the pipelines are fixed-shape —
            # explicit broadcasts, known partition counts, the exemplar-star
            # cap for skew — so AQE's per-stage materialization barrier is
            # pure overhead (~20% of LSH ingest wall at sf0.1, and one extra
            # JOB per shuffle stage in the chunk ingest).
            scope.enter_context(_aqe_disabled(self.spark))
            scope.enter_context(_scoped_shuffle_partitions(self.spark, width))
            if 1 < par and batch.rdd.getNumPartitions() < par:
                batch = keep(batch.repartition(par, self._ID))
            data_rows, index_rows, out = self._probe_verify(
                batch, keep, g, batch_id
            )
            # -- commit 1: data rows with the applied interval riding the
            # same manifest (plus any caller properties, atomically)
            props = {
                APPLIED_PROP: json.dumps(merge_ranges(g["applied"] + [rng]))
            }
            if corpus_properties:
                props.update(
                    corpus_properties(*rng)
                    if callable(corpus_properties)
                    else dict(corpus_properties)
                )
            self.data.append_buckets(
                _with_system(data_rows, self.data),
                properties=props,
                lineage=self._lineage("ingest", batch_id, n_new),
            )
            # -- commit 2: index rows. A crash here is healed by the gate.
            self._append_index(index_rows, rng, batch_id, n_new)
        return {
            "replayed": False,
            **out,
            "n_new": n_new,
            f"{self._DATA}_version": self.data.version,
            "index_version": self.index.version,
        }

    def _append_index(
        self, rows: DataFrame, rng: tuple[int, int], batch_id: str, n_docs: int
    ) -> None:
        """Commit 2 of an ingest. Always called through ``self``: replacing
        it is how a crash between the two commits is injected."""
        self._commit_index(rows, [tuple(rng)], "ingest", batch_id, n_docs)

    def _commit_index(
        self, rows: DataFrame, ranges: list, kind: str, label: str, n: int
    ) -> None:
        self.index.append_buckets(
            _with_system(rows, self.index),
            properties={
                APPLIED_PROP: json.dumps(
                    merge_ranges(applied_ranges(self.index, self.data) + ranges)
                )
            },
            lineage=self._lineage(kind, label, n),
        )

    def _heal_index(self, ranges: list[tuple[int, int]]) -> None:
        """Crash-retry path: the data table committed id ranges the index
        lacks. Re-sign exactly those ranges' rows and complete the index
        append; signing is deterministic, so the healed index is
        byte-equal to a clean run's. Full data-table scan filtered by the
        ranges — the rare recovery path pays one scan; the hot path never
        does."""
        batch = (
            self.data.read()
            .filter(covered_expr(F.col(self._ID), ranges))
            .select(*self.data.schema.fieldNames()[:2])  # (id, payload)
        )
        with _kept() as keep:
            signed = keep(self._sign(batch))
            # interval sizes over-count docs (gap absorption) — harmless:
            # an overestimate only skips the chunk probe's fast path
            rows = self._index_rows(
                signed, keep, sum(hi - lo + 1 for lo, hi in ranges)
            )
            # lineage count from the already-persisted signed rows — a
            # second data scan just for the counter would double the
            # recovery path's heaviest read (review-caught)
            n = signed.select("doc_id").distinct().count()
            self._commit_index(
                rows, list(ranges), "heal", json.dumps(list(ranges)), n
            )

    # ----------------------------------------------------------- maintenance

    def auto_compact(self, files_per_bucket: int) -> dict:
        """Fold any data/index lake bucket holding more than
        ``files_per_bucket`` data files back to one file (LakeTable.compact
        on exactly those buckets). A months-long streaming ingest or sweep
        loop otherwise accumulates one file per (batch x touched bucket)
        without bound — probe cost then grows with BATCH HISTORY (per-file
        open/footer overhead), not data volume. Same metric and trigger as
        the CDC follow loop's auto_compact_files_per_bucket; the sweep
        bridge and streaming ingest loops call this per batch behind their
        own knobs. Returns {table name: {"buckets": [...], "version": v}}
        for the tables actually compacted."""
        done: dict = {}
        for name, table in ((self._DATA, self.data), ("index", self.index)):
            over = sorted(
                b
                for b, n in table.files_per_bucket().items()
                if n > files_per_bucket
            )
            if over:
                done[name] = {
                    "buckets": over,
                    "version": table.compact(bucket_ids=over),
                }
        return done


class IncrementalDeduper(_IncrementalIndex):
    """A persisted (corpus, signature-index) pair with exactly-once batch
    ingest. ``corpus`` is keyed by doc_id (bucket-pruned candidate text
    fetch); ``index`` is keyed by the LSH bucket string (bucket-pruned
    probe)."""

    _FRAMES = ("pairs", "keepers")
    _COUNTERS = ("n_accepted", "n_rejected")

    #: duplicate-edge sets at or below this size resolve components with a
    #: driver union-find (one bounded collect) instead of the distributed
    #: label-propagation loop — pure execution tuning, identical results
    #: (equivalence pinned in tests); the fallback keeps the path unbounded.
    driver_cc_max_edges = dd.DRIVER_CC_MAX_EDGES

    #: repartition sizing for the narrow signing chain: spread the batch to
    #: ~this many docs per task, capped at cluster width. Shingling is the
    #: heavy map (k-gram explode per doc), so the per-task quantum is small.
    rows_per_task = 256

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        p = self.corpus.properties
        self.threshold = float(p["dedup.threshold"])
        self.bands = tuple(tuple(b) for b in json.loads(p["dedup.bands"]))
        self.max_bucket = int(p.get("dedup.max_bucket", "0")) or None
        self.on_bridge = p.get("dedup.on_bridge", "error")

    corpus = property(lambda self: self.data)
    # band rows per doc (candidate shingle explodes are bigger still)
    _fan_out = property(lambda self: max(len(self.bands), 2))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        corpus_buckets: int = 16,
        index_buckets: int = 16,
        threshold: float = 0.5,
        bands: tuple[tuple[int, ...], ...] = dd.DEFAULT_BANDS,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
        on_bridge: str = "error",
    ) -> "IncrementalDeduper":
        if on_bridge not in ("error", "greedy"):
            raise ValueError(f"on_bridge must be 'error' or 'greedy', got {on_bridge!r}")
        props = {
            "dedup.threshold": str(threshold),
            "dedup.bands": json.dumps([list(b) for b in bands]),
            "dedup.max_bucket": str(max_bucket or 0),
            "dedup.on_bridge": on_bridge,
        }
        # purge_docs removes signature rows by doc_id — a NON-key column of
        # the index; the bloom keeps that rewrite to ~the files actually
        # holding the purged ids instead of O(index)
        return cls._create_pair(
            spark, root, _CORPUS_SCHEMA, corpus_buckets, props,
            _INDEX_SCHEMA, index_buckets, index_blooms=("doc_id",),
        )

    def seen_max(self) -> int:
        """Highest committed doc id (-1 on an empty corpus)."""
        ranges = applied_ranges(self.corpus)
        return ranges[-1][1] if ranges else -1

    def purge_docs(self, doc_ids, conflict_retries: int = 3) -> dict:
        """Right-to-be-forgotten erasure from the LSH dedup state: the
        docs' corpus rows (their full text) are removed by a bucket-pruned
        key purge, and their signature/band rows leave the index by a
        non-key rewrite (fingerprints reference the erased doc's id —
        removing them also stops future probes from generating candidate
        pairs whose verify text no longer exists).

        RECALL CONTRACT — erasure trumps dedup: future near-duplicates of
        an erased doc are ADMITTED unless some RETAINED doc also matches
        them (erase a whole cluster to fully forget it — a surviving
        rejected twin's text still matches). Unlike the chunk index
        (whose content-derived md5 keys keep matching verbatim
        re-submissions) the LSH index no longer suppresses anything about
        the erased doc. Retained rejected docs may keep a keeper_doc_id
        pointing at an erased id — an opaque cluster label, not content.
        The applied-id gate state is deliberately untouched: erased ids
        stay applied, so replayed batches remain exactly-once no-ops and
        the monotone gate still rejects id reuse. No suppression ledger
        is recorded (``record_suppression=False``): the monotone gate
        already makes re-submission under an old id impossible.

        Refuses while the index lags the corpus (_refuse_while_lagging)."""
        self._refuse_while_lagging("purge_docs", "any ingest")
        cv = self.corpus.purge_keys(
            doc_ids, conflict_retries=conflict_retries,
            record_suppression=False,
        )
        iv = self.index.purge_matching(
            "doc_id", doc_ids, conflict_retries=conflict_retries
        )
        return {"corpus_version": cv, "index_version": iv}

    def _band_rows(self, sig: DataFrame) -> DataFrame:
        """Band rows keyed for the index: (bucket_key, doc_id, band, bucket).
        bucket_key is the index table's routing key — band and bucket folded
        into one string so probe equality is a single-column equi-join."""
        return dd.band_rows(sig, bands=self.bands).withColumn(
            "bucket_key", F.concat_ws("|", F.col("band"), F.col("bucket"))
        )

    def _sign(
        self, docs: DataFrame, arrays: "DataFrame | None" = None
    ) -> DataFrame:
        return self._band_rows(dd.minhash_signatures(docs, arrays_df=arrays))

    # ------------------------------------------------------ keeper resolution

    def _resolve_keepers(
        self, new_docs: DataFrame, edges: DataFrame, seen_max: int
    ) -> tuple[DataFrame, int, list[tuple[int, int]]]:
        """Connected components over the keeper-substituted duplicate edges.
        Returns (keepers DF for the batch, n_rejected, bridge pairs).

        At or below ``driver_cc_max_edges`` the edge set is collected (ONE
        bounded job — ``limit(cap+1)`` both fetches the edges and detects
        overflow, replacing the separate count job the round-5 shape paid
        per ingest) and resolved with the driver union-find shared with
        dedup.dedup_clusters instead of the O(log n) distributed
        label-propagation rounds (each of which costs eager checkpoints);
        on overflow, the distributed path runs with a label-group bridge
        check. Both paths produce identical keepers (pinned in tests by
        forcing the cap negative)."""
        cap = self.driver_cc_max_edges
        uf = None
        if cap is not None and cap >= 0:
            uf = dd._driver_union_find(edges, cap, seen_max)
        if uf is not None:
            labels = {x: uf.find(x) for x in list(uf.parent) if x > seen_max}
            n_rejected = sum(1 for d, k in labels.items() if k != d)
            # no checkpoint: unlike the pairs DF, this plan depends only on
            # the caller's input and a tiny local map — safe to return lazy
            keepers = dd._label_docs(new_docs, "doc_id", labels)
            return keepers, n_rejected, sorted(set(uf.bridges))
        # distributed fallback: label every edge node AND every batch doc,
        # then read bridges off the labels (a component holding >= 2 distinct
        # seen keepers) and keepers off the > seen_max slice
        nodes = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .union(edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        all_ids = new_docs.select("doc_id").union(nodes).distinct()
        # cap 0: this fallback only runs when the edge set already
        # overflowed OUR cap — the inner driver fast path would pay a
        # doomed second limit-collect just to discover that again
        labels = dd.dedup_clusters(
            all_ids, edges, driver_cc_max_edges=0
        ).localCheckpoint()
        bridge_rows = (
            labels.filter(F.col("doc_id") <= F.lit(seen_max))
            .groupBy("keeper_doc_id")
            .agg(F.collect_set("doc_id").alias("ks"))
            .filter(F.size("ks") >= 2)
            .select(F.sort_array("ks").alias("ks"))
            .limit(20)
            .collect()
        )
        bridges = sorted(
            {(int(r["ks"][0]), int(r["ks"][1])) for r in bridge_rows}
        )
        keepers = labels.filter(F.col("doc_id") > F.lit(seen_max))
        n_rejected = keepers.filter(
            F.col("keeper_doc_id") != F.col("doc_id")
        ).count()
        return keepers, n_rejected, bridges

    # --------------------------------------------------------------- ingest

    def ingest(self, new_docs: DataFrame, batch_id: str) -> dict:
        """Process one batch of (doc_id, text) rows: find near-dup pairs vs
        the index and within the batch, decide keepers, and append docs +
        band rows. Idempotent per doc-id range (see module docstring);
        ``batch_id`` labels lineage only.

        Returns {"pairs": DataFrame(doc_a, doc_b, jaccard) — every verified
        candidate pair touching the batch, "keepers": DataFrame(doc_id,
        keeper_doc_id) for the batch, plus counters}. On a replayed batch
        the DataFrames are None (already persisted in the corpus)."""
        return self._ingest(new_docs, batch_id)

    def _probe_verify(self, new_docs, keep, g, batch_id):
        seen_max = g["applied"][-1][1] if g["applied"] else -1
        # shingle ARRAYS, not exploded rows: signatures derive narrowly
        # (zero shuffles — see dedup.minhash_signatures) and the verify
        # stage explodes only candidate docs' arrays
        arrays = keep(dd.shingle_arrays(new_docs))
        bands_new = keep(self._sign(new_docs, arrays))

        # -- candidates: new x index (bucket-pruned) + new x new (batch
        # LSH, hot-bucket capped, reusing the PERSISTED band rows —
        # re-banding would recompute the minhash agg).
        cand_new = dd.capped_self_join(
            bands_new.select("doc_id", "band", "bucket"),
            ["band", "bucket"], "doc_id", self.max_bucket,
        )
        probe_buckets, keeper_map = [], None
        if self._index_has_rows():
            cand_idx, probe_buckets = self._probe_index(bands_new, keep)
            cand_idx = keep(cand_idx)
            candidates = keep(
                cand_idx.select("doc_a", "doc_b").union(cand_new).distinct()
            )
            # candidate-only verification: shingle the candidate SEEN
            # docs (bucket-pruned text fetch) and the new batch only
            seen_rows = keep(self._candidate_rows(
                cand_idx.select(F.col("seen_doc_id").alias("doc_id")).distinct(),
                "text", "keeper_doc_id",
            ))
            arrays = keep(arrays.union(
                dd.shingle_arrays(seen_rows.select("doc_id", "text"))
            ))
            keeper_map = seen_rows.select(
                F.col("doc_id").alias("_sid"),
                F.col("keeper_doc_id").alias("_sk"),
            )
        else:
            candidates = keep(cand_new.distinct())
        # localCheckpoint (not persist): `pairs` is returned to the
        # caller and must survive the deduper's tables being deleted
        verified = dd.jaccard_verify(
            new_docs, candidates, arrays_df=arrays
        ).localCheckpoint()

        # -- keepers: connected components over duplicate edges, with
        # every SEEN endpoint replaced by its frozen keeper (greedy
        # contract — module docstring); bridges detected per policy.
        edges = verified.filter(F.col("jaccard") >= self.threshold)
        if keeper_map is not None:
            edges = (
                edges
                .join(keeper_map, F.col("doc_a") == F.col("_sid"), "left")
                .select(F.coalesce("_sk", "doc_a").alias("doc_a"), "doc_b")
                .join(keeper_map, F.col("doc_b") == F.col("_sid"), "left")
                .select("doc_a", F.coalesce("_sk", "doc_b").alias("doc_b"))
            )
        keepers, n_rejected, bridges = self._resolve_keepers(
            new_docs, edges, seen_max
        )
        if bridges and self.on_bridge == "error":
            raise ValueError(
                f"batch {batch_id} bridges previously-committed duplicate "
                f"clusters {bridges[:5]}: a from-scratch batch run would "
                "relabel committed keepers, which incremental ingest "
                "cannot honor retroactively. Re-create the deduper with "
                "on_bridge='greedy' to accept frozen-label semantics."
            )
        # index rows: ALL new docs — rejected ones carry transitivity
        return (
            new_docs.select("doc_id", "text").join(keepers, "doc_id"),
            self._index_rows(bands_new, keep, g["n_new"]),
            {
                "pairs": verified,
                "keepers": keepers,
                "n_accepted": g["n_new"] - n_rejected,
                "n_rejected": n_rejected,
                "bridges": bridges,
                "probe_buckets": probe_buckets,
            },
        )

    # ---------------------------------------------------------------- reads

    def keepers(self) -> DataFrame:
        """(doc_id, keeper_doc_id) for every seen doc."""
        return self.corpus.read().select("doc_id", "keeper_doc_id")

    def accepted(self) -> DataFrame:
        """The deduped corpus: docs that are their own keeper."""
        return self.corpus.read().filter(
            F.col("keeper_doc_id") == F.col("doc_id")
        ).select("doc_id", "text")


# --------------------------------------------------------------------------
# Embedding-side incremental index (SRP sketches) — the "optionally SRP"
# half of the same operational loop: new embeddings probe a persisted
# bucket-row index instead of re-signing the whole corpus.
# --------------------------------------------------------------------------

_VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)


class IncrementalEmbeddingIndex(_IncrementalIndex):
    """Persisted SRP-LSH index over an embedding corpus with exactly-once
    batch ingest — the embedding twin of :class:`IncrementalDeduper`:

    - ``index``: (bucket_key = "table|bucket", vec_id) rows, LakeTable keyed
      by bucket_key → a probe opens only the lake buckets the NEW batch's
      bucket rows hash into (new x index, never index x index); over-cap
      buckets contribute only their exemplar (``emb.max_bucket`` — the same
      hot-bucket guard and recall contract as the text deduper's module
      docstring: at permissive thresholds SRP buckets are inherently coarse,
      so the cap trades exhaustive pair enumeration inside a mega-bucket
      for linear candidate volume);
    - ``vectors``: (vec_id, embedding) keyed by vec_id → candidate vectors
      for the exact integer-quantized cosine verify are fetched with a
      bucket-pruned read, never a corpus scan.

    SRP weights are md5-derived from (n_tables, n_planes, dim) — persisting
    the parameters IS persisting the planes, so probe-time banding is
    bit-identical to ingest-time banding. Pairs returned by ``ingest`` are
    exactly what the batch operator (similarity.neardup_pairs_lsh) returns
    over the union, restricted to pairs touching the batch (oracle-pinned
    via the all-pairs ground truth). Same applied-interval gates / heal
    protocol as the text deduper (module docstring); ids must be unique
    within a batch and monotone across batches."""

    _DATA, _ID, _TAG = "vectors", "vec_id", "emb"
    _FRAMES = ("pairs",)

    #: repartition sizing for the signing chain (see IncrementalDeduper):
    #: the SRP matmul is one Arrow batch op per partition, so vectors take
    #: a larger per-task quantum than shingled text.
    rows_per_task = 1024

    def __init__(self, spark: SparkSession, root: str):
        from migration_pair_spark.operators import similarity as sim

        super().__init__(spark, root)
        p = self.vectors.properties
        self.threshold = float(p["emb.threshold"])
        self.n_planes = int(p["emb.n_planes"])
        self.n_tables = int(p["emb.n_tables"])
        self.dim = int(p["emb.dim"])
        self.max_bucket = int(p.get("emb.max_bucket", "0")) or None
        self._weights = sim.srp_weights(self.n_tables, self.n_planes, self.dim)

    vectors = property(lambda self: self.data)
    # bucket rows per vector: the verify stage's exact-cosine HOF is
    # interpreted per element and must keep its parallelism
    _fan_out = property(lambda self: self.n_tables)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        threshold: float = 0.35,
        n_planes: "int | None" = None,
        n_tables: "int | None" = None,
        dim: "int | None" = None,
        vector_buckets: int = 16,
        index_buckets: int = 16,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
    ) -> "IncrementalEmbeddingIndex":
        from migration_pair_spark.operators import similarity as sim

        if n_planes is None or n_tables is None:
            d_planes, d_tables = sim.neardup_params(threshold)
            n_planes = n_planes if n_planes is not None else d_planes
            n_tables = n_tables if n_tables is not None else d_tables
        props = {
            "emb.threshold": str(threshold),
            "emb.n_planes": str(n_planes),
            "emb.n_tables": str(n_tables),
            "emb.dim": str(dim if dim is not None else sim.EMB_DIM),
            "emb.max_bucket": str(max_bucket or 0),
        }
        return cls._create_pair(
            spark, root, _VEC_SCHEMA, vector_buckets, props,
            _INDEX_SCHEMA, index_buckets,
        )

    def _bucket_rows(self, emb: DataFrame) -> DataFrame:
        """(bucket_key, doc_id) SRP bucket rows for the index — doc_id names
        the column so the two index tables share one schema."""
        from migration_pair_spark.operators import similarity as sim

        rows = sim._srp_bucket_rows(
            emb, "doc_id", "vec_id", "embedding", self._weights
        )
        return rows.select(
            F.concat_ws("|", F.col("_t"), F.col("_bucket")).alias("bucket_key"),
            "doc_id",
        )

    _sign = _bucket_rows

    def ingest(self, new_emb: DataFrame, batch_id: str) -> dict:
        """Process one batch of (vec_id, embedding) rows: near-dup pairs vs
        the index and within the batch (exact verified cosine >= threshold),
        then append vectors + bucket rows. Idempotent per id range; heals a
        crashed prior batch like the text deduper."""
        return self._ingest(new_emb, batch_id)

    def _probe_verify(self, new_emb, keep, g, batch_id):
        from migration_pair_spark.operators import similarity as sim

        bucket_rows = keep(self._sign(new_emb))
        vecs = new_emb.select("vec_id", "embedding")
        # within-batch SRP self-join (same cap) on the PERSISTED bucket
        # rows — bucket_key = "table|bucket" is injective over (_t,
        # _bucket) for fixed-width signatures, so joining on it is the
        # same banding, without re-running the Arrow matmul
        candidates = dd.capped_self_join(
            bucket_rows, ["bucket_key"], "doc_id", self.max_bucket,
            "vec_a", "vec_b",
        )
        probe_buckets = []
        if self._index_has_rows():
            vs_seen, probe_buckets = self._probe_index(bucket_rows, keep)
            vs_seen = keep(vs_seen)
            candidates = (
                vs_seen.select(F.col("doc_a").alias("vec_a"),
                               F.col("doc_b").alias("vec_b"))
                .union(candidates)
                .distinct()
            )
            vecs = vecs.union(self._candidate_rows(
                vs_seen.select(F.col("seen_doc_id").alias("vec_id")).distinct(),
                "embedding",
            ))
        all_vecs = keep(vecs)
        qa = sim._quantized_side(all_vecs, "vec_a", "vec_id", "embedding")
        qb = sim._quantized_side(all_vecs, "vec_b", "vec_id", "embedding")
        cos = sim._exact_cosine(
            sim._int_dot(F.col("_q_vec_a"), F.col("_q_vec_b")),
            F.col("_n2_vec_a"),
            F.col("_n2_vec_b"),
        )
        pairs = (
            candidates.join(qa, "vec_a")
            .join(qb, "vec_b")
            .withColumn("_sim", cos)
            .filter(F.col("_sim") >= F.lit(self.threshold))
            .select("vec_a", "vec_b", F.round(F.col("_sim"), 4).alias("cosine"))
            .localCheckpoint()
        )
        return (
            new_emb.select("vec_id", "embedding"),
            self._index_rows(bucket_rows, keep, g["n_new"]),
            {"pairs": pairs, "probe_buckets": probe_buckets},
        )


# --------------------------------------------------------------------------
# Chunk-level (sub-document span) incremental dedup — the exact-match third
# member of the same operational loop. Simpler than the LSH/SRP pair in one
# structural way: the keeper of a chunk VALUE is the globally minimal
# occurrence, and exact matching has no transitivity through rejected rows,
# so there is no verify stage, no bridge problem, and sequential ingest is
# EXACTLY equal to a from-scratch batch run under monotone doc ids (pinned
# in tests/test_incremental_chunk.py).
# --------------------------------------------------------------------------

_CHUNK_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chunks", T.LongType(), True),
        T.StructField("n_kept", T.LongType(), True),
        T.StructField("deduped_text", T.StringType(), True),
        # provenance: the source key (e.g. the page url) of the row the doc
        # came from — what right-to-be-forgotten erasure purges by
        # (purge_source). Nullable; batches without provenance leave it
        # null (files written pre-column read back as null).
        T.StructField("src_key", T.StringType(), True),
    ]
)
_CHUNK_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("ck", T.StringType(), False),
        T.StructField("first_occ", T.LongType(), True),
    ]
)


class IncrementalChunkIndex(_IncrementalIndex):
    """A persisted (corpus, chunk-key index) pair with exactly-once batch
    ingest of CCNet-style span dedup (dedup.chunk_dedup semantics): each
    new document is rewritten to the corpus-wide first occurrences of its
    w-word chunks, against every chunk ever seen.

    Scale shape: the index holds ONE row per distinct chunk value
    (O(span vocabulary), not O(documents) — appends are anti-joined
    against the index, so a boilerplate chunk occurs once no matter how
    many million pages carry it, and the probe join is 1:m with no
    quadratic hot-bucket exposure at all). The probe reads only the index
    lake buckets the batch's chunk keys hash into (bounded driver collect,
    same shape as the CDC gate). AQE is OFF for the ingest's own jobs, as
    in the LSH/SRP ingests: the pipeline is fixed-shape (the probe join is
    explicitly broadcast on the pushed-IN path and 1:m key-joined
    otherwise; the firsts agg and reassembly partial-aggregate), AQE's
    per-stage materialization barrier billed one extra JOB per shuffle
    stage, and the scoped shuffle width already right-sizes the
    partitions AQE used to coalesce.

    Gate/heal contract: identical to :class:`IncrementalDeduper` — a
    ``dedup.applied`` doc-id interval set on each table, updated
    atomically with its data commit; monotone + unique-id gates; the
    corpus-minus-index interval difference is the pending work and any
    later ingest heals it FIRST (an index missing committed chunk keys
    would let a duplicated span through — an acceptance that can never be
    retracted). Healing re-chunks exactly the pending id ranges from the
    corpus and appends the chunk keys not already present (the same probe
    the crashed run used — the crash happened before its index append, so
    the index state is identical); chunking is deterministic, so the
    healed index is byte-equal to a clean run's.

    Reference parity note: the reference (Mycenae) has no dedup surface at
    all — this extends the engine's LLM-pipeline family
    (/root/reference/Tasks/MigrationTask.cs:125-151 is a row copier); the
    design mirrors the repo's own IncrementalDeduper contract instead."""

    _TAG = "chunk"
    _FRAMES = ("rewritten",)
    _COUNTERS = ("n_chunks", "n_kept")
    #: chunk occurrences per doc (~words / w) sizing the shuffle width
    _fan_out = 16

    #: repartition sizing for the narrow chunking map (chunking is lighter
    #: than shingling — fewer output rows per doc, no k-gram explosion)
    rows_per_task = 1024

    #: largest distinct-chunk-key count for which the index probe swaps
    #: the bucket-scan join for a pushed-IN scan: keys collect to the
    #: driver (bounded by this), the scan filters ``ck IN (...)`` which
    #: Spark pushes into parquet (session.py raises inFilterThreshold), so
    #: parquet-mr skips row groups by the index's bloom filters / stats /
    #: dictionaries executor-side. This is the fix for the soak's one
    #: growth term at SMALL batches — a streaming micro-batch's probe
    #: reads ~0 index data pages instead of every bucket's key column;
    #: large sweeps keep the join (their read amortizes over the batch).
    #: 0 disables the fast path.
    probe_isin_max_keys = 1024

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        self.w = int(self.corpus.properties["chunk.w"])
        # persisted ck values embed the tokenizer: loading an index built
        # with a DIFFERENT tokenizer would silently re-admit every seen
        # span (keys never match) — fail loudly instead (review-caught)
        tok = self.corpus.properties.get("chunk.tokenizer")
        if tok != dd.CHUNK_TOKENIZER:
            raise ValueError(
                f"chunk index at {root} was built with tokenizer "
                f"{tok or 'unknown (pre-stamping)'!s}; this build uses "
                f"{dd.CHUNK_TOKENIZER!r} and its persisted chunk keys "
                f"would silently never match. Rebuild the index, or set "
                f"corpus property chunk.tokenizer={dd.CHUNK_TOKENIZER!r} "
                f"if the keys are known compatible."
            )
        #: diagnostics: how the last _flag_chunks probed the index
        #: ("isin" fast path / "join" bucket scan / None = empty index)
        self.last_probe_mode: str | None = None

    corpus = property(lambda self: self.data)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        corpus_buckets: int = 16,
        index_buckets: int = 16,
        w: int = dd.CHUNK_W,
    ) -> "IncrementalChunkIndex":
        props = {
            "chunk.w": str(w),
            "chunk.tokenizer": dd.CHUNK_TOKENIZER,
            SWEEP_PROP: "0",  # see SWEEP_PROP: property-backed from birth
        }
        # src_key blooms bound purge_source to ~O(files holding the purged
        # url): urls hash-spread across doc-id buckets, so min/max zones
        # never prune them — blooms are the only skip. Chunk keys are md5
        # hex (uniform): zone maps can never prune them, blooms always can
        # — they power both the pushed-IN probe's row-group skipping and
        # point lookups on the index.
        return cls._create_pair(
            spark, root, _CHUNK_CORPUS_SCHEMA, corpus_buckets, props,
            _CHUNK_INDEX_SCHEMA, index_buckets,
            data_blooms=("src_key",), index_blooms=("ck",),
        )

    def purge_source(self, values, conflict_retries: int = 3) -> int:
        """Right-to-be-forgotten erasure through the dedup family: remove
        every corpus row whose ``src_key`` (the page url the CDC sweep
        stamped) is in ``values`` — text AND deduped_text, every swept
        version. The INDEX needs no rewrite: it stores only md5 chunk
        fingerprints + a packed first-occurrence id, no content (the same
        one-way-retention trade-off as the suppression ledger). The keys
        STAY in the index, so a verbatim re-submission of erased spans is
        still deduplicated rather than re-admitted.

        Refuses while the index lags the corpus (pending id ranges): heal
        re-chunks pending ranges FROM the corpus, and a purge hole there
        would heal an index missing committed keys — run any ingest/sweep
        first (healing is automatic there). The corpus rewrite is
        file-pruned by the src_key blooms recorded at create.

        Returns the corpus's new version."""
        self._refuse_while_lagging("purge_source", "any ingest or sweep")
        return self.corpus.purge_matching(
            "src_key", values, conflict_retries=conflict_retries
        )

    def _sign(self, docs: DataFrame) -> DataFrame:
        return dd.chunk_rows(docs, w=self.w)

    def _index_rows(self, chunks: DataFrame, keep, n_docs: int) -> DataFrame:
        return self._flag_chunks(chunks, keep, n_docs)[1]

    def _flag_chunks(
        self, chunks: DataFrame, keep=lambda df: df, n_docs: int | None = None
    ) -> tuple[DataFrame, DataFrame, list[int]]:
        """Decide survival for each chunk occurrence of the batch.

        Returns (flagged occurrences with ``is_first``, ``firsts`` = one
        (ck, first_occ) row per chunk key NEWLY seen in this batch — the
        exact index append, list of probed index lake buckets). A chunk
        occurrence survives iff its key is absent from the persisted index
        AND it is the batch's minimal occurrence of that key.

        ``n_docs`` (when the caller knows it — the gate already counted)
        pre-gates the pushed-IN fast path: distinct chunk keys ~>= docs,
        so a batch with more docs than the key cap skips the
        overflow-detection distinct entirely instead of paying a full
        shuffle just to learn "too many" before the join (review-caught)."""
        self.last_probe_mode = None
        if self._index_has_rows():
            small = None
            if self.probe_isin_max_keys and (
                n_docs is None or n_docs <= self.probe_isin_max_keys
            ):
                # one bounded job replaces the bucket-distinct job: collect
                # the batch's distinct (ck, lake bucket) pairs, stopping at
                # the cap (+1 detects overflow — an arbitrary subset is
                # only used when it is the COMPLETE set)
                head = (
                    chunks.select(
                        "ck", self.index.bucket_expr("ck").alias("_b")
                    )
                    .distinct()
                    .limit(self.probe_isin_max_keys + 1)
                    .collect()
                )
                if len(head) <= self.probe_isin_max_keys:
                    small = head
            if small is not None:
                self.last_probe_mode = "isin"
                probe_buckets = sorted({int(r["_b"]) for r in small})
                keys = [r["ck"] for r in small]
                # the pushdown only happens while the session's IN-list
                # threshold exceeds the list (default 10 falls back to a
                # min..max range — useless on md5-uniform keys, and the
                # fast path would silently read every probed row group's
                # data pages). session.py raises it, but this code must
                # hold on DRIVER-OWNED sessions too (the correctness
                # harness hands us one), and whenever probe_isin_max_keys
                # is raised past the session value — so ensure it here;
                # runtime-settable, and raising it is globally safe
                # (review-caught, pass 2)
                conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
                cur = int(self.spark.conf.get(conf_key, "10"))
                if cur <= len(keys):
                    self.spark.conf.set(conf_key, str(len(keys) + 1))
                # pushed-IN scan: parquet-mr skips row groups via the ck
                # bloom filters, so this reads footers + blooms, not the
                # index's data pages; the surviving rows are a subset of
                # the batch keys, hence the explicit broadcast (AQE can't
                # see the size — ingest paths scope it off)
                idx = F.broadcast(
                    _live(self.index, probe_buckets)
                    .filter(F.col("ck").isin(keys))
                    .select("ck")
                    .withColumn("_seen", F.lit(True))
                )
            else:
                self.last_probe_mode = "join"
                probe_buckets = self.probe_lake_buckets(chunks.select("ck"))
                idx = (
                    _live(self.index, probe_buckets)
                    .select("ck")
                    .withColumn("_seen", F.lit(True))
                )
            # persist: `firsts` (agg) and `flagged` (join back) both
            # consume `marked` — without the cache each would re-read the
            # pruned index bucket files and re-run the probe join
            # (review-caught; same fix as the LSH probe's keep(idx))
            marked = keep(chunks.join(idx, "ck", "left"))
        else:
            probe_buckets = []
            marked = chunks.withColumn("_seen", F.lit(None).cast("boolean"))
        firsts = keep(
            marked.filter(F.col("_seen").isNull())
            .groupBy("ck")
            .agg(F.min("occ").alias("first_occ"))
        )
        flagged = marked.join(firsts, "ck", "left").withColumn(
            "is_first",
            F.col("_seen").isNull() & (F.col("occ") == F.col("first_occ")),
        )
        return flagged, firsts, probe_buckets

    def ingest(
        self,
        new_docs: DataFrame,
        batch_id: str,
        corpus_properties=None,
    ) -> dict:
        """Process one batch of (doc_id, text) rows: rewrite each doc to
        its globally-first chunks and append docs + newly-seen chunk keys.
        Idempotent per doc-id range; ``batch_id`` labels lineage only.

        ``corpus_properties``: extra manifest properties to commit
        ATOMICALLY with the batch's corpus append — a dict, or a callable
        ``(lo, hi) -> dict`` receiving the batch's id range (how the CDC
        sweep bridge persists its LSN watermark with no extra job and no
        separate commit to desync). Not written on replayed/empty batches.

        Returns {"rewritten": DataFrame(doc_id, n_chunks, n_kept,
        deduped_text) for the batch (localCheckpointed — survives the
        tables), plus counters}. On a replayed batch ``rewritten`` is None
        (already persisted in the corpus)."""
        return self._ingest(new_docs, batch_id, corpus_properties)

    def _probe_verify(self, new_docs, keep, g, batch_id):
        chunks = keep(self._sign(new_docs))
        flagged, firsts, probe_buckets = self._flag_chunks(
            chunks, keep, n_docs=g["n_new"]
        )
        # localCheckpoint (not persist): returned to the caller and must
        # survive the index's tables being deleted; also consumed twice
        # below (corpus rows + counters)
        rewritten = dd.chunk_reassemble(flagged).localCheckpoint()
        sums = rewritten.agg(
            F.sum("n_chunks").alias("nc"), F.sum("n_kept").alias("nk")
        ).collect()[0]
        # LEFT join: a NULL-text doc has no chunks and therefore no
        # rewritten row, but its id range is marked applied with this
        # commit — an inner join would drop the doc from the corpus
        # FOREVER while the gate replays its redelivery as a no-op
        # (review-caught, reproduced). Such docs persist with NULL
        # rewrite columns.
        # provenance rides along when the batch carries it (the CDC
        # sweep passes the page url as src_key — purge_source's handle)
        doc_cols = ["doc_id", "text"] + (
            ["src_key"] if "src_key" in new_docs.columns else []
        )
        return (
            new_docs.select(*doc_cols).join(rewritten, "doc_id", "left"),
            firsts,
            {
                "rewritten": rewritten,
                "n_chunks": int(sums["nc"] or 0),
                "n_kept": int(sums["nk"] or 0),
                "probe_buckets": probe_buckets,
            },
        )

    # ---------------------------------------------------------------- reads

    def rewritten(self) -> DataFrame:
        """(doc_id, n_chunks, n_kept, deduped_text) for every seen doc."""
        return self.corpus.read().select(
            "doc_id", "n_chunks", "n_kept", "deduped_text"
        )
