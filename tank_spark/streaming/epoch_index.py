"""The persisted incremental-dedup index and its streaming loop — ONE
implementation for the three incremental families. Each family is an
``IndexSpec`` kept beside its probe code: ``dedup.TEXT_INDEX`` (MinHash
fingerprints + LSH bands), ``media_inc.MEDIA_INDEX`` (payload
fingerprints + phash bands) and ``semdedup_inc.semantic_index(q)``
(quantizer list assignments). This module owns everything the families
share: the on-disk layout, the idempotent epoch write, the read, the
compaction swap and its crash recovery, the foreachBatch loop, the
report over the persisted output and the file stream.

The loop is the production shape of the registered incremental ops: a
crawl feed arrives as micro-batches, each is dispositioned against the
PERSISTED index (``spec.probe``), and every batch's new_unique
survivors are appended to the index (``spec.derive``) before the next
batch probes it. The registered two-batch replays
(dedup_incremental_stream_replay, media_dedup_stream_replay,
semdedup_stream_replay — full DuckDB oracles) pin the index-growth
dispositions the loop must reproduce.

Layout under ``index_dir``, one directory per relation of the spec,
hive-partitioned by write epoch: ``<relation>/epoch_id=<E>/``.

- ``epoch_id=-1`` (BASE_EPOCH) is the base generation: the bootstrap
  and every compaction rewrite.
- Each micro-batch writes its survivors under its own ``epoch_id=<E>``
  directory with mode("overwrite"), so a REPLAYED epoch rewrites
  instead of duplicating rows (ADVICE r10: duplicated rows inflated
  per-bucket counts toward the skew caps, silently disabling near-dup
  matching there). Index appends are therefore idempotent under
  at-least-once foreachBatch semantics.
- A batch with no survivors writes no epoch directory at all.
  Besides avoiding empty directories this is LOAD-BEARING for crash
  safety: a replay landing after its survivors were folded into the
  base generation re-dispositions as all-dup, and an unconditional
  overwrite would replace the epoch's only surviving rows with an
  empty directory (review r11).
- The disposition OUTPUT keeps the weaker posture: append + epoch_id
  column; readers drop replayed epochs (``collapse_replayed_epochs``;
  a replay that lands after its survivors were folded re-emits them as
  dup-of-index self-matches, so the two copies of an epoch can
  disagree — exactly-once output is the table-format story).

Per-epoch directories are a small-files problem at crawl cadence, and
the probe join loses co-location as they accumulate: ``compact`` folds
every epoch back into the base generation, each relation repartitioned
by its probe join key and sorted within partitions; the loop runs it
every ``compact_every`` epochs. The swap is write-tmp →
rename(live, live.old) → rename(tmp, live) → rmtree(live.old); a crash
between the two renames leaves no live relation but a complete
``.old``, which the next read or compaction restores (ADVICE r11). A
real deployment does this as one transaction in a table format.

At 100 TB the index is the big side and never shuffles on a probe key:
each probe scans it once with the (small) micro-batch BROADCAST into
every join.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_EPOCH = -1  # the bootstrap/compacted generation's directory


@dataclass(frozen=True)
class Relation:
    """One persisted index relation: its directory ``name``, the DDL
    ``schema`` of the stored columns (epoch_id, the hive partition
    column, is added on read), and the ``partition`` / ``sort`` columns
    compaction rewrites it by (the probe join key first)."""
    name: str
    schema: str
    partition: tuple[str, ...]
    sort: tuple[str, ...]


@dataclass(frozen=True)
class IndexSpec:
    """One incremental-dedup family.

    - ``relations``: the index relations, in ``derive``/``probe`` order.
    - ``derive(rows)``: one DataFrame per relation, with exactly the
      relation's stored columns, for a batch-shaped relation.
    - ``probe(batch, index)``: dispositions of ``batch`` against the
      tuple of index relations (as ``read_index`` returns them).
    - ``batch_schema``: DDL of the batch rows; ``batch_id`` its id
      column; ``out_id`` / ``match_col`` the probe output's id and
      matched-id columns.
    - ``precedence``: the probe's dispositions, most duplicate-aware
      first (the replay-collapse order).
    - ``report_keys``: probe output columns the report groups by.
    """
    relations: tuple[Relation, ...]
    derive: Callable[[DataFrame], tuple[DataFrame, ...]]
    probe: Callable[[DataFrame, tuple[DataFrame, ...]], DataFrame]
    batch_schema: str
    batch_id: str
    out_id: str
    match_col: str
    precedence: tuple[str, ...]
    report_keys: tuple[str, ...] = ()


def epoch_dir(index_dir: str, rel: str, epoch_id: int) -> str:
    return os.path.join(index_dir, rel, f"epoch_id={epoch_id}")


def _ensure_epoch_layout(index_dir: str, rel: str) -> None:
    """Restore a compaction swap interrupted between its two renames
    (live missing, ``.old`` complete — a surviving ``.compact`` tmp is
    NOT promoted, it may be half-written), then migrate a pre-r11 FLAT
    relation (part files directly under the root) into the base
    generation. Without the migration a stream resumed over an old
    index would write epoch_id= dirs NEXT TO flat files and Spark's
    partition discovery would fail the next read with 'Conflicting
    directory structures' (review r11). A no-op in every healthy
    state."""
    root = os.path.join(index_dir, rel)
    if not os.path.isdir(root) and os.path.isdir(root + ".old"):
        os.rename(root + ".old", root)
    if not os.path.isdir(root):
        return
    flat = [f for f in os.listdir(root)
            if not f.startswith("epoch_id=") and not f.startswith(".")]
    if not any(f.endswith(".parquet") for f in flat):
        return
    base = epoch_dir(index_dir, rel, BASE_EPOCH)
    os.makedirs(base, exist_ok=True)
    for f in flat:
        os.rename(os.path.join(root, f), os.path.join(base, f))


def write_epoch(spec: IndexSpec, rows: DataFrame, index_dir: str,
                epoch_id: int = BASE_EPOCH) -> None:
    """Write ``rows``' index relations as one epoch, idempotently: each
    relation overwrites the epoch's own directory, so a foreachBatch
    replay rewrites instead of duplicating. The default epoch is the
    base generation — the batch-mode bootstrap before a stream starts
    appending."""
    for rel, df in zip(spec.relations, spec.derive(rows)):
        _ensure_epoch_layout(index_dir, rel.name)
        df.write.mode("overwrite").parquet(
            epoch_dir(index_dir, rel.name, epoch_id))


def read_index(spark: SparkSession, spec: IndexSpec,
               index_dir: str) -> tuple[DataFrame, ...]:
    """The current index relations across every generation/epoch.
    Explicit schemas, so an (allowed) empty relation dir still reads;
    epoch_id is dropped — the probe is epoch-agnostic, idempotency
    lives in the directory layout."""
    out = []
    for rel in spec.relations:
        _ensure_epoch_layout(index_dir, rel.name)
        out.append(spark.read.schema(f"{rel.schema}, epoch_id long")
                   .parquet(os.path.join(index_dir, rel.name))
                   .drop("epoch_id"))
    return tuple(out)


def compact(spark: SparkSession, spec: IndexSpec, index_dir: str,
            n_buckets: int = 32) -> None:
    """Fold every per-epoch append back into the base generation, each
    relation repartitioned by its probe join key and sorted within
    partitions. Fixes the two costs of epoch accumulation at crawl
    cadence: file count (one dir per epoch) and probe-side co-location.
    Readers are the between-batches loop, so the tmp-write + rename
    swap is safe here (module docstring)."""
    for rel, df in zip(spec.relations, read_index(spark, spec, index_dir)):
        tmp = rel.name + ".compact"
        shutil.rmtree(os.path.join(index_dir, tmp), ignore_errors=True)
        (df.repartition(n_buckets, *rel.partition)
           .sortWithinPartitions(*rel.sort)
           .write.parquet(epoch_dir(index_dir, tmp, BASE_EPOCH)))
    for rel in spec.relations:
        live = os.path.join(index_dir, rel.name)
        tmp = live + ".compact"
        old = live + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old)


def epoch_count(spec: IndexSpec, index_dir: str) -> int:
    """How many generations/epoch dirs the index spans (compaction
    telemetry): the most any of its relations holds."""
    return max(
        sum(1 for d in os.listdir(os.path.join(index_dir, rel.name))
            if d.startswith("epoch_id="))
        for rel in spec.relations)


def start_stream(
    spark: SparkSession,
    spec: IndexSpec,
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    compact_every: int = 0,
):
    """Wire the loop: for each micro-batch of ``spec.batch_schema`` rows,

    1. disposition against the CURRENT index (read fresh per epoch —
       it grew by earlier epochs' appends),
    2. append the dispositions (+ epoch id) to ``out_dir``,
    3. write the new_unique survivors' index rows under the epoch's
       own directory (overwrite — replay idempotent; skipped when
       there are no survivors),
    4. every ``compact_every`` epochs (0 = never), fold the per-epoch
       dirs back into one co-partitioned base generation.

    Returns the started StreamingQuery. ``checkpoint_dir`` must live
    OUTSIDE any watched drop dir (standing gotcha).
    """

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # the batch feeds the probe and the survivor append — pin it
        # so the source is read one time
        batch = batch.localCheckpoint(eager=True)
        disp = spec.probe(batch, read_index(spark, spec, index_dir)) \
            .localCheckpoint(eager=True)  # consumed twice: out + survivors
        disp.withColumn("epoch_id", F.lit(epoch_id).cast("long")) \
            .write.mode("append").parquet(out_dir)
        new_ids = disp.filter(F.col("disposition") == "new_unique") \
            .select(F.col(spec.out_id).alias(spec.batch_id))
        if not new_ids.isEmpty():  # cheap: disp is checkpointed
            survivors = batch.join(F.broadcast(new_ids), spec.batch_id)
            write_epoch(spec, survivors, index_dir, epoch_id)
        if compact_every and (epoch_id + 1) % compact_every == 0:
            compact(spark, spec, index_dir)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def collapse_replayed_epochs(disp: DataFrame, id_col: str,
                             precedence: tuple[str, ...]) -> DataFrame:
    """Collapse at-least-once replays in a persisted disposition output
    to ONE row per (epoch_id, ``id_col``) — the 'readers drop replayed
    epochs' half of the output posture (review r11: the posture was
    documented but no reader implemented it, so a replayed epoch
    double-counted in every daily report).

    When the two copies of an epoch disagree (the replay ran AFTER its
    survivors were folded into the index, flipping new_unique rows to
    dup-of-index self-matches), keep the most duplicate-aware copy —
    the replay saw the current index state — via the ``precedence``
    rank; remaining ties resolve by the smallest payload struct, so the
    pick is deterministic."""
    rank = F.coalesce(
        *[F.when(F.col("disposition") == d, F.lit(i))
          for i, d in enumerate(precedence)],
        F.lit(len(precedence)))
    payload = [c for c in disp.columns if c not in ("epoch_id", id_col)]
    s = F.struct(rank.alias("_r"),
                 *[F.col(c).alias(c) for c in payload])
    return (disp.groupBy("epoch_id", id_col)
            .agg(F.min(s).alias("_w"))
            .select("epoch_id", id_col,
                    *[F.col(f"_w.{c}").alias(c) for c in payload]))


def stream_report(spark: SparkSession, spec: IndexSpec, out_dir: str,
                  docs: DataFrame,
                  provenance: Column | None = None) -> DataFrame:
    """The daily curation report OFF THE PERSISTED disposition output —
    the production form of the registered *_stream_report entries
    (which re-derive the replay in one plan for the oracle gate): read
    ``out_dir``, collapse replayed epochs, map the output id to
    provenance ``orig`` (default: the corpus convention
    ``out_id % INC_OFFSET``, shared by every incremental family; a
    deployment passes its own id scheme), join the caller's ``docs`` (orig, *attributes) relation,
    and aggregate per (epoch_id, *report_keys, *attributes,
    disposition) through the SAME curation_report_over core as every
    registered report. Marginal daily cost at crawl cadence: one
    broadcast aggregate over that day's partition — no replay
    re-derivation."""
    from tank_spark.llm.media_inc import INC_OFFSET, curation_report_over

    disp = collapse_replayed_epochs(
        spark.read.parquet(out_dir), spec.out_id, spec.precedence)
    orig = provenance if provenance is not None else (
        F.col(spec.out_id) % INC_OFFSET)
    disp = disp.select(orig.alias("orig"), "epoch_id", *spec.report_keys,
                       "disposition",
                       F.col(spec.match_col).alias("match_cid"))
    attrs = [c for c in docs.columns if c != "orig"]
    return curation_report_over(
        docs, disp, ["epoch_id", *spec.report_keys, *attrs])


def file_stream(spark: SparkSession, spec: IndexSpec, drop_dir: str,
                max_files_per_trigger: int = 1) -> DataFrame:
    """A ``spec.batch_schema`` file stream over a parquet drop dir —
    one file per micro-batch by default, so each dropped file IS a
    crawl increment."""
    return (
        spark.readStream.schema(spec.batch_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )
