"""Streaming canonical-map maintenance: the third leg of the streaming
KG story (extraction: ``incremental.run_available_now``; dedup:
``incremental.run_incremental_dedup``; canonicalization: here).

As alias-dictionary rows arrive (north_rule: entity linking against
"Iceberg-backed Wikidata-style alias dictionaries" that grow with the
corpus), the persisted entity->canonical map must absorb them WITHOUT
re-running connected components over the corpus — and, just as
important, without REWRITING the corpus-scale map every micro-batch.
``pipeline.canonicalize.merge_components_delta`` gives O(batch)-sized
outputs (a component remap + fresh-entity rows); this module persists
exactly those:

``map_dir/`` layout (the base + delta overlay an Iceberg MERGE would
otherwise give us):
- ``base/``        corpus-scale (entity_id, canonical_id), written once
                   by the batch build (or by ``compact_canonical_map``)
- ``newids/``      append-only fresh-entity rows, partitioned by
                   batch_id (dynamic overwrite => retry-idempotent)
- ``remap/``       ONE small table mapping every HISTORICAL component id
                   that has since merged to its CURRENT id; atomically
                   swapped each batch (dot-prefixed tmp dir + rename,
                   the compaction lesson)

``read_canonical_map`` resolves the view in one scan: (base ∪ newids)
left-broadcast-join remap. The remap invariant — applying the current
remap to ANY historical canonical yields the current canonical — is
maintained by composing each batch's delta remap into the persisted one
(values chased through the new remap, new keys appended; old keys and
new keys are disjoint because a component id that merged away can never
become current again: labels only decrease).

Crash-safety (write order newids -> remap; the streaming checkpoint
commits after both):
- crash before newids: clean re-run.
- crash between newids and remap: the retry sees the batch's entities
  as known (their map rows exist at post-merge values) and re-derives
  the SAME merges from the re-generated delta edges — old components
  still at their pre-merge labels re-propose the same contracted edges,
  so the remap write converges; the newids dynamic overwrite rewrites
  its own batch_id partition, duplicating nothing.
- crash after remap: the re-run's contracted edges all fall inside
  already-merged components => empty delta remap, identical composed
  remap, no-op.

Periodic ``compact_canonical_map`` folds newids+remap into a fresh
``base/`` (single-maintainer discipline, like ``sources.compaction`` and
``sources.zonemaps``) so the remap table and partition count stay small.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

ALIAS_SCHEMA = "alias string, entity_id string"
MAP_SCHEMA = "entity_id string, canonical_id string"
REMAP_SCHEMA = "id string, component string"


def _paths(map_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(map_dir, "base"),
        os.path.join(map_dir, "newids"),
        os.path.join(map_dir, "remap"),
    )


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    try:
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def read_canonical_map(spark: SparkSession, map_dir: str) -> DataFrame:
    """The current view: (base ∪ newids) with merged components chased
    through the remap overlay — one scan of the big tables plus a
    broadcast join against the (small) remap."""
    base_p, new_p, remap_p = _paths(map_dir)
    base = _read_or_empty(spark, base_p, MAP_SCHEMA)
    newids = _read_or_empty(
        spark, new_p, MAP_SCHEMA + ", batch_id bigint"
    ).select("entity_id", "canonical_id")
    remap = _read_or_empty(spark, remap_p, REMAP_SCHEMA)
    m = base.unionByName(newids)
    return m.join(
        F.broadcast(remap), m.canonical_id == remap.id, "left"
    ).select(
        "entity_id",
        F.coalesce("component", "canonical_id").alias("canonical_id"),
    )


def _compose_remap(old: DataFrame, delta: DataFrame) -> DataFrame:
    """historical->current ∘ current->newer: chase old values through the
    delta, then append the delta's own (disjoint) keys. ``delta`` is
    O(batch) — broadcast it on both joins so the persisted remap is
    scanned once with no shuffle, however large it has grown between
    compactions."""
    chased = old.join(
        F.broadcast(
            delta.select(
                F.col("id").alias("_k"), F.col("component").alias("_v")
            )
        ),
        old.component == F.col("_k"),
        "left",
    ).select("id", F.coalesce("_v", "component").alias("component"))
    # keys are disjoint by the label-monotonicity invariant (a component
    # id that merged away never becomes current again); the anti-join is
    # a guard against double-counting on retries, not a correctness need.
    return chased.unionByName(
        delta.join(F.broadcast(old.select("id")), "id", "anti")
    )


def _swap_write(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write-then-rename so readers never see a partial table (dot-prefix
    keeps Spark partition discovery from reading the tmp dir).
    ``single_file`` only for the broadcast-small remap — the base table
    keeps its parallel layout."""
    d, b = os.path.dirname(path), os.path.basename(path)
    tmp = os.path.join(d, "." + b + ".tmp")
    (df.coalesce(1) if single_file else df).write.mode(
        "overwrite"
    ).parquet(tmp)
    old = os.path.join(d, "." + b + ".old")
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def apply_alias_batch(
    spark: SparkSession,
    map_dir: str,
    alias_dict: DataFrame,
    new_rows: DataFrame,
    batch_id: int,
    max_bucket: int | None = None,
    compact_threshold: int | None = 100_000,
) -> dict:
    """Fold one alias-row batch into the persisted map. ``alias_dict`` is
    the full dictionary as of AFTER this batch (the streaming input dir —
    including the batch is harmless: new-new edges dedup, and the fanout
    guard sees the same combined counts a retry would). When the composed
    remap outgrows ``compact_threshold`` rows, ``compact_canonical_map``
    fires to fold the overlays into base/ (None disables). Returns driver
    stats {"remapped": n, "new_entities": n, "remap_size": n}."""
    from xwikire_spark.pipeline.canonicalize import (
        DEFAULT_MAX_ALIAS_FANOUT,
        delta_collision_edges,
        merge_components_delta,
    )

    _, new_p, remap_p = _paths(map_dir)
    cur = read_canonical_map(spark, map_dir)
    edges = delta_collision_edges(
        alias_dict,
        new_rows,
        max_bucket if max_bucket is not None else DEFAULT_MAX_ALIAS_FANOUT,
    )
    new_ids = new_rows.select("entity_id").distinct()
    remap_delta, fresh = merge_components_delta(cur, edges, new_ids)
    # Lineage discipline: only the CC output inside merge_components_delta
    # is checkpointed. ``remap_delta`` is a lazy filter over that
    # checkpoint (safe), but ``fresh`` ALSO joins ``relevant``/``looked``,
    # whose lineage scans the live map — including the remap/ files the
    # swap below deletes. Sever it (and take both counts) BEFORE any
    # swap; both frames are O(batch)-small so the eager localCheckpoint
    # costs one delta-sized job.
    fresh = fresh.localCheckpoint()
    n_fresh = fresh.count()
    n_remap = remap_delta.count()
    fresh.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(new_p)
    old_remap = _read_or_empty(spark, remap_p, REMAP_SCHEMA)
    composed = _compose_remap(old_remap, remap_delta)
    # materialize BEFORE the swap (composed scans the remap table it is
    # about to replace) — localCheckpoint keeps the blocks on executors
    # instead of collecting the whole remap through the driver.
    composed = composed.localCheckpoint()
    n_composed = composed.count()
    _swap_write(composed, remap_p, single_file=True)
    if compact_threshold is not None and n_composed > compact_threshold:
        # single-maintainer: we are the one process that owns the map
        # (foreachBatch runs batches serially), so folding the overlays
        # into base/ here is safe. Keeps the remap broadcast-small.
        compact_canonical_map(spark, map_dir)
    return {
        "remapped": n_remap,
        "new_entities": n_fresh,
        "remap_size": n_composed,
    }


def run_incremental_canonicalization(
    spark: SparkSession,
    input_dir: str,
    map_dir: str,
    checkpoint_dir: str,
    max_bucket: int | None = None,
    compact_threshold: int | None = 100_000,
) -> StreamingQuery:
    """availableNow streaming over an alias-dict parquet directory: each
    micro-batch of new (alias, entity_id) rows updates the persisted
    canonical map at O(batch) cost (see module docstring for layout and
    crash ordering)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        dict_all = s.read.schema(ALIAS_SCHEMA).parquet(input_dir)
        apply_alias_batch(
            s,
            map_dir,
            dict_all,
            batch_df.select("alias", "entity_id"),
            batch_id,
            max_bucket,
            compact_threshold,
        )

    stream = (
        spark.readStream.schema(ALIAS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_canonical_map(spark: SparkSession, map_dir: str) -> dict:
    """Fold newids + remap into a fresh ``base/`` and truncate both
    overlays — the periodic rewrite that keeps the remap broadcast-small.
    Single-maintainer: run from the one process that owns the map (the
    same discipline as ``sources.compaction``)."""
    base_p, new_p, remap_p = _paths(map_dir)
    resolved = read_canonical_map(spark, map_dir)
    rows_df = resolved.localCheckpoint()  # sever from the files we swap
    n = rows_df.count()
    _swap_write(rows_df, base_p)
    for p in (new_p, remap_p):
        if os.path.exists(p):
            shutil.rmtree(p)
    return {"rows": n}
