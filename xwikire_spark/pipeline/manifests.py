"""Per-partition lineage manifests + checkpointed resume.

Sparkified version of the reference's per-chunk bookkeeping: each chunk
returned ``{"processed": n, "elapsed": t}`` plus quality counters to the
driver (src/builders/builder.py:45-48, src/srl.py:42-53); a crashed run
redid everything. Here:

- a *partition* is ``pmod(xxhash64(conv_id), n_buckets)`` — deterministic,
  so re-runs see the same partition ids (the reference's id-sorted chunking,
  src/utils/utils.py:36-47, made deterministic);
- outputs land under ``out/part_bucket=<k>/``; a manifest row
  (bucket, convs_in, rows_in, triples_out, input_hash, wall_ms, batch) is
  appended after each bucket's files commit; ``batch`` numbers the resume
  calls that wrote rows (1, 2, ...);
- resume is planned on the driver: the input's per-bucket fingerprints
  (at most n_buckets rows) and the latest manifest row per bucket are
  collected, and the pending buckets are their set difference (J8) —
  idempotent because bucket contents are a pure function of conv_id;
- ``input_hash`` (order-insensitive xor of per-row hashes) detects silent
  input drift: a bucket whose hash differs from its LATEST manifest row is
  reprocessed, so an input that reverts to an earlier state is rebuilt too.

At 10^12 turns: buckets are the unit of retry/backfill; choose n_buckets so
one bucket ≈ one executor-hour. Quality counters ride on ``observe()``.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ``batch`` was added after the other columns; rows written before it read
# back as NULL and rank as batch 0, older than any numbered batch.
MANIFEST_SCHEMA = (
    "bucket BIGINT, convs_in BIGINT, rows_in BIGINT, triples_out BIGINT, "
    "input_hash BIGINT, wall_ms BIGINT, batch BIGINT"
)


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return transcripts.withColumn(
        "part_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
    )


def bucket_fingerprints(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, convs_in, rows_in, input_hash) per bucket — one scan."""
    return (
        with_bucket(transcripts, n_buckets)
        .groupBy("part_bucket")
        .agg(
            F.countDistinct("conv_id").alias("convs_in"),
            F.count(F.lit(1)).alias("rows_in"),
            # bit_xor: order-insensitive, overflow-free under ANSI mode
            # (sum(xxhash64) trips ARITHMETIC_OVERFLOW in Spark 4)
            F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias(
                "input_hash"
            ),
        )
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def _manifest_or_none(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The manifest table, or None before the first batch commits. Only a
    missing path means "nothing recorded": any other failure (an
    unreadable file, a listing error) propagates, since treating it as an
    empty manifest would silently reprocess every bucket."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(
            _manifest_path(out_dir)
        )
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    m = _manifest_or_none(spark, out_dir)
    return m if m is not None else spark.createDataFrame([], MANIFEST_SCHEMA)


def _recorded(spark: SparkSession, out_dir: str) -> tuple[dict[int, int], int]:
    """-> ({bucket: input_hash of its latest manifest row}, largest batch
    recorded). One aggregate collected to the driver (at most n_buckets
    rows), and no Spark job at all when the manifest does not exist."""
    m = _manifest_or_none(spark, out_dir)
    if m is None:
        return {}, 0
    rows = (
        m.groupBy("bucket")
        .agg(
            F.max(
                F.struct(
                    F.coalesce("batch", F.lit(0)).alias("batch"), "input_hash"
                )
            ).alias("last")
        )
        .collect()
    )
    latest = {r["bucket"]: r["last"]["input_hash"] for r in rows}
    return latest, max((r["last"]["batch"] for r in rows), default=0)


def _pending(hashes: dict[int, int], latest: dict[int, int]) -> list[int]:
    """Buckets of ``hashes`` ({bucket: input_hash}) absent from the
    manifest, or whose input_hash differs from their latest manifest row."""
    return sorted(b for b, h in hashes.items() if latest.get(b) != h)


def pending_buckets(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int
) -> list[int]:
    """Buckets not yet present in the manifest (or whose input changed) —
    the resume set difference (J8 / src/scripts/extract_unprocessed.py:20-45),
    taken on the driver. Only the hash column is computed: the distinct
    conversation count is pruned from the fingerprint aggregate."""
    fp = bucket_fingerprints(transcripts, n_buckets)
    return _pending(
        dict(fp.select("part_bucket", "input_hash").collect()),
        _recorded(spark, out_dir)[0],
    )


def _in_buckets(buckets: list[int]) -> Column:
    """``part_bucket IN (buckets)`` as one parsed expression. The same
    predicate from ``Column.isin`` costs one gateway call per literal,
    about 0.06 s of driver time for 256 buckets."""
    return F.expr(f"part_bucket IN ({', '.join(map(str, buckets))})")


def _append_rows(
    spark: SparkSession, rows: list[tuple], schema: str, path: str
) -> None:
    """Append driver-side rows to the parquet table at ``path`` as one
    file. The rows go through pandas, which a session with Arrow enabled
    ships as one Arrow batch: for 256 manifest rows on a 4-core box that
    write takes about 0.08 s, against 0.3 s from a list of tuples."""
    cols = [c.split()[0] for c in schema.split(", ")]
    spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)\
        .coalesce(1).write.mode("append").parquet(path)


def run_with_manifests(
    spark: SparkSession,
    transcripts: DataFrame,
    build_fn,
    out_dir: str,
    n_buckets: int = 16,
    zone_map_cols: list[str] | None = None,
    table_format: str = "parquet",
) -> DataFrame:
    """Run ``build_fn(transcripts_subset) -> triples`` over the pending
    buckets with resume. Returns the full output (all buckets) read back
    from disk.

    All pending buckets go through ONE build and ONE clustered write: the
    output is rebalanced on ``part_bucket`` before the write, so each
    bucket is written by one task and every batch leaves one file per
    bucket. This is Iceberg's ``write.distribution-mode=hash`` (the
    layout ``sources.bucketing`` targets); a plain hash repartition would
    send a hot bucket to one reducer, whereas the rebalance lets AQE split
    a skewed bucket into several files. Without the clustering every
    write task would open a file in every bucket it saw: tasks × buckets
    small files.

    Resume is planned on the driver. The per-bucket fingerprints (one
    scan of the transcripts) and the latest manifest row per bucket are
    collected, both at most n_buckets rows; the pending buckets are those
    whose fingerprint hash differs from their latest row. After the
    write, the per-bucket triple counts are collected from the written
    files and the manifest rows (tagged with the next ``batch`` number)
    are built from those fingerprints and counts, so the transcripts are
    scanned for fingerprints once per call.

    ``zone_map_cols``: when set, ``sources.zonemaps.refresh_zone_maps``
    runs after the bucket write, statting ONLY the files this run added
    (incremental) — so downstream range queries on those columns (e.g.
    conv_id) can plan pruned file lists instead of full table scans.

    ``table_format``: ``"parquet"`` = partitioned directory + dynamic
    partition overwrite (reprocessing a bucket swaps its directory);
    ``"snapshot"`` = ``sources.snapshots`` table — each resume batch is
    ONE atomic versioned commit (``commit_replace_partitions`` on
    part_bucket), readers plan from manifests instead of directory
    listings, get snapshot isolation against in-flight batches, and can
    time-travel to any prior batch's view. Resume semantics (lineage
    manifest, drift detection, idempotent reprocess) are identical.
    """
    if table_format not in ("parquet", "snapshot"):
        raise ValueError(f"unknown table_format {table_format!r}")
    snap = table_format == "snapshot"
    if snap:
        from xwikire_spark.sources import snapshots as snapmod
    triples_root = os.path.join(out_dir, "triples")
    fps = {
        r["part_bucket"]: r
        for r in bucket_fingerprints(transcripts, n_buckets).collect()
    }
    latest, last_batch = _recorded(spark, out_dir)
    todo = _pending({b: r["input_hash"] for b, r in fps.items()}, latest)
    if not todo:
        if snap:
            return snapmod.read_table(spark, triples_root)
        return spark.read.parquet(triples_root)

    from pyspark.sql import Observation

    t0 = time.time()
    in_todo = _in_buckets(todo)
    subset = with_bucket(transcripts, n_buckets).where(in_todo)
    triples = build_fn(subset.drop("part_bucket"))
    out = with_bucket(triples, n_buckets)
    # quality metrics ride the WRITE job itself via observe() — zero
    # extra passes (the reference returned per-chunk stats dicts to the
    # driver, src/builders/builder.py:45-48; this is the Spark-native
    # equivalent)
    obs = Observation("kg_quality")
    cols = set(out.columns)
    metric_exprs = [F.count(F.lit(1)).alias("triples_out")]
    for c, name in (("conv_id", "approx_convs"),
                    ("subj", "approx_subjects"),
                    ("obj", "approx_objects")):
        if c in cols:
            metric_exprs.append(F.approx_count_distinct(c).alias(name))
    if "evidence" in cols:
        metric_exprs.append(
            F.sum(
                F.when(F.length(F.trim("evidence")) == 0, 1).otherwise(0)
            ).alias("empty_evidence")
        )
    out = out.observe(obs, *metric_exprs).hint("rebalance", "part_bucket")
    if snap:
        # one atomic versioned commit per resume batch; a drifted
        # bucket's files fall out of the new manifest (old versions
        # keep them — time travel), so reprocess is idempotent
        snapmod.commit_replace_partitions(
            spark, triples_root, out, "part_bucket"
        )
    else:
        # dynamic partition overwrite: reprocessing a drifted bucket
        # replaces its files instead of appending duplicates — resume
        # is idempotent. A per-write option, so the caller's session
        # keeps its own overwrite mode.
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part_bucket").parquet(triples_root)
    wall_ms = int((time.time() - t0) * 1000)
    # aggregates over a zero-row write observe NULL (e.g. the sum) —
    # coalesce to 0 and pin the schema or createDataFrame fails type
    # inference on the all-None row
    metrics = {k: (0 if v is None else v) for k, v in dict(obs.get).items()}
    metrics["wall_ms"] = wall_ms
    metrics["n_buckets_processed"] = len(todo)
    _append_rows(
        spark, [tuple(metrics.values())],
        ", ".join(f"{k} bigint" for k in metrics),
        os.path.join(out_dir, "_metrics"),
    )

    # count from the just-written files, NOT the build DataFrame —
    # re-aggregating `out` would recompute the whole extraction
    # (including the Python kernel) a second time. Snapshot mode plans
    # ONLY the todo buckets' files (manifest partition pruning); parquet
    # mode lists the table once and returns that same DataFrame.
    if snap:
        written = snapmod.read_table(spark, triples_root, partitions=todo)
    else:
        table = spark.read.parquet(triples_root)
        written = table.where(in_todo)
    counts = dict(
        written.groupBy(F.col("part_bucket").cast("bigint")).count().collect()
    )
    manifest_rows = [
        (b, fps[b]["convs_in"], fps[b]["rows_in"], counts.get(b, 0),
         fps[b]["input_hash"], wall_ms, last_batch + 1)
        for b in todo
    ]
    _append_rows(spark, manifest_rows, MANIFEST_SCHEMA, _manifest_path(out_dir))

    if zone_map_cols:
        from xwikire_spark.sources.zonemaps import refresh_zone_maps

        refresh_zone_maps(spark, triples_root, zone_map_cols)

    if snap:
        return snapmod.read_table(spark, triples_root)
    return table
