"""Digest-companion tables: validation without reading doc bodies.

The digest stage is the memory-bandwidth ceiling of the whole engine:
at 3M heavy docs/side the parquet nested-span decode (text bytes)
dominates the scan, and hashing itself is measured cheap
(scripts/bench_digest_variants.py). At 10^12 docs the same ratio
holds — every validation run re-reads ~KB of span text per doc to
recompute ~40 B of digests.

A digest COMPANION table inverts that cost: at ingest (when the
writer has the doc bodies in memory anyway) it persists exactly the
enriched digest frame the checks consume (plans.runner.ENRICHED_COLS:
per-span hash array, span-sequence digest, k_hash, bucket, drift
metric, span-rule inputs). Validation then scans tens of bytes per
doc instead of the bodies — a 10-100x scan-volume cut that converts
the bandwidth-bound digest stage into a metadata read, the same
economics as Iceberg keeping column stats in manifests. The reference
has the identical idea in miniature: its extract service builds row
digests ONCE per endpoint and ships only digests to the check service
(DataCheckRunnable.java) — the companion is that digest shipment made
durable and incremental.

Integrity model: the companion is DERIVED state. Writers maintain it
transactionally with the doc table (same commit in Iceberg); a stale
companion is detectable cheaply by comparing its per-partition row
counts/XOR signatures against the doc table's lineage ledger entries
(plans.lineage), without reading bodies. Maintenance from a CDC feed
(update_digest_companion / maintain_companion_from_cdc) rewrites only
the partitions whose rows actually change: a replayed or touch-only
batch costs a keyed lookup of the named keys and no write.

Layout: partitioned by ``part`` (partition pruning for chunked /
resumed runs) — or bucketed by ``key`` via ``table_name`` +
``n_buckets`` so the consistency diff against a same-bucketed
companion also runs exchange-free (sources.bucketed's co-location
argument, compounded: no body scan AND no shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def digest_companion_frame(docs: DataFrame, partition_col: str = "part") -> DataFrame:
    """The exact enriched digest frame validate_docs builds internally
    (plans.runner._enriched_digests), as a writable projection."""
    from opengauss_tools_datachecker_performance_spark.plans.runner import (
        _enriched_digests,
    )

    return _enriched_digests(docs.withColumnRenamed(partition_col, "part"))


def write_digest_companion(
    docs: DataFrame,
    path: str | None = None,
    partition_col: str = "part",
    table_name: str | None = None,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write the digest companion for ``docs``.

    * ``path`` only: plain parquet, partitioned by ``part`` (pruned
      scans for --chunk-partitions / resume waves).
    * ``table_name`` (+ optional ``path`` for external data): catalog
      table bucketed by ``key`` with ``n_buckets`` (default 64) — a
      diff between two same-bucketed companions plans with zero key
      Exchange on top of the body-free scan.
    """
    frame = digest_companion_frame(docs, partition_col)
    if table_name is not None:
        w = (
            frame.write.mode(mode)
            .format("parquet")
            .bucketBy(n_buckets or 64, "key")
            .sortBy("key")
        )
        if path is not None:
            w = w.option("path", path)
        w.saveAsTable(table_name)
        return
    if path is None:
        raise ValueError("write_digest_companion needs a path or a table_name")
    frame.write.mode(mode).partitionBy("part").parquet(path)


def update_digest_companion(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    partition_col: str = "part",
) -> list:
    """Incrementally maintain a ``partitionBy(part)`` companion: merge
    re-digested rows for changed docs (``upserts``: raw docs shape)
    and remove ``delete_keys`` (a ``key`` column; a key that is also
    upserted ends with its upserted rows), rewriting ONLY the
    partitions whose content changes (dynamic partition overwrite).
    Returns the sorted list of those partition values — ``[]`` when
    the merge changes nothing, in which case nothing is written.

    This is how the companion stays fresh at 10^12 docs without a
    rebuild: the CDC feed (sources.debezium → streaming.incremental)
    names changed keys; re-digesting touches just those docs' bodies;
    the touched keys' stored rows are compared with the re-digested
    ones as exact multisets inside the plan, so a re-delivered
    unchanged row (an at-least-once replay, a touch-only update)
    costs a keyed lookup and no write, and every partition without a
    real change keeps its files byte-identical. In an Iceberg
    deployment the same merge is a MERGE INTO committed in the
    writer's transaction — this file-level variant keeps the sandbox
    path self-contained and is idempotent (re-running the same update
    converges, and rewrites nothing).
    """
    if upserts is None and delete_keys is None:
        return []
    comp = spark.read.parquet(path)
    # persist: the re-digested upsert frame feeds the touched-key set,
    # both sides of the change comparison and the final write — without
    # it each would re-read + re-digest the upsert doc bodies, the exact
    # I/O this function exists to minimize. A delete-only merge
    # re-digests nothing: an empty frame of the stored schema.
    new = (
        comp.limit(0)
        if upserts is None
        else digest_companion_frame(upserts, partition_col).persist()
    )
    try:
        touched = new.select("key")
        if delete_keys is not None:
            touched = touched.unionByName(
                delete_keys.select(F.col("key").cast("string"))
            )
        touched = touched.distinct()
        # broadcast is right for the normal CDC trickle but fatal for
        # a bulk backfill / wholesale delete whose key set is
        # corpus-sized; with AQE on (production default) let the
        # RUNTIME size decide, pinning the hint only when AQE is off
        # (same treatment as checks/span_rules.py's dangling-ref join)
        aqe = (
            spark.conf.get("spark.sql.adaptive.enabled", "true").lower()
            == "true"
        )
        t_side = touched if aqe else F.broadcast(touched)
        # changed partitions: the touched keys' stored rows vs their
        # re-digested rows as exact multisets — a row whose +1 (stored)
        # and -1 (re-digested) copies don't cancel is in
        # old.exceptAll(new) ∪ new.exceptAll(old), computed here in ONE
        # aggregation instead of two (a moved key changes both its old
        # and new partition; a deleted key's rows have no counterpart).
        # Only partition ids reach the driver.
        old = comp.join(t_side, "key", "left_semi")
        signed = old.withColumn("_n", F.lit(1)).unionByName(
            new.withColumn("_n", F.lit(-1))
        )
        parts = {
            r[0]
            for r in signed.groupBy(*comp.columns)
            .agg(F.sum("_n").alias("_n"))
            .filter(F.col("_n") != 0)
            .select("part")
            .distinct()
            .collect()
        }
        if not parts:
            return []

        in_parts = F.col("part").isin(list(parts))
        keep = comp.filter(in_parts).join(t_side, "key", "left_anti")
        out = keep.unionByName(new.filter(in_parts))
        # isolate the new content from the files it is computed from
        # (Spark refuses to overwrite a path it is reading)
        out = out.localCheckpoint(eager=True)
        _overwrite_partitions(spark, out, path, parts)
        return sorted(parts)
    finally:
        new.unpersist()


def _overwrite_partitions(
    spark: SparkSession, frame: DataFrame, path: str, expected_parts: set
) -> None:
    """Rewrite exactly ``expected_parts``' part= dirs with ``frame``'s
    rows. Dynamic overwrite only rewrites partitions PRESENT in the
    output, so an expected partition the frame emptied must have its
    dir removed explicitly or stale rows would survive."""
    frame = frame.persist()
    try:
        remaining = {r[0] for r in frame.select("part").distinct().collect()}
        if remaining:
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                frame.write.mode("overwrite").partitionBy("part").parquet(path)
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    finally:
        frame.unpersist()
    # emptied partitions: delete through the Hadoop FileSystem API so
    # hdfs:///s3a:// companion paths work too — a local-only
    # shutil.rmtree would silently leave the stale part= dir on remote
    # storage and the next diff would report phantom deletes
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        hadoop_rmtree,
    )

    for p in set(expected_parts) - remaining:
        hadoop_rmtree(spark, os.path.join(path, f"part={p}"))


def maintain_companion_from_cdc(
    spark: SparkSession,
    path: str,
    docs_source: DataFrame,
    cdc_rows: DataFrame,
    partition_col: str = "part",
    table_name: str | None = None,
) -> list:
    """One decoded CDC batch (``key``, ``op`` [, ``ts_ms``,
    ``table_name``] — the output shape of sources.debezium's decoders)
    → companion merge.

    The latest op per key wins (ts_ms desc); ties — same-millisecond
    ops, or no ts_ms at all — resolve deterministically TOWARD upsert,
    because the upsert path re-reads the source table (the truth): a
    key whose doc is gone re-digests to nothing and so resolves to
    delete anyway, so the tie rule self-corrects, whereas a delete-wins
    tie could drop a live doc's row. Upserted keys re-fetch their doc
    bodies from ``docs_source`` with a broadcast semi-join (the CDC
    batch is the small side by construction — S5/P6's IN-list fetch
    pattern); only those docs are re-digested. Returns the partitions
    whose content changed (the only ones rewritten): a replayed or
    touch-only batch returns ``[]`` and writes nothing.

    A multi-table feed MUST name the companion's table: rows from
    other tables sharing key values would otherwise delete/rewrite
    this companion's rows."""
    if "table_name" in cdc_rows.columns:
        if table_name is None:
            raise ValueError(
                "CDC feed carries table_name — pass table_name= so other "
                "tables' ops don't corrupt this companion"
            )
        cdc_rows = cdc_rows.filter(F.col("table_name") == table_name)
    elif table_name is not None:
        raise ValueError("table_name given but the CDC feed has no such column")
    cols = ["key", "op"] + (["ts_ms"] if "ts_ms" in cdc_rows.columns else [])
    ops = cdc_rows.select(*cols).withColumn("key", F.col("key").cast("string"))
    from pyspark.sql.window import Window

    ts = F.col("ts_ms") if "ts_ms" in cols else F.lit(0)
    w = Window.partitionBy("key").orderBy(
        ts.desc(),
        (F.col("op") == "d").asc(),  # ties: upsert first (self-correcting)
        F.col("op").asc(),
    )
    ops = (
        ops.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", "op")
    )
    up_keys = ops.filter(F.col("op") != "d").select(F.col("key").alias("doc_id"))

    docs = docs_source.withColumnRenamed(partition_col, "part")
    keyed = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    upserts = keyed.join(F.broadcast(up_keys), "doc_id", "left_semi")
    # every resolved key is touched: its stored rows give way to whatever
    # the upserts re-digest — nothing for a delete, or for an upsert
    # whose doc is already gone from docs_source
    return update_digest_companion(
        spark,
        path,
        upserts=upserts.select("doc_id", "spans", "part"),
        delete_keys=ops.select("key"),
    )


def companion_maintenance_stream(
    spark: SparkSession,
    change_stream: DataFrame,
    path: str,
    docs_source: DataFrame,
    checkpoint_dir: str,
    partition_col: str = "part",
    trigger_seconds: int | None = None,
    table_name: str | None = None,
):
    """Structured-Streaming wrapper: a decoded CDC stream (key, op[,
    ts_ms, table_name]) keeps the companion fresh, one idempotent
    partition-merge per micro-batch (exactly-once effect: replaying a
    batch after a crash finds no changed partition and writes nothing).
    ``trigger_seconds`` None → availableNow (drain-and-stop, used by
    tests/catch-up runs); ``table_name`` is required when the feed is
    multi-table (see maintain_companion_from_cdc)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        maintain_companion_from_cdc(
            spark, path, docs_source, batch_df, partition_col, table_name
        )

    w = change_stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def companion_stale_partitions(
    companion: DataFrame, reference_stats: DataFrame
) -> DataFrame:
    """Body-free staleness check for the derived companion state:
    → (part, reason, companion_n_rows, reference_n_rows,
    companion_digest, reference_digest), one row per partition whose
    companion (row count, XOR span-sequence digest) disagrees with
    ``reference_stats`` — either ``plans.lineage.partition_stats``
    computed fresh off the doc table, or the ledger's recorded rows
    (``read_ledger(...).filter(status='done')`` reduced to the latest
    entry per part). Empty result ⇔ the companion faithfully derives
    from the state the reference describes; any row names a partition
    to re-ingest. The companion side folds its STORED v_hash, so the
    check reads hashes, never bodies."""
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )

    comp = partition_stats(companion)  # enriched fast path: stored v_hash
    ref = reference_stats.select(
        F.col("part").cast("int"),
        F.col("n_rows").cast("long").alias("ref_n_rows"),
        F.col("digest").cast("long").alias("ref_digest"),
    )
    j = comp.join(ref, "part", "full_outer")
    reason = (
        F.when(F.col("n_rows").isNull(), F.lit("missing_in_companion"))
        .when(F.col("ref_n_rows").isNull(), F.lit("missing_in_reference"))
        .when(F.col("n_rows") != F.col("ref_n_rows"), F.lit("row_count"))
        .when(~F.col("digest").eqNullSafe(F.col("ref_digest")), F.lit("digest"))
    )
    return (
        j.select(
            "part",
            reason.alias("reason"),
            F.col("n_rows").alias("companion_n_rows"),
            F.col("ref_n_rows").alias("reference_n_rows"),
            F.col("digest").alias("companion_digest"),
            F.col("ref_digest").alias("reference_digest"),
        )
        .filter(F.col("reason").isNotNull())
    )


def repair_companion(
    spark: SparkSession,
    path: str,
    docs_source: DataFrame,
    parts: list,
    partition_col: str = "part",
) -> list:
    """Remediation for :func:`companion_stale_partitions` hits:
    re-derive the named partitions from the doc table (the only time
    bodies are read — and only the stale partitions' bodies).
    Partitions with no doc rows anymore have their dirs removed.
    Returns the repaired partition values."""
    if not parts:
        return []
    docs = docs_source.withColumnRenamed(partition_col, "part").filter(
        F.col("part").isin(list(parts))
    )
    _overwrite_partitions(spark, digest_companion_frame(docs), path, set(parts))
    return sorted(parts)


def read_digest_companion(
    spark: SparkSession, ref: str
) -> DataFrame:
    """Read a companion written by :func:`write_digest_companion` —
    ``table:name`` for the bucketed form (bucket metadata only
    survives catalog reads), else a parquet path."""
    if ref.startswith("table:"):
        return spark.table(ref[len("table:"):])
    return spark.read.parquet(ref)
