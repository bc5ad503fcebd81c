"""Seeded benchmark inputs and the expectations the outputs are checked against.

Everything here is a pure function of (seed, size, generator source): the
cache directory name carries all three, so a changed generator is never
measured against inputs it did not produce.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

#: heavy-document shape (4-13 spans, 8-23 words per span, 64 partitions)
N_DOCS = 20_000
N_ASSETS = 500
N_PARTITIONS = 64
SHAPE = dict(min_spans=4, spans_spread=10, min_words=8, words_spread=16)
#: share of clean sink docs companion_dense rewrites (1 in DENSE_MOD)
DENSE_MOD = 5
#: cdc_trickle batch mix: planted-diff keys, clean upserts, deletes of absent keys
CDC_PLANTED, CDC_CLEAN, CDC_ABSENT = 8, 160, 32
CDC_CLEAN_POOL = 4096

_DIFF_CLASSES = ("missing_doc", "extra_doc", "corrupt_text", "swap_offsets")


def _generator_hash(root: str) -> str:
    h = hashlib.sha256()
    for path in (
        os.path.join(root, "opengauss_tools_datachecker_performance_spark", "synth.py"),
        os.path.abspath(__file__),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def du(path: str) -> int:
    """Bytes on disk under ``path`` (data files only, no checksums)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.startswith("."):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


class Inputs:
    """Paths and expectations of one seed's inputs under ``cache_root``."""

    def __init__(self, cache_root: str, root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(
            cache_root, f"seed{seed}-n{N_DOCS}-{_generator_hash(root)}"
        )
        self.source = os.path.join(self.dir, "docs_source.parquet")
        self.sink = os.path.join(self.dir, "docs_sink.parquet")
        self.assets = os.path.join(self.dir, "assets.parquet")
        self.dense_sink = os.path.join(self.dir, "docs_sink_dense.parquet")
        self.meta: dict = {}

    def ensure(self, spark) -> None:
        """Generate (or reuse) the corpus, its expectations and the CDC key
        pools. Generation time is recorded in the cache so a cached run
        still reports ``synth.generate_s``."""
        meta_path = os.path.join(self.dir, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.meta = json.load(f)
            return
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        from opengauss_tools_datachecker_performance_spark import synth

        # the generator's content seed is a module constant; the benchmark
        # seed replaces it, which changes span counts, words, media flags
        # and asset refs of every document
        synth.SEED = self.seed
        from valbench.tracing import Tracer

        gen = Tracer(enabled=True)
        t0 = time.perf_counter()
        with gen.layer(spark, "synth", "write_corpus"):
            synth.write_corpus(
                spark,
                tmp,
                n_docs=N_DOCS,
                n_assets=N_ASSETS,
                n_partitions=N_PARTITIONS,
                **SHAPE,
            )
        generate_s = time.perf_counter() - t0
        meta = _expectations(spark, tmp, self.seed)
        meta["generate_s"] = generate_s
        meta["generate_tasks"] = [gen.spans[0]["tasks"], gen.spans[0]["failed_tasks"]]
        meta["generator"] = os.path.basename(self.dir)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)
        self.meta = meta

    def cdc_batch(self, b: int) -> list[tuple[str, str]]:
        """Change batch ``b`` of the seeded sequence: (key, op) rows."""
        clean, planted = self.meta["cdc_clean"], self.meta["cdc_planted"]
        rows = [(clean[(b * CDC_CLEAN + i) % len(clean)], "u") for i in range(CDC_CLEAN)]
        rows += [(planted[(b * CDC_PLANTED + i) % len(planted)], "u") for i in range(CDC_PLANTED)]
        rows += [(f"absent-{self.seed}-{b}-{i}", "d") for i in range(CDC_ABSENT)]
        random.Random(f"{self.seed}/{b}").shuffle(rows)
        return rows

    def ensure_dense(self, spark) -> int:
        """companion_dense's sink: a seeded ~1/DENSE_MOD of the clean sink
        docs gain an extra span, as a bulk rewrite would leave them.
        Returns the number of rewritten docs."""
        marker = os.path.join(self.dense_sink, "_rewritten.json")
        if not os.path.exists(marker):
            from pyspark.sql import functions as F

            planted = spark.read.parquet(os.path.join(self.dir, "violations_expected.parquet"))
            sink = spark.read.parquet(self.sink)
            pick = F.pmod(F.xxhash64(F.lit(self.seed), "doc_id"), F.lit(DENSE_MOD)) == 0
            extra = F.struct(
                F.lit("text").alias("kind"),
                F.lit(f"rewritten by bulk update {self.seed}").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(1_000_000).alias("offset"),
            )
            picked = (
                sink.join(planted.select("doc_id"), "doc_id", "left_anti")
                .filter(pick)
                .select("doc_id", F.lit(True).alias("_rewrite"))
            )
            dense = sink.join(picked, "doc_id", "left").select(
                "doc_id",
                F.when(F.col("_rewrite"), F.concat("spans", F.array(extra)))
                .otherwise(F.col("spans"))
                .alias("spans"),
                "part",
            )
            dense.repartition("part").write.mode("overwrite").partitionBy("part").parquet(
                self.dense_sink
            )
            with open(marker, "w") as f:
                json.dump({"n_rewritten": picked.count()}, f)
        with open(marker) as f:
            return json.load(f)["n_rewritten"]


def _expectations(spark, out: str, seed: int) -> dict:
    """Per-constraint violation counts the engine must report, derived
    from synth's ``violations_expected`` classes and plain body-level
    queries (no engine code), plus the key pools of the CDC batches."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(os.path.join(out, "docs_source.parquet"))
    sink = spark.read.parquet(os.path.join(out, "docs_sink.parquet"))
    vexp = spark.read.parquet(os.path.join(out, "violations_expected.parquet"))
    planted = {r["doc_id"]: r["vclass"] for r in vexp.collect()}

    sorted_spans = F.array_sort(
        F.col("spans"), lambda a, b: a["offset"] - b["offset"]
    )

    def span(i):
        return F.struct(*(sorted_spans[i][f] for f in ("kind", "text", "media_ref")))

    swap_ids = [k for k, v in planted.items() if v == "swap_offsets"]
    # swapping two identical spans leaves the sequence unchanged: no diff
    swap_noops = {
        r["doc_id"]
        for r in src.filter(F.col("doc_id").isin(swap_ids))
        .filter(span(0).eqNullSafe(span(1)))
        .select("doc_id")
        .collect()
    }
    diff_keys = sorted(
        k for k, v in planted.items() if v in _DIFF_CLASSES and k not in swap_noops
    )
    dangling_ids = [k for k, v in planted.items() if v == "dangling_ref"]
    spans = src.select(F.explode("spans").alias("s"), "doc_id")
    is_text, is_media = F.col("s.kind") == "text", F.col("s.kind") == "media"
    span_stats = spans.agg(
        F.count(F.lit(1)).alias("spans"),
        F.count(F.when(is_text & F.col("s.text").isNull(), 1)).alias("null_text"),
        F.count(F.when(is_media & F.col("doc_id").isin(dangling_ids), 1)).alias("referential"),
    ).first()

    clean = ~F.col("doc_id").isin(list(planted))

    # cdc_trickle key pools in a seeded order; batches cycle through them
    clean_keys = [
        r["doc_id"]
        for r in src.filter(clean)
        .orderBy(F.xxhash64(F.lit(seed), "doc_id"))
        .select("doc_id")
        .limit(CDC_CLEAN_POOL)
        .collect()
    ]
    cdc_planted = sorted(k for k, v in planted.items() if v in _DIFF_CLASSES)
    random.Random(seed).shuffle(cdc_planted)

    return {
        "seed": seed,
        "expected": {
            "consistency": len(diff_keys),
            "unique": sum(1 for v in planted.values() if v == "duplicate"),
            "referential": span_stats["referential"],
            "null_text": span_stats["null_text"],
        },
        "drift_partitions": [0],
        "diff_keys": diff_keys,
        "cdc_clean": clean_keys,
        "cdc_planted": cdc_planted,
        "sizes": {
            "source_docs": src.count(),
            "sink_docs": sink.count(),
            "source_spans": span_stats["spans"],
            "source_bytes": du(os.path.join(out, "docs_source.parquet")),
            "sink_bytes": du(os.path.join(out, "docs_sink.parquet")),
        },
    }
