"""The three workloads: set-up calls, one timed operation, its traced
layer-by-layer twin, and the correctness gate every operation passes.

Each operation returns ``(ok, keys, counters)``: whether its output matched
the seeded expectation, how many keys it processed, and per-layer counts
(traced operations only).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

from valbench.inputs import du

DRIFT_THRESHOLD = 0.15  # the CLI's --drift-threshold default
N_BUCKETS = 1 << 16  # digest.DEFAULT_NUM_BUCKETS


def _summary_ok(summary: dict, expected: dict, drift_parts: list) -> bool:
    """Exact per-constraint counts, except drift: the planted drift
    partitions must fail; other partitions hold ~300 docs each at this size,
    and the quantile test may flag some of them by chance."""
    got = {c: v["n_violations"] for c, v in summary["constraints"].items()}
    drift = summary["constraints"].get("drift", {}).get("failed_partitions", [])
    exact = {c: n for c, n in got.items() if c != "drift"}
    if exact != expected or not set(drift_parts) <= set(drift):
        print(f"[valbench] MISMATCH got={got} expected={expected} "
              f"drift={drift} expected_drift={drift_parts}", file=sys.stderr)
        return False
    return True


class BatchValidation:
    """raw_sparse and companion_dense: one operation is one full CLI
    validation, ``__main__.main([...], spark=...)``, of the whole corpus."""

    def __init__(self, inp, work: str, companions: bool):
        self.inp = inp
        self.companions = companions
        self.sink = inp.dense_sink if companions else inp.sink
        self.comp_source = os.path.join(work, "companion_source.parquet")
        self.comp_sink = os.path.join(work, "companion_sink.parquet")
        self.report = os.path.join(work, "report")
        self.expected = dict(inp.meta["expected"])
        self.docs = inp.meta["sizes"]["source_docs"]
        self.confirmed = 0

    def prepare_inputs(self, spark) -> None:
        if self.companions:
            self.expected["consistency"] += self.inp.ensure_dense(spark)

    def setup(self, spark, tracer) -> None:
        if not self.companions:
            return
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            write_digest_companion,
        )

        for raw, comp in ((self.inp.source, self.comp_source), (self.sink, self.comp_sink)):
            with tracer.layer(spark, "prehashed", "write_digest_companion"):
                write_digest_companion(spark.read.parquet(raw), comp)

    def prepare(self, spark) -> None:
        pass

    def op(self, spark):
        from opengauss_tools_datachecker_performance_spark.__main__ import main

        argv = [
            "--source", self.inp.source,
            "--sink", self.sink,
            "--assets", self.inp.assets,
            "--report-dir", self.report,
        ]
        if self.companions:
            argv += ["--source-companion", self.comp_source,
                     "--sink-companion", self.comp_sink]
        summary_path = os.path.join(self.report, "summary.json")
        if os.path.exists(summary_path):
            os.remove(summary_path)
        rc = main(argv, spark=spark)
        with open(summary_path) as f:
            summary = json.load(f)
        ok = rc == 1 and _summary_ok(
            summary, self.expected, self.inp.meta["drift_partitions"]
        )
        return ok, self.docs, {}

    def traced_op(self, spark, tracer):
        """Each layer's public call on the persisted output of the layer
        before it, forced with a count or a write."""
        from pyspark.sql import functions as F

        from opengauss_tools_datachecker_performance_spark.checks.drift import (
            drift_from_profiles,
            quantile_profiles,
        )
        from opengauss_tools_datachecker_performance_spark.checks.span_rules import (
            span_rule_violations_from_digests,
        )
        from opengauss_tools_datachecker_performance_spark.checks.uniqueness import (
            duplicate_keys_from_digests,
        )
        from opengauss_tools_datachecker_performance_spark.operators.diff import (
            diff_digests,
            mismatched_buckets,
        )
        from opengauss_tools_datachecker_performance_spark.plans.report import (
            write_report,
        )
        from opengauss_tools_datachecker_performance_spark.plans.runner import (
            validate_docs,
        )
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            digest_companion_frame,
            read_digest_companion,
        )

        if self.companions:
            sides = [read_digest_companion(spark, p) for p in (self.comp_source, self.comp_sink)]
            input_bytes = du(self.comp_source) + du(self.comp_sink)
        else:
            sides = [spark.read.parquet(p) for p in (self.inp.source, self.sink)]
            input_bytes = du(self.inp.source) + du(self.sink)
        assets = spark.read.parquet(self.inp.assets)
        held = []
        try:
            digests, n_docs = [], 0
            for side in sides:
                with tracer.layer(spark, "digest", "digest_companion_frame"):
                    d = digest_companion_frame(side).persist()
                    n_docs += d.count()
                digests.append(d)
                held.append(d)
            d_src, d_sink = digests
            with tracer.layer(spark, "diff", "mismatched_buckets"):
                bad = mismatched_buckets(d_src, d_sink).persist()
                n_bad = bad.count()
            held.append(bad)
            with tracer.layer(spark, "diff", "diff_digests"):
                diffs = diff_digests(
                    d_src, d_sink, carry_cols=["part"], locate_spans=True
                ).persist()
                n_diffs = diffs.count()
            held.append(diffs)
            rows_joined = sum(
                d.join(F.broadcast(bad), "bucket", "left_semi").count() for d in digests
            )
            with tracer.layer(spark, "checks", "duplicate_keys_from_digests"):
                duplicate_keys_from_digests(d_src).count()
            with tracer.layer(spark, "checks", "span_rule_violations_from_digests"):
                span_rule_violations_from_digests(d_src, assets).count()
            with tracer.layer(spark, "checks", "drift_from_profiles"):
                profiles = quantile_profiles(
                    d_src.select("part", F.col("text_len").alias("metric"))
                )
                drift_from_profiles(profiles, threshold=DRIFT_THRESHOLD).count()
            with tracer.layer(spark, "runner", "validate_docs"):
                result = validate_docs(d_src, d_sink, assets, drift_threshold=DRIFT_THRESHOLD)
                result.verdicts.collect()
                n_violations = result.violations.count()
            held += [v for v in result.extras.values() if v is not None]
            shutil.rmtree(self.report, ignore_errors=True)
            with tracer.layer(spark, "report", "write_report"):
                summary = write_report(result, self.report)
        finally:
            for df in held:
                df.unpersist()
        ok = _summary_ok(summary, self.expected, self.inp.meta["drift_partitions"])
        return ok, self.docs, {
            "digest.docs": n_docs,
            "digest.input_bytes": input_bytes,
            "diff.dirty_bucket_share": n_bad / N_BUCKETS,
            "diff.rows_joined": rows_joined,
            "diff.diff_yield": n_diffs / rows_joined if rows_joined else 0.0,
            "runner.violations": n_violations,
            "report.bytes": du(self.report),
        }

    def companion_bytes(self) -> tuple[int, int]:
        if not self.companions:
            return 0, 0
        sizes = self.inp.meta["sizes"]
        return (
            du(self.comp_source) + du(self.comp_sink),
            sizes["source_docs"] + sizes["sink_docs"],
        )

    def finish(self, spark) -> list[bool]:
        return []


class CdcTrickle:
    """One operation is one change batch: ``maintain_companion_from_cdc``
    writes the sink companion, then ``IncrementalChecker.process_batch``
    re-checks the batch's keys (and those pending a second look)."""

    def __init__(self, inp, work: str):
        self.inp = inp
        self.comp_sink = os.path.join(work, "companion_sink.parquet")
        self.out = os.path.join(work, "incremental")
        self.diff_keys = set(inp.meta["diff_keys"])
        self.next_batch = 0
        self.named_diff_keys: set[str] = set()
        self.confirmed = 0

    def prepare_inputs(self, spark) -> None:
        pass

    def setup(self, spark, tracer) -> None:
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            write_digest_companion,
        )

        with tracer.layer(spark, "prehashed", "write_digest_companion"):
            write_digest_companion(spark.read.parquet(self.inp.sink), self.comp_sink)

    def prepare(self, spark) -> None:
        from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
            IncrementalChecker,
        )

        shutil.rmtree(self.out, ignore_errors=True)
        self.raw_source = spark.read.parquet(self.inp.source)
        self.raw_sink = spark.read.parquet(self.inp.sink)
        self.checker = IncrementalChecker(self.raw_source, self.raw_sink, self.out)

    def op(self, spark, tracer=None):
        from valbench.tracing import Tracer

        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            maintain_companion_from_cdc,
        )

        tracer = tracer or Tracer(enabled=False)
        b = self.next_batch
        self.next_batch += 1
        rows = self.inp.cdc_batch(b)
        cdc = spark.createDataFrame(rows, "key string, op string")
        with tracer.layer(spark, "prehashed", "maintain_companion_from_cdc"):
            parts = maintain_companion_from_cdc(spark, self.comp_sink, self.raw_sink, cdc)
        before = len(self.checker.confirmed)
        pending = set(self.checker.pending)
        with tracer.layer(spark, "incremental", "process_batch"):
            self.checker.process_batch(cdc.select(cdc.key.alias("doc_id")), b)
        self.named_diff_keys |= {k for k, _ in rows if k in self.diff_keys}
        newly = {k for k, _, _ in self.checker.confirmed[before:]}
        ok = newly <= self.diff_keys and set(self.checker.pending) <= self.diff_keys
        counters = {}
        if tracer.enabled:
            from pyspark.sql import functions as F

            rewritten = (
                spark.read.parquet(self.comp_sink).filter(F.col("part").isin(parts)).count()
            )
            counters = {
                "prehashed.rows_rewritten": rewritten,
                "prehashed.rewrite_amplification": rewritten / len(rows),
                "incremental.keys": len({k for k, _ in rows} | pending),
            }
        return ok, len(rows), counters

    def traced_op(self, spark, tracer):
        return self.op(spark, tracer)

    def companion_bytes(self) -> tuple[int, int]:
        return du(self.comp_sink), self.inp.meta["sizes"]["sink_docs"]

    def finish(self, spark) -> list[bool]:
        """End-of-run gate, two checks: a flush batch confirms the pending
        keys, and the confirmed set must equal the planted diffs the batches
        named; the maintained companion must pass the staleness audit
        against the raw sink."""
        from opengauss_tools_datachecker_performance_spark.plans.lineage import (
            partition_stats,
        )
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            companion_stale_partitions,
            read_digest_companion,
        )

        results = []
        try:
            self.checker.process_batch(
                spark.createDataFrame([], "doc_id string"), self.next_batch
            )
            confirmed = {k for k, _, _ in self.checker.confirmed}
            self.confirmed = len(confirmed)
            ok = confirmed == self.named_diff_keys
            if not ok:
                print(f"[valbench] MISMATCH confirmed={len(confirmed)} "
                      f"expected={len(self.named_diff_keys)}", file=sys.stderr)
            results.append(ok)
        except Exception:
            traceback.print_exc()
            results.append(False)
        try:
            stale = companion_stale_partitions(
                read_digest_companion(spark, self.comp_sink),
                partition_stats(self.raw_sink),
            ).collect()
            results.append(not stale)
        except Exception:
            traceback.print_exc()
            results.append(False)
        return results
