"""spark-submit job entrypoint — the whole check lifecycle in one job.

The reference runs three Spring services (check :9000, source :9001,
sink :9002 — config/application.yml:2,15-16) wired by Feign REST and
Kafka; its /start full-check flow is traced in SURVEY.md §3.1. Here
the entire lifecycle is ONE Spark job: driver = check service,
executors = extract workers, shuffle = Kafka.

Usage (cluster; zip built by scripts/make_pyfiles.py):

    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/opengauss_tools_datachecker_performance_spark.zip \
        scripts/submit_job.py \
        --source iceberg:db.docs_source --sink iceberg:db.docs_sink \
        --assets iceberg:db.assets --report-dir out/ \
        --checkpoint-dir ckpt/ --resume

or locally: ``python -m opengauss_tools_datachecker_performance_spark ...``

Lifecycle: read inputs → (resume? anti-join completed partitions from
the checkpoint ledger) → validate_docs (schema pre-check, digest
tree, two-phase diff, uniqueness, referential, null-rule, drift) →
write report (violations + verdicts parquet, summary.json,
success/failed logs) → append per-partition lineage to the ledger.
Exit code 0 iff every validated partition passed every constraint;
1 = violations found; 2 = a digest companion failed its staleness
audit (rerun with --companion-repair, or refresh the companion).

Body-free mode: ``--source-companion`` / ``--sink-companion`` point
at digest companion tables (sources/prehashed.py) and validation
scans ONLY the persisted enriched digest frames — the doc bodies are
touched solely for companion repair (and for ``--companion-audit
full``). Measured 2.2× at 3M docs/side with byte-identical reports
(BENCH/BASELINE.md); at 10^12 docs it converts the bandwidth-bound
digest stage into a metadata-sized read.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="opengauss_tools_datachecker_performance_spark",
        description="PySpark-native schema + constraint validation of interleaved-doc tables",
    )
    p.add_argument("--source", required=True,
                   help="source docs table: parquet path or iceberg:db.tbl[@snapshot]")
    p.add_argument("--sink", default=None, help="sink docs table to diff against (optional)")
    p.add_argument("--assets", default=None, help="asset catalog for referential check")
    p.add_argument("--report-dir", required=True, help="report output directory")
    p.add_argument("--checkpoint-dir", default=None, help="lineage ledger directory")
    p.add_argument(
        "--baseline-report-dir", default=None,
        help="a previous run's report dir: this run's violations are "
             "diffed against it (regression.parquet + new/resolved/"
             "persisting counts in summary.json)",
    )
    p.add_argument("--resume", action="store_true", help="skip partitions already 'done' in the ledger")
    p.add_argument(
        "--streaming-demo", default=None, metavar="CHANGES_URI",
        help="run the live micro-batch incremental re-check instead of "
             "the batch validation: consume a change feed of (doc_id) "
             "rows (directory of parquet files, or kafka://servers/"
             "topic), IN-list re-check both tables per micro-batch "
             "with the two-pass secondary-check ledger, and write "
             "confirmed diffs to --report-dir/incremental_violations"
             ".parquet + a streaming_demo.json summary; requires "
             "--sink and --checkpoint-dir",
    )
    p.add_argument("--partition-col", default="part")
    p.add_argument("--drift-threshold", type=float, default=0.15)
    p.add_argument(
        "--max-violations", type=int, default=None,
        help="cap ENUMERATED violation rows per (partition, constraint); "
             "verdict counts stay exact (guard rail for flooded diffs)",
    )
    p.add_argument(
        "--chunk-partitions", type=int, default=0,
        help="validate in waves of N partitions, appending per-partition "
             "lineage after each wave so a killed run resumes mid-table "
             "(0 = one wave). Wave report writes are idempotent "
             "(chunk=<id> subdirs), so retrying a half-written wave is safe.",
    )
    p.add_argument(
        "--emit-repair", action="store_true",
        help="also write repair.sql/ — batched MERGE (upsert from source) "
             "+ DELETE statements for the consistency diffs",
    )
    p.add_argument(
        "--repair-batch-size", type=int, default=100,
        help="keys per repair statement IN-list",
    )
    p.add_argument(
        "--near-dup-table", default=None,
        help="also run MinHash-LSH near-duplicate detection over this "
             "documents table (needs doc_id + text columns); pairs land "
             "in near_dup_pairs.parquet and any capped coverage "
             "(mega-bucket / stop-shingle drops) in summary.json's "
             "coverage_bounds — the cap is never silent",
    )
    p.add_argument("--near-dup-threshold", type=float, default=0.5,
                   help="verified-Jaccard threshold for --near-dup-table")
    p.add_argument(
        "--near-dup-index", default=None,
        help="persisted MinHash index dir (operators/dedup_index.py). "
             "When set, --near-dup-table is treated as the NEW BATCH and "
             "deduped incrementally against the index (new-vs-corpus and "
             "new-vs-new; corpus text is never re-read)",
    )
    p.add_argument(
        "--near-dup-clusters", action="store_true",
        help="also cluster the emitted near-dup pairs into connected "
             "components with one canonical survivor per component "
             "(operators/clusters.py): doc-level keep/remove decisions "
             "land in near_dup_clusters.parquet and counts in "
             "summary.json's near_dup_clusters section",
    )
    p.add_argument(
        "--near-dup-update-index", action="store_true",
        help="after detection, index the batch into --near-dup-index "
             "(idempotent: replaying a batch overwrites its own batch= "
             "subdirs)",
    )
    p.add_argument(
        "--decontaminate-table", default=None,
        help="corpus of (doc_id, text) to screen for benchmark "
             "contamination (operators/decontamination.py); flagged "
             "docs land in contaminated.parquet and the count in "
             "summary.json's decontamination section",
    )
    p.add_argument(
        "--decontaminate-benchmark", default=None,
        help="held-out eval/benchmark set of (doc_id, text) whose "
             "k-shingle overlap flags corpus docs (requires "
             "--decontaminate-table)",
    )
    p.add_argument(
        "--decontaminate-min-shared", type=int, default=2,
        help="distinct shared shingles needed to flag a doc (default 2)",
    )
    p.add_argument(
        "--corpus-stats-table", default=None,
        help="corpus of (doc_id, text) to profile "
             "(operators/corpus_stats.py): top-K vocabulary lands in "
             "vocab_stats.parquet and totals in summary.json's "
             "corpus_stats section",
    )
    p.add_argument(
        "--corpus-stats-top-k", type=int, default=100,
        help="vocabulary terms to keep (default 100)",
    )
    p.add_argument(
        "--lm-surprisal", action="store_true",
        help="also score every doc of --corpus-stats-table under the "
             "corpus's own add-one-smoothed bigram model (integer-bits "
             "surprisal, operators/corpus_stats.py) → "
             "lm_surprisal.parquet + score stats in the corpus_stats "
             "section",
    )
    p.add_argument(
        "--token-budget", type=int, default=None,
        help="with --lm-surprisal: write the perplexity-pruning plan "
             "(operators/curation.budget_prune) → budget_prune.parquet "
             "— best-scored docs kept while the exact global running "
             "token total fits this budget; keep/drop per doc",
    )
    p.add_argument(
        "--substring-dedup-table", default=None,
        help="corpus of (doc_id, text) to scan for cross-document "
             "duplicate passages (operators/substring_dedup.py): "
             "maximal duplicated token spans land in "
             "duplicate_spans.parquet and the keep-first-carrier "
             "removal plan in span_removals.parquet, with counts in "
             "summary.json's substring_dedup section",
    )
    p.add_argument(
        "--substring-dedup-k", type=int, default=3,
        help="token-shingle width for passage detection (a flagged "
             "span is always >= k tokens)",
    )
    p.add_argument(
        "--substring-dedup-min-docs", type=int, default=2,
        help="distinct docs a passage must appear in to flag (default 2)",
    )
    p.add_argument(
        "--substring-dedup-apply", action="store_true",
        help="also apply the removal plan: clean_docs.parquet with "
             "(doc_id, n_tokens, n_removed_tokens, clean_text) over "
             "the normalized tokenization",
    )
    p.add_argument(
        "--source-companion", default=None,
        help="digest companion for --source (parquet path or table:name, "
             "sources/prehashed.py): validate body-free off the persisted "
             "enriched digest frame — identical report, ~2.2x at 3M "
             "docs/side (BENCH/BASELINE.md)",
    )
    p.add_argument(
        "--sink-companion", default=None,
        help="digest companion for --sink (see --source-companion)",
    )
    p.add_argument(
        "--companion-audit", choices=["none", "ledger", "full"], default="none",
        help="staleness gate before trusting a companion. Every mode first "
             "checks partition PRESENCE against the raw table's partition "
             "column (a single-int-column scan, no bodies): a partition the "
             "table has but the companion lacks is stale. 'none' (default) "
             "stops there — right for writer-maintained companions, where "
             "data and companion move together. 'ledger' additionally "
             "compares per-partition (n_rows, XOR digest) against the "
             "checkpoint ledger's latest 'done' entries (body-free, source "
             "side only, no-op without --checkpoint-dir) — use when no "
             "legitimate change is expected since the last validated run, "
             "as ANY divergence (companion rot or unexpected mutation) "
             "exits 2. 'full' recomputes reference stats from the doc "
             "bodies (recovery mode — one body scan)",
    )
    p.add_argument(
        "--companion-repair", action="store_true",
        help="re-derive audit-stale partitions from the doc bodies into the "
             "companion (parquet-path companions only; reads only the stale "
             "partitions' bodies) instead of exiting 2",
    )
    p.add_argument(
        "--interleaved-audit", action="store_true",
        help="run the interleaved structural checks over --source "
             "(checks/interleaved.py): media-context (alt-text) audit "
             "-> media_context_audit.parquet, offset invariants -> "
             "offset_integrity.parquet, per-partition composition -> "
             "interleaved_profile.parquet (reads span bodies; "
             "independent of companion mode)",
    )
    p.add_argument(
        "--interleaved-min-words", type=int, default=8,
        help="tokens a media span's neighboring text spans must carry "
             "for the context audit to pass (default 8)",
    )
    p.add_argument(
        "--snapshot-delta", default=None, metavar="OLD_COMPANION",
        help="bucket-grain incremental scope vs an older digest "
             "snapshot (plans/snapshot.py): compares the given digest "
             "companion (parquet path or table:name) against this "
             "run's source digests -> snapshot_delta.parquet + "
             "snapshot_rollup.parquet; with --source-companion both "
             "sides are body-free",
    )
    p.add_argument(
        "--audit-table", default=None, metavar="TABLE",
        help="run the single-table contract checks (checks/constraints"
             ".py + checks/distributions.py) over this table (parquet "
             "path, table:name, or iceberg:db.tbl) — independent of the "
             "docs validation; results land in --report-dir as "
             "audit_*.parquet + a table_audit summary section",
    )
    p.add_argument(
        "--audit-fd", action="append", default=[], metavar="LHS=RHS",
        help="functional dependency to audit, e.g. 'cust_id=priority' "
             "or 'a+b=c+d' (repeatable) → audit_fd_<lhs>.parquet of "
             "violating groups",
    )
    p.add_argument(
        "--audit-domain", action="append", default=[], metavar="COL=V1|V2",
        help="allowed value set per column, e.g. \"status=O|F|P\" "
             "(repeatable); requires --audit-key",
    )
    p.add_argument(
        "--audit-complete", default=None, metavar="COL1,COL2[:MIN]",
        help="completeness verdicts for these columns (optional "
             "min-ratio suffix, default 0.95)",
    )
    p.add_argument(
        "--audit-json", default=None, metavar="COL:FIELD[:TYPE]",
        help="schema-on-read JSON audit of a string column (default "
             "field type int)",
    )
    p.add_argument(
        "--audit-benford", default=None, metavar="COL",
        help="Benford first-digit profile of a numeric column",
    )
    p.add_argument(
        "--audit-histogram", default=None, metavar="COL[:BINS]",
        help="equi-width histogram of a numeric column (default 20 bins)",
    )
    p.add_argument(
        "--audit-outliers", default=None, metavar="KEY:COL[:K]",
        help="median/MAD robust outliers of COL keyed by KEY "
             "(default k=3.5)",
    )
    p.add_argument(
        "--audit-pk-gaps", default=None, metavar="KEYCOL",
        help="dense-key gap scan over an integer key column",
    )
    p.add_argument(
        "--audit-key", default=None, metavar="KEYCOL",
        help="row-locator column for --audit-domain violation keys",
    )
    p.add_argument(
        "--audit-fd-discovery", default=None, metavar="COL1,COL2[,...][:RATE]",
        help="approximate-FD discovery over every ordered pair of the "
             "given columns (violation-rate threshold suffix, default "
             "0.05) → audit_fd_discovery.parquet",
    )
    p.add_argument(
        "--audit-rate", default=None,
        metavar="TS:GROUP[:WINDOW_MIN[:TRAILING]]",
        help="event-rate anomaly scan: tumbling WINDOW_MIN-minute "
             "counts of rows per GROUP column vs the trailing baseline "
             "(defaults 60 min, 24 windows) → audit_rate_anomaly.parquet",
    )
    p.add_argument(
        "--audit-kanon", default=None, metavar="QI1,QI2[,...][:K]",
        help="k-anonymity audit over the quasi-identifier columns "
             "(default k=5) → audit_kanon.parquet (one verdict row)",
    )
    p.add_argument(
        "--audit-split", default=None, metavar="IDCOL[:GROUPCOL[:SEED]]",
        help="deterministic 90/5/5 train/val/test hash-split report "
             "(seeded md5 wheel; stable under appends) → "
             "audit_split.parquet",
    )
    p.add_argument(
        "--status-demo", default=None, metavar="STATUS_DIR",
        help="run the slice-status orchestration loop instead of the "
             "batch validation: consume (slice_no, st) extract reports "
             "from a directory of parquet files through the keyed-state "
             "OR-register; slices reaching ready(3) are digest-diffed "
             "(that partition only) and their checked(4) report is fed "
             "back until done(7) — slice_verdicts.parquet + "
             "status_demo.json; requires --sink and --checkpoint-dir",
    )
    p.add_argument(
        "--source-overlap", default=None,
        metavar="TABLE[:SRCCOL[:TEXTCOL]]",
        help="across-source exact-content overlap matrix (distinct-"
             "fingerprint Jaccard + containment fractions per source "
             "pair; default columns source/text) → "
             "source_overlap.parquet",
    )
    p.add_argument(
        "--audit-equidepth", default=None,
        metavar="COL:TIE1[+TIE2][:BINS]",
        help="exact equi-depth histogram of COL (unique order via the "
             "tiebreak columns; default 16 bins) → "
             "audit_equidepth.parquet",
    )
    p.add_argument("--run-id", default=None)
    p.add_argument("--master", default=None, help="override master (default: spark-submit / env)")
    return p


#: pseudo-chunk id for the run-global drift verdicts of a chunked run
_DRIFT_CHUNK = 999_999_999


def _has_chunk_subdirs(report_dir: str) -> bool:
    """True if a previous (chunked) run left chunk= subdirs in this
    report dir — the resumed run must keep appending to that layout."""
    for frame in ("violations.parquet", "verdicts.parquet"):
        base = os.path.join(report_dir, frame)
        if os.path.isdir(base) and any(
            e.startswith("chunk=") for e in os.listdir(base)
        ):
            return True
    return False


def _finalize_drift(spark: SparkSession, report_dir: str, threshold: float) -> None:
    """Chunked runs defer drift: each wave persisted its per-partition
    quantile profiles; judge drift ONCE over their union (run-global
    baseline) and write the verdict rows as a dedicated chunk —
    idempotent like every wave write."""
    from opengauss_tools_datachecker_performance_spark.checks.drift import (
        drift_from_profiles,
    )
    from opengauss_tools_datachecker_performance_spark.plans.runner import (
        drift_verdicts,
    )

    profiles = spark.read.parquet(
        os.path.join(report_dir, "drift_profiles.parquet")
    ).select("part", "q")
    drift_verdicts(drift_from_profiles(profiles, threshold=threshold)).write.mode(
        "overwrite"
    ).parquet(
        os.path.join(report_dir, "verdicts.parquet", f"chunk={_DRIFT_CHUNK}")
    )


def _run_decontamination(spark: SparkSession, args) -> dict | None:
    """Run the --decontaminate-table screen (if requested): flagged
    docs → report_dir/contaminated.parquet, returns the summary.json
    section. Lives outside the wave loop so EVERY exit path that
    writes a summary (including resume-with-nothing-pending) still
    honors the requested screen."""
    if not args.decontaminate_table:
        return None
    from opengauss_tools_datachecker_performance_spark.operators.decontamination import (
        decontaminate,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    flagged = decontaminate(
        load_table(spark, args.decontaminate_table),
        load_table(spark, args.decontaminate_benchmark),
        min_shared=args.decontaminate_min_shared,
    ).filter(F.col("contaminated"))
    out_path = os.path.join(args.report_dir, "contaminated.parquet")
    flagged.write.mode("overwrite").parquet(out_path)
    # count off the written frame — no recompute of the overlap join
    n_flagged = spark.read.parquet(out_path).count()
    print(f"[decontaminate] {n_flagged} contaminated docs → {out_path}")
    return {
        "benchmark": args.decontaminate_benchmark,
        "min_shared": args.decontaminate_min_shared,
        "n_contaminated": n_flagged,
    }


def _run_source_overlap(spark: SparkSession, args) -> None:
    """Run the --source-overlap across-source exact-content matrix (if
    requested) → source_overlap.parquet (one row per co-occurring
    source pair: distinct-fingerprint Jaccard + both containment
    fractions) plus a dropped-fingerprint coverage count printed when
    the near-universal-boilerplate cap fired."""
    if not args.source_overlap:
        return
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        release,
        source_overlap_matrix,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    parts = args.source_overlap.split(":")
    table, src_col, text_col = (
        parts[0],
        parts[1] if len(parts) > 1 and parts[1] else "source",
        parts[2] if len(parts) > 2 and parts[2] else "text",
    )
    t = load_table(spark, table)
    cov: dict = {}
    out = source_overlap_matrix(
        t, text_col=text_col, source_col=src_col, coverage_out=cov
    )
    path = os.path.join(args.report_dir, "source_overlap.parquet")
    out.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    dropped = cov["overlap_dropped_fps"].count()
    release(cov)
    msg = f"[source-overlap] {n} co-occurring source pairs → {path}"
    if dropped:
        msg += f" ({dropped} near-universal fingerprints capped out)"
    print(msg)


def _run_corpus_stats(spark: SparkSession, args) -> dict | None:
    """Run the --corpus-stats-table profile (if requested): top-K
    vocabulary → vocab_stats.parquet; with --lm-surprisal, per-doc
    bigram-model scores → lm_surprisal.parquet. Returns the
    summary.json section. Same placement contract as
    _run_decontamination: outside the wave loop, every summary-writing
    exit path honors it."""
    if not args.corpus_stats_table:
        return None
    from opengauss_tools_datachecker_performance_spark.operators.corpus_stats import (
        bigram_surprisal_scores,
        vocab_stats,
        with_span_text,
    )
    from opengauss_tools_datachecker_performance_spark.operators.dedup import release
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    docs = load_table(spark, args.corpus_stats_table)
    if "text" not in docs.columns and "spans" in docs.columns:
        # interleaved-doc table: span texts in offset order ARE the text
        docs = with_span_text(docs)
    vocab_path = os.path.join(args.report_dir, "vocab_stats.parquet")
    vocab_stats(docs, top_k=args.corpus_stats_top_k).write.mode(
        "overwrite"
    ).parquet(vocab_path)
    # totals off the written frame — no recompute of the vocab pass
    vstats = (
        spark.read.parquet(vocab_path)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.coalesce(F.sum("tf"), F.lit(0)).alias("topk_tf"),
        )
        .collect()[0]
    )
    section = {
        "table": args.corpus_stats_table,
        "top_k": args.corpus_stats_top_k,
        "n_terms": vstats["n_terms"],
        "topk_token_occurrences": int(vstats["topk_tf"]),
    }
    print(
        f"[corpus-stats] top-{args.corpus_stats_top_k} vocabulary → {vocab_path}"
    )
    if args.lm_surprisal:
        handles: dict = {}
        lm_path = os.path.join(args.report_dir, "lm_surprisal.parquet")
        bigram_surprisal_scores(docs, handles_out=handles).write.mode(
            "overwrite"
        ).parquet(lm_path)
        release(handles)
        sstats = (
            spark.read.parquet(lm_path)
            .agg(
                F.count(F.lit(1)).alias("n_scored"),
                F.coalesce(F.avg(F.col("avg_bits").cast("double")), F.lit(0.0))
                .alias("mean_bits"),
                F.coalesce(F.max(F.col("avg_bits").cast("double")), F.lit(0.0))
                .alias("max_bits"),
            )
            .collect()[0]
        )
        section["lm_surprisal"] = {
            "n_scored": sstats["n_scored"],
            "mean_avg_bits": round(float(sstats["mean_bits"]), 3),
            "max_avg_bits": round(float(sstats["max_bits"]), 3),
        }
        print(
            f"[corpus-stats] {sstats['n_scored']} docs LM-scored "
            f"(mean {section['lm_surprisal']['mean_avg_bits']} bits) → {lm_path}"
        )
        if args.token_budget:
            from opengauss_tools_datachecker_performance_spark.functions.text import (
                normalized_text,
                ws_tokens,
            )
            from opengauss_tools_datachecker_performance_spark.operators.curation import (
                budget_prune,
            )

            # prune off the WRITTEN scores — the scoring plan is not
            # recomputed for the selection pass
            lm_scores = spark.read.parquet(lm_path).select("doc_id", "avg_bits")
            # aggregate per doc_id: the validated table may carry
            # duplicate ids (a seeded violation class) — the budget
            # charges the id's TOTAL tokens, and the join stays 1:1
            # with the per-id LM scores
            toks = (
                docs.select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.size(ws_tokens(normalized_text(F.col("text"))))
                    .cast("long")
                    .alias("n_tokens"),
                )
                .groupBy("doc_id")
                .agg(F.sum("n_tokens").alias("n_tokens"))
            )
            plan = budget_prune(
                lm_scores.join(toks, "doc_id"),
                args.token_budget,
                score_col="avg_bits",
            )
            prune_path = os.path.join(args.report_dir, "budget_prune.parquet")
            plan.write.mode("overwrite").parquet(prune_path)
            pstats = (
                spark.read.parquet(prune_path)
                .agg(
                    F.coalesce(F.sum(F.col("kept").cast("long")), F.lit(0))
                    .alias("n_kept"),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(
                        F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
                    ).alias("kept_tokens"),
                )
                .collect()[0]
            )
            section["budget_prune"] = {
                "token_budget": args.token_budget,
                "n_kept": int(pstats["n_kept"]),
                "n_dropped": int(pstats["n_docs"]) - int(pstats["n_kept"]),
                "kept_tokens": int(pstats["kept_tokens"]),
            }
            print(
                f"[corpus-stats] budget {args.token_budget}: kept "
                f"{pstats['n_kept']}/{pstats['n_docs']} docs "
                f"({pstats['kept_tokens']} tokens) → {prune_path}"
            )
    return section


def _run_interleaved_audit(spark: SparkSession, args) -> dict | None:
    """Run the --interleaved-audit structural checks (if requested)
    over the raw --source docs: media-context audit, offset
    invariants, per-partition composition profile. Same placement
    contract as _run_decontamination: outside the wave loop so every
    summary-writing exit path honors it. Reads span bodies once (the
    audits need kinds/offsets/token counts, which the digest
    companion deliberately does not carry)."""
    if not args.interleaved_audit:
        return None
    from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
        interleaved_profile,
        media_context_audit,
        offset_integrity,
        span_transition_profile,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    docs = load_table(spark, args.source)
    if "spans" not in docs.columns:
        raise SystemExit(
            "--interleaved-audit needs a docs table with a spans column "
            f"(got columns {docs.columns})"
        )
    docs = docs.withColumnRenamed(args.partition_col, "part")
    audit_path = os.path.join(args.report_dir, "media_context_audit.parquet")
    media_context_audit(docs, min_words=args.interleaved_min_words).write.mode(
        "overwrite"
    ).parquet(audit_path)
    off_path = os.path.join(args.report_dir, "offset_integrity.parquet")
    offset_integrity(docs).write.mode("overwrite").parquet(off_path)
    prof_path = os.path.join(args.report_dir, "interleaved_profile.parquet")
    interleaved_profile(docs).write.mode("overwrite").parquet(prof_path)
    trans_path = os.path.join(args.report_dir, "span_transitions.parquet")
    span_transition_profile(docs).write.mode("overwrite").parquet(trans_path)
    # counts off the written frames — no recompute
    audit = spark.read.parquet(audit_path)
    a = audit.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum((~F.col("ok")).cast("long")), F.lit(0)).alias("bad"),
    ).collect()[0]
    n_off_docs = spark.read.parquet(off_path).count()
    print(
        f"[interleaved] {a['n']} media spans audited "
        f"({int(a['bad'])} lacking context), {n_off_docs} docs with "
        f"offset violations → {args.report_dir}"
    )
    n_transitions = spark.read.parquet(trans_path).count()
    return {
        "min_words": args.interleaved_min_words,
        "n_media_spans": a["n"],
        "n_context_fail": int(a["bad"]),
        # DOC count (one row per bad doc); per-doc dup/neg/null counts
        # live in offset_integrity.parquet
        "n_offset_violation_docs": n_off_docs,
        # distinct kind-bigram keys observed (profile rows, not volume)
        "n_transition_kinds": n_transitions,
    }


def _run_table_audit(spark: SparkSession, args) -> dict | None:
    """Run the --audit-table single-table contract checks (if
    requested). Same placement contract as _run_decontamination:
    outside the wave loop so every summary-writing exit path honors
    it. Each requested family writes its own audit_*.parquet under
    --report-dir; the returned section carries row counts so a
    summary reader sees at a glance which rules fired."""
    if not args.audit_table:
        return None
    from opengauss_tools_datachecker_performance_spark.checks.constraints import (
        completeness,
        domain_violations,
        fd_violations,
        json_field_audit,
        pk_gaps,
    )
    from opengauss_tools_datachecker_performance_spark.checks.distributions import (
        benford_profile,
        equiwidth_histogram,
        mad_outliers,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    t = load_table(spark, args.audit_table)
    section: dict = {"table": args.audit_table}

    def _write(df, name: str) -> int:
        path = os.path.join(args.report_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        print(f"[table-audit] {name}: {n} rows → {path}")
        return n

    for spec in args.audit_fd:
        lhs, _, rhs = spec.partition("=")
        if not rhs:
            raise SystemExit(f"--audit-fd needs LHS=RHS, got {spec!r}")
        lhs_cols, rhs_cols = lhs.split("+"), rhs.split("+")
        n = _write(
            fd_violations(t, lhs_cols, rhs_cols), f"audit_fd_{'_'.join(lhs_cols)}"
        )
        section[f"fd_{lhs}"] = n
    for spec in args.audit_domain:
        col, _, vals = spec.partition("=")
        if not vals or not args.audit_key:
            raise SystemExit(
                "--audit-domain needs COL=V1|V2 and --audit-key"
            )
        n = _write(
            domain_violations(t, col, vals.split("|"), args.audit_key),
            f"audit_domain_{col}",
        )
        section[f"domain_{col}"] = n
    if args.audit_complete:
        cols_part, _, ratio = args.audit_complete.partition(":")
        n = _write(
            completeness(
                t, cols_part.split(","), float(ratio) if ratio else 0.95
            ),
            "audit_completeness",
        )
        section["completeness_cols"] = n
    if args.audit_json:
        parts = args.audit_json.split(":")
        col, field = parts[0], parts[1]
        ftype = parts[2] if len(parts) > 2 else "int"
        _write(json_field_audit(t, col, field, ftype), "audit_json")
        section["json_col"] = col
    if args.audit_benford:
        n = _write(benford_profile(t, args.audit_benford), "audit_benford")
        section["benford_digits"] = n
    if args.audit_histogram:
        col, _, bins = args.audit_histogram.partition(":")
        n = _write(
            equiwidth_histogram(t, col, int(bins) if bins else 20),
            "audit_histogram",
        )
        section["histogram_bins"] = n
    if args.audit_outliers:
        parts = args.audit_outliers.split(":")
        key, col = parts[0], parts[1]
        k = float(parts[2]) if len(parts) > 2 else 3.5
        n = _write(mad_outliers(t, key, col, k=k), "audit_outliers")
        section["n_outliers"] = n
    if args.audit_pk_gaps:
        n = _write(pk_gaps(t, args.audit_pk_gaps), "audit_pk_gaps")
        section["n_pk_gaps"] = n
    if args.audit_fd_discovery:
        from opengauss_tools_datachecker_performance_spark.checks.constraints import (
            fd_discovery,
        )

        cols_part, _, rate = args.audit_fd_discovery.partition(":")
        n = _write(
            fd_discovery(
                t, cols_part.split(","), float(rate) if rate else 0.05
            ),
            "audit_fd_discovery",
        )
        section["fd_pairs_profiled"] = n
    if args.audit_rate:
        from opengauss_tools_datachecker_performance_spark.operators.temporal import (
            rate_anomaly,
        )

        parts = args.audit_rate.split(":")
        ts_col, group_col = parts[0], parts[1]
        window_min = int(parts[2]) if len(parts) > 2 else 60
        trailing = int(parts[3]) if len(parts) > 3 else 24
        out = rate_anomaly(t, ts_col, group_col, window_min, trailing)
        _write(out, "audit_rate_anomaly")
        n_anom = (
            spark.read.parquet(
                os.path.join(args.report_dir, "audit_rate_anomaly.parquet")
            )
            .filter(F.col("anomalous"))
            .count()
        )
        section["n_rate_anomalies"] = n_anom
    if args.audit_kanon:
        from opengauss_tools_datachecker_performance_spark.checks.privacy import (
            k_anonymity_audit,
        )

        cols_part, _, k_str = args.audit_kanon.partition(":")
        _write(
            k_anonymity_audit(
                t, cols_part.split(","), int(k_str) if k_str else 5
            ),
            "audit_kanon",
        )
        section["kanon_cols"] = cols_part
    if args.audit_split:
        from opengauss_tools_datachecker_performance_spark.operators.splits import (
            split_report,
        )

        parts = args.audit_split.split(":")
        id_col = parts[0]
        group_col = parts[1] if len(parts) > 1 and parts[1] else None
        seed = int(parts[2]) if len(parts) > 2 else 0
        n = _write(
            split_report(
                t,
                id_col,
                [("train", 0.9), ("val", 0.05), ("test", 0.05)],
                group_col=group_col,
                seed=seed,
            ),
            "audit_split",
        )
        section["split_rows"] = n
    if args.audit_equidepth:
        from opengauss_tools_datachecker_performance_spark.checks.distributions import (
            equidepth_histogram,
        )

        parts = args.audit_equidepth.split(":")
        col, ties = parts[0], parts[1].split("+")
        bins = int(parts[2]) if len(parts) > 2 else 16
        n = _write(
            equidepth_histogram(t, col, ties, n_bins=bins),
            "audit_equidepth",
        )
        section["equidepth_bins"] = n
    return section


def _run_status_demo(spark: SparkSession, args, docs_source, docs_sink) -> int:
    """--status-demo: the reference's slice-status orchestration loop
    as one streaming job (TableStatusRegister.java:1-488 +
    TaskRegisterCenter completion scan): a stream of
    ``(slice_no, st)`` extract reports folds through the keyed-state
    OR-register (streaming/status_register.py,
    ``applyInPandasWithState``); a slice whose status reaches
    READY(3 = source|sink reported) triggers the slice check (digest
    diff of that partition only); the check then emits the
    CHECKED(4) report back into the SAME feed, driving the register
    to DONE(7) — the full report→ready→check→done cycle, checkpointed.

    Per status batch the register emits ≤ one row per slice (driver
    collect is #slices-bounded, same contract as the incremental
    checker's key cap).  Slice verdicts land in
    ``slice_verdicts.parquet/batch=<id>`` subdirs (idempotent under
    replays); the final registry + verdicts summarize into
    status_demo.json.  Exit 1 when any checked slice has diffs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.operators.diff import diff_docs
    from opengauss_tools_datachecker_performance_spark.streaming.status_register import (
        track_slice_status,
    )

    part_col = args.partition_col
    state: dict = {"statuses": {}, "checked": set(), "n_failed": 0}
    # feed file names unique per run: the file source skips a path it
    # has already seen, so a checkpoint-resumed run must not reuse one
    run_id = uuid.uuid4().hex
    checked_seq = iter(range(10**6))

    def on_batch(batch_df, batch_id: int) -> None:
        rows = batch_df.collect()  # ≤ one row per slice per batch
        for r in rows:
            state["statuses"][int(r["slice_no"])] = int(r["status"])
        ready = sorted(
            int(r["slice_no"])
            for r in rows
            if r["ready_for_check"] and int(r["slice_no"]) not in state["checked"]
        )
        if not ready:
            return
        state["checked"].update(ready)
        src = docs_source.filter(F.col(part_col).isin(ready))
        snk = docs_sink.filter(F.col(part_col).isin(ready))
        # attribute diff keys back to their slice via the key→part maps
        # (distinct-collapsed before the join; diff output is key-level)
        keymap = (
            src.select(F.col("doc_id").cast("string").alias("key"), F.col(part_col).alias("_part"))
            .unionByName(
                snk.select(
                    F.col("doc_id").cast("string").alias("key"),
                    F.col(part_col).alias("_part"),
                )
            )
            .distinct()
        )
        diffs = diff_docs(src, snk, two_phase=False)
        per_slice = {
            int(r["_part"]): int(r["n"])
            for r in diffs.join(keymap, "key")
            .groupBy("_part")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        verdicts = [
            (s, per_slice.get(s, 0), "failed" if per_slice.get(s, 0) else "passed",
             int(batch_id))
            for s in ready
        ]
        state["n_failed"] += sum(1 for v in verdicts if v[2] == "failed")
        spark.createDataFrame(
            verdicts, "slice_no int, n_diffs long, verdict string, batch_id long"
        ).write.mode("overwrite").parquet(
            os.path.join(
                args.report_dir, "slice_verdicts.parquet", f"batch={batch_id}"
            )
        )
        # report CHECKED back into the feed → register advances to DONE
        pq.write_table(
            pa.table(
                {
                    "slice_no": pa.array(ready, type=pa.int32()),
                    "st": pa.array([4] * len(ready), type=pa.int32()),
                }
            ),
            os.path.join(args.status_demo, f"checked_{run_id}_{next(checked_seq)}.parquet"),
        )

    stream = (
        spark.readStream.schema("slice_no int, st int")
        .option("maxFilesPerTrigger", "1")
        .parquet(args.status_demo)
    )
    query = (
        track_slice_status(stream)
        .writeStream.foreachBatch(on_batch)
        .outputMode("update")  # required by applyInPandasWithState
        .option("checkpointLocation", os.path.join(args.checkpoint_dir, "status_demo"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # the check's own CHECKED reports create new feed files, so one
        # drain is not quiescence — drain until no new slice was checked
        while True:
            before = len(state["checked"])
            query.processAllAvailable()
            if len(state["checked"]) == before:
                break
    finally:
        query.stop()
    summary = {
        "status_feed": args.status_demo,
        "slice_status": {str(k): v for k, v in sorted(state["statuses"].items())},
        "n_checked": len(state["checked"]),
        "n_failed_slices": state["n_failed"],
    }
    os.makedirs(args.report_dir, exist_ok=True)
    with open(os.path.join(args.report_dir, "status_demo.json"), "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(
        f"[status-demo] {len(state['checked'])} slices checked, "
        f"{state['n_failed']} failed; registry: {summary['slice_status']}"
    )
    return 1 if state["n_failed"] else 0


def _run_streaming_demo(spark: SparkSession, args, docs_source, docs_sink) -> int:
    """--streaming-demo: the reference's incremental lifecycle as ONE
    running Structured-Streaming job (IncrementCheckThread.java:140-232
    / IncrementDataAnalysisService.java:102-170): change feed →
    micro-batch IN-list re-check of both endpoints → two-pass
    secondary-check ledger → confirmed-violation sink.

    The feed is a directory of (doc_id) parquet files (the CI-runnable
    double) or ``kafka://servers/topic`` (production) — the SAME
    reader plumbing either way (streaming.incremental
    plan_change_source).  ``maxFilesPerTrigger=1`` makes each file one
    micro-batch, so the secondary check (a diff key confirms only when
    it diffs in two consecutive batches) is exercised for real, not
    simulated.  Processes everything available (blocking), stops the
    query, and writes a streaming_demo.json summary; keys still
    pending their second sighting are reported as such — a restarted
    run picks the stream checkpoint back up.  Exit 1 when confirmed
    diffs exist, 0 otherwise (mirrors the batch run's verdict exit
    code)."""
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        IncrementalChecker,
        open_change_source,
    )

    checker = IncrementalChecker(docs_source, docs_sink, args.report_dir)
    stream = open_change_source(
        spark, args.streaming_demo, max_files_per_trigger=1
    )
    query = checker.start(
        stream,
        checkpoint_dir=os.path.join(args.checkpoint_dir, "streaming_demo"),
        trigger_seconds=1,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    def _input_rows(progress) -> int:
        if isinstance(progress, dict):
            return int(progress.get("numInputRows", 0))
        return int(getattr(progress, "numInputRows", 0))

    n_batches = sum(1 for p in query.recentProgress if _input_rows(p) > 0)
    summary = {
        "change_source": args.streaming_demo,
        "batches_with_data": n_batches,
        "confirmed": [
            {"key": k, "diff_type": dt, "batch_id": b}
            for (k, dt, b) in checker.confirmed
        ],
        "n_confirmed": len(checker.confirmed),
        # keys seen diffing once, awaiting their second consecutive
        # sighting (the reference's secondary-check queue)
        "n_pending_secondary": len(checker.pending),
    }
    os.makedirs(args.report_dir, exist_ok=True)
    with open(
        os.path.join(args.report_dir, "streaming_demo.json"), "w"
    ) as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(
        f"[streaming-demo] {n_batches} micro-batches, "
        f"{summary['n_confirmed']} confirmed diff keys, "
        f"{summary['n_pending_secondary']} pending secondary check"
    )
    return 1 if checker.confirmed else 0


def _run_snapshot_delta(
    spark: SparkSession, args, new_digests=None
) -> dict | None:
    """Run the --snapshot-delta incremental-scope comparison (if
    requested): the given OLD digest companion vs this run's source
    digests → snapshot_delta.parquet (changed buckets) +
    snapshot_rollup.parquet (partition re-validation scope). Body-free
    when --source-companion is given; ``new_digests`` threads the
    validate run's PERSISTED enriched digest frame in so the raw
    source is never digested a second time (only a run that skipped
    validation falls back to its own digest pass)."""
    if not args.snapshot_delta:
        return None
    import shutil

    from opengauss_tools_datachecker_performance_spark.plans.snapshot import (
        snapshot_bucket_delta,
        snapshot_drift,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        digest_companion_frame,
        read_digest_companion,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    old = read_digest_companion(spark, args.snapshot_delta)
    if new_digests is not None:
        new = new_digests
    elif args.source_companion:
        new = read_digest_companion(spark, args.source_companion)
    else:
        new = digest_companion_frame(
            load_table(spark, args.source), partition_col=args.partition_col
        )
    delta, rollup = snapshot_bucket_delta(old, new)
    delta_path = os.path.join(args.report_dir, "snapshot_delta.parquet")
    delta.write.mode("overwrite").parquet(delta_path)
    roll_path = os.path.join(args.report_dir, "snapshot_rollup.parquet")
    rollup.write.mode("overwrite").parquet(roll_path)
    rolled = spark.read.parquet(roll_path).collect()  # bounded: #partitions
    parts = sorted(r["part"] for r in rolled)
    n_buckets = spark.read.parquet(delta_path).count()
    print(
        f"[snapshot] {len(parts)} partitions touched "
        f"({n_buckets} buckets) since {args.snapshot_delta}: {parts}"
    )
    section = {
        "old_snapshot": args.snapshot_delta,
        "n_partitions_touched": len(parts),
        "partitions_touched": parts,
        "n_buckets_touched": n_buckets,
        "delta_rows_new": int(sum(r["delta_rows_new"] for r in rolled)),
    }
    if "text_len" in old.columns and "text_len" in new.columns:
        # run-over-run drift rides the same two metadata scans (the
        # companion stores text_len at ingest) — body-free
        drift = snapshot_drift(old, new, threshold=args.drift_threshold)
        drift_path = os.path.join(args.report_dir, "snapshot_drift.parquet")
        drift.write.mode("overwrite").parquet(drift_path)
        drifted = sorted(
            r["part"]
            for r in spark.read.parquet(drift_path)
            .filter(F.col("drifted"))
            .collect()
        )
        print(f"[snapshot] drifted partitions vs old snapshot: {drifted}")
        section["drifted_partitions"] = drifted
    else:
        # drift skipped (a side lacks text_len): a previous run's
        # drift frame in this report dir would otherwise sit next to
        # a summary whose snapshot_delta section has no drift — stale
        # data presented as current
        shutil.rmtree(
            os.path.join(args.report_dir, "snapshot_drift.parquet"),
            ignore_errors=True,
        )
    return section


def _run_substring_dedup(spark: SparkSession, args) -> dict | None:
    """Run the --substring-dedup-table screen (if requested):
    duplicate passages → report_dir/duplicate_spans.parquet, the
    keep-first removal plan → span_removals.parquet, optionally the
    cleaned corpus → clean_docs.parquet. Returns the summary.json
    section. Like _run_decontamination, lives outside the wave loop so
    every summary-writing exit path honors the requested screen."""
    if not args.substring_dedup_table:
        return None
    from opengauss_tools_datachecker_performance_spark.operators.substring_dedup import (
        duplicate_spans,
        removal_plan,
        remove_spans,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        release,
    )

    docs = load_table(spark, args.substring_dedup_table)
    spans_path = os.path.join(args.report_dir, "duplicate_spans.parquet")
    handles: dict = {}
    duplicate_spans(
        docs,
        k=args.substring_dedup_k,
        min_docs=args.substring_dedup_min_docs,
        handles_out=handles,
    ).write.mode("overwrite").parquet(spans_path)
    release(handles)  # downstream reads the written frame, not the plan
    # downstream stages read the WRITTEN frame — the shingle/island
    # computation runs once, not once per consumer
    spans = spark.read.parquet(spans_path)
    plan_path = os.path.join(args.report_dir, "span_removals.parquet")
    removal_plan(spans).write.mode("overwrite").parquet(plan_path)
    plan = spark.read.parquet(plan_path)
    counts = plan.agg(
        F.count(F.when(F.col("action") == "remove", 1)).alias("n"),
        F.countDistinct(
            F.when(F.col("action") == "remove", F.col("doc_id"))
        ).alias("d"),
    ).collect()[0]
    # exact planned-token count: per doc, positions under remove spans
    # MINUS keep-protected positions — overlapping spans counted once,
    # so n_tokens_planned always equals an applied run's
    # n_tokens_removed (a naive sum(span_tokens) double-counts overlap)
    seq = F.sequence("start_pos", "end_pos")
    per_doc = plan.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.when(F.col("action") == "remove", seq))
            )
        ).alias("_rmp"),
        F.array_distinct(
            F.flatten(F.collect_list(F.when(F.col("action") == "keep", seq)))
        ).alias("_kpp"),
    )
    planned = (
        per_doc.select(F.size(F.array_except("_rmp", "_kpp")).alias("n"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)))
        .collect()[0][0]
    )
    section = {
        "table": args.substring_dedup_table,
        "k": args.substring_dedup_k,
        "min_docs": args.substring_dedup_min_docs,
        "n_duplicate_spans": spans.count(),
        "n_removals": counts["n"],
        "n_docs_affected": counts["d"],
        "n_tokens_planned": int(planned),
    }
    if args.substring_dedup_apply:
        clean_path = os.path.join(args.report_dir, "clean_docs.parquet")
        remove_spans(docs, plan).write.mode("overwrite").parquet(clean_path)
        removed = (
            spark.read.parquet(clean_path)
            .agg(F.coalesce(F.sum("n_removed_tokens"), F.lit(0)))
            .collect()[0][0]
        )
        section["n_tokens_removed"] = int(removed)
    print(
        f"[substring-dedup] {section['n_duplicate_spans']} duplicate "
        f"spans, {section['n_removals']} removals over "
        f"{section['n_docs_affected']} docs → {spans_path}"
    )
    return section


def _ledger_reference_stats(spark: SparkSession, checkpoint_dir: str):
    """Latest 'done' ledger entry per partition, shaped for
    prehashed.companion_stale_partitions: (part, n_rows, digest).
    Body-free — the ledger recorded these stats when the partition
    last validated."""
    from pyspark.sql import Window

    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        read_ledger,
    )

    led = read_ledger(spark, checkpoint_dir).filter(F.col("status") == "done")
    w = Window.partitionBy("part").orderBy(F.col("wall_ts").desc())
    return (
        led.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("part", "n_rows", "digest")
    )


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
        pending_partitions,
        record_partitions,
    )
    from opengauss_tools_datachecker_performance_spark.plans.report import (
        ProgressTracker,
        summarize_dir,
        write_frames,
    )
    from opengauss_tools_datachecker_performance_spark.plans.runner import validate_docs

    parser = build_parser()
    args = parser.parse_args(argv)
    # inconsistent flag combinations must fail loudly: silently
    # skipping the index update would make the NEXT incremental run
    # miss real near-duplicates of this batch
    if args.near_dup_update_index and not args.near_dup_index:
        parser.error("--near-dup-update-index requires --near-dup-index")
    if args.near_dup_index and not args.near_dup_table:
        parser.error(
            "--near-dup-index requires --near-dup-table (the new batch)"
        )
    if args.near_dup_clusters and not args.near_dup_table:
        parser.error("--near-dup-clusters requires --near-dup-table")
    if args.near_dup_clusters and args.near_dup_index:
        # incremental pairs are batch-vs-CORPUS: corpus members' text
        # is not in --near-dup-table, so survivor ranking (longest
        # text) and cluster membership would silently be computed over
        # a partial node set — refuse rather than mislead
        parser.error(
            "--near-dup-clusters needs the full-corpus pair run; it "
            "cannot cluster incremental (--near-dup-index) pairs"
        )
    if args.token_budget and not args.lm_surprisal:
        parser.error("--token-budget requires --lm-surprisal (the score source)")
    if args.streaming_demo and args.status_demo:
        parser.error("--streaming-demo and --status-demo are exclusive modes")
    if args.status_demo and (not args.sink or not args.checkpoint_dir):
        parser.error(
            "--status-demo requires --sink (the diff target) and "
            "--checkpoint-dir (the stream's progress checkpoint)"
        )
    if args.streaming_demo:
        if not args.sink or not args.checkpoint_dir:
            parser.error(
                "--streaming-demo requires --sink (the diff target) and "
                "--checkpoint-dir (the stream's progress checkpoint)"
            )
        # a malformed kafka:// uri must be an argparse error up front,
        # not a ValueError traceback after the tables are loaded
        from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
            plan_change_source,
        )

        try:
            plan_change_source(args.streaming_demo)
        except ValueError as exc:
            parser.error(str(exc))
    # malformed audit specs must be an argparse error up front, not an
    # IndexError/ValueError traceback mid-run (a trailing ':' makes
    # int('') raise; a missing tiebreak section makes parts[1] raise)
    if args.audit_split is not None:
        sp = args.audit_split.split(":")
        if not sp[0] or len(sp) > 3 or (
            len(sp) > 2 and not re.fullmatch(r"-?\d+", sp[2])
        ):
            parser.error(
                "--audit-split expects IDCOL[:GROUPCOL[:SEED]] with an "
                f"integer SEED, got {args.audit_split!r}"
            )
    if args.audit_equidepth is not None:
        sp = args.audit_equidepth.split(":")
        if (
            not sp[0]
            or len(sp) < 2
            or not sp[1]
            or any(not t for t in sp[1].split("+"))
            or len(sp) > 3
            or (len(sp) > 2 and not sp[2].isdigit())
        ):
            parser.error(
                "--audit-equidepth expects COL:TIE1[+TIE2][:BINS] with "
                f"an integer BINS, got {args.audit_equidepth!r}"
            )
    if args.source_overlap is not None:
        sp = args.source_overlap.split(":")
        if not sp[0] or len(sp) > 3:
            parser.error(
                "--source-overlap expects TABLE[:SRCCOL[:TEXTCOL]], "
                f"got {args.source_overlap!r}"
            )
    if args.audit_kanon is not None:
        cols_part, _, k_str = args.audit_kanon.partition(":")
        if not cols_part or any(not c for c in cols_part.split(",")) or (
            k_str and not k_str.isdigit()
        ):
            parser.error(
                "--audit-kanon expects QI1,QI2[,...][:K] with an "
                f"integer K, got {args.audit_kanon!r}"
            )
    if bool(args.decontaminate_table) != bool(args.decontaminate_benchmark):
        parser.error(
            "--decontaminate-table and --decontaminate-benchmark "
            "must be given together"
        )
    # a typo'd baseline dir must fail BEFORE the (potentially
    # hours-long) validation, not in the final summarize_dir
    if args.baseline_report_dir is not None and not os.path.isdir(
        os.path.join(args.baseline_report_dir, "violations.parquet")
    ):
        parser.error(
            "--baseline-report-dir has no violations.parquet: "
            f"{args.baseline_report_dir}"
        )
    own_session = spark is None
    if own_session:
        from opengauss_tools_datachecker_performance_spark.session import get_spark

        spark = get_spark(app_name="datachecker-validate", master=args.master)

    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    run_id = args.run_id or uuid.uuid4().hex[:12]
    docs_source = load_table(spark, args.source)
    docs_sink = load_table(spark, args.sink) if args.sink else None
    assets = load_table(spark, args.assets) if args.assets else None

    if args.streaming_demo:
        try:
            return _run_streaming_demo(spark, args, docs_source, docs_sink)
        finally:
            if own_session:
                spark.stop()

    if args.status_demo:
        try:
            return _run_status_demo(spark, args, docs_source, docs_sink)
        finally:
            if own_session:
                spark.stop()

    # Body-free mode: swap each side for its digest companion after an
    # optional staleness audit. The raw tables stay loaded (schema-only
    # until an audit/repair actually scans them) as the repair source.
    src_part_col = sink_part_col = args.partition_col
    if args.source_companion or args.sink_companion:
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            companion_stale_partitions,
            read_digest_companion,
            repair_companion,
        )

        for side, ref, bodies in (
            ("source", args.source_companion, docs_source),
            ("sink", args.sink_companion, docs_sink),
        ):
            if not ref:
                continue
            if bodies is None:
                print(f"[companion] --{side}-companion given without --{side}")
                if own_session:
                    spark.stop()
                return 2
            comp = read_digest_companion(spark, ref)
            # Unconditional body-free PRESENCE check (every audit
            # mode): the raw table's partition column is a single-int
            # scan, so comparing partition SETS costs no body read. A
            # partition the table has but the companion lacks (new,
            # never ingested into the companion) or the companion has
            # but the table lost (wholesale delete) is stale — without
            # this, a companion-missing partition silently drops out
            # of the validation universe.
            raw_parts = bodies.select(
                F.col(args.partition_col).cast("int").alias("part")
            ).distinct()
            comp_parts = comp.select(F.col("part").cast("int")).distinct()

            def _presence(missing_from, present_in, reason):
                return present_in.join(missing_from, "part", "left_anti").select(
                    "part",
                    F.lit(reason).alias("reason"),
                    F.lit(None).cast("long").alias("companion_n_rows"),
                    F.lit(None).cast("long").alias("reference_n_rows"),
                    F.lit(None).cast("long").alias("companion_digest"),
                    F.lit(None).cast("long").alias("reference_digest"),
                )

            stale_df = _presence(
                comp_parts, raw_parts, "missing_in_companion"
            ).unionByName(
                _presence(raw_parts, comp_parts, "missing_in_reference")
            )
            ref_stats = None
            if args.companion_audit == "full":
                from opengauss_tools_datachecker_performance_spark.plans.lineage import (
                    partition_stats as _pstats,
                )

                ref_stats = _pstats(
                    bodies.withColumnRenamed(args.partition_col, "part")
                )
            elif (
                args.companion_audit == "ledger"
                and args.checkpoint_dir
                and side == "source"
            ):
                ref_stats = _ledger_reference_stats(spark, args.checkpoint_dir)
            if ref_stats is not None:
                audit_df = companion_stale_partitions(comp, ref_stats)
                if args.companion_audit == "ledger":
                    # the ledger only knows previously-validated
                    # partitions — a companion partition absent from it
                    # is unaudited, not stale
                    audit_df = audit_df.filter(
                        F.col("reason") != "missing_in_reference"
                    )
                stale_df = stale_df.unionByName(audit_df)
            stale_df = stale_df.dropDuplicates(["part"])
            stale = stale_df.collect()  # bounded: #partitions
            if stale and args.companion_repair and not ref.startswith("table:"):
                repair_companion(
                    spark,
                    ref,
                    bodies,
                    [r["part"] for r in stale],
                    partition_col=args.partition_col,
                )
                comp = read_digest_companion(spark, ref)
                print(
                    f"[companion] {side}: repaired "
                    f"{len(stale)} stale partitions from doc bodies"
                )
            elif stale:
                os.makedirs(args.report_dir, exist_ok=True)
                # record WHICH audit level detected the staleness: a
                # later, weaker-audited run must not treat its own pass
                # as clearing findings it could not have re-checked
                stale_df.withColumn(
                    "audit_level", F.lit(args.companion_audit)
                ).coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(args.report_dir, "companion_stale.parquet")
                )
                why = (
                    "table: companions cannot be partition-repaired "
                    "— refresh via write_digest_companion"
                    if ref.startswith("table:")
                    else "rerun with --companion-repair"
                )
                print(
                    f"[companion] {side}: {len(stale)} stale partitions "
                    f"(companion_stale.parquet) — aborting; {why}"
                )
                if own_session:
                    spark.stop()
                return 2
            if side == "source":
                docs_source, src_part_col = comp, "part"
            else:
                docs_sink, sink_part_col = comp, "part"
        # audits passed (or repaired): a companion_stale.parquet left
        # by a previously-aborted run in this report dir is stale info
        # — but only if THIS run's audit is at least as strong as the
        # one that wrote it. A 'none'-level rerun passing its presence
        # check has not re-examined what a 'full' audit flagged;
        # deleting the marker would destroy the only record of
        # known-stale partitions while the staleness is unresolved.
        marker = os.path.join(args.report_dir, "companion_stale.parquet")
        if os.path.isdir(marker):
            rank = {"none": 0, "ledger": 1, "full": 2}
            try:
                prev_levels = {
                    r[0]
                    for r in spark.read.parquet(marker)
                    .select("audit_level")
                    .distinct()
                    .collect()
                }
            except Exception:
                # pre-audit_level marker (older layout): treat as full
                prev_levels = {"full"}
            prev = max(rank.get(lv, 2) for lv in prev_levels)
            if rank[args.companion_audit] >= prev:
                import shutil

                shutil.rmtree(marker, ignore_errors=True)
            else:
                print(
                    "[companion] WARNING: companion_stale.parquet was "
                    "written by a stronger audit "
                    f"({', '.join(sorted(prev_levels))}) than this "
                    f"run's --companion-audit {args.companion_audit}; "
                    "keeping the marker — re-run at that level (or "
                    "--companion-repair) to clear it"
                )

    # Partition universe = source ∪ sink: a partition wholesale-deleted
    # from the source still exists in the sink and must surface its
    # delete diffs — a source-only universe would silently skip it in
    # chunked/resumed runs.
    parts_df = docs_source.select(F.col(src_part_col).alias("part"))
    if docs_sink is not None:
        parts_df = parts_df.unionByName(
            docs_sink.select(F.col(sink_part_col).alias("part"))
        )
    universe = sorted(r[0] for r in parts_df.distinct().collect())
    pending = universe
    if args.resume and args.checkpoint_dir:
        pending = pending_partitions(spark, args.checkpoint_dir, universe)
        print(
            f"[resume] {len(universe) - len(pending)} partitions done, "
            f"{len(pending)} pending"
        )
        if not pending:
            print("[resume] nothing to do")
            # the screen was REQUESTED — it must not be skipped just
            # because validation has nothing left (and its failures
            # must surface, so it stays outside the refresh try)
            decon_section = _run_decontamination(spark, args)
            subdup_section = _run_substring_dedup(spark, args)
            _run_source_overlap(spark, args)
            cstats_section = _run_corpus_stats(spark, args)
            inter_section = _run_interleaved_audit(spark, args)
            snap_section = _run_snapshot_delta(spark, args)
            taudit_section = _run_table_audit(spark, args)
            try:
                # refresh the summary over frames a previous (killed)
                # run already wrote into THIS report dir, if any —
                # finalizing drift in case the kill landed between the
                # last wave and the drift rollup
                if os.path.isdir(
                    os.path.join(args.report_dir, "drift_profiles.parquet")
                ):
                    _finalize_drift(spark, args.report_dir, args.drift_threshold)
                summarize_dir(
                    spark,
                    args.report_dir,
                    baseline_dir=args.baseline_report_dir,
                    decontamination=decon_section,
                    substring_dedup=subdup_section,
                    corpus_stats=cstats_section,
                    interleaved_audit=inter_section,
                    snapshot_delta=snap_section,
                    table_audit=taudit_section,
                )
            except Exception as exc:
                # best-effort summary refresh over a PREVIOUS run's
                # leftovers — its failure must not fail THIS run's
                # (already-written) sections, but it must be visible
                print(f"[summary] WARNING: refresh skipped: {exc}")
            if own_session:
                spark.stop()
            return 0

    n = args.chunk_partitions
    # Chunked mode is a property of the REPORT LAYOUT, not of how many
    # waves remain: a resumed run whose pending set fits one wave must
    # still write chunk=<id> subdirs (a base-dir overwrite would delete
    # every previously-written wave) and must still defer drift to the
    # run-global _finalize_drift rollup. Likewise, resuming into a
    # report dir that already holds chunk= subdirs stays chunked even
    # without --chunk-partitions.
    chunked = n > 0 or (args.resume and _has_chunk_subdirs(args.report_dir))
    if chunked and not args.resume:
        # fresh chunked run into a dirty report dir: stale chunk=
        # subdirs from a previous run with different wave boundaries
        # would otherwise survive the per-chunk overwrites and
        # duplicate rows in the merged report
        import shutil

        for frame in (
            "violations.parquet",
            "verdicts.parquet",
            "drift_profiles.parquet",
            "repair.sql",  # stale repair chunks re-apply old DELETEs
            # regression/contaminated are owned by the conditional
            # block below (flag off → delete; flag on → overwrite)
        ):
            shutil.rmtree(os.path.join(args.report_dir, frame), ignore_errors=True)
    if not args.resume:
        # fresh run: frames a PREVIOUS run wrote for options this run
        # was not given would otherwise sit next to a summary.json that
        # has no matching section — stale data presented as current
        import shutil

        if not args.baseline_report_dir:
            shutil.rmtree(
                os.path.join(args.report_dir, "regression.parquet"),
                ignore_errors=True,
            )
        if not args.decontaminate_table:
            shutil.rmtree(
                os.path.join(args.report_dir, "contaminated.parquet"),
                ignore_errors=True,
            )
        if not args.substring_dedup_table:
            for frame in (
                "duplicate_spans.parquet",
                "span_removals.parquet",
                "clean_docs.parquet",
            ):
                shutil.rmtree(
                    os.path.join(args.report_dir, frame), ignore_errors=True
                )
        if not args.near_dup_table:
            shutil.rmtree(
                os.path.join(args.report_dir, "near_dup_pairs.parquet"),
                ignore_errors=True,
            )
        if not args.interleaved_audit:
            for frame in (
                "media_context_audit.parquet",
                "offset_integrity.parquet",
                "interleaved_profile.parquet",
            ):
                shutil.rmtree(
                    os.path.join(args.report_dir, frame), ignore_errors=True
                )
        if not args.snapshot_delta:
            for frame in (
                "snapshot_delta.parquet",
                "snapshot_rollup.parquet",
                "snapshot_drift.parquet",
            ):
                shutil.rmtree(
                    os.path.join(args.report_dir, frame), ignore_errors=True
                )
        if not args.near_dup_clusters:
            for frame in (
                "near_dup_clusters.parquet",
                "near_dup_survivors.parquet",
            ):
                shutil.rmtree(
                    os.path.join(args.report_dir, frame), ignore_errors=True
                )
        if not args.token_budget:
            shutil.rmtree(
                os.path.join(args.report_dir, "budget_prune.parquet"),
                ignore_errors=True,
            )
        if args.substring_dedup_table and not args.substring_dedup_apply:
            # passage scan requested without --apply: this run rewrites
            # duplicate_spans/span_removals but never clean_docs, so a
            # previous --apply run's cleaned corpus would survive as a
            # stale artifact inconsistent with the new plan
            shutil.rmtree(
                os.path.join(args.report_dir, "clean_docs.parquet"),
                ignore_errors=True,
            )
    chunks = (
        [pending[i : i + n] for i in range(0, len(pending), n)]
        if chunked and n > 0
        else [pending]
    )
    schema_ok, schema_msg = True, ""
    snap_digests = None  # validate's digest frame, held for --snapshot-delta
    progress = ProgressTracker(args.report_dir, run_id)
    for ch in chunks:
        # fast path: a full single wave needs no partition filter
        only = None if (not chunked and set(ch) == set(universe)) else ch
        result = validate_docs(
            docs_source,
            docs_sink,
            assets,
            partition_col=args.partition_col,
            only_partitions=only,
            drift_threshold=args.drift_threshold,
            max_violations_per_partition=args.max_violations,
            skip_drift=chunked,  # judged run-globally after the waves
        )
        write_frames(
            result, args.report_dir, chunk=(min(ch) if chunked else None)
        )
        if args.emit_repair and result.extras.get("diffs") is not None:
            from opengauss_tools_datachecker_performance_spark.plans.report import (
                write_repair_sql,
            )

            write_repair_sql(
                result.extras["diffs"],
                args.report_dir,
                source_table=args.source,
                sink_table=args.sink,
                batch_size=args.repair_batch_size,
                chunk=(min(ch) if chunked else None),
            )
        if chunked and result.schema_ok:
            result.extras["drift_profiles"].write.mode("overwrite").parquet(
                os.path.join(
                    args.report_dir, "drift_profiles.parquet", f"chunk={min(ch)}"
                )
            )
            print(f"[wave] partitions {ch[0]}..{ch[-1]} written", flush=True)
        if not result.schema_ok:
            schema_ok, schema_msg = False, result.schema_message
            break
        # liveness/rate line per wave (rows counted off the persisted
        # digest cache — no extra scan)
        progress.record(len(ch), result.extras["digests_source"].count())
        if args.checkpoint_dir:
            # companion mode: partition_stats' enriched fast path folds
            # the STORED v_hash — the recorded lineage stays body-free
            # and bit-identical to the raw-table digest
            src = docs_source.filter(F.col(src_part_col).isin(ch))
            record_partitions(
                spark,
                args.checkpoint_dir,
                run_id,
                partition_stats(src, partition_col=src_part_col),
            )
        # --snapshot-delta without a companion would otherwise digest
        # the raw source a SECOND time — on a single full wave, hand
        # the validate run's persisted enriched digest frame over and
        # defer its unpersist to after the snapshot stage
        keep_digests = (
            args.snapshot_delta
            and not args.source_companion
            and only is None
            and result.extras.get("digests_source") is not None
        )
        if keep_digests:
            snap_digests = result.extras["digests_source"]
        for df in (
            result.extras.get("violations_full"),
            None if keep_digests else result.extras.get("digests_source"),
            result.extras.get("digests_sink"),
            result.extras.get("diffs"),
        ):
            if df is not None:
                df.unpersist()

    if chunked and schema_ok:
        _finalize_drift(spark, args.report_dir, args.drift_threshold)
    coverage = None
    clusters_section = None
    if args.near_dup_table:
        from opengauss_tools_datachecker_performance_spark.operators.dedup import (
            coverage_counts,
            minhash_near_duplicates,
            release,
        )

        cov: dict = {}
        nd_table = load_table(spark, args.near_dup_table)
        if args.near_dup_index and args.near_dup_update_index:
            # detect AND index in one shingle/minhash pass over the
            # batch text (ingest_batch) instead of recomputing the
            # batch's frames a second time for the index write
            from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
                ingest_batch,
            )

            pairs, n_indexed = ingest_batch(
                spark,
                args.near_dup_index,
                nd_table,
                threshold=args.near_dup_threshold,
                coverage_out=cov,
            )
            print(f"[near-dup] indexed {n_indexed} new docs into "
                  f"{args.near_dup_index}")
        elif args.near_dup_index:
            # incremental detection only: the table is the NEW BATCH,
            # deduped against the persisted corpus index without
            # re-reading corpus text
            from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
                incremental_near_duplicates,
                read_minhash_index,
            )

            idx_b, idx_s = read_minhash_index(spark, args.near_dup_index)
            # a batch doc already in the index contributes NO pairs
            # here (its pairs were emitted when it was first ingested)
            # — say so, or a replayed/pre-ingested batch looks falsely
            # clean. The probe is one small join against the thin
            # bucket table.
            batch_ids = nd_table.select(
                F.col("doc_id").cast("string").alias("doc_id")
            ).distinct()
            n_already = (
                idx_b.join(F.broadcast(batch_ids), "doc_id", "left_semi")
                .select("doc_id")
                .distinct()
                .count()
            )
            if n_already:
                print(
                    f"[near-dup] WARNING: {n_already} batch docs are "
                    "already indexed and are skipped by detect-only "
                    "mode (their pairs were reported at ingest); "
                    "re-run with --near-dup-update-index to re-emit"
                )
            pairs = incremental_near_duplicates(
                idx_b,
                idx_s,
                nd_table,
                threshold=args.near_dup_threshold,
                coverage_out=cov,
            )
        else:
            pairs = minhash_near_duplicates(
                nd_table,
                "doc_id",
                "text",
                threshold=args.near_dup_threshold,
                coverage_out=cov,
            )
        pairs.write.mode("overwrite").parquet(
            os.path.join(args.report_dir, "near_dup_pairs.parquet")
        )
        coverage = coverage_counts(cov)
        release(cov)
        if args.near_dup_clusters:
            from opengauss_tools_datachecker_performance_spark.operators.components import (
                connected_components,
                dedup_survivors,
            )

            # cluster off the WRITTEN pair frame — the LSH plan is not
            # recomputed once per label-propagation round
            written_pairs = spark.read.parquet(
                os.path.join(args.report_dir, "near_dup_pairs.parquet")
            )
            labels = connected_components(written_pairs)
            labels.write.mode("overwrite").parquet(
                os.path.join(args.report_dir, "near_dup_clusters.parquet")
            )
            labels_w = spark.read.parquet(
                os.path.join(args.report_dir, "near_dup_clusters.parquet")
            )
            surv_path = os.path.join(
                args.report_dir, "near_dup_survivors.parquet"
            )
            dedup_survivors(labels_w, nd_table).write.mode(
                "overwrite"
            ).parquet(surv_path)
            surv = spark.read.parquet(surv_path)
            stats = surv.agg(
                F.count(F.lit(1)).alias("n_clusters"),
                F.coalesce(F.sum("n_members"), F.lit(0)).alias("n_docs"),
                F.coalesce(F.max("n_members"), F.lit(0)).alias("largest"),
            ).collect()[0]
            clusters_section = {
                "n_clusters": stats["n_clusters"],
                "n_docs_clustered": int(stats["n_docs"]),
                "largest_cluster": int(stats["largest"]),
                "n_removable": int(stats["n_docs"]) - stats["n_clusters"],
            }
            print(
                f"[near-dup] {stats['n_clusters']} clusters over "
                f"{stats['n_docs']} docs → {surv_path}"
            )
    decon_section = _run_decontamination(spark, args)
    subdup_section = _run_substring_dedup(spark, args)
    _run_source_overlap(spark, args)
    cstats_section = _run_corpus_stats(spark, args)
    inter_section = _run_interleaved_audit(spark, args)
    snap_section = _run_snapshot_delta(spark, args, new_digests=snap_digests)
    taudit_section = _run_table_audit(spark, args)
    if snap_digests is not None:
        snap_digests.unpersist()
    summary = summarize_dir(
        spark,
        args.report_dir,
        schema_ok=schema_ok,
        schema_message=schema_msg,
        coverage=coverage,
        baseline_dir=args.baseline_report_dir,
        decontamination=decon_section,
        substring_dedup=subdup_section,
        near_dup_clusters=clusters_section,
        corpus_stats=cstats_section,
        interleaved_audit=inter_section,
        snapshot_delta=snap_section,
        table_audit=taudit_section,
    )
    ok = summary["result"] == "success"
    print(f"[validate] run={run_id} result={summary['result']}")
    if "regression" in summary:
        r = summary["regression"]
        print(
            f"[regression] vs {r['baseline_dir']}: {r['new']} new, "
            f"{r['resolved']} resolved, {r['persisting']} persisting"
        )
    if own_session:
        spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
