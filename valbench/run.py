"""Validation benchmark: one workload, one seed, one closed-loop client.

    python3 valbench/run.py --workload raw_sparse --seed 1 --seconds 8 --trace 0

Prints one line per metric, a record of the environment, and as its last
line the JSON result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. See valbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opengauss_tools_datachecker_performance_spark"
STATE = os.path.join(ROOT, ".valbench")

WORKLOADS = ("raw_sparse", "companion_dense", "cdc_trickle")
HEAP = "2g"
SETUP_REPS = 3
WARMUP_OPS = 1

END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "keys_per_s": "keys/s",
}
LAYERS = ("synth", "digest", "prehashed", "diff", "checks", "runner", "report", "incremental")
#: per-layer timing metric → span name it takes its self time from
LAYER_TIMINGS = {
    "prehashed.write_s": "prehashed.write_digest_companion",
    "digest.busy_s": "digest.digest_companion_frame",
    "diff.signature_s": "diff.mismatched_buckets",
    "diff.classify_s": "diff.diff_digests",
    "checks.unique_s": "checks.duplicate_keys_from_digests",
    "checks.span_rules_s": "checks.span_rule_violations_from_digests",
    "checks.drift_s": "checks.drift_from_profiles",
    "runner.validate_s": "runner.validate_docs",
    "report.write_s": "report.write_report",
    "prehashed.maintain_s": "prehashed.maintain_companion_from_cdc",
    "incremental.check_s": "incremental.process_batch",
}
LAYER_COUNTS = {
    "digest.docs": "docs",
    "digest.input_bytes": "B",
    "diff.dirty_bucket_share": "fraction",
    "diff.rows_joined": "count",
    "diff.diff_yield": "fraction",
    "runner.violations": "count",
    "report.bytes": "B",
    "prehashed.rows_rewritten": "count",
    "prehashed.rewrite_amplification": "ratio",
    "incremental.keys": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; with fewer
    than eleven samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], "p100"
    return xs[n - 11], f"p{100 * (n - 10) / n:.1f}"


def bootstrap() -> None:
    """Import the engine from this checkout only, and keep every file the
    run writes (Python, JVM and Spark temporaries too) inside it."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"valbench: no {PACKAGE} package under {ROOT}; run from a full checkout")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # every JVM the run starts (spark-submit's launcher too): temp files
    # here, and no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        sys.exit(f"valbench: {PACKAGE} resolved outside the checkout: {pkg.__file__}")


class Session:
    """The pinned SparkSession: local[nproc], fixed driver heap."""

    def __init__(self):
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.conf = {
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None

    def start(self) -> float:
        """(Re)start the session; returns the seconds get_spark took. After
        the first start the JVM stays up and only the SparkContext is new."""
        from opengauss_tools_datachecker_performance_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="valbench",
            master=self.master,
            shuffle_partitions=2 * self.cores,
            extra_conf=self.conf,
        )
        return time.perf_counter() - t0

    def record(self) -> dict:
        spark = self.spark
        return {
            "master": self.master,
            "heap": spark.conf.get("spark.driver.memory"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }

    def stop(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def log(msg: str) -> None:
    print(f"[valbench] {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


T0 = time.perf_counter()


def run_op(fn, *args):
    """→ (ok, keys, counters, seconds); an exception is a failed op."""
    t0 = time.perf_counter()
    try:
        ok, keys, counters = fn(*args)
    except Exception:
        traceback.print_exc()
        ok, keys, counters = False, 0, {}
    return ok, keys, counters, time.perf_counter() - t0


def measure(args, session: Session) -> tuple[dict, dict]:
    from valbench.inputs import Inputs
    from valbench.tracing import Tracer
    from valbench.workloads import BatchValidation, CdcTrickle

    work = os.path.join(STATE, "work", args.workload)
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    inp = Inputs(os.path.join(STATE, "inputs"), ROOT, args.seed)
    ops = {"attempted": 0, "failed": 0}

    def tally(ok: bool) -> None:
        ops["attempted"] += 1
        ops["failed"] += not ok

    # --- set-up, SETUP_REPS times: session start + the workload's calls
    setup_s, session_s = [], []
    for rep in range(SETUP_REPS):
        s = session.start()
        if rep == 0:
            inp.ensure(session.spark)  # cached; excluded from setup_s
            wl = (
                CdcTrickle(inp, work)
                if args.workload == "cdc_trickle"
                else BatchValidation(inp, work, companions=args.workload == "companion_dense")
            )
            wl.prepare_inputs(session.spark)
        spark = session.spark
        t0 = time.perf_counter()
        with tracer.op("setup"):
            wl.setup(spark, tracer)
        setup_s.append(s + time.perf_counter() - t0)
        session_s.append(s)
        log(f"setup {rep}: session {s:.2f}s, total {setup_s[-1]:.2f}s")
    wl.prepare(spark)

    for _ in range(WARMUP_OPS):
        ok, _, _, dt = run_op(wl.op, spark)
        tally(ok)
        log(f"warm-up ok={ok} {dt:.2f}s")

    # --- closed loop, one client: next op starts when the previous ends
    plain, traced, keys, counters = [], [], 0, []
    deadline = time.perf_counter() + args.seconds
    loop_start = time.perf_counter()
    while time.perf_counter() < deadline or not plain or (args.trace and not traced):
        if args.trace and len(traced) < len(plain):
            with tracer.op("traced_op"):
                ok, k, c, dt = run_op(wl.traced_op, spark, tracer)
            traced.append(dt)
            counters.append(c)
        else:
            ok, k, c, dt = run_op(wl.op, spark)
            plain.append(dt)
        tally(ok)
        keys += k
        log(f"op ok={ok} {dt:.2f}s")
    loop_s = time.perf_counter() - loop_start

    for ok in wl.finish(spark):
        tally(ok)
        log(f"end-of-run check ok={ok}")

    comp_bytes, comp_docs = wl.companion_bytes()
    sizes = inp.meta["sizes"]
    p_tail, p_label = tail(plain)
    detail = {
        "ops": len(plain),
        "batch_tail_percentile": p_label,
        "setup_samples": len(setup_s),
        "failed_share": ops["failed"] / ops["attempted"],
        "companion_bytes_per_doc": comp_bytes / comp_docs if comp_docs else 0.0,
    }

    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "docs_per_s": sizes["source_docs"] / statistics.median(plain),
            "batch_p50_s": statistics.median(plain),
            "batch_tail_s": p_tail,
            "keys_per_s": keys / loop_s,
        }
        units = END_TO_END_UNITS
        n = len(plain)
        notes = {
            "setup_s": f"median of {len(setup_s)} set-ups",
            "docs_per_s": f"source docs / median of {n} ops",
            "batch_p50_s": f"median of {n} ops",
            "batch_tail_s": f"{p_label} of {n} ops",
            "keys_per_s": f"{keys} keys in {loop_s:.2f}s",
        }
    else:
        metrics, units = layer_metrics(tracer, inp, session_s, counters)
        metrics["incremental.confirmed"] = wl.confirmed
        units["incremental.confirmed"] = "count"
        metrics["prehashed.bytes"] = comp_bytes
        metrics["companion_bytes_per_doc"] = detail["companion_bytes_per_doc"]
        metrics["failed_share"] = detail["failed_share"]
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        units.update(companion_bytes_per_doc="B/doc", failed_share="fraction")
        units["prehashed.bytes"] = "B"
        units["trace.overhead_s"] = "s"
        out = os.path.join(STATE, "out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
        notes = {"trace.overhead_s": f"{len(traced)} traced vs {len(plain)} untraced ops"}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **session.record(),
        "inputs": {**sizes, "generator": inp.meta["generator"]},
        "detail": detail,
        "notes": notes,
    }
    result = {
        "correct": ops["failed"] == 0,
        "attempted": ops["attempted"],
        "failed": ops["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return record, result


def layer_metrics(tracer, inp, session_s, counters) -> tuple[dict, dict]:
    """Per-layer metrics: median over traced operations of each layer's
    self time, task counts and counters; zero where the workload does not
    exercise the layer."""

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    metrics = {"session.start_s": med(session_s), "synth.generate_s": inp.meta["generate_s"]}
    units = {"session.start_s": "s", "synth.generate_s": "s"}
    for name, span in LAYER_TIMINGS.items():
        metrics[name] = med([t for t, _, _ in tracer.per_trace(span)])
        units[name] = "s"
    for name, unit in LAYER_COUNTS.items():
        metrics[name] = med([c[name] for c in counters if name in c])
        units[name] = unit
    for layer in LAYERS:
        if layer == "synth":
            tasks, failed = inp.meta["generate_tasks"]
        else:
            per = tracer.per_trace(layer, field="layer")
            tasks, failed = med([t for _, t, _ in per]), med([f for _, _, f in per])
        metrics[f"{layer}.tasks"], metrics[f"{layer}.failed_tasks"] = tasks, failed
        units[f"{layer}.tasks"] = units[f"{layer}.failed_tasks"] = "count"
    return metrics, units


def main(argv=None) -> int:
    args = parse_args(argv)
    bootstrap()
    session = Session()
    try:
        record, result = measure(args, session)
    finally:
        session.stop()
    for name, m in result["metrics"].items():
        note = record["notes"].get(name)
        print(f"{name} {m['value']} {m['unit']}" + (f"  ({note})" if note else ""))
    print(json.dumps({"record": record}, sort_keys=True))
    out = os.path.join(STATE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
