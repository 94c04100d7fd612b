"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

One workload per process. Set-up (session, seeded inputs, index builds,
output checks, warm-up) is timed as ``setup_s``; then a fixed, seeded op
sequence runs as a closed loop with one client. ``--seconds`` sets the
number of passes over the workload's ops, from a count per 10 s fixed in
each workload, so the op count never depends on how fast a run happens to
be. ``--trace 1`` runs one pass untraced and one traced, and prints the
per-layer metrics instead of the end-to-end ones. The last stdout line is one JSON object; the full
record (per-op latencies, warm-up, spans, per-query times) goes to
``.perfbench/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

WORKLOADS = {"analytics_mix": "wl_analytics", "serving": "wl_serving"}
REF_WARMUP = 5
REF_PER_OP = 1


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_env(root: Path, work: Path) -> None:
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    # pandas-UDF workers import the package by path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)


def _session(work: Path):
    from mcp_hubspot_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit: the gateway JVM quits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Reference:
    """The host's Spark job floor: a fixed trivial two-stage SQL job, timed
    after every op. It moves with host speed the way the ops do, so the
    gated metrics are expressed in its units. It runs in a session of its
    own whose SQL settings are reset to Spark's defaults, so a change to
    the program's SQL settings moves the program's figures and leaves the
    reference alone. Settings of the JVM itself (heap size) it shares."""

    def __init__(self, spark):
        self.spark = spark.newSession()
        for key, _ in spark.sparkContext.getConf().getAll():
            if key.startswith("spark.sql.") and self.spark.conf.isModifiable(key):
                self.spark.conf.unset(key)

    def time(self, n: int) -> list[float]:
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
            out.append(time.perf_counter() - t0)
        return out


class Runner:
    """Runs ops as a closed loop: each op starts when the previous op, its
    output check and ``REF_PER_OP`` reference jobs have finished; latency
    covers the call alone."""

    def __init__(self, tracer, reference: Reference):
        self.tracer = tracer
        self.reference = reference
        self.records: list[dict] = []
        self.warmup: list[tuple[str, float]] = []
        self.ref: list[float] = []
        self.failed = 0

    def run_op(self, op, timed: bool = True) -> None:
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op.name, op.op_id):
                result = op.run(self.tracer)
            latency = time.perf_counter() - t0
            ok = op.check(result, latency) if timed else True
        except Exception:  # noqa: BLE001 -- an op failure is a result
            traceback.print_exc(file=sys.stderr)
            latency, ok = time.perf_counter() - t0, False
        if not timed:
            self.warmup.append((op.name, latency))
            return
        self.failed += not ok
        self.records.append({"op_id": op.op_id, "name": op.name, "kind": op.kind,
                             "latency_s": latency, "rows": op.rows, "ok": ok})
        self.ref += self.reference.time(REF_PER_OP)

    def ops_per_s(self) -> float:
        return len(self.records) / sum(r["latency_s"] for r in self.records)

    def by_op(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r in self.records:
            out.setdefault(r["name"], []).append(r["latency_s"])
        return out


def end_to_end(run: Runner, setup_s: float) -> tuple[dict, dict]:
    """(gated metrics, informational metrics) of one untraced pass."""
    from metrics import latency_summary, p50_geomean

    ref = statistics.median(run.ref)
    reads = [r["latency_s"] for r in run.records if r["kind"] == "read"]
    writes = [r for r in run.records if r["kind"] == "write"]
    by_op = run.by_op()
    gated = {
        "setup_s": setup_s,
        "ops_per_ref": run.ops_per_s() * ref,
        "p50_geomean_ref": p50_geomean(by_op) / ref,
    }
    info = {"ops_per_s": run.ops_per_s(), "ref_s": ref, "ref_n": len(run.ref),
            "p50_geomean_s": p50_geomean(by_op), "read": latency_summary(reads),
            "by_op": {name: latency_summary(xs) for name, xs in sorted(by_op.items())}}
    if writes:
        info["write"] = latency_summary([r["latency_s"] for r in writes])
        info["write_rows_per_s"] = (
            sum(r["rows"] for r in writes) / sum(r["latency_s"] for r in writes)
        )
    return gated, info


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, traced: Runner, untraced: Runner, cores: int,
              gc_s: float) -> tuple[dict, dict]:
    """(layer split over the traced pass, per-op detail). An op is a root
    span; its children are the build / plan / exec phases, or for a
    compound call, one span per layer call."""
    roots = {sp.op_id: sp for sp in tracer.spans if sp.parent is None}
    children: dict[int, list] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.op_id, []).append(sp)

    def total(sps, key):
        return sum(sp.counts.get(key, 0) for sp in sps)

    every = tracer.spans
    phase = {name: [sp for sp in every if sp.name == name] for name in ("build", "plan", "exec")}
    op_spark = {i: total([roots[i], *children.get(i, [])], "spark_s") for i in roots}
    spark_total = sum(op_spark.values())
    layer = {
        "build_s": _median(sp.wall_s for sp in phase["build"]),
        "build_jobs": total(phase["build"], "jobs"),
        "plan_ms": _median(sp.wall_s * 1e3 for sp in phase["plan"]),
        "exec_s": _median(sp.wall_s for sp in phase["exec"]),
        **{k: total(every, k) for k in ("jobs", "stages", "tasks", "executor_run_s",
                                        "executor_cpu_s", "shuffle_write_mb",
                                        "spill_mb")},
        "gc_s": gc_s,
        "busy_frac": total(every, "executor_run_s") / (spark_total * cores) if spark_total else 0.0,
        "spark_s": _median(op_spark.values()),
        "driver_s": _median(roots[i].wall_s - op_spark[i] for i in roots),
        "trace_overhead_frac": 1.0 - (traced.ops_per_s() * statistics.median(traced.ref))
        / (untraced.ops_per_s() * statistics.median(untraced.ref)),
    }
    by_op: dict[str, list[list]] = {}
    for i, root in roots.items():
        by_op.setdefault(root.name, []).append([root, *children.get(i, [])])
        for sp in children.get(i, []):
            if sp.name not in phase:  # a layer call inside a compound op
                by_op.setdefault(sp.name, []).append([sp])
    detail = {
        name: {
            "n": len(calls),
            "p50_s": _median(c[0].wall_s for c in calls),
            "jobs": _median(total(c, "jobs") for c in calls),
            "tasks": _median(total(c, "tasks") for c in calls),
            "spark_s": _median(total(c, "spark_s") for c in calls),
            "driver_s": _median(c[0].wall_s - total(c, "spark_s") for c in calls),
        }
        for name, calls in by_op.items()
    }
    return layer, detail


def source_hash(root: Path) -> str:
    """Hash of the program's and the benchmark's sources: counts are
    compared only between runs of the same code."""
    h = hashlib.sha256()
    for d in ("mcp_hubspot_spark", "perfbench"):
        for f in sorted((root / d).rglob("*.py")):
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compare_counts(path: Path, sig: dict) -> int:
    """Count differences against the traced runs made before with the same
    code, seed and op sequence; the first such run records its counts."""
    if not path.exists():
        path.write_text(json.dumps(sig, sort_keys=True))
        return 0
    old = json.loads(path.read_text())
    diff = sorted(k for k in set(old) | set(sig) if old.get(k) != sig.get(k))
    for k in diff:
        print(f"count changed for a fixed seed: {k} {old.get(k)} -> {sig.get(k)}",
              file=sys.stderr)
    return len(diff)


def count_signature(layer: dict, detail: dict, traced: Runner, extra: dict) -> dict:
    """Every figure that must repeat exactly for a fixed seed: job, stage
    and task counts, rows written, files in the store, recall."""
    from metrics import COUNTS

    sig = {f"total.{k}": layer[k] for k in COUNTS}
    for name, d in detail.items():
        sig[f"{name}.jobs"] = d["jobs"]
        sig[f"{name}.tasks"] = d["tasks"]
    sig["write_rows"] = sum(r["rows"] for r in traced.records if r["kind"] == "write")
    for k in ("recall_at_10", "vector_store.store_files"):
        if k in extra:
            sig[k] = extra[k]
    return sig


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "mcp_hubspot_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (no mcp_hubspot_spark/ here)",
              file=sys.stderr)
        return 2
    out_dir = root / ".perfbench"
    work = out_dir / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    _prepare_env(root, work)
    sys.path.insert(0, str(root))

    import metrics
    from spans import Tracer

    spark = None
    try:
        spark = _session(work)
        session_s = _process_age_s()
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        module = __import__(WORKLOADS[args.workload])
        wl = module.Workload(spark, str(work), args.seed)
        reference = Reference(spark)
        untraced = Runner(Tracer(spark, enabled=False), reference)
        wl.setup(untraced.run_op)
        reference.time(REF_WARMUP)
        passes = 1 if args.trace else max(1, round(args.seconds / 10 * module.PASSES_PER_10S))
        ops = wl.ops(passes)
        setup_s = _process_age_s()
        for op in ops:
            untraced.run_op(op)
        gated, info = end_to_end(untraced, setup_s)
        # not gated: the JVM's peak RSS follows G1's heap sizing and spreads
        # more between seeds than any bound allows (README)
        info["peak_rss_mb"] = {
            "jvm": _vm_hwm_mb(jvm_pid),
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        # set-up checks (the analytics oracle pass) count like op checks
        attempted = len(untraced.records) + wl.setup_checks
        failed = untraced.failed + len(wl.setup_failures)
        record = {"workload": args.workload, "seed": args.seed, "passes": passes,
                  "session_s": session_s, "ops": untraced.records, "ref_s": untraced.ref,
                  "warmup": untraced.warmup, "end_to_end": gated, "info": info}
        if args.trace:
            tracer = Tracer(spark, enabled=True)
            traced = Runner(tracer, reference)
            gc0 = tracer.jvm_gc_s()
            for op in wl.ops(passes):
                traced.run_op(op)
            gc_s = tracer.jvm_gc_s() - gc0
            tracer.resolve()
            layer, detail = per_layer(tracer, traced, untraced, os.cpu_count() or 4, gc_s)
            failed += traced.failed
            attempted += len(traced.records)
            record.update(spans=tracer.dump(), per_layer=layer, per_op=detail,
                          traced_ops=traced.records, traced_ref_s=traced.ref)
        extra = wl.extra()
        if args.trace:
            layer["unstable_counts"] = compare_counts(
                out_dir / (f"counts-{args.workload}-seed{args.seed}"
                           f"-{source_hash(root)}.json"),
                count_signature(layer, detail, traced, extra))
        record.update(workload_detail=extra, attempted=attempted, failed=failed)
        (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(record, indent=1))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for k, v in info.items():
        print(f"# {k}: {json.dumps(v)}")
    if args.trace:
        for name, d in sorted(detail.items()):
            print(f"# {name}: {json.dumps({k: round(x, 4) for k, x in d.items()})}")
        values, units = layer, metrics.PER_LAYER
    else:
        values, units = gated, metrics.END_TO_END
    for k, v in extra.items():
        if k not in ("query_times_s", "cold_times_s"):
            print(f"# {k}: {json.dumps(v)}")
    print(json.dumps(metrics.result_line(failed == 0, attempted, failed, values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
