"""Pipeline benchmark: one seeded workload through the pipeline's public
functions, correctness checked on every rep.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, kg_resume, alias_canon (see perfbench/README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
separate traced run and prints the per-layer metrics, and writes its
spans to ``.bench_work/spans/``. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Run
from the root of the repository; all files go under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_REPS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "triples_per_s": "1/s", "peak_rss_mb": "MB",
    "sink_files": "count", "sink_bytes_per_triple": "B",
    "merge_recall": "ratio", "merge_precision": "ratio",
}
PER_LAYER = {
    "plans.session_start_s": "s",
    "sources.scan_s": "s",
    "jsonld_ops.turn_order_s": "s",
    "jsonld_ops.exchange_shuffle_bytes": "B",
    "jsonld_ops.arrow_roundtrip_s": "s",
    "jsonld_ops.emit_s": "s",
    "jsonld_ops.triples_out": "count",
    "jsonld_ops.quarantined": "count",
    "core.build_doc_us": "us",
    "core.expand_us": "us",
    "core.to_rdf_us": "us",
    "core.triples_per_doc": "count",
    "canonicalize.candidates_s": "s",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.verify_s": "s",
    "canonicalize.verified_pairs": "count",
    "canonicalize.verify_ratio": "ratio",
    "canonicalize.cc_s": "s",
    "canonicalize.cc_rounds": "count",
    "canonicalize.merge_map_rows": "count",
    "canonicalize.apply_s": "s",
    "pipeline.sink_write_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.files_per_bucket_max": "count",
    "sources.self_s": "s",
    "jsonld_ops.self_s": "s",
    "canonicalize.self_s": "s",
    "pipeline.self_s": "s",
    "sink.self_s": "s",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_frac": "ratio",
    "scaling.eff_1to4": "ratio",
}


def _commit() -> "str | None":
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _src_digest() -> str:
    """sha1 over the package's sources: identifies the code measured
    when the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "json_ld_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Bench:
    """One benchmark run: a Spark session, one workload, its reps."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.nproc = len(os.sched_getaffinity(0))
        base = os.path.join(ROOT, ".bench_work")
        self.work = os.path.join(base, f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}")
        self.results_dir = os.path.join(base, "results")
        self.spans_path = os.path.join(base, "spans", f"{workload}-seed{seed}.jsonl")
        self.attempted = self.failed = 0
        self.reps: "list[dict]" = []
        self.spark = None

    # --------------------------------------------------------------- session

    def start(self, cpus: int):
        from json_ld_spark.plans.session import build_session

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # the Python workers import json_ld_spark and this package
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        t0 = time.time()
        self.spark = build_session(
            app_name="perfbench", cpus=cpus,
            warehouse=os.path.join(self.work, "warehouse"),
            # no hsperfdata file under /tmp; JVM temp files in the work dir
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------------ reps

    def rep(self, wl, rss) -> None:
        """One checked rep of the workload's operation."""
        from perfbench.probe import cpu_steal_total, steal_pct

        self.attempted += 1
        wl.prepare()
        rss.reset()
        s0 = cpu_steal_total()
        try:
            m = wl.op()
            peak = rss.peak_mb()
            steal = steal_pct(s0, cpu_steal_total())
            t_check = time.time()
            wl.check(m)
            check_s = time.time() - t_check
        except Exception:  # a rep that raises or fails its check counts as failed
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return
        files, size, _ = wl.sink_stats(m)
        rows = wl.rows_out(m)
        recall, precision = wl.merge_scores(m)
        self.reps.append({
            "wall_s": m["wall"], "triples": rows, "triples_per_s": rows / m["wall"],
            "peak_rss_mb": peak, "sink_files": files,
            "sink_bytes_per_triple": size / max(1, rows),
            "merge_recall": recall, "merge_precision": precision, "steal_pct": steal,
            "check_s": check_s,
        })

    def measure(self, wl, seconds: float, min_reps: int) -> None:
        """Reps until ``seconds`` have passed and ``min_reps`` are done.
        The op keeps speeding up over its first reps in a fresh JVM, so
        a fixed rep count keeps every run's median at the same point of
        that curve; the time floor adds reps only when they are fast."""
        from perfbench.probe import RssSampler

        with RssSampler() as rss:
            t0 = time.time()
            while time.time() - t0 < seconds or self.attempted < min_reps:
                self.rep(wl, rss)
                if self.attempted >= 2 and self.failed == self.attempted:
                    break

    # ------------------------------------------------------------------- run

    def run(self) -> "tuple[dict, dict]":
        """(the result line, the detail record) of one run."""
        from perfbench.probe import Tracer, median
        from perfbench.workloads import WORKLOADS

        session_s = self.start(self.nproc)
        # a traced run reports no setup_s, so it generates its inputs once
        kw = {"passes": 1} if self.trace else {}
        wl = WORKLOADS[self.workload](self.spark, self.work, self.seed, **kw)
        wl.setup()
        setup_s = session_s + median(wl.setup_passes) + wl.warmup_s
        if self.trace:
            # probes first, so that the untraced rep the overhead and
            # scaling figures divide by sits at the same point of the
            # JVM's warm-up curve as the traced op
            tracer = Tracer()
            with tracer.span("probe", "probe"):
                probes = {**wl.ladder(tracer), **wl.core_replay(tracer),
                          **wl.canon_phases(tracer)}
            self.measure(wl, 0, 1)
        else:
            self.measure(wl, self.seconds, MIN_REPS)
        ok = self.reps  # the reps that passed their check
        if not ok:
            raise RuntimeError("every rep failed")
        detail = {
            "workload": self.workload, "seed": self.seed, "nproc": self.nproc,
            "commit": _commit(), "src_sha1": _src_digest(), "trace": int(self.trace),
            "session_s": session_s, "setup_passes_s": wl.setup_passes,
            "warmup_s": wl.warmup_s, "reps": ok,
        }
        if not self.trace:
            metrics = {"setup_s": setup_s}
            for k in END_TO_END:
                if k != "setup_s":
                    metrics[k] = median([r[k] for r in ok])
            units = END_TO_END
        else:
            metrics = self.traced(wl, tracer, probes, median([r["wall_s"] for r in ok]),
                                  session_s, detail)
            units = PER_LAYER
        detail["metrics"] = metrics
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }, detail

    def traced(self, wl, tracer, probes: dict, untraced_wall: float, session_s: float,
               detail: dict) -> dict:
        """Per-layer metrics: the ``probes`` (prefix ladder, core replay,
        canonicalization phases), then one op whose SQL executions become
        spans, then a local[1] leg for scaling."""
        from perfbench.workloads import WORKLOADS, CheckFailed

        self.attempted += 1
        layer, root = wl.traced_op(tracer, probes)
        try:
            wl.check(layer["_m"])
        except CheckFailed:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        selfs = tracer.self_times(root)
        wall = tracer.spans[root]["end"] - tracer.spans[root]["start"]
        metrics = {k: v for k, v in {**probes, **layer}.items() if k in PER_LAYER}
        # layer figures only kg_resume moves (the resume lookup, skipped
        # buckets) go to the detail record, not the result line
        detail["unlisted"] = {k: v for k, v in layer.items()
                              if k not in PER_LAYER and not k.startswith("_")}
        metrics["plans.session_start_s"] = session_s
        for name in ("sources", "jsonld_ops", "canonicalize", "pipeline", "sink"):
            metrics[f"{name}.self_s"] = selfs.get(name, 0.0)
        metrics["trace.wall_s"] = wall
        metrics["trace.unattributed_s"] = selfs["unattributed"]
        metrics["trace.overhead_frac"] = wall / untraced_wall - 1.0
        tracer.write(self.spans_path)
        detail["spans"] = os.path.relpath(self.spans_path, ROOT)
        detail["ladder_prefix_s"] = probes["prefix"]

        # single-threaded leg of kg_build on the same inputs; the other
        # workloads report 0 (not measured)
        metrics["scaling.eff_1to4"] = 0.0
        if self.workload != "kg_build":
            return metrics
        self.stop()
        self.start(1)
        # passes=0: reuse the transcripts the local[nproc] leg wrote
        wl1 = WORKLOADS[self.workload](self.spark, self.work, self.seed, passes=0)
        wl1.setup()
        self.attempted += 1
        wl1.prepare()
        m1 = wl1.op()
        try:
            wl1.check(m1)
        except CheckFailed:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        metrics["scaling.eff_1to4"] = m1["wall"] / (self.nproc * untraced_wall)
        detail["local1_wall_s"] = m1["wall"]
        return metrics


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the pipeline from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result, detail = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(bench.results_dir, exist_ok=True)
    with open(os.path.join(bench.results_dir,
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "result": result}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
