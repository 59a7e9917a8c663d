"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. A run stages the workload's seeded
inputs, then runs iterations one after another (closed loop, one client)
until ``--seconds`` have passed, at least one. Each iteration is one batch
job as its users run it: a fresh Spark JVM from the program's own session
factory on local[nproc], the timed call from input to the complete
written result, an untimed check of every output, and a full stop of
the JVM and its Python workers.

It prints a human-readable report, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A ``--trace 1`` run is one traced iteration: it records
spans and job groups around the calls into the program and reads the
JVM and Python-worker counters from Spark's event log. Its wall,
``trace.wall_s``, less the ``wall_s`` of untraced runs of the same code
is the tracing overhead. Nothing is kept in the checkout between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import ROOT, WORK  # noqa: E402

STAGINGS = 3  # input staging repeats per untraced run; setup_s takes the median

# per-layer metrics every workload reports from its traced iterations
COMMON_LAYERS = (
    "jvm.gc_s",
    "jvm.spill_bytes",
    "jvm.shuffle_write_bytes",
    "jvm.task_skew",
    "jvm.peak_execution_memory_bytes",
    "process.peak_rss_mb",
    "catalog.bytes_written",
    "trace.span_coverage",
    "trace.wall_s",
)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workloads() -> dict:
    from workloads import CrawlExtract, CurateDedup

    return {w.name: w for w in (CrawlExtract, CurateDedup)}


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = workloads()[args.workload]()
        self.trace = bool(args.trace)
        self.iters: list[dict] = []
        self.sessions: list[harness.Clock] = []
        self.attempted = 0
        self.failed = 0
        self.host = None

    def setup(self) -> None:
        self.stagings = []
        # a traced run reports no setup_s, so it stages once
        for k in range(1 if self.trace else STAGINGS):
            clock = harness.Clock()
            self.wl.stage(self.args.seed, os.path.join(self.work, f"input{k}"))
            clock.stop()
            self.stagings.append(clock)

    def iterate(self, i: int, traced: bool) -> None:
        """One batch job in a fresh JVM: the timed call, then its untimed
        verification; a traced one then does the workload's extra traced
        work and reads its event log."""
        out = os.path.join(self.work, f"iter{i}")
        event_dir = os.path.join(self.work, f"eventlog{i}") if traced else None
        rec = {"traced": traced, "problems": []}
        self.attempted += 1
        clock = harness.Clock()
        spark = harness.start_session(event_dir)
        clock.stop()
        self.sessions.append(clock)
        self.host = self.host or harness.host_info(spark)
        tracer = harness.Tracer(spark, enabled=traced)
        # the RSS sampler thread runs in traced iterations only, so that
        # untraced timings carry no sampling cost
        rss = harness.RssSampler() if traced else None
        try:
            if rss is not None:
                rss.start()
            clock = harness.Clock()
            try:
                result = self.wl.iterate(spark, out, tracer)
            finally:
                # a failed iteration still took this long
                rec["wall"] = clock.stop()
                rec["raw_wall"], rec["steal"] = clock.wall, clock.steal
                tracer.enabled = False
                timed_spans = len(tracer.spans)
                if rss is not None:
                    rss.stop()
            t0 = time.perf_counter()
            rec["problems"] = self.wl.verify(spark, out, result)
            rec["verify"] = time.perf_counter() - t0
            if traced and not rec["problems"]:
                t0 = time.perf_counter()
                tracer.enabled = True
                self.wl.trace_extra(spark, out, tracer)
                tracer.enabled = False
                rec["extra"] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
            rec["problems"] = ["exception:\n" + traceback.format_exc()]
        finally:
            t0 = time.perf_counter()
            spark.stop()
            harness.stop_gateway()
            rec["stop"] = time.perf_counter() - t0
        if traced and not rec["problems"]:
            log = harness.EventLog(harness.find_event_log(event_dir))
            rec["layers"] = self.layers(tracer.spans, timed_spans, log, rec["raw_wall"])
            rec["layers"]["process.peak_rss_mb"] = rss.peak / 2**20
        if rec["problems"]:
            self.failed += 1
            for p in rec["problems"]:
                print(f"perfbench: FAILED iteration {i}: {p}", file=sys.stderr)
        self.iters.append(rec)
        shutil.rmtree(out, ignore_errors=True)

    def layers(self, spans: list[dict], timed: int, log, wall: float) -> dict:
        """The common metrics over the first ``timed`` spans, those of the
        timed call; the workload's own over all of them."""
        tot = log.totals({s["group"] for s in spans[:timed]})
        top = sum(s["end"] - s["start"] for s in spans[:timed] if s["parent"] is None)
        m = {
            "jvm.gc_s": tot["gc_ms"] / 1000,
            "jvm.spill_bytes": tot["spill"],
            "jvm.shuffle_write_bytes": tot["shuffle_write"],
            "jvm.task_skew": tot["task_skew"],
            "jvm.peak_execution_memory_bytes": tot["peak_execution_memory"],
            "catalog.bytes_written": tot["bytes_written"],
            "trace.span_coverage": top / wall,
        }
        m.update(self.wl.layers(spans, log))
        return m

    def measure(self) -> None:
        if self.trace:
            self.iterate(0, True)
        else:
            t0, i = time.perf_counter(), 0
            while i == 0 or time.perf_counter() - t0 < self.args.seconds:
                self.iterate(i, False)
                i += 1

    # -- results ---------------------------------------------------

    def walls(self, traced: bool | None = None) -> list[float]:
        return [
            r["wall"]
            for r in self.iters
            if "wall" in r and (traced is None or r["traced"] == traced)
        ]

    def setup_s(self) -> float:
        return statistics.median(c.seconds for c in self.stagings) + statistics.median(
            c.seconds for c in self.sessions
        )

    def end_to_end(self) -> dict:
        wall = statistics.median(self.walls())
        return {
            "setup_s": self.setup_s(),
            "wall_s": wall,
            "docs_per_s": self.wl.docs / wall,
        }

    def per_layer(self, spec: dict) -> dict:
        per_iter = [r["layers"] for r in self.iters if "layers" in r]
        if not per_iter:
            raise RuntimeError("no traced iteration completed")
        metrics = {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}
        metrics.update(self.wl.run_layers())
        metrics["trace.wall_s"] = statistics.median(self.walls(True))
        declared = {m["name"] for m in spec["per_layer"]}
        measured = set(self.wl.LAYERS) | set(COMMON_LAYERS)
        missing = (measured - set(metrics)) | (measured - declared)
        if missing:
            raise RuntimeError(f"per-layer metrics not measured or not declared: {sorted(missing)}")
        # a layer this workload never calls did no work: 0
        return {name: metrics.get(name, 0) for name in declared}


def report(run: Run, metrics: dict, units: dict) -> None:
    a = run.args
    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"host {json.dumps(run.host, sort_keys=True)}")
    print(f"input {json.dumps(run.wl.describe(), sort_keys=True)}")
    print(
        "setup (steal-adjusted): staging median "
        f"{statistics.median(c.seconds for c in run.stagings):.3f} s of {len(run.stagings)}, "
        f"session start median {statistics.median(c.seconds for c in run.sessions):.3f} s "
        f"of {len(run.sessions)}"
    )
    for traced in (False, True):
        walls = run.walls(traced)
        if walls:
            q1, q2, q3 = harness.quartiles(walls)
            print(
                f"wall_s (steal-adjusted) {'traced' if traced else 'untraced'} n={len(walls)} "
                f"q1={q1:.4f} median={q2:.4f} q3={q3:.4f}"
            )
    for i, r in enumerate(run.iters):
        print(
            f"iteration {i}: traced={r['traced']} wall {r.get('raw_wall', float('nan')):.3f} s, "
            f"cpu steal {r.get('steal', float('nan')):.1%}, "
            f"adjusted {r.get('wall', float('nan')):.3f} s, "
            f"verify {r.get('verify', float('nan')):.3f} s, "
            + (f"traced extra work {r['extra']:.3f} s, " if "extra" in r else "")
            + f"stop {r['stop']:.3f} s"
        )
    print(f"failed_ratio {run.failed}/{run.attempted} = {run.failed / max(1, run.attempted):.3f}")
    for name in sorted(metrics):
        print(f"  {name:44s} {metrics[name]:>16.6g} {units[name]}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not harness.program_present():
        print(
            "perfbench: the program (indu_doc_transformer_spark/, __spark_entry__.py) "
            f"is not in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    try:
        run.setup()
        run.measure()
        section = "per_layer" if run.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in spec[section]}
        metrics = run.per_layer(spec) if run.trace else run.end_to_end()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(run, metrics, units)
    correct = run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    name: {"value": metrics[name], "unit": units[name]} for name in units
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
