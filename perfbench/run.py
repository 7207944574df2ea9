"""Repository benchmark: one workload per invocation, closed loop, one
client, at local[<cores>] from a single driver process.

    python3 perfbench/run.py --workload bulk_write --seed 1 --seconds 10 --trace 0

Run it from the repository root. It makes its inputs from ``--seed``,
sets up several times and reports the median set-up time, warms the JVM
and the Python workers, then runs the workload's operations for
``--seconds`` seconds, checking every output. Human-readable detail
lines go to stdout first; the last stdout line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics (see README.md). All
scratch files live under ``perfbench/.work`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_write", "ingest_lookup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Context:
    def __init__(self, spark, seed, run_dir):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = None
        with open(os.path.join(HERE, "pins.json")) as f:
            self.pins = json.load(f)

    def note_rows(self, rows: int) -> None:
        """Rows a read returned, for the traced pruning ratios."""
        if self.tracer is not None:
            self.tracer.note_rows(rows)

    def pin(self, variant: int, kind: str):
        """Encoded bytes pinned for this fixture variant and write path at
        the session's parallelism, or None if there is no pin."""
        from harness import PARALLELISM

        return (self.pins.get(f"parallelism={PARALLELISM}", {})
                .get(str(variant), {}).get(kind))


def run_ops(wl, ctx, seconds):
    """Closed loop over the workload's operation cycle until ``seconds``
    have passed and at least one whole cycle has run. Returns per-kind
    latencies of the operations that succeeded, and the attempted and
    failed counts.

    In a traced run every other main operation runs with the tracer off,
    so that traced and untraced operations see the same table state;
    the untraced ones' latencies are kept under ``<kind>:untraced``, and
    the loop runs until it has at least one of each."""
    from layers import tag

    lat: dict[str, list[float]] = {}
    attempted = failed = n_main = 0
    tracer = ctx.tracer
    sc = ctx.spark.sparkContext
    deadline = time.perf_counter() + seconds
    first_cycle = sum(1 for _ in wl.cycle())
    while True:
        for kind, fn in wl.cycle():
            key = kind
            if tracer is not None and kind == wl.main_kind:
                if n_main % 2 == 0:
                    key = kind + ":untraced"
                    tracer.enabled = False
                n_main += 1
            tag(sc, f"{kind}#{attempted}")
            t0 = time.perf_counter()
            try:
                ok, info = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok, info = False, {}
            dt = time.perf_counter() - t0
            tag(sc, "")
            if callable(ok):  # an output check kept out of the timing
                try:
                    ok = ok()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
            if tracer is not None:
                tracer.enabled = True
            attempted += 1
            if ok:
                lat.setdefault(key, []).append(dt)
            else:
                failed += 1
                print(f"FAILED {kind} op {attempted}", file=sys.stderr)
            wl.after_op(kind, info)
            # stop once time is up and one whole cycle has run
            if (attempted >= first_cycle and time.perf_counter() >= deadline
                    and (tracer is None or n_main >= 2)):
                return lat, attempted, failed


def named_metric_line(name: str, xs: list, unit: str) -> str:
    """One detail line: a ``*_tail_ms`` metric as its tail percentile and
    sample count, any other metric as its quartiles."""
    from harness import quantile, tail

    if name.endswith("_tail_ms"):
        t = tail(xs)
        if t is None or t[0] < 50:
            return f"{name} n/a {unit} (n={len(xs)}, a tail above p50 needs 20)"
        return f"{name} {t[1]:.1f} {unit} (p{t[0]:.1f} of n={t[2]})"
    if not xs:
        return f"{name} n/a {unit} (no samples)"
    q = [quantile(xs, p) for p in (0.25, 0.5, 0.75)]
    return (f"{name} {q[1]:.4g} {unit} (p25={q[0]:.4g} p75={q[2]:.4g}"
            f" n={len(xs)})")


def _phase(phases: dict, name: str, t0: float) -> float:
    t = time.perf_counter()
    phases[name] = t - t0
    return t


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_go_spark",
                                       "__init__.py")):
        print(f"perfbench: no parquet_go_spark package under {ROOT}; run "
              "from the root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import (PeakRss, quantile, rmtree, setup_env, start_spark,
                         stop_spark)

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    setup_env(ROOT, work)
    load0 = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    spark = None
    try:
        import workloads

        phases = {}
        t_phase = time.perf_counter()
        rss = PeakRss().start()
        spark = start_spark(run_dir, cores, event_dir)
        t_phase = _phase(phases, "start", t_phase)
        ctx = Context(spark, args.seed, run_dir)
        wl = workloads.WORKLOADS[args.workload](ctx)
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = ctx.tracer = Tracer()
            tracer.install()
            tracer.enabled = True
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.make()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
            if rep:
                rmtree(wl.rep_dir(rep - 1))
        wl.finish_setup()
        t_phase = _phase(phases, "setup", t_phase)
        wl.warmup()
        t_phase = _phase(phases, "warmup", t_phase)

        lat, attempted, failed = run_ops(wl, ctx, args.seconds)
        t_phase = _phase(phases, "loop", t_phase)
        verified = wl.verify()
        t_phase = _phase(phases, "verify", t_phase)
        if not verified:
            print("FAILED post-run check against the source", file=sys.stderr)
            failed += 1
            attempted += 1

        metrics: dict[str, tuple] = {}
        if args.trace:
            import layers

            target, snap = wl.replay_target()
            metrics.update(layers.span_metrics(tracer, target))
            tracer.enabled = False
            tracer.uninstall()
            layers.tag(spark.sparkContext, "control")
            metrics["spark.floor_s"] = (layers.spark_floor_s(
                spark, wl.src_dir, workloads.NUM_CHUNKS), "s")
            metrics["spark.job_launch_s"] = (
                layers.spark_job_launch_s(spark), "s")
            metrics.update(layers.replay(
                target, snap, os.path.join(run_dir, "replay"), args.seed))
            traced = lat.get(wl.main_kind) or [0.0]
            untraced = lat.get(wl.main_kind + ":untraced") or [0.0]
            metrics["trace.overhead_ms"] = (
                (quantile(traced, 0.5) - quantile(untraced, 0.5)) * 1e3, "ms")
            tracer.dump(os.path.join(work, f"spans-{args.workload}.json"))
        t_phase = _phase(phases, "trace", t_phase)
        peak_mb = rss.stop()
        stop_spark(spark)
        spark = None
        t_phase = _phase(phases, "stop", t_phase)
        if args.trace:
            metrics.update(layers.spark_event_metrics(event_dir, wl.main_kind))
            if metrics["trace.replay_chunks_mismatched"][0]:
                print("FAILED replay did not reproduce the manifest bytes",
                      file=sys.stderr)
                failed += 1
                attempted += 1

        print(f"workload {args.workload} seed {args.seed} cores {cores} "
              f"seconds {args.seconds:g} trace {args.trace}")
        print(f"loadavg start {load0[0]:.2f} end {os.getloadavg()[0]:.2f}")
        print("setup_s reps " + " ".join(f"{x:.3f}" for x in setup_times))
        print("phases_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
        for kind, xs in sorted(lat.items()):
            p25, p50, p75 = (quantile(xs, q) * 1e3 for q in (0.25, 0.5, 0.75))
            print(f"{kind} n={len(xs)} p25={p25:.1f} p50={p50:.1f}"
                  f" p75={p75:.1f} ms")
        for name, xs, unit in wl.op_metrics(lat):
            print(named_metric_line(name, xs, unit))
        for name, (v, unit) in wl.details().items():
            print(f"{name} {round(v, 4)} {unit}".rstrip())
        print(f"error_rate {failed / max(attempted, 1):.4f} "
              f"({failed}/{attempted})")
        if args.trace:
            for name in sorted(metrics):
                v, unit = metrics[name]
                print(f"{name} {v:.6g} {unit}")
        else:
            metrics = {"setup_s": (quantile(setup_times, 0.5), "s")}
            for role in ("main", "side", "read"):
                xs = lat.get(getattr(wl, role + "_kind"))
                if not xs:
                    print(f"no successful {role} operation", file=sys.stderr)
                    return 1
                metrics[f"{role}_op_p50_ms"] = (quantile(xs, 0.5) * 1e3, "ms")
            metrics["size_vs_reference"] = (wl.size_vs_reference(), "ratio")
            metrics["peak_rss_mb"] = (peak_mb, "MB")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        rmtree(run_dir)


if __name__ == "__main__":
    sys.exit(main())
