"""The repo's benchmark: one command, five seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see ``workloads.py``):
``release``, ``analytics``, ``curation``, ``deliveries``, and
``serving``, which runs the last three's ops in one pass.

One process drives the engine's public entry points on
``local[$(nproc)]`` with one closed-loop client.  A run

1. pins the environment (cores, driver heap and young generation,
   Spark local dirs, the repo on ``PYTHONPATH``) and starts a session;
2. sets up: makes the seeded inputs and their expected outputs
   (``SETUP_REPS`` times unless the workload sets ``setup_reps``, each
   a fresh copy, keeping the median time) and runs the untimed
   warm-up;
3. runs a fixed number of whole passes over the workload's ops — as
   many of its nominal pass length (``nominal_pass_s``) as fit in
   ``--seconds`` — checking every op's output between ops with the
   clock stopped;
4. prints a context line (environment, git SHA or source digest, seed,
   sample counts, failures), one line per metric, and as its last line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` instead
runs three passes — untraced, traced, untraced — and reports the
per-layer split of ``tracing.py`` for the traced one; its overhead is
the traced pass time minus the last untraced pass time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True,
                   choices=("release", "analytics", "curation",
                            "deliveries", "serving"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# op_p90_ms is reported only where a run yields this many ops, so that
# at least ten samples lie beyond it.
P90_MIN_OPS = 100


def end_to_end(timed, setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics of one untraced run."""
    import harness

    lat = [s.seconds for s in timed.samples]
    out = {
        "setup_s": (setup_s, "s"),
        "wall_s": (harness.median(timed.pass_seconds), "s"),
        "rows_per_s": (harness.rows_per_s(timed.samples), "rows/s"),
        "op_p50_ms": (harness.percentile(lat, 50) * 1e3, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    if len(lat) >= P90_MIN_OPS:
        out["op_p90_ms"] = (harness.percentile(lat, 90) * 1e3, "ms")
    return out


def measure(args, work: str, pinned: dict) -> tuple[dict, dict]:
    import harness
    import tracing
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for rep in range(getattr(wl, "setup_reps", SETUP_REPS)):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + harness.median(prep) + warm_s

        if args.trace:
            # pass 0 settles the region untraced; pass 1 is traced;
            # pass 2, untraced again, is the overhead reference
            def at(offset):
                return lambda i: wl.make_pass(i + offset)

            settle = harness.run_passes(at(0), 1)
            splits = getattr(wl, "splits", [])
            splits.clear()
            tracer = tracing.Tracer(spark)
            tracer.install()
            try:
                timed = harness.run_passes(at(1), 1, observer=tracer)
            finally:
                tracer.uninstall()
            cached = tracer.cached_bytes()
            traced_splits = list(splits)
            untraced = harness.run_passes(at(2), 1)
            warm += settle.samples + untraced.samples
        else:
            passes = harness.pass_count(args.seconds, wl.nominal_pass_s)
            timed = harness.run_passes(wl.make_pass, passes)
        final_check = getattr(wl, "final_check", None)
        if final_check is not None and not final_check():
            last = timed.samples[-1]
            last.ok, last.error = False, "rebuild mismatch"

        failures = [s for s in warm + timed.samples if not s.ok]
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "git_sha": harness.git_sha(ROOT),
            "source_sha256": harness.source_digest(ROOT),
            "env": pinned, "jvm_pid": jvm_pid,
            "ops": len(timed.samples), "passes": len(timed.pass_seconds),
            "warm_ops": len(warm),
            "failed_frac": (sum(not s.ok for s in timed.samples)
                            / len(timed.samples)),
            "setup": {"session_s": session_s, "prepare_s": prep,
                      "warm_s": warm_s},
            "failures": [{"op": s.name, "error": s.error}
                         for s in failures][:20],
            "op_ms": [[s.name, round(s.seconds * 1e3, 1)]
                      for s in timed.samples],
        }
        if args.trace:
            metrics, shares = tracer.summarize(
                untraced.pass_seconds[0], timed.pass_seconds[0],
                int(pinned["SPARK_GRAFT_CPUS"]), cached, traced_splits)
            context["shares"] = shares
            context["counters"] = tracing.counters_of(metrics)
            out = {k: (v, tracing.unit_of(k)) for k, v in metrics.items()}
        else:
            out = end_to_end(timed, setup_s, harness.peak_rss_mb(jvm_pid))
        context["correct"] = not failures
        context["attempted"] = len(timed.samples)
        context["failed"] = sum(not s.ok for s in timed.samples)
        return context, out
    finally:
        spark.stop()
        _stop_jvm()


def _stop_jvm() -> None:
    """End the JVM PySpark launched (it exits when its stdin closes;
    its Python workers exit with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "hfcommunity_spark")):
        print("perfbench: no hfcommunity_spark package next to perfbench/ "
              "— run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import harness

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    pinned = harness.pin_environment(ROOT, work)
    try:
        context, metrics = measure(args, work, pinned)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print("perfbench context: " + json.dumps(context, sort_keys=True))
    for name, (value, unit) in metrics.items():
        n = (f"  (n={context['attempted']} ops, {context['passes']} passes)"
             if name.startswith("op_p") else "")
        print(f"perfbench metric: {name} = {value:.6g} {unit}{n}")
    print(f"perfbench metric: failed_frac = {context['failed_frac']:.6g} "
          f"ratio  ({context['failed']} of {context['attempted']} ops)")
    print(json.dumps({
        "correct": context["correct"],
        "attempted": context["attempted"],
        "failed": context["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
