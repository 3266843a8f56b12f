"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Every line but the last names one metric
with its value and unit; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (listed, with the
end-to-end metric each should move, in ``layers.json``): it times the same
jobs with spans around the program's calls, writes the spans to
``.perfbench_work/traces/``, prints the traced run's end-to-end figures (to
set beside a ``--trace 0`` run of the same seed) and reports as
``trace.overhead_pct`` the share of the timed jobs' wall time spent in the
tracer's own hooks.

End-to-end metrics, one driver process on ``local[cores]``:

- ``setup_s``: session start, then, side by side, the generation of the
  seed's inputs and of the reference they are checked against, and a
  warm-up on separate small inputs.
- ``throughput_per_s``: work of the jobs over their wall time; jobs run back
  to back for ``--seconds`` and the one running then completes.
- ``round_p50_s``: median wall time of a crawl or download round, the
  frontier's turnaround; the sample count is printed beside it.
- ``peak_rss_mb``: peak resident memory of the JVM and its Python workers
  while the jobs run, with shared pages counted once (``stats``).
- ``state_mb``: median on-disk size of a job's state and output tables.

``attempted`` counts the timed jobs and ``failed`` the jobs whose output
differs from the reference in at least one row (the printed ``mismatches``).
The run exits 1 when any job failed, and 2 when the program under test
cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def layer_spec() -> dict:
    with open(os.path.join(HERE, "layers.json")) as fh:
        return json.load(fh)


def window(wl, seconds: float, tracer=None) -> dict:
    """Time jobs for ``seconds``, then check every job against the
    reference (outside the timed region)."""
    from perfbench import stats

    rss = stats.RssSampler().start()
    try:
        jobs = wl.run_jobs(seconds, tracer)
    finally:
        rss.stop()
    wl.check(jobs)
    rounds = [r for j in jobs for r in j.rounds]
    return {
        "jobs": jobs,
        "throughput_per_s": sum(j.units for j in jobs) / sum(j.wall for j in jobs),
        "round_p50_s": stats.median(rounds),
        "round_samples": len(rounds),
        "round_tail": stats.tail_percentile(rounds),
        "peak_rss_mb": rss.peak / 2**20,
        "peak_jvm_mb": rss.peak_jvm / 2**20,
        "peak_procs": rss.peak_procs,
        "rss_samples": rss.samples,
        "state_mb": stats.median([j.state_bytes for j in jobs]) / 2**20,
        "mismatches": sum(j.mismatches for j in jobs),
    }


def show(name: str, value, unit: str, note: str = "") -> None:
    print(f"{name} = {value:.6g} {unit}{'  (' + note + ')' if note else ''}")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process it
    started (the JVM and the Python workers) to end."""
    from pyspark import SparkContext

    from perfbench import stats

    pids = stats.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 60
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; only the parent's reap is pending
            except OSError:
                break
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import spiderman_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from perfbench import session, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        spark = session.start(ROOT, run_dir, f"perfbench-{args.workload}")
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        wl.set_up()
        setup_s = time.perf_counter() - T_START
        show("setup_s", setup_s, "s",
             f"session {t_session - T_START:.2f} s, then inputs ({wl.build_s:.2f} s),"
             f" reference and warm-up side by side")

        tracer = None
        if args.trace:
            tracer = Tracer()
            wl.install(tracer)
        try:
            t0 = time.perf_counter()
            res = window(wl, args.seconds, tracer)
            show("window_s", time.perf_counter() - t0, "s", "timed jobs and their check")
            report(res, wl.unit)
            if tracer:
                layers = wl.layer_metrics(tracer, res["jobs"])
        finally:
            if tracer:
                tracer.uninstall()
        jobs = res["jobs"]
        mismatches = res["mismatches"]
        if tracer:
            layers["trace.overhead_pct"] = 100 * tracer.hook_s / sum(j.wall for j in jobs)
            layers["corpusgen.build_s"] = wl.build_s
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
            spec = layer_spec()["per_layer"]
            metrics = {}
            for m in spec:
                v = float(layers.get(m["name"], 0.0))
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
                show(m["name"], v, m["unit"])
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "throughput_per_s": {"value": res["throughput_per_s"], "unit": "units/s"},
                "round_p50_s": {"value": res["round_p50_s"], "unit": "s"},
                "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
                "state_mb": {"value": res["state_mb"], "unit": "MB"},
            }
        bad = [n for n in metrics if not stats.valid_metric_name(n)]
        if bad:
            raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")
        failed = sum(1 for j in jobs if j.mismatches)
        show("mismatches", mismatches, "rows",
             f"{sum(j.rows_checked for j in jobs)} rows checked")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    show("run_s", time.perf_counter() - T_START, "s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def report(res: dict, unit: str) -> None:
    show("throughput_per_s", res["throughput_per_s"], "units/s",
         f"{unit}, {len(res['jobs'])} jobs")
    show("round_p50_s", res["round_p50_s"], "s", f"{res['round_samples']} rounds")
    if res["round_tail"] is not None:
        p, v = res["round_tail"]
        show(f"round_p{p}_s", v, "s", f"{res['round_samples']} rounds")
    show("peak_rss_mb", res["peak_rss_mb"], "MB",
         f"JVM alone {res['peak_jvm_mb']:.0f} MB, {res['peak_procs']} processes at the peak,"
         f" {res['rss_samples']} samples")
    print("rounds_s =", " ".join(f"{r:.3f}" for j in res["jobs"] for r in j.rounds))
    show("state_mb", res["state_mb"], "MB")


if __name__ == "__main__":
    sys.exit(main())
