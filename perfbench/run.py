"""Deployment-path benchmark for the transcripts -> graph engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one table

Run from the repository root. One run sets up once (JVM and Spark
session start, seeded corpus generation and table write, warm-up job)
and reports that time as ``setup_s``; then it repeats the workload's
timed job until ``--seconds`` of job time have been measured (at least
``MIN_REPS`` times), checking every job's outputs against the generator's
truth. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of :mod:`layers` with ``--trace 1``
(which also writes them, with the layer ranking, to
``.perfbench_traces/trace-<workload>-seed<n>.json`` in the working
directory). Host diagnostics (loadavg, kernel-time share) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)  # this process imports raptor_spark from the checkout
MIN_REPS = 3
MAX_REPS = 40
# conversations in the seeded corpus (~234k triples). The deployment
# job's ~2.5 s of fixed cost dominates well past this size, and the set-up
# plus the timed jobs must fit the per-run time budget
N_CONVS = 16000

E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "triples_per_s": "triples/s",
    "peak_mem_mb": "MB", "stored_bytes_per_triple": "B",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit (the
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """One workload run: set-up, timed reps, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.name, self.seed, self.seconds = workload, seed, seconds
        self.convs = N_CONVS
        self.work = work
        self.spark = None
        self.wl = None
        self.corpus = None
        self.setup_s = None
        self.reps = []
        self.attempted = 0
        self.failed = 0

    def session(self, event_log_dir=None):
        import session as S

        if self.spark is not None:
            self.spark.stop()
            # the traced run's second session. operators/serialize.py
            # keeps its pandas UDF in a module global, and the UDF holds the
            # stopped context's accumulator server: a new session in this
            # process must build a new one
            import raptor_spark.operators.serialize as ser

            if hasattr(ser, "_nt_line_udf_cached"):
                ser._nt_line_udf_cached = None
        self.spark = S.start_session(ROOT, self.work, event_log_dir)
        return self.spark

    def setup(self, event_log_dir=None) -> float:
        import corpus as C
        from workloads import WORKLOADS

        t = [time.perf_counter()]
        spark = self.session(event_log_dir)
        t.append(time.perf_counter())
        self.corpus = C.generate(self.seed, self.convs)
        cdir = os.path.join(self.work, "corpus")
        shutil.rmtree(cdir, ignore_errors=True)
        self.tables = C.write_tables(self.corpus, cdir)
        t.append(time.perf_counter())
        self.wl = WORKLOADS[self.name](spark, self.tables, self.work)
        self.wl.warm()
        t.append(time.perf_counter())
        log("setup phases (session, corpus, warm-up) s: %.3f %.3f %.3f"
            % (t[1] - t[0], t[2] - t[1], t[3] - t[2]))
        return t[-1] - t[0]

    def measure(self, label: str = "untraced", tag_jobs: bool = False,
                seconds: float = None) -> list:
        """Timed reps until ``seconds`` (default: the run's) of job time,
        at least MIN_REPS; returns the reps. ``tag_jobs`` runs each rep's
        Spark jobs under its own job group."""
        seconds = self.seconds if seconds is None else seconds
        import session as S
        from workloads import CheckFailed, Truth

        if self.wl.truth is None:
            self.wl.truth = Truth(self.corpus)
        reps, spent, tries = [], 0.0, 0
        while (spent < seconds or tries < MIN_REPS) and tries < MAX_REPS:
            tries += 1
            self.attempted += 1
            tag = "job:%d" % tries
            if tag_jobs:
                self.spark.sparkContext.setJobGroup(tag, tag)
            self.wl.prepare()
            with S.PeakMem(self.spark) as mem:
                t = time.perf_counter()
                try:
                    result, raised = self.wl.job(), None
                except Exception:  # a failed job is a measured outcome
                    result, raised = None, traceback.format_exc()
                dt = time.perf_counter() - t
            spent += dt
            try:
                if raised:
                    raise CheckFailed("job raised:\n" + raised)
                n = self.wl.check(result)
            except CheckFailed as e:
                self.failed += 1
                log("%s check failed: %s" % (label, e))
                continue
            reps.append({"job_s": dt, "triples": n, "mem": mem.peak,
                         "bytes": self.wl.written_bytes(), "tag": tag, "result": result})
        return reps

    def end_to_end(self) -> dict:
        med = lambda xs: statistics.median(xs) if xs else float("nan")
        r = self.reps
        return {
            "setup_s": self.setup_s,
            "job_s": med([x["job_s"] for x in r]),
            "triples_per_s": med([x["triples"] / x["job_s"] for x in r]),
            "peak_mem_mb": med([x["mem"] / 2 ** 20 for x in r]),
            "stored_bytes_per_triple": med([x["bytes"] / max(1, x["triples"]) for x in r]),
        }


def run_one(args) -> dict:
    import session as S

    work = os.path.join(os.getcwd(), ".perfbench_work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    S.prepare_environment(ROOT, work)
    run = Run(args.workload, args.seed, args.seconds, work)
    try:
        diag = S.HostDiag().start()
        run.setup_s = run.setup()
        run.reps = run.measure()
        e2e = run.end_to_end()
        log("diag", json.dumps(dict(diag.stop(), setup_s=run.setup_s,
                                    job_s=[r["job_s"] for r in run.reps])))
        log("end_to_end", json.dumps(e2e))
        if args.trace:
            import layers

            metrics, unit = layers.traced(run, e2e)
        else:
            metrics, unit = e2e, E2E_UNITS
        return {
            "correct": run.failed == 0 and bool(run.reps),
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
        }
    finally:
        try:
            stop_spark(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Each workload in its own process (its own JVM); one table."""
    print("%-8s %-24s %16s  %s" % ("workload", "metric", "value", "unit"))
    bad = 0
    for name in ("build", "resume", "export"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("%-8s run failed with exit code %d" % (name, p.returncode))
            bad += 1
            continue
        res = json.loads(lines[-1])
        for k, m in res["metrics"].items():
            print("%-8s %-24s %16.4f  %s" % (name, k, m["value"], m["unit"]))
        ratio = res["failed"] / res["attempted"]
        print("%-8s %-24s %16.4f  %s   (correct=%s, %d jobs)"
              % (name, "failed_ratio", ratio, "ratio", res["correct"], res["attempted"]))
        bad += not res["correct"]
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["build", "resume", "export", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a TERM (e.g. a timeout) unwinds through run_one's finally, which
    # stops the JVM and the Python workers instead of orphaning them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "raptor_spark")):
        log("raptor_spark not found next to %s: run from a checkout of the repository" % HERE)
        return 2
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(run_one(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
