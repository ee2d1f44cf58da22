"""Traced run: per-layer metrics, measured from outside the program.

Three sources, all in the benchmark's own files:

- noop-sink probes: each layer's public call (``reassemble``,
  ``parse_documents``, ``build_graph``, ``link_entities``,
  ``filter_unfinished``, ``link_catchup``, ``serialize_documents``,
  ``nt_lines_df``) written to Spark's ``noop`` sink and timed; a layer's
  own time is its probe minus the probe of the layer it consumes;
- Spark's event log (uncompressed JSON lines) of a session that runs the
  timed job and the probes, each under its own job group: stages are
  attributed to layers by the plan operators whose SQL metrics their
  tasks update (``MapInArrow`` / ``ArrowEvalPython``, the ``Exchange``,
  the ``partitionBy("bucket")`` write command);
- in-process kernel timings (one core, no Spark) of
  ``operators.parse.parse_one`` and ``kernel.serialize.to_turtle`` on
  documents sampled from the seeded corpus.

A layer a workload does not run reports 0. ``traced()`` returns the
metrics with their units and writes them, with the layer ranking, to
``.perfbench_traces/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from typing import Dict, List

import corpus as C
import session as S
import workloads as W

PROBE_REPS = 2
FIXED_COST_CONVS = 10
FIXED_COST_REPS = 3
KERNEL_SAMPLE = 150  # documents per syntax
KERNEL_MIN_S = 0.25  # time each kernel over at least this long

UNITS = {
    **{"kernel.parse.%s.triples_per_s" % f: "triples/s"
       for f in ("ntriples", "nquads", "turtle", "trig", "rdfxml", "json")},
    "kernel.write.turtle.triples_per_s": "triples/s",
    "reassemble.s": "s", "reassemble.shuffle_bytes": "B",
    "reassemble.max_task_s": "s", "reassemble.median_task_s": "s",
    "parse.s": "s", "parse.python_run_s": "s", "parse.python_init_s": "s",
    "parse.arrow_bytes_in": "B", "parse.arrow_bytes_out": "B",
    "parse.docs": "count", "parse.triples": "count", "parse.error_docs": "count",
    "parse.tasks": "count", "parse.max_task_s": "s",
    "canonical.s": "s",
    "link.s": "s", "link.decisions": "count",
    "checkpoint.s": "s", "checkpoint.write_task_s": "s", "checkpoint.commit_s": "s",
    "checkpoint.files_written": "count", "checkpoint.bytes_written": "B",
    "checkpoint.resume_scan_s": "s", "checkpoint.catchup_s": "s",
    "serialize.turtle_s": "s", "serialize.nt_s": "s",
    "serialize.group_shuffle_bytes": "B", "serialize.python_run_s": "s",
    "serialize.arrow_bytes_in": "B", "serialize.arrow_bytes_out": "B",
    "pipeline.jobs": "count", "pipeline.fixed_cost_s": "s",
    "pipeline.core_busy_share": "ratio", "pipeline.gc_s": "s",
    "pipeline.spill_bytes": "B",
    "tracing.overhead_s": "s",
}

# each layer's own wall time, ranked for the trace's largest_layers
LAYER_TIME = ("reassemble.s", "parse.s", "canonical.s", "link.s", "checkpoint.s",
              "serialize.turtle_s", "serialize.nt_s")

_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- event log


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}  # job id -> group, exec id, stage ids
        self.stages: Dict[int, dict] = {}  # stage id -> times, accumulables
        self.tasks: Dict[int, List[dict]] = defaultdict(list)  # stage id -> tasks
        self.execs: Dict[int, dict] = {}  # exec id -> start, end, root plan
        self.acc: Dict[int, dict] = {}  # accumulator id -> node, metric, type
        self.acc_value: Dict[int, int] = {}
        self.posted_acc: Dict[int, int] = defaultdict(int)
        # a rolling event log (session.start_session turns rolling on)
        files = sorted(glob.glob(os.path.join(path, "*", "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        if not files:
            raise RuntimeError("no rolling event log files under %s" % path)
        for f in files:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith('{"Event":"SparkListenerTaskStart"'):
                        continue
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, node: dict) -> None:
        if exec_id in self.execs:
            self.execs[exec_id]["nodes"].add((node["nodeName"], node.get("simpleString", "")))
        for m in node.get("metrics", ()):
            self.acc[m["accumulatorId"]] = {
                "exec": exec_id, "node": node["nodeName"],
                "desc": node.get("simpleString", ""), "name": m["name"],
                "type": m["metricType"],
            }
        for c in node.get("children", ()):
            self._plan(exec_id, c)

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            x = p.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": p.get("spark.jobGroup.id"),
                "exec": int(x) if x is not None else None,
                "stages": list(e["Stage IDs"]),
            }
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                "submit": si.get("Submission Time"), "done": si.get("Completion Time"),
            }
            for a in si.get("Accumulables", ()):
                try:
                    v = int(float(a["Value"]))
                except (KeyError, TypeError, ValueError):
                    continue
                self.acc_value[a["ID"]] = max(self.acc_value.get(a["ID"], 0), v)
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "s": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "out_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle_read": sum(
                    (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                    for k in ("Local Bytes Read", "Remote Bytes Read")),
                "accs": {a["ID"] for a in ti.get("Accumulables", ())},
            })
        elif ev.endswith("SQLExecutionStart"):
            x = e["executionId"]
            self.execs[x] = {"start": e["time"], "end": None, "nodes": set()}
            self._plan(x, e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"]
        elif ev.endswith("SQLDriverAccumUpdates") or ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e.get("accumUpdates", ()):
                self.posted_acc[acc_id] += int(v)

    # -- queries over one job group

    def group(self, tag: str) -> dict:
        jobs = [j for j in self.jobs.values() if j["group"] == tag]
        if not jobs:
            raise RuntimeError("the event log has no jobs in group %s" % tag)
        stages = sorted({s for j in jobs for s in j["stages"] if s in self.stages})
        execs = sorted({j["exec"] for j in jobs if j["exec"] is not None})
        return {"jobs": jobs, "stages": stages, "execs": execs,
                "tasks": [t for s in stages for t in self.tasks.get(s, ())]}

    def metric(self, g: dict, name: str, node_has: str = "", desc_has: str = "") -> int:
        """Sum of SQL metric ``name`` over the group's plan nodes whose
        name contains ``node_has`` and description ``desc_has``; timing
        metrics in ms, nsTiming converted to ms."""
        total = 0
        execs = set(g["execs"])
        for acc_id, a in self.acc.items():
            if (a["exec"] in execs and a["name"] == name and node_has in a["node"]
                    and desc_has in a["desc"]):
                v = self.acc_value.get(acc_id, 0) + self.posted_acc.get(acc_id, 0)
                total += v // 1_000_000 if a["type"] == "nsTiming" else v
        return total

    def node_accs(self, g: dict, node_has: str) -> set:
        execs = set(g["execs"])
        return {i for i, a in self.acc.items() if a["exec"] in execs and node_has in a["node"]}


# ---------------------------------------------------------------- probes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Prober:
    def __init__(self, spark):
        self.spark = spark
        self.tags: Dict[str, str] = {}  # probe -> job group of its last rep

    def time(self, name: str, fn, reps: int = PROBE_REPS) -> float:
        ts = []
        for i in range(reps):
            tag = "probe:%s:%d" % (name, i)
            self.spark.sparkContext.setJobGroup(tag, tag)
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        self.spark.sparkContext.setJobGroup("untagged", "untagged")
        self.tags[name] = tag
        return statistics.median(ts)


def _kernel_rate(fn, items, count) -> float:
    """Items processed per second over at least KERNEL_MIN_S."""
    done, spent = 0, 0.0
    while spent < KERNEL_MIN_S:
        t = time.perf_counter()
        for it in items:
            fn(it)
        spent += time.perf_counter() - t
        done += count
    return done / spent


def kernel_metrics(corpus: C.Corpus) -> Dict[str, float]:
    from raptor_spark.kernel.serialize import to_turtle
    from raptor_spark.kernel.terms import Triple
    from raptor_spark.operators.parse import parse_one

    out = {}
    for fmt in ("ntriples", "nquads", "turtle", "trig", "rdfxml", "json"):
        docs = [c for c in corpus.convs if c.fmt == fmt and not c.malformed][:KERNEL_SAMPLE]
        items = [("".join(c.turns), fmt) for c in docs]
        n = sum(len(c.expected()) for c in docs)
        out["kernel.parse.%s.triples_per_s" % fmt] = _kernel_rate(
            lambda it: parse_one(*it), items, n)
    groups = defaultdict(list)
    sample = {c.conv_id for c in corpus.convs[:KERNEL_SAMPLE * 6]}
    for r in corpus.graph_rows():
        if r[0] in sample:
            groups[r[0]].append(Triple(*r[1:]))
    out["kernel.write.turtle.triples_per_s"] = _kernel_rate(
        to_turtle, list(groups.values()), sum(len(v) for v in groups.values()))
    return out


# ---------------------------------------------------------------- the run


def _task_stats(tasks: List[dict]):
    ds = [t["s"] for t in tasks]
    return (max(ds) if ds else 0.0), (statistics.median(ds) if ds else 0.0)


def traced(run, e2e: dict):
    """Re-run the workload in a session with the event log on: timed,
    checked jobs under job groups, then the probes. Returns (metrics,
    units)."""
    from raptor_spark.operators.link import link_entities
    from raptor_spark.operators.parse import parse_documents
    from raptor_spark.operators.reassemble import reassemble
    from raptor_spark.operators.serialize import nt_lines_df, serialize_documents
    from raptor_spark.pipeline import build_graph
    from raptor_spark.plans import checkpoint as ckpt

    ev_dir = os.path.join(run.work, "eventlog")
    shutil.rmtree(ev_dir, ignore_errors=True)
    run.setup(event_log_dir=ev_dir)
    spark, wl = run.spark, run.wl
    reps = run.measure(label="traced", tag_jobs=True, seconds=0)  # MIN_REPS jobs
    run.reps_traced = reps
    m = {k: 0.0 for k in UNITS}
    if reps:
        m["tracing.overhead_s"] = statistics.median(r["job_s"] for r in reps) - e2e["job_s"]
    job_tag = reps[-1]["tag"] if reps else None
    job_s = reps[-1]["job_s"] if reps else float("nan")
    p = Prober(spark)
    n = W.N_BUCKETS

    m["pipeline.fixed_cost_s"] = p.time(
        "fixed_cost", lambda: _fresh_run(wl, run.work), FIXED_COST_REPS)
    if run.name in ("build", "resume"):
        turns = wl.transcripts
        if run.name == "resume":
            state = wl.snapshot
            turns = ckpt.filter_unfinished(spark, wl.transcripts, state, n).drop("bucket")
        else:  # the skip and catch-up probes still need a prior run's state
            state = os.path.join(run.work, "snapshot")
            W.write_snapshot(spark, wl.transcripts, state)
        m["reassemble.s"] = p.time("reassemble", lambda: _noop(reassemble(turns)))
        parse_s = p.time("parse", lambda: _noop(
            parse_documents(reassemble(turns), dedup_per_doc=True)))
        m["parse.s"] = parse_s - m["reassemble.s"]
        m["canonical.s"] = p.time("canonical", lambda: _noop(build_graph(turns)[0])) - parse_s
        m["link.s"] = p.time("link", lambda: _noop(link_entities(turns, wl.entities)))
        m["checkpoint.resume_scan_s"] = p.time("resume_scan", lambda: _noop(
            ckpt.filter_unfinished(spark, wl.transcripts, state, n)))
        m["checkpoint.catchup_s"] = p.time("catchup", lambda: _catchup(spark, wl, state))
        m["checkpoint.s"] = job_s - (m["reassemble.s"] + m["parse.s"]
                                     + m["canonical.s"] + m["link.s"])
    else:
        m["serialize.turtle_s"] = p.time("turtle", lambda: _noop(
            serialize_documents(wl.graph, fmt="turtle")))
        m["serialize.nt_s"] = p.time("nt", lambda: _noop(nt_lines_df(wl.graph)))
    m.update(kernel_metrics(run.corpus))
    spark.stop()  # flushes the event log
    run.spark = None
    el = EventLog(ev_dir)
    _from_event_log(m, el, run, p.tags, job_tag, job_s, reps[-1] if reps else None)
    report(run, m, e2e)
    return m, UNITS


def _fresh_run(wl, work):
    out = os.path.join(work, "fixed-cost")
    shutil.rmtree(out, ignore_errors=True)
    wl.run(out, FIXED_COST_CONVS)


def _catchup(spark, wl, state):
    """link_catchup on a copy of ``state``, a snapshot with 3/4 of the
    buckets finished without linking."""
    from raptor_spark.operators.link import link_entities
    from raptor_spark.plans import checkpoint as ckpt

    tmp = os.path.join(wl.work, "catchup")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(state, tmp)
    ckpt.link_catchup(spark, wl.transcripts, tmp, W.N_BUCKETS, wl.entities,
                      link_fn=link_entities)


def _from_event_log(m, el: EventLog, run, tags, job_tag, job_s, rep) -> None:
    cores = S.usable_cores()
    if job_tag is not None:
        g = el.group(job_tag)
        m["pipeline.jobs"] = len(g["jobs"])
        m["pipeline.core_busy_share"] = sum(t["run_s"] for t in g["tasks"]) / (job_s * cores)
        m["pipeline.gc_s"] = sum(t["gc_s"] for t in g["tasks"])
        m["pipeline.spill_bytes"] = sum(t["spill"] for t in g["tasks"])
        if run.name != "export":
            writes = [x for x in g["execs"] if any(
                "InsertIntoHadoopFsRelationCommand" in name and "[bucket#" in desc
                for name, desc in el.execs[x]["nodes"])]
            wstages = [s for j in g["jobs"] if j["exec"] in writes for s in j["stages"]
                       if s in el.stages]
            m["checkpoint.write_task_s"] = sum(t["run_s"] for s in wstages for t in el.tasks[s])
            m["checkpoint.commit_s"] = sum(_outside_stages(el, x, g) for x in writes)
            wg = dict(g, execs=writes)
            m["checkpoint.files_written"] = el.metric(wg, "number of written files")
            # the write command's "written output size" stays 0 on the
            # local file system; the tasks' output metrics carry the bytes
            m["checkpoint.bytes_written"] = sum(t["out_bytes"] for s in wstages
                                                for t in el.tasks[s])
            fresh = [r for r in rep["result"] if r.convs is not None]
            m["parse.docs"] = sum(r.convs for r in fresh)
            m["parse.triples"] = sum(r.triples for r in fresh)
            (err_convs,) = W._read(os.path.join(run.wl.out, "errors"), ["conv_id"])
            parsed = getattr(run.wl, "new_convs", None)
            m["parse.error_docs"] = len({c for c in err_convs if parsed is None or c in parsed})
            m["link.decisions"] = sum(r.link_decisions or 0 for r in rep["result"])
    if "reassemble" in tags:
        g = el.group(tags["reassemble"])
        m["reassemble.shuffle_bytes"] = el.metric(g, "shuffle bytes written", "Exchange",
                                                  "hashpartitioning(conv_id")
        reduce_tasks = [t for t in g["tasks"] if t["shuffle_read"] > 0]
        m["reassemble.max_task_s"], m["reassemble.median_task_s"] = _task_stats(reduce_tasks)
    if "parse" in tags:
        g = el.group(tags["parse"])
        m["parse.python_run_s"] = el.metric(g, _PY_RUN, "MapInArrow") / 1000.0
        m["parse.python_init_s"] = (el.metric(g, _PY_START, "MapInArrow")
                                    + el.metric(g, _PY_INIT, "MapInArrow")) / 1000.0
        m["parse.arrow_bytes_in"] = el.metric(g, _PY_SENT, "MapInArrow")
        m["parse.arrow_bytes_out"] = el.metric(g, _PY_BACK, "MapInArrow")
        accs = el.node_accs(g, "MapInArrow")
        parse_tasks = [t for t in g["tasks"] if t["accs"] & accs]
        m["parse.tasks"] = len(parse_tasks)
        m["parse.max_task_s"] = _task_stats(parse_tasks)[0]
        # unit check: Python run time cannot exceed the time its tasks ran
        task_s = sum(t["s"] for t in parse_tasks)
        if m["parse.python_run_s"] > 1.5 * task_s + 1:
            log("warning: MapInArrow python run time %.1fs exceeds its tasks' %.1fs"
                % (m["parse.python_run_s"], task_s))
    if "turtle" in tags:
        gt, gn = el.group(tags["turtle"]), el.group(tags["nt"])
        m["serialize.group_shuffle_bytes"] = el.metric(gt, "shuffle bytes written", "Exchange")
        m["serialize.python_run_s"] = (el.metric(gt, _PY_RUN, "MapInArrow")
                                       + el.metric(gn, _PY_RUN, "ArrowEvalPython")) / 1000.0
        m["serialize.arrow_bytes_in"] = (el.metric(gt, _PY_SENT, "MapInArrow")
                                         + el.metric(gn, _PY_SENT, "ArrowEvalPython"))
        m["serialize.arrow_bytes_out"] = (el.metric(gt, _PY_BACK, "MapInArrow")
                                          + el.metric(gn, _PY_BACK, "ArrowEvalPython"))


def _outside_stages(el: EventLog, x: int, g: dict) -> float:
    """Wall time of execution ``x`` not covered by any of its stages."""
    e = el.execs[x]
    spans = sorted((el.stages[s]["submit"], el.stages[s]["done"])
                   for j in g["jobs"] if j["exec"] == x for s in j["stages"]
                   if s in el.stages and el.stages[s]["submit"] and el.stages[s]["done"])
    covered, cur = 0, None
    for a, b in spans:
        if cur is None or a > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        covered += cur[1] - cur[0]
    return max(0, (e["end"] or e["start"]) - e["start"] - covered) / 1000.0


def report(run, m: dict, e2e: dict) -> None:
    ranked = sorted(((m[k], k) for k in LAYER_TIME if m[k] > 0), reverse=True)
    out = {
        "workload": run.name, "seed": run.seed, "convs": run.convs,
        "end_to_end_untraced": e2e,
        "traced_job_s": [r["job_s"] for r in run.reps_traced],
        "largest_layers": [k for _v, k in ranked[:3]],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()},
    }
    d = os.path.join(os.getcwd(), ".perfbench_traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "trace-%s-seed%d.json" % (run.name, run.seed))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    log("largest layers by time: %s" % ", ".join("%s %.3fs" % (k, v) for v, k in ranked[:3]))
    log("tracing overhead %.3fs; per-layer metrics in %s" % (m["tracing.overhead_s"], path))
