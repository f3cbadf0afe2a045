"""Per-layer metrics for the traced run.

Two sources, both outside the program:

* Spark's own event log (enabled in the benchmark's session config,
  uncompressed, in the run's work directory). Jobs, stages and tasks are
  attributed to a benchmark step through the job description the
  benchmark set around the call (`perfbench:<phase>:<step>`); plan-node
  metrics are read from each SQL execution's final (post-AQE) plan.
* Single-thread timings of the `sift_spark.core` kernels on a seeded
  sample of the workload's own inputs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "BatchEvalPython", "FlatMapCoGroupsInPandas")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
DESC_PREFIX = "perfbench:"
MB = 1e6


def description(phase, step):
    return f"{DESC_PREFIX}{phase}:{step}"


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLog:
    """The event log of one application, folded by (phase, step)."""

    def __init__(self, log_dir):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not os.path.basename(f).startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}: {files}")
        self.jobs = {}            # job id -> (phase, step)
        self.stage_key = {}       # stage id -> (phase, step)
        self.stage_tasks = defaultdict(list)   # stage id -> task metrics
        self.task_accums = defaultdict(int)    # accumulator id -> sum
        self.exec_key = {}        # sql execution id -> (phase, step)
        self.plans = {}           # sql execution id -> final plan info
        with open(files[0], encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    @staticmethod
    def _key(desc):
        if not desc or not desc.startswith(DESC_PREFIX):
            return None
        phase, _, step = desc[len(DESC_PREFIX):].partition(":")
        return phase, step

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            key = self._key(e.get("Properties", {}).get(
                "spark.job.description"))
            self.jobs[e["Job ID"]] = key
            # a stage belongs to the first job that lists it; later jobs
            # list it again only as a skipped (reused) parent
            for sid in e.get("Stage IDs", ()):
                self.stage_key.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                return
            tm = e.get("Task Metrics") or {}
            self.stage_tasks[e["Stage ID"]].append(tm)
            for acc in e["Task Info"].get("Accumulables", ()):
                if acc.get("Metadata") == "sql":
                    self.task_accums[acc["ID"]] += int(acc["Update"])
        elif kind.endswith("SQLExecutionStart"):
            self.exec_key[e["executionId"]] = self._key(e.get("description"))
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.task_accums[acc_id] += int(value)

    # ---- folds ---------------------------------------------------------

    def _stages(self, phase, step=None):
        return [s for s, k in self.stage_key.items()
                if k and k[0] == phase and (step is None or k[1] == step)]

    def _tasks(self, phase, step=None):
        return [t for s in self._stages(phase, step)
                for t in self.stage_tasks[s]]

    def _nodes(self, phase, step=None):
        for eid, key in self.exec_key.items():
            if key and key[0] == phase and (step is None or key[1] == step):
                yield from _walk(self.plans[eid])

    def _metric(self, node, name):
        return sum(self.task_accums.get(m["accumulatorId"], 0)
                   for m in node["metrics"] if m["name"] == name)

    def phase_metrics(self, phase, steps):
        """Per-layer metrics of one measured iteration (`phase`)."""
        tasks = self._tasks(phase)
        shuffle_read = [
            (tm.get("Shuffle Read Metrics") or {}) for tm in tasks]
        out = {
            "job.spark_jobs": sum(1 for k in self.jobs.values()
                                  if k and k[0] == phase),
            "job.stages": sum(1 for s in self._stages(phase)
                              if self.stage_tasks[s]),
            "job.tasks": len(tasks),
            "operators.shuffle_write_mb": sum(
                (tm.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0) for tm in tasks) / MB,
            "operators.shuffle_read_mb": sum(
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                for r in shuffle_read) / MB,
            "operators.fetch_wait_ms": sum(
                r.get("Fetch Wait Time", 0) for r in shuffle_read),
        }
        for step in steps:
            st = self._tasks(phase, step)
            out[f"job.{step}.executor_run_ms"] = sum(
                tm.get("Executor Run Time", 0) for tm in st)
            out[f"job.{step}.executor_cpu_ms"] = sum(
                tm.get("Executor CPU Time", 0) for tm in st) / 1e6
        py = {k: 0 for k in ("n", "run", "init", "sent", "ret", "rows")}
        ex = {"n": 0, "bcast": 0}
        wr = {"ms": 0, "files": 0, "bytes": 0}
        for node in self._nodes(phase):
            name = node["nodeName"]
            if name in PYTHON_NODES:
                py["n"] += 1
                py["run"] += self._metric(node, "time to run Python workers")
                py["init"] += (
                    self._metric(node, "time to start Python workers")
                    + self._metric(node, "time to initialize Python workers"))
                py["sent"] += self._metric(node, "data sent to Python workers")
                py["ret"] += self._metric(
                    node, "data returned from Python workers")
                py["rows"] += self._metric(node, "number of output rows")
            elif name in ("Exchange", "BroadcastExchange"):
                ex["n"] += 1
                if name == "BroadcastExchange":
                    ex["bcast"] += self._metric(node, "data size")
            elif name == WRITE_NODE:
                wr["ms"] += (self._metric(node, "task commit time")
                             + self._metric(node, "job commit time"))
                wr["files"] += self._metric(node, "number of written files")
                wr["bytes"] += self._metric(node, "written output")
        out.update({
            "operators.python_nodes": py["n"],
            "operators.python_run_ms": py["run"],
            "operators.python_init_ms": py["init"],
            "operators.python_sent_mb": py["sent"] / MB,
            "operators.python_returned_mb": py["ret"] / MB,
            "operators.python_rows": py["rows"],
            "operators.exchanges": ex["n"],
            "operators.broadcast_mb": ex["bcast"] / MB,
            "plans.write_ms": wr["ms"],
            "plans.files_written": wr["files"],
            "plans.written_mb": wr["bytes"] / MB,
            "plans.task_skew": self._task_skew(phase),
            "plans.partition_shuffle_mb": sum(
                (tm.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0)
                for tm in self._tasks(phase, "extract")) / MB,
        })
        return out

    def _task_skew(self, phase):
        """max / median task run time of the heaviest post-exchange stage
        (the stage with the most executor time among those that read a
        shuffle)."""
        best, best_run = None, -1
        for sid in self._stages(phase):
            tasks = self.stage_tasks[sid]
            if not tasks or not any(
                    (tm.get("Shuffle Read Metrics") or {})
                    .get("Total Records Read", 0) for tm in tasks):
                continue
            run = sum(tm.get("Executor Run Time", 0) for tm in tasks)
            if run > best_run:
                best, best_run = tasks, run
        if not best:
            return 0.0
        times = [tm.get("Executor Run Time", 0) for tm in best]
        return max(times) / max(statistics.median(times), 1)

    def scan_mb(self, phase):
        return sum((tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                   for tm in self._tasks(phase)) / MB


def core_kernels(html_docs, md_docs, max_units=200, reps=3):
    """Single-thread ms/doc of each core kernel, median over `reps`
    passes. HTML kernels report 0 when the workload has no HTML input.
    The budget kernel cuts at `max_units` words; the split and search
    kernels use the search workload's 80-word chunks and a two-word
    query drawn from the documents' own vocabulary."""
    import random

    from sift_spark.core import htmlparser, markdown, readability
    from sift_spark.core.counters import WORDS
    from sift_spark.core.pipeline import (
        SiftParams, apply_content_transformations, prepare_chunks,
        transform_text,
    )

    budget = SiftParams(counting_method=WORDS, max_units=max_units)
    search = None
    samples = defaultdict(list)
    for _ in range(reps):
        acc = defaultdict(float)
        mds = []
        for html in html_docs or ():
            t0 = time.perf_counter()
            root = htmlparser.parse(html)
            t1 = time.perf_counter()
            article = readability.extract_article(root)
            t2 = time.perf_counter()
            mds.append(markdown.to_markdown(article) if article else "")
            t3 = time.perf_counter()
            acc["parse"] += t1 - t0
            acc["readability"] += t2 - t1
            acc["markdown"] += t3 - t2
        mds = mds or list(md_docs)
        if search is None:
            vocab = sorted({w.lower() for md in mds for w in md.split()
                            if w.isalpha() and len(w) > 3})
            search = SiftParams(
                counting_method=WORDS, max_units=80,
                search_query=" ".join(random.Random(0).sample(vocab, 2)))
        for md in mds:
            t0 = time.perf_counter()
            transform_text(md, budget)
            t1 = time.perf_counter()
            prepare_chunks(md, search)
            t2 = time.perf_counter()
            apply_content_transformations(md, search)
            t3 = time.perf_counter()
            acc["budget"] += t1 - t0
            acc["split"] += t2 - t1
            acc["search"] += t3 - t2
        for k in ("parse", "readability", "markdown"):
            samples[k].append(1e3 * acc[k] / len(html_docs)
                              if html_docs else 0.0)
        for k in ("budget", "split", "search"):
            samples[k].append(1e3 * acc[k] / len(mds))
    return {f"core.{k}_ms_per_doc": statistics.median(v)
            for k, v in samples.items()}
