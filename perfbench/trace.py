"""Layer spans around the benchmark's calls and their Spark event-log totals.

The benchmark wraps each call into a layer's public function in
``Spans.layer(name)``, which sets a Spark job group named after the pass and
the layer and records the span's wall time.  With the event log enabled
(uncompressed, not rolling) every ``SparkListenerTaskEnd`` is summed into
the layer whose job group started its stage.

Inside ``bloomspan.mine`` the phases are told apart by the call site Spark
records for each job (``callSite.short``, e.g. ``collect at
.../bloomspan.py:449``): each call site line is mapped to a phase by finding
the statement that holds it in the miner's source.  ``DataFrame.count()``
jobs carry no call site; the miner's only count is the materialization of
the gathered occurrence windows, so unlabelled jobs of a ``mine`` span are
attributed to ``gather``.  No job is dropped: a job matched by no rule is
counted in ``trace.unattributed_jobs``.
"""

from __future__ import annotations

import ast
import contextlib
import inspect
import json
import os
import statistics
import time
from collections import defaultdict

#: the miner's phases, keyed by (function, fragment of the statement that
#: starts the job); the innermost statement holding the fragment wins
MINE_ANCHORS = [
    ("mine", "probe = ", "word_gate"),
    ("mine", "cand_rows = ", "candidates"),
    # winner-token resolution against the frequent-word frame (only for
    # vocabularies above word_gate_max); it serves the edge walk
    ("mine", "fw_cached.join", "edges"),
    ("gather_windows", "cand_hashes = ", "gather"),
    ("_mine_driver", "rows = gathered", "gather"),
    ("_mine_distributed", "edge_rows = ", "edges"),
    ("_mine_distributed", "pdf = ", "transfer"),
]
MINE_PHASES = ["word_gate", "candidates", "gather", "edges", "transfer"]
MINE_LAYER = "mine"
UNLABELLED_MINE_PHASE = "gather"

#: layers with the full metric set, in pipeline order
FULL_LAYERS = ["parse", *MINE_PHASES, "strip"]
FULL_METRICS = [
    ("wall_s", "s"), ("task_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("result_mb", "MB"), ("failed_tasks", "count"),
]
#: HTML views and curation layers
VIEW_LAYERS = [
    "domheuristics", "weblinks", "pagemeta", "encoding", "urls", "bpe",
    "dedup.lsh", "dedup.clusters", "dedup.fuzzy",
]
VIEW_METRICS = [
    ("wall_s", "s"), ("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
]
#: job group of work outside every layer (set-up, checks, trace counts)
OUTSIDE = "outside"


class Spans:
    """Job-group spans of one benchmark process.

    ``layer(name)`` sets the job group ``<pass>.<name>`` for the calls inside
    it; ``records`` holds (pass, layer, start_s, end_s) in epoch seconds,
    the clock Spark's event log uses."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.pass_no = 0
        self.records: list[tuple[int, str, float, float]] = []
        sc.setJobGroup(OUTSIDE, OUTSIDE)

    @contextlib.contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(f"{self.pass_no}.{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.records.append((self.pass_no, name, t0, time.time()))
            self.sc.setJobGroup(OUTSIDE, OUTSIDE)


def mine_line_phases() -> dict[int, str]:
    """Line of the miner's source -> phase, from MINE_ANCHORS."""
    from boilerplate_buster_spark.operators import bloomspan

    src = inspect.getsource(bloomspan)
    tree = ast.parse(src)
    lines: dict[int, str] = {}
    funcs = {
        n.name: n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    for fname, fragment, phase in MINE_ANCHORS:
        best = None
        for node in ast.walk(funcs[fname]):
            if not isinstance(node, ast.stmt) or node is funcs[fname]:
                continue
            seg = ast.get_source_segment(src, node) or ""
            if fragment in seg and (
                best is None
                or node.end_lineno - node.lineno < best.end_lineno - best.lineno
            ):
                best = node
        if best is None:
            raise LookupError(f"bloomspan.{fname} has no statement with {fragment!r}")
        for ln in range(best.lineno, best.end_lineno + 1):
            lines[ln] = phase
    return lines


def _mine_phase(call_site: str | None, line_phases: dict[int, str]) -> str | None:
    if not call_site:
        return UNLABELLED_MINE_PHASE
    where = call_site.rsplit(" at ", 1)[-1]
    path, _, line = where.rpartition(":")
    if os.path.basename(path) != "bloomspan.py" or not line.isdigit():
        return None
    return line_phases.get(int(line))


def read_event_log(path: str) -> tuple[dict, dict]:
    """-> (jobs, stage_totals).  jobs: id -> {group, call_site, submit,
    end, stages}; stage_totals: stage id -> summed task metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short"),
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                s = stages[e["Stage ID"]]
                tm = e.get("Task Metrics") or {}
                s["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                s["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                s["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                s["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                s["result_mb"] += tm.get("Result Size", 0) / 1e6
                if e["Task End Reason"]["Reason"] != "Success":
                    s["failed_tasks"] += 1
    return jobs, stages


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, n) for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def layer_metrics(jobs: dict, stages: dict, records: list, passes: list[int]) -> dict[str, float]:
    """Per-layer metrics of the jobs and spans of `passes`, each the median
    over those passes."""
    line_phases = mine_line_phases()
    stage_job = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    job_totals: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for sid, tot in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            for k, v in tot.items():
                job_totals[jid][k] += v

    per_pass: dict[int, dict[str, float]] = {p: defaultdict(float) for p in passes}
    for jid, job in sorted(jobs.items()):
        group = job["group"] or ""
        pass_s, _, layer = group.partition(".")
        if not pass_s.isdigit() or int(pass_s) not in per_pass:
            continue  # set-up, warm-up and checking jobs are not measured
        p = int(pass_s)
        if layer == MINE_LAYER:
            layer = _mine_phase(job["call_site"], line_phases)
            per_pass[p]["mine.jobs_s"] += job["end"] - job["submit"]
            if layer is not None:
                per_pass[p][f"{layer}.wall_s"] += job["end"] - job["submit"]
        if layer is None or layer not in FULL_LAYERS + VIEW_LAYERS + ["load"]:
            per_pass[p]["trace.unattributed_jobs"] += 1
        else:
            for k, v in job_totals[jid].items():
                per_pass[p][f"{layer}.{k}"] += v

    for p, layer, t0, t1 in records:
        if p not in per_pass:
            continue
        m = per_pass[p]
        m["trace.span_s"] += t1 - t0
        if layer == MINE_LAYER:
            m["select.driver_s"] += (t1 - t0) - m.pop("mine.jobs_s", 0.0)
        else:
            m[f"{layer}.wall_s"] += t1 - t0

    names = set().union(*(m.keys() for m in per_pass.values()))
    return {n: statistics.median(m.get(n, 0.0) for m in per_pass.values()) for n in names}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every layer metric the spans and event log give."""
    out = [(f"{l}.{m}", u) for l in FULL_LAYERS for m, u in FULL_METRICS]
    out.append(("select.driver_s", "s"))
    out += [(f"{l}.{m}", u) for l in VIEW_LAYERS for m, u in VIEW_METRICS]
    return out
