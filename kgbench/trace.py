"""Per-layer accounting for one traced pipeline iteration.

The program is unchanged. ``Tracer.install`` wraps the public layer calls
that ``run_pipeline`` makes (looked up in ``openie_spark.pipeline`` at call
time), ``StageLedger.run_stage``, and the CLI sinks the benchmark issues
itself. Each call is a span: a driver-side wall interval, minus the spans
nested inside it, whose Spark jobs carry the span's id as their job group.
``rollup`` then reads Spark's event log and charges every job, stage and
task to a layer:

- a job goes to the layer of the span that launched it;
- inside a ``StageLedger.run_stage`` span, only the job that writes
  ``{work_dir}/stages/{name}`` stays with the stage's layer; the read-back
  schema job, the per-partition ``collect`` and the lineage-metrics write
  go to ``lineage``;
- a stage that runs the Python extraction map (``MapInPandas`` or
  ``ArrowEvalPython`` in its RDD scopes) outside the textclean, parse and
  extract spans goes to ``extract``. The fused clean→parse→extract plan is
  lazy, so it executes inside whichever call first forces it (the sweep's
  count, the merge collect, each sink); this rule puts that work back on
  extraction, and ``extract.jobs`` counts how often it ran.

Moved jobs and stages take their wall time out of the span they ran in, so
layer walls plus ``trace.gap_s`` (time outside every span, including this
module's own bookkeeping) still sum to the traced wall. Other lazy layers
(graph aggregation without a work_dir) run inside the span that forces them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Optional

LAYERS = (
    "textclean", "parse", "extract", "clustering", "graph", "merge", "topk",
    "lineage", "sinks",
)
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("idle_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("failed_tasks", "count", "lower"),
    ("rows_out", "count", "higher"),
)
EXTRA_METRICS = (
    ("merge.rounds", "count", "lower"),
    ("merge.nodes_merged", "count", "higher"),
    ("merge.productive_round_share", "share", "higher"),
    ("topk.bypass_rounds", "count", "lower"),
    ("clustering.kmeans_fits", "count", "lower"),
    ("clustering.k_chosen", "count", "higher"),
    ("extract.ok_share", "share", "higher"),
    ("lineage.stages_reused", "count", "higher"),
    ("trace.wall_s", "s", "lower"),
    ("trace.gap_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
# run_pipeline's module-level names → (layer, output counted in rows_out)
PIPELINE_CALLS = {
    "clean_pages": ("textclean", True),
    "parse_pages": ("parse", True),
    "extract_triples_df": ("extract", True),
    "ok_triples": ("extract", False),
    "sentence_vectors": ("clustering", False),
    "cluster_sentences": ("clustering", True),
    "with_clusters": ("clustering", False),
    "aggregate_nodes": ("graph", True),
    "aggregate_edges": ("graph", True),
    "with_degrees": ("graph", False),
    "merge_fixpoint": ("merge", True),
    "filter_nodes": ("topk", True),
}
# StageLedger stage name → the layer whose output the stage write holds
STAGE_LAYERS = {
    "clean": "textclean",
    "parses": "parse",
    "triples": "extract",
    "clusters": "clustering",
    "nodes_raw": "graph",
    "edges_raw": "graph",
    "nodes_merged": "merge",
    "edges_merged": "merge",
    "nodes": "graph",  # with_degrees over the top-K graph
    "edges": "graph",
}
PYTHON_MAP_SCOPES = ('"MapInPandas"', '"ArrowEvalPython"')
EXTRACTION_LAYERS = ("textclean", "parse", "extract")
GROUP_PREFIX = "kgbench-span-"
POST_GROUP = "kgbench-post"
MB = 1e6


@dataclass
class Span:
    id: int
    layer: str
    name: str
    excl_s: float = 0.0
    resumed_at: float = 0.0
    stage_path: Optional[str] = None  # set on a StageLedger.run_stage span
    reused: bool = False
    outputs: list = field(default_factory=list)  # DataFrames whose rows count

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


class Tracer:
    """Spans and job groups for one traced iteration; ``install`` before
    the iteration, ``uninstall`` after it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []
        self.overhead_s = 0.0
        self.kmeans_fits = 0
        self.bypass_rounds = 0
        self.merges: list = []  # (input nodes, output nodes, rounds, max_rounds)
        self.manifests: list = []  # manifest paths of stages written
        self.ok_outputs: list = []

    # -- spans ----------------------------------------------------------------

    def _set_group(self, span: Optional[Span]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, f"{span.layer}:{span.name}")

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        span = Span(len(self.spans), layer, name)
        self.spans.append(span)
        if self._stack:
            parent = self._stack[-1]
            parent.excl_s += t0 - parent.resumed_at
        self._stack.append(span)
        self._set_group(span)
        span.resumed_at = time.perf_counter()
        self.overhead_s += span.resumed_at - t0
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            span.excl_s += t1 - span.resumed_at
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(parent)
            t2 = time.perf_counter()
            if parent is not None:
                parent.resumed_at = t2
            self.overhead_s += t2 - t1
        return result, span

    def _wrap(self, layer: str, name: str, fn, counted: bool):
        def traced(*args, **kwargs):
            result, span = self.call(layer, name, fn, *args, **kwargs)
            if counted:
                span.outputs.extend(_frames(result))
            if name == "ok_triples":
                self.ok_outputs.append(result)
            if name == "merge_fixpoint":
                cfg = args[2] if len(args) > 2 else kwargs.get("cfg")
                self.merges.append((args[0], result[0], result[2], cfg.max_rounds))
            return result

        return traced

    # -- patching ---------------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import openie_spark.extract as extract_mod
        import openie_spark.pipeline as pipeline_mod
        import openie_spark.topk as topk_mod
        from openie_spark.lineage import StageLedger
        from pyspark.ml.clustering import KMeans

        for name, (layer, counted) in PIPELINE_CALLS.items():
            fn = getattr(pipeline_mod, name)
            self._patch(pipeline_mod, name, self._wrap(layer, name, fn, counted))
        # imported inside run_pipeline at call time
        self._patch(
            extract_mod,
            "extract_triples_from_pages",
            self._wrap(
                "extract", "extract_triples_from_pages",
                extract_mod.extract_triples_from_pages, True,
            ),
        )

        run_stage = StageLedger.run_stage
        tracer = self

        def traced_run_stage(ledger, name, fingerprint, build, partition_by=None):
            reused = ledger.completed(name, fingerprint)
            result, span = tracer.call(
                STAGE_LAYERS.get(name, "lineage"), f"stage:{name}",
                run_stage, ledger, name, fingerprint, build, partition_by,
            )
            span.reused = reused
            span.stage_path = os.path.join(str(ledger.work_dir), "stages", name)
            if not reused:
                tracer.manifests.append(
                    os.path.join(str(ledger.work_dir), "manifests", f"{name}.json")
                )
            return result

        self._patch(StageLedger, "run_stage", traced_run_stage)

        bypass = topk_mod.bypass_and_drop

        def counted_bypass(nodes, edges, keep_keys, max_rounds=50, stats=None):
            stats = {} if stats is None else stats
            out = bypass(nodes, edges, keep_keys, max_rounds=max_rounds, stats=stats)
            tracer.bypass_rounds += int(stats.get("rounds", 0))
            return out

        self._patch(topk_mod, "bypass_and_drop", counted_bypass)

        kmeans_fit = KMeans._fit

        def counted_fit(estimator, dataset):
            tracer.kmeans_fits += 1
            return kmeans_fit(estimator, dataset)

        self._patch(KMeans, "_fit", counted_fit)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self._set_group(None)

    # -- counts taken after the timed iteration --------------------------------

    def count_outputs(self) -> dict:
        """Row counts of the layer outputs, under a job group the rollup
        ignores. Runs after the traced wall is taken."""
        self.sc.setJobGroup(POST_GROUP, "kgbench post-iteration counts")
        counts = defaultdict(int)
        for span in self.spans:
            for df in span.outputs:
                counts[span.layer] += df.count()
        for path in self.manifests:
            with open(path) as f:
                counts["lineage"] += int(json.load(f)["n_partitions"])
        extra = {
            "ok_rows": sum(df.count() for df in self.ok_outputs),
            "nodes_merged": sum(n_in.count() - n_out.count() for n_in, n_out, _, _ in self.merges),
            "k_chosen": sum(
                span.outputs[0].select("cluster").distinct().count()
                for span in self.spans
                if span.name == "cluster_sentences"
            ),
        }
        self._set_group(None)
        return {"rows": dict(counts), **extra}


def _frames(result) -> list:
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, tuple):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


# -- event log roll-up ----------------------------------------------------------


def _read_events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def rollup(event_log: str, tracer: Tracer, post: dict, wall_s: float, cores: int) -> dict:
    spans = {s.group: s for s in tracer.spans}
    jobs, stage_job, stages, plans = {}, {}, {}, {}
    tasks = defaultdict(list)
    for e in _read_events(event_log):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
                "start": e["Submission Time"],
                "end": None,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = " ".join(r.get("Scope") or "" for r in info["RDD Info"])
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "job": stage_job.get(info["Stage ID"]),
                "python_map": any(s in scopes for s in PYTHON_MAP_SCOPES),
                "wall_ms": info["Completion Time"] - info["Submission Time"],
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks[(e["Stage ID"], e["Stage Attempt ID"])].append(
                (
                    (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    sw.get("Shuffle Bytes Written", 0),
                    tm.get("Disk Bytes Spilled", 0),
                    bool(ti["Failed"] or ti["Killed"]),
                )
            )
        elif kind.endswith("SQLExecutionStart"):
            plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")

    # job → (span, layer)
    job_layer = {}
    for jid, job in jobs.items():
        span = spans.get(job["group"])
        if span is None:
            continue  # set-up, warm-up or post-iteration job
        layer = span.layer
        if span.stage_path is not None:
            wrote_stage = f"{span.stage_path}," in plans.get(job["exec"] or "", "")
            if span.reused or not wrote_stage:
                layer = "lineage"
        job_layer[jid] = (span, layer)

    wall = defaultdict(float)
    moved = defaultdict(lambda: defaultdict(float))  # span id → layer → ms
    for jid, (span, layer) in job_layer.items():
        job = jobs[jid]
        if layer != span.layer and job["end"] is not None:
            moved[span.id][layer] += job["end"] - job["start"]

    acc = {layer: defaultdict(float) for layer in LAYERS}
    layer_jobs = {layer: set() for layer in LAYERS}
    largest = {}  # layer → (task_s, durations) of its busiest stage
    for key, st in stages.items():
        if st["job"] not in job_layer:
            continue
        span, layer = job_layer[st["job"]]
        if st["python_map"] and layer not in EXTRACTION_LAYERS:
            if layer == span.layer:
                moved[span.id]["extract"] += st["wall_ms"]
            layer = "extract"
        layer_jobs[layer].add(st["job"])
        ts = tasks.get(key, [])
        a = acc[layer]
        a["stages"] += 1
        a["tasks"] += len(ts)
        durations = [t[0] for t in ts]
        a["task_s"] += sum(durations)
        a["shuffle_read_mb"] += sum(t[1] for t in ts) / MB
        a["shuffle_write_mb"] += sum(t[2] for t in ts) / MB
        a["spill_mb"] += sum(t[3] for t in ts) / MB
        a["failed_tasks"] += sum(t[4] for t in ts)
        if durations and sum(durations) > largest.get(layer, (-1.0, None))[0]:
            largest[layer] = (sum(durations), durations)
    for jid, (span, layer) in job_layer.items():
        layer_jobs[layer].add(jid)  # jobs whose stages were all skipped

    for span in tracer.spans:
        out = moved.get(span.id, {})
        total_ms = sum(out.values())
        scale = min(1.0, span.excl_s * 1000.0 / total_ms) if total_ms else 0.0
        for layer, ms in out.items():
            wall[layer] += ms / 1000.0 * scale
        wall[span.layer] += span.excl_s - total_ms / 1000.0 * scale

    metrics = {}
    for layer in LAYERS:
        a = acc[layer]
        skew = 0.0
        if layer in largest:
            durations = largest[layer][1]
            skew = max(durations) / max(statistics.median(durations), 1e-3)
        values = {
            "wall_s": wall[layer],
            "task_s": a["task_s"],
            "idle_s": max(0.0, wall[layer] - a["task_s"] / cores),
            "jobs": len(layer_jobs[layer]),
            "stages": int(a["stages"]),
            "tasks": int(a["tasks"]),
            "shuffle_read_mb": a["shuffle_read_mb"],
            "shuffle_write_mb": a["shuffle_write_mb"],
            "spill_mb": a["spill_mb"],
            "task_skew": skew,
            "failed_tasks": int(a["failed_tasks"]),
            "rows_out": post["rows"].get(layer, 0),
        }
        for name, value in values.items():
            metrics[f"{layer}.{name}"] = value

    rounds = sum(m[2] for m in tracer.merges)
    # the fixpoint loops stop at their first round without a change
    productive = sum(r if r >= cap else r - 1 for _, _, r, cap in tracer.merges)
    raw = post["rows"].get("extract", 0)
    metrics.update(
        {
            "merge.rounds": rounds,
            "merge.nodes_merged": post["nodes_merged"],
            "merge.productive_round_share": productive / rounds if rounds else 0.0,
            "topk.bypass_rounds": tracer.bypass_rounds,
            "clustering.kmeans_fits": tracer.kmeans_fits,
            "clustering.k_chosen": post["k_chosen"],
            "extract.ok_share": post["ok_rows"] / raw if raw else 0.0,
            "lineage.stages_reused": sum(s.reused for s in tracer.spans),
            "trace.wall_s": wall_s,
            "trace.gap_s": wall_s - sum(wall.values()),
            "trace.overhead_s": tracer.overhead_s,
        }
    )
    return metrics


def per_layer_spec() -> list:
    """The per_layer metric list, in BENCHMARK.json's form."""
    spec = [
        {"name": f"{layer}.{name}", "unit": unit, "better": better}
        for layer in LAYERS
        for name, unit, better in LAYER_METRICS
    ]
    spec += [{"name": n, "unit": u, "better": b} for n, u, b in EXTRA_METRICS]
    return spec
