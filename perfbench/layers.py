"""Declared per-layer metrics: ``<module>.<function>.<measure>`` -> unit.

Layers are the engine's own modules, timed from outside. A span covers
one workload step: the pipeline stage or registry query that makes the
named call, including the input preparation that step does before it.
``graph.algorithms.kcore_subgraph`` therefore includes building the
co-purchase edge set, ``operators.intervals.interval_overlap_self_join``
the per-customer order spans it joins, and
``operators.llm.structured_extraction`` the explode and
``validate_events_reject`` of ``structure_careers``.

Which measures a layer gets follows what a change to it can move, within
the 128-name cap. A measure is declared only where it is non-zero on the
workload that calls the layer. Spill MB reads 0 on both workloads (the
inputs fit in memory), and so does the Python workers' start time on
pipeline_full (workers are reused), so neither is collected:

- every layer: wall time, executor run and CPU time, time no stage ran
  (``driver_gap_s``), jobs, tasks, rows out;
- the Python/Arrow seam (``extract.html``, ``operators.llm``, on
  pipeline_full) adds the MapInPandas Python-worker time and bytes sent
  and received. It should move ``run_s`` and ``cpu_s`` on pipeline_full
  only. It has no shuffle;
- the iterative loop (``graph.algorithms``, on graph_queries) adds GC
  time and shuffle MB. It should move ``run_s`` and ``shuffle_mb`` on
  graph_queries, where it is most of a pass;
- the pair builders add shuffle MB (not ``current_colleague_edges``,
  whose join does not shuffle) and kept pairs per equi-join candidate
  where an interval predicate filters them. ``operators.intervals``
  (dense nation groups, graph_queries) should move ``run_s`` there;
  ``graph.derived`` (sparse groups, pipeline_full) a small share of
  ``run_s`` on pipeline_full.

On both workloads more than half of a pass is driver time between
stages (``driver_gap_s``), so fewer jobs per call should move ``run_s``
on both.

A traced run emits every declared metric. A layer its workload does not
call reads 0 on every measure, ratios included.
"""

from __future__ import annotations

_UNITS = {
    "s": "s", "busy_s": "s", "cpu_s": "s", "gc_s": "s", "driver_gap_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_mb": "MB", "rows_out": "count",
    "py_total_s": "s", "py_sent_mb": "MB", "py_received_mb": "MB",
}

CORE = ("s", "busy_s", "cpu_s", "driver_gap_s", "jobs", "tasks", "rows_out")

SEAM = ("extract.html.parse_pages", "extract.html.extract_links_table",
        "extract.html.extract_infobox_table", "operators.llm.structured_extraction")
SEAM_MEASURES = CORE + ("py_total_s", "py_sent_mb", "py_received_mb")

LOOPS = ("graph.algorithms.kcore_subgraph",)
LOOP_MEASURES = CORE + ("gc_s", "shuffle_mb")

PAIRS = ("graph.derived.schoolmate_edges", "graph.derived.current_colleague_edges",
         "graph.derived.historical_colleague_edges", "graph.derived.same_group_pairs",
         "operators.intervals.interval_overlap_self_join")
PAIR_MEASURES = CORE + ("shuffle_mb",)
# pairs kept after the interval predicate / equi-join candidate pairs
FILTERING_PAIRS = ("graph.derived.schoolmate_edges",
                   "graph.derived.historical_colleague_edges",
                   "operators.intervals.interval_overlap_self_join")

# every function a workload step may be charged to
LAYERS = SEAM + LOOPS + PAIRS + ("pipeline.stages.ingest_orgs", "pipeline.stages.build_graph")

LAYER_METRICS: dict[str, str] = {}
for _fns, _measures in ((SEAM, SEAM_MEASURES), (LOOPS, LOOP_MEASURES), (PAIRS, PAIR_MEASURES)):
    for _fn in _fns:
        for _m in _measures:
            LAYER_METRICS[f"{_fn}.{_m}"] = _UNITS[_m]
del LAYER_METRICS["graph.derived.current_colleague_edges.shuffle_mb"]
for _fn in FILTERING_PAIRS:
    LAYER_METRICS[f"{_fn}.pairs_per_cand"] = "ratio"
LAYER_METRICS.update({
    "pipeline.stages.ingest_orgs.s": "s",
    "pipeline.stages.build_graph.s": "s",
    "operators.validation.validate_events_reject.valid_frac": "ratio",
    "operators.llm.structured_extraction.ok_frac": "ratio",
    # seconds a traced pass spends reading its spans
    "trace.overhead_s": "s",
})


def layer_of(metric: str) -> str:
    """``graph.derived.same_group_pairs.s`` -> ``graph.derived.same_group_pairs``."""
    return metric.rsplit(".", 1)[0]
