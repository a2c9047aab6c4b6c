"""Per-layer metrics of a traced run.

Layers are named by the program's modules. Every traced run reports
every name below; a layer the workload bypasses reads 0.
"""

from __future__ import annotations

import os
import statistics

from stats import median, self_time
from tracing import COUNTERS, attribute, read_event_log

GRAPH_FNS = [
    "neighbors", "neighbors_using_only", "shortest_path_nodes",
    "top_dependents", "known", "conversation_rollup", "find_software",
    "filter_vertices_spec",
]
TEXTOPS_FNS = [
    "dedup.exact_dedup", "dedup.minhash_pairs",
    "similarity.cosine_near_pairs_lsh", "similarity.ann_topk_bruteforce",
    "similarity.ann_topk_lsh", "similarity.ann_topk_ivf",
    "quality.token_stats", "quality.quality_score",
]
# pipeline stages grouped along the blocking path; concurrent stages
# share a group
STAGE_GROUPS = {
    "head": ("alias_dict", "transcripts"),
    "mentions_linked": ("mentions_linked",),
    "equivalences": ("equivalences",),
    "cc_mapping": ("cc_mapping",),
    "triples": ("triples",),
    "tail": ("vertices", "edges"),
}
STAGE_METRIC = {
    "alias_dict": "build.corpus.alias_dict_s",
    "transcripts": "build.corpus.transcripts_s",
    "mentions_linked": "build.extract.mentions_linked_s",
    "equivalences": "build.link.equivalences_s",
    "cc_mapping": "build.cc.cc_mapping_s",
    "triples": "build.assemble.triples_s",
    "vertices": "build.assemble.vertices_s",
    "edges": "build.assemble.edges_s",
}
SPARK = ["jobs", "tasks", "task_run_s", "task_cpu_s", "cpu_busy_frac",
         "shuffle_write_mb", "spill_mb", "gc_s"]


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    u = {"setup.session_s": "s"}
    u.update({m: "s" for m in STAGE_METRIC.values()})
    u.update({
        "build.link.equivalence_rows": "count",
        "build.cc.rounds": "count",
        "build.warehouse.files_written": "count",
        "build.warehouse.bytes_written_mb": "MB",
        "build.pipeline.wall_s": "s",
        "build.pipeline.stage_sum_s": "s",
        "build.pipeline.unattributed_s": "s",
    })
    for g in list(STAGE_GROUPS) + ["other"]:
        u[f"build.spark.jobs.{g}"] = "count"
        u[f"build.spark.tasks.{g}"] = "count"
    u.update({
        "ingest.streaming.incremental_extract_s": "s",
        "ingest.streaming.micro_batches": "count",
        "ingest.pipeline.append_alias_dict_s": "s",
    })
    u.update({f"query.graph.{f}_ms": "ms" for f in GRAPH_FNS})
    u["query.spark.jobs_per_query"] = "count"
    u["query.spark.tasks_per_query"] = "count"
    u.update({f"textops.{f}_s": "s" for f in TEXTOPS_FNS})
    u["textops.dedup.minhash_pairs_rows"] = "count"
    u["textops.similarity.near_pairs_rows"] = "count"
    spark_units = {"jobs": "count", "tasks": "count", "task_run_s": "s",
                   "task_cpu_s": "s", "cpu_busy_frac": "fraction",
                   "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
    u.update({f"spark.{k}": spark_units[k] for k in SPARK})
    u["harness.round_self_s"] = "s"
    u["trace_overhead_frac"] = "fraction"
    return u


def _med(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def _spark_totals(acc: dict) -> dict:
    """Event-log counters in the per-layer metrics' names and units."""
    return {
        "jobs": acc["jobs"], "tasks": acc["tasks"],
        "task_run_s": acc["run_s"], "task_cpu_s": acc["cpu_s"],
        "gc_s": acc["gc_s"],
        "shuffle_write_mb": acc["shuffle_write_b"] / 2**20,
        "spill_mb": acc["spill_b"] / 2**20,
    }


def per_layer(run: dict, event_log: str, cores: int) -> dict[str, float]:
    """Compute every per-layer metric from a traced run's record.

    run: {"ops": [{"slot", "start", "end", "dt", "traced", "extra"}],
          "tracer": Tracer, "session_s", ...}; "traced" marks the calls
    whose Spark events were logged."""
    units = metric_units()
    out = dict.fromkeys(units, 0.0)
    out["setup.session_s"] = run["session_s"]
    ops = run["ops"]
    traced = [o for o in ops if o["traced"]]
    # tracing overhead: per slot, the logged call's latency over the
    # unlogged one's; the median over slots
    ratios = []
    for slot in {o["slot"] for o in ops}:
        on = [o["dt"] for o in ops if o["slot"] == slot and o["traced"]]
        off = [o["dt"] for o in ops if o["slot"] == slot and not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    out["trace_overhead_frac"] = median(ratios) - 1 if ratios else 0.0

    jobs, stages = read_event_log(event_log)
    windows = [(str(i), o["start"], o["end"]) for i, o in enumerate(traced)]
    per_op = attribute(jobs, stages, windows)
    for i, o in enumerate(traced):
        o["spark"] = per_op.get(str(i), dict.fromkeys(COUNTERS, 0.0))
    n = max(len(traced), 1)
    totals = _spark_totals({c: sum(o["spark"][c] for o in traced)
                            for c in COUNTERS})
    for k, v in totals.items():
        out[f"spark.{k}"] = v / n
    wall = sum(o["dt"] for o in traced)
    out["spark.cpu_busy_frac"] = (totals["task_cpu_s"] / (wall * cores)
                                  if wall else 0.0)

    # rounds: self time = round span minus the calls it contains
    rounds = [s for s in run["tracer"].spans if s["name"] == "round"]
    selfs = [self_time(r["start"], r["end"],
                       [(c["start"], c["end"])
                        for c in run["tracer"].children(r["id"])])
             for r in rounds]
    out["harness.round_self_s"] = _med(selfs)

    # latencies from every call (each has a span); Spark counters from the
    # logged ones
    by_slot: dict[str, list[dict]] = {}
    for o in ops:
        by_slot.setdefault(o["slot"], []).append(o)

    # graph
    q_jobs, q_tasks = [], []
    for f in GRAPH_FNS:
        xs = by_slot.get(f"query.graph.{f}", [])
        out[f"query.graph.{f}_ms"] = _med([o["dt"] * 1000 for o in xs])
        q_jobs += [o["spark"]["jobs"] for o in xs if o["traced"]]
        q_tasks += [o["spark"]["tasks"] for o in xs if o["traced"]]
    out["query.spark.jobs_per_query"] = _med(q_jobs)
    out["query.spark.tasks_per_query"] = _med(q_tasks)

    # textops
    for f in TEXTOPS_FNS:
        xs = by_slot.get(f"textops.{f}", [])
        out[f"textops.{f}_s"] = _med([o["dt"] for o in xs])
    for slot, key in (("textops.dedup.minhash_pairs",
                       "textops.dedup.minhash_pairs_rows"),
                      ("textops.similarity.cosine_near_pairs_lsh",
                       "textops.similarity.near_pairs_rows")):
        xs = by_slot.get(slot, [])
        out[key] = _med([o["extra"]["rows"] for o in xs if o["extra"]])

    # ingest: child spans of each increment
    inc = by_slot.get("ingest.increment", [])
    if inc:
        sp = run["tracer"].spans
        for name, key in (
                ("ingest.streaming.incremental_extract",
                 "ingest.streaming.incremental_extract_s"),
                ("ingest.pipeline.append_alias_dict",
                 "ingest.pipeline.append_alias_dict_s")):
            out[key] = _med([s["end"] - s["start"] for s in sp
                             if s["name"] == name])
        out["ingest.streaming.micro_batches"] = _med(
            [o["extra"]["batches"] for o in inc if o["extra"]])

    # build: stage windows from the pipeline's own outputs
    builds = by_slot.get("build.pipeline.run_pipeline", [])
    logged_builds = [o for o in builds if o["extra"]]
    if logged_builds:
        _build_layers(out, logged_builds, jobs, stages)
    return out


def _build_layers(out: dict, builds: list[dict], jobs, stages) -> None:
    walls, sums, unattr = [], [], []
    per_stage: dict[str, list[float]] = {}
    grp_jobs: dict[str, list[float]] = {}
    grp_tasks: dict[str, list[float]] = {}
    for o in builds:
        ex = o["extra"]
        win = ex["stage_windows"]  # {stage: (start, end)}
        for st, (a, b) in win.items():
            per_stage.setdefault(st, []).append(b - a)
        # blocking path: each group costs its longest member
        sums.append(sum(max(win[s][1] - win[s][0] for s in g if s in win)
                        for g in STAGE_GROUPS.values()
                        if any(s in win for s in g)))
        walls.append(o["dt"])
        unattr.append(self_time(o["start"], o["end"], list(win.values())))
        gw = [(g, min(win[s][0] for s in m if s in win),
               max(win[s][1] for s in m if s in win))
              for g, m in STAGE_GROUPS.items() if any(s in win for s in m)]
        gw.append(("other", o["start"], o["end"]))
        acc = attribute([j for j in jobs if o["start"] <= j["submit"]
                         <= o["end"]], stages, gw)
        for g in list(STAGE_GROUPS) + ["other"]:
            a = acc.get(g)
            grp_jobs.setdefault(g, []).append(a["jobs"] if a else 0)
            grp_tasks.setdefault(g, []).append(a["tasks"] if a else 0)
        out["build.link.equivalence_rows"] = ex["equivalence_rows"]
        out["build.cc.rounds"] = ex["cc_rounds"]
        out["build.warehouse.files_written"] = ex["files"]
        out["build.warehouse.bytes_written_mb"] = ex["bytes"] / 2**20
    for st, key in STAGE_METRIC.items():
        out[key] = _med(per_stage.get(st, []))
    out["build.pipeline.wall_s"] = statistics.median(walls)
    out["build.pipeline.stage_sum_s"] = statistics.median(sums)
    out["build.pipeline.unattributed_s"] = statistics.median(unattr)
    for g in grp_jobs:
        out[f"build.spark.jobs.{g}"] = _med(grp_jobs[g])
        out[f"build.spark.tasks.{g}"] = _med(grp_tasks[g])


def snapshot_files(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under a warehouse's snapshot directories."""
    files = size = 0
    for d, _, names in os.walk(root):
        if os.path.relpath(d, root).split(os.sep)[0] == "metrics":
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size
