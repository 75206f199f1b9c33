"""Per-layer metrics from a traced operation's Spark event log.

Spark writes one JSON event per line. Every stage carries the job group that
was set when it was submitted (``job.Spans``), so summing task-end metrics by
group gives each span's executor time:

- ``run_s``  executorRunTime; ``cpu_s`` executorCpuTime (``run_s - cpu_s``
  is time tasks spent blocked: on Python workers or I/O);
- ``gc_s``   JVM GC time; ``python_s`` the SQL metric "time to run Python
  workers";
- ``shuffle_write_bytes``, ``spill_bytes`` (bytes spilled to disk).

Jobs with no group submitted before ``get_spark()`` returned are the session
warm-ups (``session.get_spark``). The ``trace.stats`` group holds the counts
taken after the timed region and belongs to no span.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from pathlib import Path

SESSION = "session.get_spark"
STAGE_SPANS = [
    "parse.extract_normalize",
    "parse.resolve_mentions",
    "pairs.with_blocking_keys",
    "pairs.equality_edges",
    "cluster.cluster_mentions",
    "pipeline.write",
]
SPAN_SUFFIXES = [
    ("wall_s", "s"), ("jobs", "count"), ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("python_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("rows", "count"),
]
# (name, unit, better) of every per-layer metric a traced run reports.
LAYER_METRICS: list[tuple[str, str, str]] = (
    [(f"{SESSION}.{s}", u, "lower") for s, u in (("wall_s", "s"), ("jobs", "count"), ("run_s", "s"))]
    + [("gazetteer.prep.wall_s", "s", "lower")]
    + [(f"{span}.{s}", u, "lower") for span in STAGE_SPANS for s, u in SPAN_SUFFIXES]
    + [
        ("parse.distinct_share", "ratio", "lower"),
        ("pairs.edge_yield", "ratio", "higher"),
        ("pairs.dropped_blocks", "count", "lower"),
        ("cluster.canonical_edges", "count", "lower"),
        ("cluster.rounds", "count", "lower"),
        ("lineage.write_s", "s", "lower"),
        ("lineage.bytes", "bytes", "lower"),
        ("process.job_s", "s", "lower"),
        ("process.wall_s", "s", "lower"),
        ("process.pages_per_s", "pages/s", "higher"),
        ("process.peak_rss_mb", "MB", "lower"),
        ("trace.job_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.unattributed_s", "s", "lower"),
    ]
)
_ADDITIVE = ("wall_s", "jobs", "run_s", "cpu_s", "gc_s", "python_s",
             "shuffle_write_bytes", "spill_bytes")


def group_totals(log: Path, ready_epoch_ms: float) -> tuple[dict, dict]:
    """Sum task metrics and count jobs per job group; ungrouped work from
    before ``ready_epoch_ms`` is filed under the session span. Also returns
    the physical plan texts of each group's SQL executions."""
    stage_group: dict[int, str | None] = {}
    totals: dict = defaultdict(lambda: defaultdict(float))
    plans: dict = defaultdict(list)

    def group_of(props: dict | None, submitted_ms: float) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        if g is None and submitted_ms < ready_epoch_ms:
            return SESSION
        return g

    with log.open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[info["Stage ID"]] = group_of(
                    ev.get("Properties"), info.get("Submission Time", 0)
                )
            elif kind == "SparkListenerJobStart":
                totals[group_of(ev.get("Properties"), ev["Submission Time"])]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                t = totals[stage_group.get(ev["Stage ID"])]
                t["run_s"] += tm["Executor Run Time"] / 1e3
                t["cpu_s"] += tm["Executor CPU Time"] / 1e9
                t["gc_s"] += tm["JVM GC Time"] / 1e3
                t["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t["spill_bytes"] += tm["Disk Bytes Spilled"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        t["python_s"] += int(acc["Update"]) / 1e3
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plans[ev.get("jobGroupId")].append(ev.get("physicalPlanDescription", ""))
    return totals, plans


def layer_metrics(log: Path, res: dict) -> dict[str, float]:
    """Every ``LAYER_METRICS`` name except those the parent process adds
    (``session.get_spark.wall_s``, ``process.*`` and ``trace.overhead_s``),
    which need its spawn stamps and the untraced operation."""
    totals, plans = group_totals(log, res["t_ready_epoch_ms"])
    stats, rows, span_wall = res["stats"], res["rows"], res["span_wall"]
    out: dict[str, float] = {
        f"{SESSION}.jobs": totals[SESSION]["jobs"],
        f"{SESSION}.run_s": totals[SESSION]["run_s"],
        "gazetteer.prep.wall_s": span_wall["gazetteer.prep"],
    }
    for span in STAGE_SPANS:
        t = totals[span]
        out[f"{span}.wall_s"] = span_wall[span]
        for key in _ADDITIVE[1:]:
            out[f"{span}.{key}"] = t[key]
        out[f"{span}.rows"] = rows[span]
    # resolve_mentions re-runs extract_normalize inside its span: report it net
    for key in _ADDITIVE:
        out[f"parse.resolve_mentions.{key}"] -= out[f"parse.extract_normalize.{key}"]

    lineage = [r for r in stats["lineage"] if "rows" in r]
    cc_iters = sorted((r for r in lineage if r["stage"].startswith("cc_iter_")),
                      key=lambda r: r["stage"])
    if cc_iters:
        # StageStore path: cc_iter_000 is the canonical input graph, one
        # snapshot per round after it.
        canonical, rounds = cc_iters[0]["rows"], len(cc_iters) - 1
    else:
        # Every mention contributes one anchor edge to a hashed entity
        # vertex; pair edges add their canonical (undirected, loop-free) set.
        canonical = stats["resolved_mids"] + stats["canonical_pair_edges"]
        # In-memory loop rounds observe "cc_fp_<round>"; the driver
        # union-find path observes only the init fingerprint cc_fp_-1.
        rounds = len({int(n) for p in plans["cluster.cluster_mentions"]
                      for n in re.findall(r"cc_fp_(\d+)", p)})
    out.update({
        "parse.distinct_share": stats["distinct_mentions"] / max(stats["mentions"], 1),
        "pairs.edge_yield": stats["canonical_pair_edges"] / max(stats["raw_edges"], 1),
        "pairs.dropped_blocks": stats["dropped_blocks"],
        "cluster.canonical_edges": canonical,
        "cluster.rounds": rounds,
        "lineage.write_s": sum(r["wall_ms"] for r in lineage) / 1e3,
        "lineage.bytes": sum(r["bytes"] for r in lineage),
        "trace.job_s": res["t_commit"] - res["t_job"],
        "trace.unattributed_s": res["t_commit"] - res["t_job"] - sum(span_wall.values()),
    })
    return out
