"""One benchmark operation, in a fresh process: ``python3 job.py SPEC.json``.

The process does what a ``spark-submit`` of ``jobs/run_pipeline.py`` does —
``get_spark()`` with its warm-ups, then ``run_pipeline`` over the input
pages and a parquet write of the result — and records monotonic timestamps
(CLOCK_MONOTONIC is system-wide, so the parent's spawn stamp and these
stamps share one clock).

With ``"trace": true`` the same stages run as separate calls into each
layer's public function, in ``run_pipeline``'s order, each inside a Spark job
group named after its span and materialized once with an eager local
checkpoint (or the StageStore snapshot ``run_pipeline`` would write). The
event log of that session is then folded into per-layer metrics
(``layers.py``). The library itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

MAX_BLOCK = 64  # run_pipeline's default


def _tree(pid: int):
    """``pid`` and its live descendants, as ``/proc/<pid>`` paths. Each
    thread lists only the children it forked, so every thread is read; one
    that exits meanwhile is skipped on its own."""
    todo = [pid]
    while todo:
        proc = Path(f"/proc/{todo.pop()}")
        try:
            tasks = list((proc / "task").iterdir())
        except FileNotFoundError:  # the process exited
            continue
        for task in tasks:
            todo.extend(int(c) for c in _read(task / "children").split())
        yield proc


def _read(path: Path) -> str:
    try:
        return path.read_text()
    except FileNotFoundError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """Largest VmHWM (peak resident set) in the process tree of ``pid``."""
    return max(
        (int(line.split()[1]) for p in _tree(pid)
         for line in _read(p / "status").splitlines() if line.startswith("VmHWM:")),
        default=0,
    ) / 1024.0


def busy_cpu_s() -> float:
    """CPU seconds the whole machine has spent busy (user, nice, system,
    irq, softirq; not idle, iowait or steal). The benchmark runs alone, so
    a difference of two readings is the operation's CPU time, including
    Python workers that exit meanwhile: the PySpark daemon ignores SIGCHLD,
    so their time reaches no parent's counters."""
    ticks = Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]
    user, nice, system, _idle, _iowait, irq, softirq = map(int, ticks[:7])
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def effective_config(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    jconf = sc._jsc.sc().conf()
    local_dirs = sc._jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(jconf)
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.local.dir": ",".join(str(d) for d in local_dirs),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
    }


def timed_job(spark, spec: dict) -> dict:
    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.plans.pipeline import run_pipeline
    from address_parser_spark.sources.lineage import StageStore

    cpu0, t_job = busy_cpu_s(), time.monotonic()
    gaz = synth_gazetteer()
    pages = spark.read.parquet(spec["pages"])
    store = StageStore(spark, spec["store"]) if spec["store"] else None
    run_pipeline(spark, pages, gaz, store=store).write.parquet(spec["output"])
    t_commit = time.monotonic()
    return {"t_job": t_job, "t_commit": t_commit, "job_cpu_s": busy_cpu_s() - cpu0,
            "peak_rss_mb": peak_rss_mb(os.getpid())}


class Spans:
    """Wall-clock spans, each owning the Spark job group of the same name."""

    def __init__(self, sc):
        self.sc = sc
        self.wall: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.wall[name] = time.monotonic() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def traced_job(spark, spec: dict) -> dict:
    from pyspark.sql import Observation, functions as F

    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.gazetteer.nodes import (
        alias_registries,
        build_nodes,
        build_repair_state,
        ngram_index_df,
        nodes_to_spark,
    )
    from address_parser_spark.operators.cluster import cluster_mentions
    from address_parser_spark.operators.pairs import (
        dropped_blocks,
        equality_edges,
        with_blocking_keys,
    )
    from address_parser_spark.operators.parse import extract_normalize, resolve_mentions
    from address_parser_spark.plans.pipeline import attach_new_ward_codes
    from address_parser_spark.sources.lineage import StageStore

    span = Spans(spark.sparkContext)
    rows: dict[str, int] = {}

    def checkpoint(name: str, df):
        obs = Observation(name)
        out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        rows[name] = int(obs.get["n"])
        return out

    store = StageStore(spark, spec["store"]) if spec["store"] else None

    def stage(name: str, stage_name: str, build):
        # run_pipeline's stage(): the StageStore snapshot when a store is
        # attached; otherwise one eager local checkpoint per span, so each
        # span's jobs run inside its own job group.
        if store is not None:
            return store.run_stage(stage_name, build)
        return checkpoint(name, build())

    t_job = time.monotonic()
    with span("gazetteer.prep"):
        gaz = synth_gazetteer()
        nodes = build_nodes(gaz)
        nodes_df = nodes_to_spark(spark, nodes)
        index_df = ngram_index_df(nodes_df)
        registries = alias_registries(gaz)
        repair_state = build_repair_state(gaz, nodes)
    # resolve_mentions runs extract_normalize itself; timing it alone first
    # lets layers.py report resolve_mentions net of extraction.
    with span("parse.extract_normalize"):
        pages = spark.read.parquet(spec["pages"])
        mentions = checkpoint("parse.extract_normalize", extract_normalize(pages, registries))
    with span("parse.resolve_mentions"):
        resolved = stage(
            "parse.resolve_mentions", "resolved",
            lambda: resolve_mentions(
                pages, nodes_df, index_df, registries,
                nodes=nodes, repair_state=repair_state,
            ),
        )
    with span("pairs.with_blocking_keys"):
        keyed = stage("pairs.with_blocking_keys", "keyed", lambda: with_blocking_keys(resolved))
    with span("pairs.equality_edges"):
        edges = stage(
            "pairs.equality_edges", "edges",
            lambda: equality_edges(keyed, max_block=MAX_BLOCK),
        )
    with span("cluster.cluster_mentions"):
        checkpoint_fn = None
        if store is not None:
            checkpoint_fn = lambda df, it: store.write(df, f"cc_iter_{it + 1:03d}")
        clustered = stage(
            "cluster.cluster_mentions", "clustered",
            lambda: cluster_mentions(resolved, extra_edges=edges, checkpoint_fn=checkpoint_fn),
        )
    with span("pipeline.write"):
        out = clustered
        if gaz.ward_mappings:
            out = attach_new_ward_codes(spark, clustered, nodes_df, gaz)
        obs = Observation("pipeline.write")
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(spec["output"])
        rows["pipeline.write"] = int(obs.get["n"])
    t_commit = time.monotonic()
    rss = peak_rss_mb(os.getpid())

    # Counts for the layer ratios, after the timed region and in a group of
    # their own that layers.py leaves out of every span.
    spark.sparkContext.setJobGroup("trace.stats", "trace.stats")
    m = mentions.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("mention").alias("d")
    ).collect()[0]
    canon_edges = (
        edges.select(F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .count()
    )
    lineage = store.lineage() if store is not None else []
    for rec in lineage:
        name = {"resolved": "parse.resolve_mentions", "keyed": "pairs.with_blocking_keys",
                "edges": "pairs.equality_edges", "clustered": "cluster.cluster_mentions"}.get(rec["stage"])
        if name and "rows" in rec:
            rows[name] = rec["rows"]
    stats = {
        "mentions": int(m["n"]),
        "distinct_mentions": int(m["d"]),
        "raw_edges": rows["pairs.equality_edges"],
        "canonical_pair_edges": canon_edges,
        "resolved_mids": resolved.select("mid").distinct().count(),
        "dropped_blocks": dropped_blocks(keyed, max_block=MAX_BLOCK).count(),
        "lineage": lineage,
    }
    return {"t_job": t_job, "t_commit": t_commit, "peak_rss_mb": rss, "span_wall": span.wall,
            "rows": rows, "stats": stats}


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    sys.path.insert(0, spec["root"])
    from address_parser_spark.session import get_spark

    extra = None
    if spec["trace"]:
        Path(spec["eventlog_dir"]).mkdir(parents=True, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(spec["eventlog_dir"]).as_uri(),
            # plain JSON lines: the default zstd codec needs a module this
            # stack may lack, and one file per application keeps parsing simple
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark("perfbench", master=spec["master"], extra_confs=extra)
    result = {"t_ready": time.monotonic(), "t_ready_epoch_ms": time.time() * 1000,
              "cpu_ready": busy_cpu_s()}
    spark.sparkContext.setLogLevel("ERROR")
    result.update(traced_job(spark, spec) if spec["trace"] else timed_job(spark, spec))
    result["config"] = effective_config(spark)
    # quality figure for the end-to-end metrics, after the timed region
    spark.sparkContext.setJobGroup("check", "check")
    from check import pairwise_f1_of

    result["pairwise_f1"] = pairwise_f1_of(
        spark.read.parquet(spec["output"]), spark.read.parquet(spec["gold"])
    )["f1"]
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if spec["trace"]:
        from layers import layer_metrics

        log = Path(spec["eventlog_dir"]) / app_id
        result["layers"] = layer_metrics(log, result)
    Path(spec["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
