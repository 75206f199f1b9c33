"""Benchmark of the entity-resolution batch job, one fresh process per operation.

    python3 perfbench/run.py --workload er_batch --seed 42 --seconds 40 --trace 0

Each operation is one fresh process (``job.py``) at ``local[<nproc>]`` that
pays JVM launch and ``get_spark()`` warm-ups, runs ``run_pipeline`` over the
workload's pages and commits a parquet output — what a spark-submit user
waits for. Operations run one at a time (closed loop, one client) until
``--seconds`` would be exceeded by the next one; at least one runs. After its
timed region each operation computes its pairwise F1, and its output is
gated against the repository's straight-line oracle (``check.py``). Inputs are
generated beforehand from ``--seed`` in this process, with no JVM, and
cached.

``--trace 0`` prints the end-to-end metrics (medians over operations).
``--trace 1`` runs one untraced reference operation and one traced operation
and prints the per-layer metrics (``layers.py``). The line before the result
holds the effective configuration. Workloads, metrics and their predicted
movement are described in ``perfbench/README.md``.
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
from pathlib import Path

from check import check_output
from inputs import ensure_inputs
from job import busy_cpu_s
from layers import LAYER_METRICS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HELD_OUT_SEED = 1729
RUN_LIMIT_S = 170  # every run ends well inside the 180 s a run may take

WORKLOADS = {
    # name: (pages, html-only intake, StageStore attached)
    "er_batch": (500, False, False),
    "er_durable_html": (300, True, True),
}


def child_env() -> dict:
    """Keep every file Spark, the JVM and Python workers write inside WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return env


def run_child(spec: dict, name: str, deadline: float) -> dict | None:
    """Run one fresh process to completion; return its result or None.

    The child leads its own process group, so the JVM and Python workers it
    starts are killed with it and waited for before this returns."""
    run_dir = WORK / "run"
    spec_path = run_dir / f"{name}.spec.json"
    spec["result"] = str(run_dir / f"{name}.result.json")
    spec_path.write_text(json.dumps(spec))
    log = run_dir / f"{name}.log"
    with log.open("wb") as fh:
        cpu_spawn, t_spawn = busy_cpu_s(), time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "job.py"), str(spec_path)],
            cwd=run_dir, env=child_env(), stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc)
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-15:]
        print(f"{name}: exit {rc}\n" + "\n".join(tail), file=sys.stderr)
        return None
    result = json.loads(Path(spec["result"]).read_text())
    result["t_spawn"] = t_spawn
    result["setup_cpu_s"] = result["cpu_ready"] - cpu_spawn
    return result


def _reap_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # descendants are not our children: wait until the group is empty
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run(workload: str, seed: int, seconds: float, trace: bool, pages: int | None) -> dict:
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    n_pages, html_only, with_store = WORKLOADS[workload]
    n_pages = pages or n_pages
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"

    sys.path.insert(0, str(ROOT))  # the library, for the input generator and oracle
    inputs = ensure_inputs(WORK, workload, seed, n_pages, html_only, files=2 * nproc)
    shutil.rmtree(WORK / "run", ignore_errors=True)
    (WORK / "run").mkdir(parents=True)

    def op(i: int, traced: bool) -> dict | None:
        out = WORK / "run" / f"op{i}"
        spec = {
            "root": str(ROOT), "master": master, "trace": traced,
            "pages": str(inputs / "pages"), "output": str(out / "clustered"),
            "store": str(out / "store") if with_store else None,
            "eventlog_dir": str(out / "eventlog"), "gold": str(inputs / "gold"),
        }
        res = run_child(spec, f"op{i}", deadline)
        if res is not None:
            res["failed"] = check_output(Path(spec["output"]), inputs / "expected.json")
        return res

    ops: list[dict | None] = []
    if trace:
        ops = [op(0, False), op(1, True)]
    else:
        t_loop = time.monotonic()
        while True:
            t0 = time.monotonic()
            ops.append(op(len(ops), False))
            now = time.monotonic()
            if now - t_loop + (now - t0) > seconds or now + 2 * (now - t0) > deadline:
                break

    done = [o for o in ops if o is not None]
    passed = [o for o in done if not o["failed"]]
    for o in done:
        for reason in o["failed"]:
            print(f"{workload} seed {seed}: {reason}", file=sys.stderr)

    config = {
        "workload": workload, "seed": seed, "pages": n_pages, "nproc": nproc,
        "git_commit": git_commit(), **(done[0]["config"] if done else {}),
        "failed_checks": [o["failed"] for o in done],
    }
    wall = {}
    # wall-clock figures of the untraced operations; README.md says why
    # they are reported without a bound
    base = [o for o in passed if "layers" not in o]
    if base:
        job_s = statistics.median(o["t_commit"] - o["t_job"] for o in base)
        wall = {
            "process.job_s": job_s,
            "process.wall_s": statistics.median(o["t_commit"] - o["t_spawn"] for o in base),
            "process.pages_per_s": n_pages / job_s,
            "process.peak_rss_mb": statistics.median(o["peak_rss_mb"] for o in base),
        }
    config["wall_clock"] = wall
    metrics = {}
    if trace:
        if len(passed) == 2:
            untraced, traced = ops
            metrics = {**traced["layers"], **wall}
            metrics["session.get_spark.wall_s"] = traced["t_ready"] - traced["t_spawn"]
            metrics["trace.overhead_s"] = (
                (traced["t_commit"] - traced["t_job"]) - (untraced["t_commit"] - untraced["t_job"])
            )
        units = {n: u for n, u, _ in LAYER_METRICS}
    else:
        if passed:
            metrics = {
                "setup_s": statistics.median(o["t_ready"] - o["t_spawn"] for o in passed),
                "setup_cpu_s": statistics.median(o["setup_cpu_s"] for o in passed),
                "job_cpu_s": statistics.median(o["job_cpu_s"] for o in passed),
                "pairwise_f1": statistics.median(o["pairwise_f1"] for o in passed),
            }
        units = {"setup_s": "s", "setup_cpu_s": "s", "job_cpu_s": "s", "pairwise_f1": "ratio"}
    return {
        "config": config,
        "result": {
            "correct": bool(ops) and len(passed) == len(ops),
            "attempted": len(ops),
            "failed": len(ops) - len(passed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=42,
                    help=f"input seed (default 42; {HELD_OUT_SEED} is held out for claims)")
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="closed-loop budget for the timed operations")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (self-test only)")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the running child's process
    # group is still killed and reaped (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "address_parser_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: no address_parser_spark package under {ROOT}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.pages)
    print(json.dumps({"config": out["config"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
