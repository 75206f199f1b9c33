"""Self-test of the benchmark at a small size: ``python3 perfbench/selftest.py``.

1. For every workload in ``BENCHMARK.json``, a timed run and a traced run of
   ``run.py`` on 120 pages must be correct and print exactly the
   ``end_to_end`` (``--trace 0``) or ``per_layer`` (``--trace 1``) metric
   names, with their units.
2. The correctness gate must fire on corrupted copies of a real output:
   a dropped row, a changed ward, a mention moved to another cluster and
   two clusters merged; it must pass the output as written.

Exits 0 when every check passes. Takes about six minutes on four cores.
"""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PAGES = 120
SEED = 7


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--pages", str(PAGES)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        raise SystemExit(f"run.py {workload} --trace {trace} exited {proc.returncode}:\n"
                         + proc.stderr[-3000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(spec: dict, workload: str, trace: int) -> list[str]:
    res = run_bench(workload, trace)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errors.append(f"run not correct: {res['attempted']} attempted, {res['failed']} failed")
    if got != want:
        errors.append(f"missing {sorted(want.keys() - got.keys())}, "
                      f"extra {sorted(got.keys() - want.keys())}, "
                      f"unit mismatches {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))]
    if bad:
        errors.append(f"non-numeric values {bad}")
    if not trace:
        zero = [k for k, v in res["metrics"].items() if v["value"] == 0]
        if zero:
            errors.append(f"end-to-end metrics reading 0: {zero}")
    return [f"{workload} --trace {trace}: {e}" for e in errors]


def check_gate(workload: str) -> list[str]:
    """Corrupt the output the last run of ``workload`` left behind."""
    import pyarrow.parquet as pq

    from check import FIELDS, oracle_diff
    from run import WORK

    run_bench(workload, 0)
    expected = json.loads(next((WORK / "inputs").glob(
        f"{workload}-s{SEED}-n{PAGES}-*/expected.json")).read_text())
    rows = pq.read_table(WORK / "run" / "op0" / "clustered",
                         columns=["url", "mention", *FIELDS, "cluster_id"]).to_pylist()
    rows.sort(key=lambda r: (r["url"], r["mention"]))
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    big = next(c for c in by_cluster.values() if len(c) > 1)
    other = next(cid for cid in by_cluster if cid != big[0]["cluster_id"])

    def corrupt(fn):
        bad = copy.deepcopy(rows)
        fn(bad)
        return bad

    def set_ward(rs):
        rs[0]["ward"] = (rs[0]["ward"] or "") + "x"

    def move_mention(rs):
        next(r for r in rs if r["mention"] == big[-1]["mention"]
             and r["url"] == big[-1]["url"])["cluster_id"] = other

    def merge(rs):
        for r in rs:
            if r["cluster_id"] == other:
                r["cluster_id"] = big[0]["cluster_id"]

    cases = {
        "dropped row": corrupt(lambda rs: rs.pop()),
        "changed ward": corrupt(set_ward),
        "moved mention": corrupt(move_mention),
        "merged clusters": corrupt(merge),
    }
    errors = []
    if oracle_diff(rows, expected):
        errors.append(f"intact output rejected: {oracle_diff(rows, expected)}")
    for name, bad in cases.items():
        if not oracle_diff(bad, expected):
            errors.append(f"gate did not fire on: {name}")
    return [f"{workload} gate: {e}" for e in errors]


def main() -> int:
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors: list[str] = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_metrics(spec, w["name"], trace)
    errors += check_gate(spec["workloads"][0]["name"])
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
