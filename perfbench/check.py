"""Correctness gate and quality figure for one operation's output.

The gate is exact parity with ``plans.er_oracle.local_er_expected``, the
repository's straight-line single-process computation of the same pipeline:
the output must hold exactly the oracle's (url, mention) rows, each with the
oracle's province, district, ward, street address, format and entity key, and
group them into exactly the oracle's clusters. The oracle reads the page
text; html-only intake must reproduce it too, because ``html_to_text`` is
byte-identical to the text column on this corpus.

Pairwise F1 against the generator's gold mentions, computed as
``tests/test_pipeline_e2e.py`` computes it, is reported as a metric and not
gated: on this corpus it is a property of the resolution rules (it is the
same for the oracle), and it falls below 0.99 on some seeds (0.981 on seed 1
at 500 pages).
"""

from __future__ import annotations

import json
from pathlib import Path

FIELDS = ("province", "district", "ward", "street_address", "format", "entity_key")


def write_expected(path: Path, n_pages: int, seed: int) -> None:
    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.plans.er_oracle import expected_to_canonical, local_er_expected

    doc = expected_to_canonical(*local_er_expected(synth_gazetteer(), n_pages, seed=seed))
    path.write_text(json.dumps({"rows": doc["rows"], "partition": doc["partition"]},
                               ensure_ascii=False))


def oracle_diff(rows: list[dict], expected: dict) -> list[str]:
    """Failed conditions of ``rows`` (output records with ``FIELDS``,
    ``url``, ``mention`` and ``cluster_id``) against the oracle document."""
    want = {(r[0], r[1]): tuple(r[2:]) for r in expected["rows"]}
    got: dict = {}
    clusters: dict = {}
    for r in rows:
        key = (r["url"], r["mention"])
        got.setdefault(key, []).append(tuple(r[f] for f in FIELDS))
        clusters.setdefault(r["cluster_id"], set()).add(key)
    failed = []
    dup = sum(len(v) - 1 for v in got.values())
    if dup:
        failed.append(f"{dup} duplicated (url, mention) rows")
    missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
    if missing or extra:
        failed.append(f"{len(missing)} oracle rows missing, {len(extra)} unexpected rows")
    wrong = sum(1 for k in want.keys() & got.keys() if got[k][0] != want[k])
    if wrong:
        failed.append(f"{wrong} rows with components differing from the oracle")
    want_part = {frozenset(map(tuple, c)) for c in expected["partition"]}
    got_part = {frozenset(c) for c in clusters.values()}
    if got_part != want_part:
        failed.append(
            f"cluster partition differs: {len(got_part - want_part)} clusters not in the "
            f"oracle's {len(want_part)}"
        )
    return failed


def pairwise_f1_of(out, gold) -> dict:
    """F1 on labelled pairs of a ``run_pipeline`` result against gold rows."""
    from address_parser_spark.operators.eval import gold_entity_col, labeled_pairs, pairwise_f1
    from address_parser_spark.operators.pairs import with_blocking_keys

    gold = gold.withColumn("gold_entity", gold_entity_col()).select("url", "mention", "gold_entity")
    keyed = with_blocking_keys(out).join(gold, ["url", "mention"])
    return pairwise_f1(labeled_pairs(keyed.select("mid", "keys", "gold_entity", "cluster_id")))


def check_output(output: Path, expected_path: Path) -> list[str]:
    import pyarrow.parquet as pq

    rows = pq.read_table(output, columns=["url", "mention", *FIELDS, "cluster_id"]).to_pylist()
    return oracle_diff(rows, json.loads(expected_path.read_text()))
