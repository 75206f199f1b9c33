"""The JVM-side per-bucket pair generator (`dedup._doc_pairs_per_bucket`)
replaced bucket SELF-JOINS in both minhash_band_pairs and
ngram_jaccard_pairs. Its contract is exactly the self-join's on `a < b`:
every unordered pair of distinct members, with MULTIPLICITY — a doc that
appears m times in a bucket (repeated shingle instance) and a co-member that
appears n times contribute m*n pairs, and same-doc pairs are excluded even
when the id repeats. These properties are what make the downstream
intersection counts (and so the Jaccard/Dice values) identical to the
DuckDB oracles; this file pins them against a naive Python reference.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F


def _reference_pairs(bucket: list[str]) -> list[tuple[str, str]]:
    """All a<b pairs from one bucket with self-join multiplicity semantics:
    combinations of the SORTED member multiset, same-id pairs dropped."""
    return [(a, b) for a, b in combinations(sorted(bucket), 2) if a != b]


BUCKETS = [
    ["d1", "d2"],
    ["d1", "d2", "d3"],
    ["d1", "d1", "d2"],          # repeated member → multiplicity 2 on (d1,d2)
    ["d1", "d1"],                # only same-doc pairs → contributes nothing
    ["d4"],                      # singleton → nothing
    ["d9", "d2", "d9", "d2"],    # 2×2 cross-multiplicity = 4 pairs
]


@pytest.mark.parametrize("buckets", [BUCKETS])
def test_doc_pairs_match_selfjoin_semantics(spark, buckets):
    from address_parser_spark.operators.dedup import _doc_pairs_per_bucket

    grouped = spark.createDataFrame(
        [(i, sorted(b)) for i, b in enumerate(buckets)], "bkey int, docs array<string>"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"]) for r in _doc_pairs_per_bucket(grouped).collect()
    )
    want = sorted(p for b in buckets for p in _reference_pairs(b))
    assert got == want
    # non-vacuous: the fixtures exercise multiplicity and exclusion
    assert want.count(("d1", "d2")) >= 3 and want.count(("d2", "d9")) == 4


def test_doc_pairs_equal_legacy_selfjoin_on_random_buckets(spark):
    """Differential check against the literal self-join formulation the
    generator replaced, over a deterministic pseudo-random bucket set."""
    from address_parser_spark.operators.dedup import _doc_pairs_per_bucket

    rows = []
    state = 1234567
    for i in range(40):
        members = []
        for _ in range(1 + (state := (state * 1103515245 + 12345) % 2**31) % 6):
            members.append(f"doc{(state := (state * 1103515245 + 12345) % 2**31) % 9}")
        rows.append((i, sorted(members)))
    grouped = spark.createDataFrame(rows, "bkey int, docs array<string>")

    new = sorted(
        (r["doc_a"], r["doc_b"]) for r in _doc_pairs_per_bucket(grouped).collect()
    )
    exploded = grouped.select("bkey", F.explode("docs").alias("doc_id"))
    a = exploded.select("bkey", F.col("doc_id").alias("doc_a"))
    b = exploded.select("bkey", F.col("doc_id").alias("doc_b"))
    legacy = sorted(
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, "bkey").filter(F.col("doc_a") < F.col("doc_b")).collect()
    )
    assert new == legacy and len(new) > 50


def _reference_equality_edges(rows, max_block: int) -> set[tuple[int, int]]:
    """Plain-Python edge rule over collected keyed rows: a block is every
    row carrying the key, dropped when its member count exceeds
    ``max_block`` (the instance count ``dedup._grouped_docs_bounded``
    windows over); inside a kept block two distinct mids are joined when
    their ``canon`` AND ``digit_sig`` strings are equal."""
    blocks: dict[str, list] = defaultdict(list)
    for r in rows:
        for key in r["keys"]:
            blocks[key].append(r)
    edges = set()
    for members in blocks.values():
        if len(members) > max_block:
            continue
        for a, b in combinations(members, 2):
            if (
                a["mid"] != b["mid"]
                and a["canon"] == b["canon"]
                and a["digit_sig"] == b["digit_sig"]
            ):
                edges.add(tuple(sorted((a["mid"], b["mid"]))))
    return edges


def _hand_keyed_rows() -> list[tuple[int, str, str, list[str]]]:
    """(mid, canon, digit_sig, keys) rows pinning the cap boundary at both
    tested caps — keys with exactly 3, 4, 64 and 65 members, all of one
    identity — and the digit rule: an equal-canon pair whose digit_sig
    differs shares a block with a third, fully equal member."""
    rows = []
    mid = 1000
    for size in (3, 4, 64, 65):
        for _ in range(size):
            rows.append((mid, f"block {size}", "?|u|", [f"size#{size}"]))
            mid += 1
    rows += [
        (1, "phuong 3 quan 10", "?|u|3 10", ["digits#"]),
        (2, "phuong 3 quan 10", "?|u|10 3", ["digits#"]),
        (3, "phuong 3 quan 10", "?|u|3 10", ["digits#"]),
    ]
    return rows


def _clique(mids) -> set[tuple[int, int]]:
    return {tuple(sorted(p)) for p in combinations(mids, 2)}


def test_equality_edges_match_candidate_pair_route(spark, gaz):
    """The pipeline's identity-hash edge generator must emit EXACTLY the
    edges of the candidate-pair rule it replaced — every within-block pair,
    kept when canon AND digit_sig are equal — here a plain-Python reference
    (same blocks, same ``max_block`` cap, string equality rather than
    xxhash64), on a real keyed frame and on a hand-built one that sits on
    the cap boundary at both tested caps."""
    from address_parser_spark.operators.pairs import equality_edges, with_blocking_keys
    from address_parser_spark.gazetteer.nodes import (
        alias_registries, build_nodes, build_repair_state, ngram_index_df, nodes_to_spark,
    )
    from address_parser_spark.operators.parse import resolve_mentions
    from address_parser_spark.sources.pages import synth_pages_spark

    nodes = build_nodes(gaz)
    nodes_df = nodes_to_spark(spark, nodes)
    pages = synth_pages_spark(spark, gaz, 80, partitions=4)
    resolved = resolve_mentions(
        pages, nodes_df, ngram_index_df(nodes_df), alias_registries(gaz),
        nodes=nodes, repair_state=build_repair_state(gaz, nodes),
    )
    real = with_blocking_keys(resolved).localCheckpoint(eager=True)
    hand = spark.createDataFrame(
        _hand_keyed_rows(), "mid long, canon string, digit_sig string, keys array<string>"
    )

    got = {}
    for name, keyed in (("real", real), ("hand", hand)):
        rows = keyed.select("mid", "canon", "digit_sig", "keys").collect()
        for cap in (64, 3):  # default cap AND a tight cap that actually drops blocks
            want = _reference_equality_edges(rows, cap)
            new = {
                tuple(sorted((r["src"], r["dst"])))
                for r in equality_edges(keyed, max_block=cap).collect()
            }
            assert new == want, (name, cap, new ^ want)
            got[name, cap] = new
    assert got["real", 64]  # non-vacuous: the corpus must actually produce edges
    # cap boundary: a block of exactly max_block members is kept, one more is dropped
    at = {3: range(1000, 1003), 64: range(1007, 1071)}
    over = {3: range(1003, 1007), 64: range(1071, 1136)}
    for cap in (64, 3):
        assert _clique(at[cap]) <= got["hand", cap]
        assert not _clique(over[cap]) & got["hand", cap]
        # digit rule: equal canon with a different digit_sig is no edge
        assert (1, 3) in got["hand", cap]
        assert not {(1, 2), (2, 3)} & got["hand", cap]
