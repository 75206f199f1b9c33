"""Seeded benchmark inputs, generated without a Spark session.

Every page is a pure function of (seed, page_id) — ``synth_pages_spark`` and
``gold_mentions_spark`` are ``mapInPandas`` wrappers around the same
renderer as ``synth_pages_local`` — so rendering on the driver gives the same
rows with no JVM. The pages and their gold mentions are written as parquet,
beside the oracle's expected output (``check.write_expected``), under
``<work>/inputs/<workload>-s<seed>-n<pages>-f<files>/`` and reused by every
later run with the same key.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLD_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("mention", pa.string()),
        ("province_code", pa.string()),
        ("district_code", pa.string()),
        ("ward_code", pa.string()),
        ("is_new", pa.bool_()),
    ]
)


def _write_split(rows: list[tuple], schema: pa.Schema, out: Path, files: int) -> None:
    """Contiguous page-id ranges, one parquet file each, so the scan has
    ``files`` splits (the layout ``synth_pages_spark(partitions=files)``
    writes)."""
    out.mkdir(parents=True)
    step = max(1, -(-len(rows) // files))
    for i in range(0, max(len(rows), 1), step):
        chunk = rows[i:i + step]
        cols = list(zip(*chunk)) if chunk else [[] for _ in schema]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        pq.write_table(table, out / f"part-{i // step:05d}.parquet")


def ensure_inputs(work: Path, workload: str, seed: int, pages: int,
                  html_only: bool, files: int) -> Path:
    """Return the input directory for this key, generating it once."""
    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.sources.pages import synth_pages_local
    from check import write_expected

    key = work / "inputs" / f"{workload}-s{seed}-n{pages}-f{files}"
    if (key / "_DONE").exists():
        return key
    shutil.rmtree(key, ignore_errors=True)
    page_rows, gold_rows = synth_pages_local(synth_gazetteer(), pages, seed=seed)
    if html_only:
        page_rows = [p[:3] + (None,) + p[4:] for p in page_rows]
    tmp = key.with_name(key.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    _write_split(page_rows, PAGES_ARROW, tmp / "pages", files)
    _write_split(gold_rows, GOLD_ARROW, tmp / "gold", 1)
    write_expected(tmp / "expected.json", pages, seed)
    (tmp / "_DONE").write_text(f"{len(page_rows)} {len(gold_rows)}\n")
    os.replace(tmp, key)
    return key
