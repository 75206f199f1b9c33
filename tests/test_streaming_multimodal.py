"""Structured Streaming ingest + multimodal operator tests."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_input(spark, gaz, tmp_path_factory):
    """JSONL page dump split across two files (two micro-batch units)."""
    from address_parser_spark.sources.pages import synth_pages_local

    pages, golds = synth_pages_local(gaz, 60)
    d = tmp_path_factory.mktemp("stream_in")
    for i, chunk in enumerate((pages[:30], pages[30:])):
        with open(d / f"part{i}.jsonl", "w", encoding="utf-8") as fh:
            for url, ts, _html, text, lang in chunk:
                fh.write(json.dumps({
                    "url": url, "warc_ts": ts.isoformat(sep=" "),
                    "text": text, "lang": lang,
                }, ensure_ascii=False) + "\n")
    return str(d), pages, golds


def test_stream_extraction_matches_batch(spark, gaz, stream_input, tmp_path):
    from address_parser_spark.gazetteer.nodes import alias_registries
    from address_parser_spark.streaming.ingest import dedup_mentions_stream, read_pages_stream

    input_dir, pages, golds = stream_input
    regs = alias_registries(gaz)
    stream = read_pages_stream(spark, input_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    q = (
        dedup_mentions_stream(stream, regs)
        .select("url", "mention", "std", "warc_ts")
        .writeStream.format("memory").queryName("mentions_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["url"], r["mention"]) for r in spark.sql("select * from mentions_sink").collect()}
    want = {(g[0], g[1]) for g in golds}
    assert want <= got  # every gold mention extracted through the stream path


def test_stream_windowed_counts(spark, gaz, stream_input, tmp_path):
    from address_parser_spark.gazetteer.nodes import alias_registries
    from address_parser_spark.streaming.ingest import read_pages_stream, windowed_mention_counts

    input_dir, _pages, golds = stream_input
    stream = read_pages_stream(spark, input_dir)
    q = (
        windowed_mention_counts(stream, alias_registries(gaz), window="1 hour")
        .writeStream.format("memory").queryName("win_sink").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_sink").collect()
    # append mode only emits windows past the watermark; with availableNow the
    # final watermark closes all but the max-event-time window.
    assert sum(r["n_mentions"] for r in rows) <= len(golds)
    assert all(r["n_mentions"] >= 1 for r in rows)


def test_multimodal_decode_and_features(spark, gaz):
    from address_parser_spark.operators.multimodal import (
        decode_media,
        extract_media_features,
        sample_frames,
    )
    from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

    pages, _ = synth_pages_local(gaz, 20)
    df = spark.createDataFrame(pages, PAGES_SCHEMA)

    decoded = decode_media(df)
    rows = decoded.select("url", "media.*").collect()
    assert len(rows) == 20
    # the synthetic pages carry plain UTF-8 markup
    assert all(
        r["n_bytes"] > 0 and r["media_type"] == "text" and r["format"] == "utf-8"
        and r["text_chars"] > 0
        for r in rows
    )
    # determinism across partitionings
    again = decode_media(df.repartition(7)).select("url", "media.*").collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}

    feats = extract_media_features(df).collect()
    assert all(len(r["features"]) == 16 for r in feats)

    frames = sample_frames(df, n_frames=4)
    per_url = frames.groupBy("url").count().collect()
    assert all(r["count"] == 4 for r in per_url)


# sha256 of every committed binary under tests/fixtures/media/ (regenerate
# with scripts/gen_media_fixtures.py — deterministic, must be a no-op diff)
# mapped to the header fields the REAL decode must recover from it.
_MEDIA_FIXTURES = {
    "tiny.png": (
        "c86d9603f354f9afb6d476cf0d1989cf138539f271493cbd29732d784b11d9c4",
        {"media_type": "image", "format": "png", "width": 5, "height": 3},
    ),
    "tiny.gif": (
        "e098ae52aa20cfdfcc19f0f7e739e8611864b10f92c4e4e265ebf96fafd1675e",
        {"media_type": "image", "format": "gif", "width": 7, "height": 4},
    ),
    "tiny.jpg": (
        "fc230ce34c27990f0cb80acda5bb1a67d9d6fa4df5e4812d73e9fe29f68aa8a2",
        {"media_type": "image", "format": "jpeg", "width": 9, "height": 6},
    ),
    "tiny.wav": (
        "faf90dde7fd7a168c57cb3a4724584c233c2b297754169d85a5d7b4165ef82fd",
        {"media_type": "audio", "format": "wav", "sample_rate": 8000, "n_frames": 16},
    ),
    "tiny.txt.zlib": (
        "a31f84773d4d873cf2c33e10b0c924264b347952f076766a067b00ba7aa39987",
        {"media_type": "text", "format": "zlib", "text_chars": 62},
    ),
    "tiny.txt.gz": (
        "00349a1618d075bf146528a60586189dad05dfaf24149cd0225621d63043bb32",
        {"media_type": "text", "format": "gzip", "text_chars": 62},
    ),
    "tiny.txt": (
        "3692e6d8379492f72467e0112280ce15c601e70e46910280d54b6d70d533f0f7",
        {"media_type": "text", "format": "utf-8", "text_chars": 62},
    ),
}


def test_real_decode_on_committed_binaries(spark):
    """decode_media parses actual committed container binaries through the
    Spark operator (not just the pure function)."""
    import hashlib
    import pathlib

    from address_parser_spark.operators.multimodal import decode_media

    media_dir = pathlib.Path(__file__).parent / "fixtures" / "media"
    rows = []
    for name, (sha, _want) in _MEDIA_FIXTURES.items():
        payload = (media_dir / name).read_bytes()
        assert hashlib.sha256(payload).hexdigest() == sha, f"{name} fixture drifted"
        rows.append((name, payload))
    df = spark.createDataFrame(rows, "name string, html binary")

    got = {
        r["name"]: r.asDict()
        for r in decode_media(df).select("name", "media.*").collect()
    }
    assert len(got) == len(_MEDIA_FIXTURES)
    for name, (_sha, want) in _MEDIA_FIXTURES.items():
        for k, v in want.items():
            assert got[name][k] == v, (name, k, got[name])
        assert got[name]["n_bytes"] == len((media_dir / name).read_bytes())

    # corrupt payload → unknown, never an exception
    junk = spark.createDataFrame([("junk", b"\x00\x01\xfe\xff")], "name string, html binary")
    r = decode_media(junk).select("media.*").collect()[0]
    assert r["media_type"] == "unknown" and r["n_bytes"] == 4


def test_real_features_byte_histogram(spark):
    from address_parser_spark.operators.multimodal import extract_media_features

    df = spark.createDataFrame(
        [("u1", b"\x00" * 8), ("u2", bytes(range(256)))], "url string, html binary"
    )
    feats = {r["url"]: r["features"] for r in
             extract_media_features(df).collect()}
    assert feats["u1"][0] == 1.0 and sum(feats["u1"]) == 1.0
    assert all(abs(v - 1 / 16) < 1e-6 for v in feats["u2"])


def test_bmp_sniff_rejects_text_starting_with_bm():
    """Regression (round-5 review): 'BM' alone is plausible text; the sniff
    must require zero reserved words + a known DIB header size."""
    from address_parser_spark.operators.multimodal import _parse_bmp, _real_decode

    text_payload = "BM Corporation, 123 Le Loi, Quan 1, TP HCM — lien he ngay".encode()
    assert _parse_bmp(text_payload) is None
    assert _real_decode(text_payload)["media_type"] == "text"
    # a real BMP header still parses
    import struct
    bmp = (b"BM" + struct.pack("<I", 26 + 40) + b"\x00\x00\x00\x00"
           + struct.pack("<I", 54) + struct.pack("<I", 40)
           + struct.pack("<ii", 17, -9) + b"\x01\x00\x18\x00" + b"\x00" * 24)
    got = _parse_bmp(bmp)
    assert got == {"media_type": "image", "format": "bmp", "width": 17,
                   "height": 9, "n_frames": 1}
