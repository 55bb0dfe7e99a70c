"""Round-8 JPEG/PNG header metadata (VERDICT item 4): real image
payloads produce real dimensions through BOTH the engine's
``image_dims`` (stdlib segment/IHDR parse — no pixel decode, no image
library) and the DuckDB recursive-CTE twin, on the same bytes."""

from __future__ import annotations

import struct
import zlib

from tableau_dashboard_performance_etl_automation_spark.operators import multimodal


def _png(w: int, h: int, color_type: int = 2) -> bytes:
    ihdr = struct.pack(">II5B", w, h, 8, color_type, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk))
        + b"\x00" * 16  # body irrelevant to the header parse
    )


def _jpeg(
    w: int,
    h: int,
    ncomp: int = 3,
    sof: int = 0xC0,
    fill: bool = False,
    pad_segments: int = 1,
) -> bytes:
    out = b"\xff\xd8"  # SOI
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    for _ in range(pad_segments):  # DQT-ish filler segments
        body = bytes(range(65))
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    if fill:  # fill bytes are legal before any marker
        out += b"\xff"
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp) + bytes(3 * ncomp)
    out += bytes([0xFF, sof]) + struct.pack(">H", len(sof_body) + 2)
    out += sof_body
    out += b"\xff\xda\x00\x08" + b"\x01\x01\x00\x00\x3f\x00"  # SOS
    return out + b"\x12\x34" + b"\xff\xd9"


FIXTURE = [
    (0, _png(640, 480, 2), (640, 480, 3)),
    (1, _png(31, 7, 0), (31, 7, 1)),
    (2, _png(9, 9, 6), (9, 9, 4)),
    (3, _png(5, 5, 7), None),  # unknown color type
    (4, _jpeg(1920, 1080), (1920, 1080, 3)),
    (5, _jpeg(64, 32, ncomp=1, sof=0xC2), (64, 32, 1)),  # progressive
    (6, _jpeg(300, 200, fill=True, pad_segments=3), (300, 200, 3)),
    (7, _jpeg(10, 10)[:12], None),  # truncated before SOF
    (8, b"plain text payload, not an image at all", None),
    (9, b"\xff\xd8" + b"\xff\xdb\x00\x02" + b"\xff\xd9", None),  # no SOF
    (10, b"\x89PNG\r\n\x1a\n" + b"\x00" * 4, None),  # truncated PNG
    # corrupt headers declaring dims >= 2^31: must NULL out on both
    # engines (Python would overflow Int32; SQL CAST would raise) —
    # round-9 ADVICE #3 / VERDICT next-round #4
    (11, _png(2**31, 32, 2), None),
    (12, _png(32, 2**32 - 1, 6), None),
    (13, _png(2**31 - 1, 1, 0), (2**31 - 1, 1, 1)),  # max legal dim
    (14, _jpeg(8, 8), (8, 8, 3)),
]


def test_image_dims_stdlib_parse():
    for _, payload, want in FIXTURE:
        assert multimodal.image_dims(payload) == want, payload[:16]


def test_binary_meta_dims_parity_spark_vs_duckdb(spark):
    """Engine mapInPandas path and the DuckDB recursive-CTE twin on
    the SAME real image bytes — full value parity including the
    NULL rows."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _, _ in FIXTURE],
            "payload": [p for _, p, _ in FIXTURE],
        }
    )
    sdf = spark.createDataFrame(
        [(int(d), bytearray(p)) for d, p, _ in FIXTURE],
        "doc_id LONG, payload BINARY",
    )
    got = {
        r.doc_id: (r.img_w, r.img_h, r.img_channels, r.byte_len)
        for r in multimodal.extract_binary_meta(sdf).collect()
    }
    for doc_id, payload, want in FIXTURE:
        dims = want if want else (None, None, None)
        assert got[doc_id] == (*dims, len(payload))

    con = duckdb.connect()
    con.register("fixture", pdf)
    sql = f"""
        WITH RECURSIVE pl AS (
            SELECT doc_id, hex(payload) AS hx FROM fixture
        ),
        {multimodal._img_dims_sql("pl")}
        SELECT f.doc_id, i.img_w, i.img_h, i.img_channels
        FROM fixture f LEFT JOIN img_dims i USING (doc_id)
        ORDER BY f.doc_id
    """
    for doc_id, w, h, ch in con.sql(sql).fetchall():
        assert (w, h, ch) == got[doc_id][:3], doc_id


def test_image_dims_vs_sql_twin_property(tmp_path):
    """Property check: on RANDOM (often malformed) JPEG-ish payloads,
    the Python segment walk and the DuckDB recursive-CTE twin agree
    row-for-row — including truncations, bogus lengths, fill bytes,
    standalone markers, and early SOS. No Spark needed: the twin runs
    on a registered pandas frame of raw bytes."""
    import random
    import struct

    import duckdb
    import pandas as pd

    rng = random.Random(0xD135)
    payloads = []
    for i in range(160):
        out = bytearray(b"\xff\xd8")
        for _ in range(rng.randrange(0, 6)):
            kind = rng.random()
            if kind < 0.15:
                out += b"\xff"  # stray fill byte
            elif kind < 0.3:
                out += bytes([0xFF, rng.choice([0x01, 0xD0, 0xD5, 0xD7])])
            elif kind < 0.45:  # bogus/hostile length field
                out += bytes([0xFF, 0xDB]) + struct.pack(
                    ">H", rng.choice([0, 1, 2, 65535])
                )
            else:  # well-formed filler segment
                body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 12)))
                out += bytes([0xFF, rng.choice([0xDB, 0xE0, 0xE1, 0xC4])])
                out += struct.pack(">H", len(body) + 2) + body
        if rng.random() < 0.7:  # sometimes a real SOF
            sof = rng.choice([0xC0, 0xC2, 0xC9])
            w, h, nc = rng.randrange(1, 5000), rng.randrange(1, 5000), rng.choice([1, 3, 4])
            body = struct.pack(">BHHB", 8, h, w, nc) + bytes(3 * nc)
            out += bytes([0xFF, sof]) + struct.pack(">H", len(body) + 2) + body
        if rng.random() < 0.5:
            out += b"\xff\xda\x00\x04\x01\x00" + bytes([rng.randrange(256)])
        if rng.random() < 0.3:  # random truncation
            out = out[: rng.randrange(2, max(3, len(out)))]
        payloads.append((i, bytes(out)))

    want = {i: multimodal.image_dims(p) for i, p in payloads}
    con = duckdb.connect()
    con.register(
        "fixture",
        pd.DataFrame(
            {"doc_id": [i for i, _ in payloads],
             "payload": [p for _, p in payloads]}
        ),
    )
    sql = f"""
        WITH RECURSIVE pl AS (
            SELECT doc_id, hex(payload) AS hx FROM fixture
        ),
        {multimodal._img_dims_sql("pl")}
        SELECT f.doc_id, i.img_w, i.img_h, i.img_channels
        FROM fixture f LEFT JOIN img_dims i USING (doc_id)
        ORDER BY f.doc_id
    """
    for doc_id, w, h, ch in con.sql(sql).fetchall():
        got = None if w is None else (w, h, ch)
        assert got == want[doc_id], (doc_id, got, want[doc_id])
