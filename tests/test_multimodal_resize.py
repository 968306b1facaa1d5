"""Resize plumbing: REAL pixel-level verification on hand-parseable BMP
payloads and quarantine semantics for codec-bound rows."""

from __future__ import annotations

import struct

from csv_crm_upload_spark.analytics import multimodal as mm
from csv_crm_upload_spark.sources.tables import load_table


def _pixel(payload: bytes, x: int, y: int) -> tuple[int, int, int]:
    off = struct.unpack_from("<I", payload, 10)[0]
    _, w, _h, _, _ = struct.unpack_from("<IiiHH", payload, 14)
    row_bytes = (w * 3 + 3) & ~3
    base = off + y * row_bytes + x * 3
    return tuple(payload[base : base + 3])


def test_resize_bmp_nearest_neighbor_exact():
    src = mm.synthesize_bmp(7, width=8, height=8)
    out = mm.resize_bmp(src, 4, 4)
    # re-decodable and correctly dimensioned
    w, h, bpp, _mean = mm.decode_media(out, "")
    assert (w, h, bpp) == (4.0, 4.0, 24.0)
    # nearest-neighbor: out(x, y) == src(x * 8 // 4, y * 8 // 4)
    for y in range(4):
        for x in range(4):
            assert _pixel(out, x, y) == _pixel(src, x * 2, y * 2), (x, y)


def test_resize_images_distributed_with_quarantine(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = mm.media_table_real(docs)
    out = mm.resize_images(media, out_w=4, out_h=4)
    rows = out.collect()
    assert len(rows) == 30
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    # every image resized for real; every non-BMP payload quarantined
    assert all(r["resize_ok"] for r in by_kind.get("image", []))
    for r in by_kind.get("image", []):
        assert mm.decode_media(bytes(r["resized"]), "")[:2] == [4.0, 4.0]
    for kind in ("audio", "video"):
        assert all(not r["resize_ok"] and r["resized"] is None for r in by_kind.get(kind, []))
