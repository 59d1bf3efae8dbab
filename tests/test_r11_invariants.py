"""Behavioral laws for the round-11 review findings: empty query sets
and malformed image payloads must produce the oracle's answer or a loud
error, never a manufactured row."""

from __future__ import annotations


def test_probe_cost_empty_query_set_emits_no_rows(spark):
    """r11 review finding: with an empty QUERY set each probe-width leg
    must emit ZERO rows exactly like the DuckDB twin's GROUP BY over
    zero input — a global agg would manufacture an n_queries=0 row the
    oracle doesn't have (and a NaN scan_frac with it)."""
    from end_to_end_sales_etl_de_project_spark.operators import similarity

    emb = spark.createDataFrame(
        [(100 + i, [float(i % 5 - 2) / 8] * similarity.DIM, 1) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = similarity.ivf_train(emb, 4)
    out = similarity.ivf_probe_cost(
        emb, emb.filter("vec_id < 8"), centroids=cents
    )
    assert out.count() == 0


def test_pure_bmp_decoder_rejects_out_of_palette_pixels(spark):
    """r11 review finding: a BMP whose raster indexes beyond its
    declared palette must route to the fallback seam (decode -> None),
    never die with a raw IndexError inside the worker."""
    import struct

    from end_to_end_sales_etl_de_project_spark.operators.multimodal import (
        _pure_gray_decoder,
    )

    # 2-entry palette, but a raster byte of 5
    pal = bytes((0, 0, 0, 0)) + bytes((255, 255, 255, 0))
    rows = bytes([5, 0, 0, 0])  # 1px wide, stride-padded
    off = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, len(rows), 0, 0, 2, 0)
    assert _pure_gray_decoder()(hdr + info + pal + rows) is None
