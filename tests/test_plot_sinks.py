"""Plot sinks (op L7): valid deterministic PNGs whose pixels match the
aggregates — decoded by an independent minimal PNG reader (stdlib zlib),
not by the writer's own code path."""

from __future__ import annotations

import struct
import zlib

import pytest

from lsh_forest_for_multi_vector_retrieval_spark.sinks import plots as P


def decode_png(data: bytes):
    """Independent minimal decoder: parse chunks, inflate IDAT, undo
    per-scanline filters (only type 0 is expected from the writer)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat, w = 8, b"", None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        assert crc == zlib.crc32(tag + body) & 0xFFFFFFFF
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert (depth, ctype) == (8, 2)
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    px = {}
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        assert row[0] == 0, "writer promises filter type 0"
        for x in range(w):
            px[(x, y)] = tuple(row[1 + 3 * x : 4 + 3 * x])
    return w, h, px


def test_png_roundtrip_exact_pixels(tmp_path):
    cv = P.Canvas(8, 4)
    cv.fill_rect(2, 1, 5, 2, P.RED)
    out = tmp_path / "rect.png"
    cv.save(str(out))
    w, h, px = decode_png(out.read_bytes())
    assert (w, h) == (8, 4)
    assert px[(2, 1)] == P.RED and px[(5, 2)] == P.RED
    assert px[(0, 0)] == P.WHITE and px[(6, 1)] == P.WHITE


def test_histogram_bins_distributed(spark):
    df = spark.createDataFrame([(float(i),) for i in range(10)], ["v"])
    bins = P.histogram_bins(df, "v", bins=2)
    assert [(lo, hi, n) for lo, hi, n in bins] == [(0.0, 4.5, 5), (4.5, 9.0, 5)]
    # weighted + constant-column degenerate cases
    wdf = spark.createDataFrame([(3.0, 4), (3.0, 6)], ["v", "w"])
    assert P.histogram_bins(wdf, "v", bins=5, weight_col="w") == [(3.0, 3.0, 10)]
    assert P.histogram_bins(df.where("v < 0"), "v") == []


def test_histogram_png_bar_heights(spark, tmp_path):
    # 2 values in bin 0, 8 in bin 1 -> right bar 4x the left bar's height
    df = spark.createDataFrame([(0.0,), (0.4,)] + [(1.0,)] * 8, ["v"])
    out = str(tmp_path / "h.png")
    P.histogram_png(df, "v", out, bins=2, width=200, height=150)
    w, h, px = decode_png(open(out, "rb").read())
    green_cols = {}
    for (x, y), c in px.items():
        if c == P.LIGHTGREEN:
            green_cols.setdefault(x, []).append(y)
    assert green_cols, "no bars rendered"
    heights = {x: max(ys) - min(ys) + 1 for x, ys in green_cols.items()}
    left = max(h for x, h in heights.items() if x < 100)
    right = max(h for x, h in heights.items() if x >= 100)
    assert right / left == pytest.approx(4.0, rel=0.15)


def test_determinism_byte_identical(spark, tmp_path):
    df = spark.createDataFrame([(float(i % 7),) for i in range(50)], ["v"])
    a, b = str(tmp_path / "a.png"), str(tmp_path / "b.png")
    P.histogram_png(df, "v", a, bins=7)
    P.histogram_png(df, "v", b, bins=7)
    assert open(a, "rb").read() == open(b, "rb").read()


def test_scatter_identity_has_red_diagonal(tmp_path):
    out = str(tmp_path / "s.png")
    P.scatter_identity_png(out, [0.0, 1.0, 2.0], [0.0, 1.5, 1.8],
                           width=200, height=200)
    _, _, px = decode_png(open(out, "rb").read())
    assert any(c == P.RED for c in px.values()), "identity line missing"
    assert any(c == P.BLUE for c in px.values()), "scatter markers missing"


def test_multi_line_series_colors_and_legend(tmp_path):
    out = str(tmp_path / "m.png")
    series = {
        "8x16": ([0.7, 0.8, 0.9], [0.99, 0.95, 0.60]),
        "16x8": ([0.7, 0.8, 0.9], [0.98, 0.97, 0.85]),
        "32x4": ([0.7, 0.8, 0.9], [0.99, 0.99, 0.97]),
    }
    P.multi_line_png(out, series, width=300, height=220)
    _, _, px = decode_png(open(out, "rb").read())
    for i in range(len(series)):
        color = P.SERIES_COLORS[i]
        assert any(c == color for c in px.values()), f"series {i} missing"
    # legend swatches stack top-left inside the frame, one per series
    swatch_ys = sorted({y for (x, y), c in px.items()
                        if x < 60 and c in P.SERIES_COLORS[:3]})
    assert len(swatch_ys) >= 6  # 3 swatches x >=2 rows each
    # determinism
    out2 = str(tmp_path / "m2.png")
    P.multi_line_png(out2, series, width=300, height=220)
    assert open(out, "rb").read() == open(out2, "rb").read()
    with pytest.raises(ValueError):
        P.multi_line_png(out, {})
    with pytest.raises(ValueError):
        P.multi_line_png(out, {"a": ([1.0], [1.0, 2.0])})


def test_line_and_trend_render(tmp_path):
    P.line_png(str(tmp_path / "l.png"), [0, 1, 2, 3], [1.0, 3.0, 2.0, 5.0])
    P.scatter_trend_png(str(tmp_path / "t.png"),
                        [0.0, 1.0, 2.0, 3.0], [0.1, 0.9, 2.1, 2.9])
    for name in ("l.png", "t.png"):
        w, h, _ = decode_png(open(str(tmp_path / name), "rb").read())
        assert (w, h) == (640, 480)


def test_heatmap_colors_match_cosine(tmp_path):
    out = str(tmp_path / "hm.png")
    # q0 == d0 (cos +1 -> red cell), q0 == -d1 (cos -1 -> blue cell)
    P.similarity_heatmap_png(out, [[1.0, 0.0]], [[1.0, 0.0], [-1.0, 0.0]],
                             gamma=2.0, cell=4)
    w, h, px = decode_png(open(out, "rb").read())
    assert (w, h) == (8, 4)
    assert px[(1, 1)] == (255, 0, 0)  # +1 -> pure red
    assert px[(5, 1)] == (0, 0, 255)  # -1 -> pure blue
    with pytest.raises(ValueError):
        P.similarity_heatmap_png(out, [[1.0, 0.0]] * 600, [[1.0, 0.0]])


def test_dedup_report_pngs_from_pipeline_run(spark, tmp_path):
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
    from lsh_forest_for_multi_vector_retrieval_spark.plans.pipeline import (
        dedup_pipeline,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        generate_pages,
    )

    corpus = str(tmp_path / "pages.parquet")
    generate_pages(spark, n_clusters=8, cluster_size=3, n_singletons=20,
                   seed=11).write.parquet(corpus)
    run = dedup_pipeline(corpus, str(tmp_path / "wd"), DedupConfig()).run(spark)
    written = P.dedup_report_pngs(str(tmp_path / "charts"), run=run, bins=8)
    # fixed-depth pipeline bands -> bucket_sizes (not forest_stats)
    assert set(written) == {"cluster_sizes", "jaccard_hist", "bucket_sizes"}
    for p in written.values():
        w, h, _ = decode_png(open(p, "rb").read())
        assert (w, h) == (640, 480)


def test_forest_statistics_png(spark, tmp_path):
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
    from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
        adaptive_band_table,
        with_signatures,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        generate_pages,
    )

    cfg = DedupConfig(
        use_adaptive_bands=True, adaptive_max_bucket=2, adaptive_max_extra_rows=3
    )
    pages = generate_pages(spark, n_clusters=10, cluster_size=3, n_singletons=30)
    sigs = with_signatures(pages.select("doc_id", "text"), cfg)
    bands = adaptive_band_table(sigs, cfg)
    out = str(tmp_path / "forest.png")
    P.forest_statistics_png(bands, out, bins=10, width=400, height=300)
    w, h, px = decode_png(open(out, "rb").read())
    assert (w, h) == (400, 300)
    assert any(c == P.LIGHTGREEN for c in px.values())
    assert any(c == P.SALMON for c in px.values())


def test_plot_scaling_artifact(tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plot_scaling import plot_scaling_artifact

    artifact = {
        "probe_gated": {"valid_pair_indices": [0, 2]},
        "pairwise_efficiency": [0.88, 0.30, 0.85],
        "all_samples": {"1": [200.0, 210.0, 205.0], "4": [57.0, 170.0, 60.0]},
        "runs": {
            "1": {"cpus": 1, "docs_per_sec": 1600.0},
            "4": {"cpus": 4, "docs_per_sec": 5400.0},
        },
    }
    written = plot_scaling_artifact(artifact, out_dir=str(tmp_path / "c"))
    assert [Path(p).name for p in written] == [
        "scaling_efficiency.png", "scaling_walls.png",
        "scaling_throughput.png"]
    for p in written:
        w, h, px = decode_png(open(p, "rb").read())
        assert (w, h) == (640, 480)
        # at least two series colors present in every panel
        assert any(c == P.SERIES_COLORS[0] for c in px.values())
        assert any(c == P.SERIES_COLORS[1] for c in px.values())
    # determinism across a second render
    again = plot_scaling_artifact(artifact, out_dir=str(tmp_path / "c2"))
    for a, b in zip(written, again):
        assert open(a, "rb").read() == open(b, "rb").read()


def test_font_lowercase_glyphs_render():
    cv = P.Canvas(120, 12)
    cv.text(2, 2, "measured/ideal valid", P.BLACK)
    # every glyph is 3x5 — a word must light up black pixels spanning
    # most of its width; blank (unknown) glyphs would leave gaps only
    black_cols = {x for x in range(120)
                  for y in range(12)
                  if cv.buf[(y * 120 + x) * 3] == 0
                  and cv.buf[(y * 120 + x) * 3 + 1] == 0}
    # 20 chars x 4px pitch, the two spaces and narrow glyphs leave gaps;
    # require coverage across the full span
    assert min(black_cols) <= 3 and max(black_cols) >= 70
    assert len(black_cols) >= 40


def test_hbar_and_plot_bench(tmp_path):
    import sys
    from pathlib import Path

    out = str(tmp_path / "b.png")
    P.hbar_png(out, {"dedup": 2.2, "plaid": 5.8, "exact": 0.18},
               width=320, height=200)
    w, h, px = decode_png(open(out, "rb").read())
    assert (w, h) == (320, 200)
    # bars are blue; the longest bar (plaid, 5.8) must reach near the
    # right edge while the shortest stays near the axis
    blue_x = [x for (x, y), c in px.items() if c == P.BLUE]
    assert max(blue_x) > 250 and min(blue_x) < 80
    with pytest.raises(ValueError):
        P.hbar_png(out, {})
    with pytest.raises(ValueError):
        P.hbar_png(out, {"a": -1.0})

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plot_bench import plot_bench_artifact

    artifact = {
        "queries": {"q1": 1.5, "q2": 0.3},
        "pass_probes": [32.1, 32.8],
        "pass_probes_post": [31.9, 32.0],
        "probe_gate": 28.8,
    }
    written = plot_bench_artifact(artifact, out_dir=str(tmp_path / "c"))
    assert [Path(p).name for p in written] == [
        "bench_queries.png", "bench_probes.png"]
    for p in written:
        decode_png(open(p, "rb").read())
    again = plot_bench_artifact(artifact, out_dir=str(tmp_path / "c2"))
    for a, b in zip(written, again):
        assert open(a, "rb").read() == open(b, "rb").read()


def test_numpy_inputs_and_nonfinite_dropped(tmp_path):
    """Review hardening: numpy arrays are valid inputs (len-based guard,
    not truthiness) and non-finite points drop instead of crashing the
    rasterizer with an opaque int-conversion error."""
    import numpy as np

    p = P.line_png(str(tmp_path / "np.png"),
                   np.array([1.0, 2.0, 3.0]), np.array([1.0, 4.0, 9.0]))
    assert decode_png(open(p, "rb").read())[0] == 640
    p2 = P.line_png(str(tmp_path / "nan.png"),
                    [0.0, 1.0, 2.0], [0.0, float("nan"), 2.0])
    assert decode_png(open(p2, "rb").read())[0] == 640
    P.scatter_identity_png(str(tmp_path / "inf.png"),
                           [0.0, 1.0, float("inf")], [0.0, 1.0, 2.0])
    with pytest.raises(ValueError, match="no finite points"):
        P.line_png(str(tmp_path / "allnan.png"),
                   [float("nan")], [float("nan")])


def test_histogram_bins_drop_nan_and_round_weights(spark):
    """One NaN (0/0 ratio) must not poison min/max into NaN bin edges,
    and fractional weights round instead of flooring to zero."""
    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (float("nan"),)], "v double"
    )
    rows = P.histogram_bins(df, "v", bins=2)
    # NaN dropped: edges are finite and only {0},{1,2} are counted
    assert rows == [(0.0, 1.0, 1), (1.0, 2.0, 2)]
    wdf = spark.createDataFrame(
        [(0.0, 0.45), (0.0, 0.45)], "v double, w double"
    )
    # constant column, weights sum to 0.9 -> rounds to 1, not floors to 0
    assert P.histogram_bins(wdf, "v", bins=5, weight_col="w") == [(0.0, 0.0, 1)]


def test_hbar_many_items_no_band_inversion(tmp_path):
    """200 bars at default height: bands are ~2px; bars must not invert
    and bleed across neighbors (labels are dropped below ~7px bands)."""
    items = {f"q{i}": float(i % 7 + 1) for i in range(200)}
    p = P.hbar_png(str(tmp_path / "many.png"), items)
    w, h, px = decode_png(open(p, "rb").read())
    assert (w, h) == (640, 480)
    # the largest value rows must contain blue pixels; background white
    assert any(v == P.BLUE for v in px.values())


def test_font_underscore_and_uppercase_render(tmp_path):
    """'_' has a real glyph and uppercase falls back to the lowercase
    glyph instead of a blank."""
    c1 = P.Canvas(40, 10)
    c1.text(1, 1, "a_b")
    c2 = P.Canvas(40, 10)
    c2.text(1, 1, "a b")
    assert c1.to_png() != c2.to_png()
    c3 = P.Canvas(40, 10)
    c3.text(1, 1, "ABC")
    c4 = P.Canvas(40, 10)
    c4.text(1, 1, "abc")
    assert c3.to_png() == c4.to_png()
