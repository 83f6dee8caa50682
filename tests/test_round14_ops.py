"""Round-14 additions: ADVICE fixes, quota-stream state retention,
occupancy-driven RP-LSH bits, bench ambient calibration, 16-bit +
Adam7-interlaced PNG decode, and the join-plan CLI verb."""
import pytest


def _chunk(cid, body):
    pad = b"\x00" if len(body) % 2 else b""
    return cid + len(body).to_bytes(4, "little") + body + pad


def _lst(kind, body):
    return _chunk(b"LIST", kind + body)


class TestAviStrayStrf:
    def test_stray_second_strf_not_reinterpreted(self):
        """ADVICE r13: a stray second strf following a consumed vids
        strh must not be re-read as the video format header — a junk
        32-bpp strf after a valid 24-bpp one must not gate an
        otherwise-decodable stream."""
        from snowflake_to_postgres_spark.operators.multimodal import (
            _decode_avi_frames,
        )
        from tests.test_round12_ops import make_avi

        w, h = 4, 3
        rgb = bytes(((x * 7 + y * 5 + c) & 0xFF)
                    for y in range(h) for x in range(w) for c in range(3))
        good = make_avi(w, h, [rgb])
        # rebuild with an strl carrying strh(vids) + valid 24-bpp strf
        # + a stray junk strf claiming 32 bpp
        avih = bytearray(56)
        avih[32:36] = w.to_bytes(4, "little")
        avih[36:40] = h.to_bytes(4, "little")
        strf24 = bytearray(40)
        strf24[14:16] = (24).to_bytes(2, "little")
        strf_junk = bytearray(40)
        strf_junk[14:16] = (32).to_bytes(2, "little")
        row_bytes = (w * 3 + 3) // 4 * 4
        dib = bytearray(row_bytes * h)
        for y in range(h):
            for x in range(w):
                s = (y * w + x) * 3
                d = (h - 1 - y) * row_bytes + x * 3
                dib[d], dib[d + 1], dib[d + 2] = rgb[s + 2], rgb[s + 1], rgb[s]
        body = _lst(
            b"hdrl",
            _chunk(b"avih", bytes(avih))
            + _lst(
                b"strl",
                _chunk(b"strh", b"vids" + bytes(52))
                + _chunk(b"strf", bytes(strf24))
                + _chunk(b"strf", bytes(strf_junk)),  # stray — must be ignored
            ),
        ) + _lst(b"movi", _chunk(b"00db", bytes(dib)))
        avi = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"AVI " + body
        gw, gh, frames = _decode_avi_frames(avi)
        assert (gw, gh) == (w, h)
        assert frames == [rgb]
        # sanity: the unmodified encoder's output still round-trips
        assert _decode_avi_frames(good)[2] == [rgb]


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def make_png_v2(w, h, samples, colortype=2, bitdepth=8, interlace=0,
                filters=None):
    """General test-only PNG encoder: 8/16-bit, sequential or Adam7.
    ``samples`` is a list of per-channel integer sample values in
    scanline order (length w*h*nch), each < 2**bitdepth. Filters cycle
    0-4 per emitted scanline by default (across ALL passes when
    interlaced, so every pass exercises several filters)."""
    import struct
    import zlib

    from tests.test_round12_ops import _chunk, _filter_line

    nch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
    sampbytes = bitdepth // 8
    fu = nch * sampbytes
    assert len(samples) == w * h * nch

    def pixel_bytes(x, y):
        out = bytearray()
        for c in range(nch):
            v = samples[(y * w + x) * nch + c]
            out += v.to_bytes(sampbytes, "big")
        return bytes(out)

    raw = bytearray()
    row_no = 0
    if interlace == 0:
        grids = [[(x, y) for x in range(w)] for y in range(h)]
        grids = [grids]
    else:
        grids = []
        for x0, y0, dx, dy in _ADAM7:
            rows = [
                [(x, y) for x in range(x0, w, dx)]
                for y in range(y0, h, dy)
            ]
            rows = [r for r in rows if r]
            if rows:
                grids.append(rows)
    for rows in grids:
        prev = bytes(len(rows[0]) * fu)
        for coords in rows:
            line = b"".join(pixel_bytes(x, y) for x, y in coords)
            fl = filters or [0, 1, 2, 3, 4]
            f = fl[row_no % len(fl)]
            row_no += 1
            raw.append(f)
            raw += _filter_line(f, line, prev, fu)
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, bitdepth, colortype, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


class TestPng16BitAndAdam7:
    """Round-14 ask #6: 16-bit and Adam7-interlaced PNG decode on the
    existing numpy scanline pipeline — the last non-exotic web-crawl
    shapes; only sub-byte depths remain gated."""

    def _rgb(self, w, h):
        return [
            v
            for y in range(h)
            for x in range(w)
            for v in ((x * 255) // max(1, w - 1),
                      (y * 255) // max(1, h - 1), (x ^ y) & 0xFF)
        ]

    def test_16bit_rgb_roundtrip_all_filters(self):
        from snowflake_to_postgres_spark.operators.multimodal import _decode_png

        w, h = 11, 10
        rgb8 = self._rgb(w, h)
        # v*257 widening: high byte == v exactly, so decode == the 8-bit twin
        s16 = [v * 257 for v in rgb8]
        for filters in ([0], [1], [2], [3], [4], None):
            got = _decode_png(make_png_v2(w, h, s16, 2, 16, 0, filters))
            assert got == (w, h, bytes(rgb8)), f"filters={filters}"
        # non-uniform low bytes must not leak into the 8-bit reduction
        s16_noisy = [v * 256 + ((i * 37) & 0xFF) for i, v in enumerate(rgb8)]
        got = _decode_png(make_png_v2(w, h, s16_noisy, 2, 16))
        assert got == (w, h, bytes(rgb8))

    def test_16bit_gray_and_alpha_normalize(self):
        from snowflake_to_postgres_spark.operators.multimodal import _decode_png

        w, h = 7, 5
        gray = [(x * 37 + y * 11) & 0xFF for y in range(h) for x in range(w)]
        want = bytes(v for g in gray for v in (g, g, g))
        got = _decode_png(make_png_v2(w, h, [g * 257 for g in gray], 0, 16))
        assert got == (w, h, want)
        ga = [v for g in gray for v in (g * 257, 0x8000)]
        assert _decode_png(make_png_v2(w, h, ga, 4, 16)) == (w, h, want)
        rgb = self._rgb(w, h)
        rgba = [
            v * 257
            for i in range(w * h)
            for v in (rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2], 0x33)
        ]
        assert _decode_png(make_png_v2(w, h, rgba, 6, 16)) == (w, h, bytes(rgb))

    @pytest.mark.parametrize("w,h", [(16, 16), (11, 10), (8, 8), (5, 3),
                                     (3, 5), (2, 2), (1, 1), (1, 9), (9, 1)])
    def test_adam7_roundtrip_matches_sequential(self, w, h):
        """Adam7 and sequential encodings of the same pixels decode
        identically — including sizes where several passes are empty
        (w or h below the pass origins)."""
        from snowflake_to_postgres_spark.operators.multimodal import _decode_png

        rgb = self._rgb(w, h)
        seq = _decode_png(make_png_v2(w, h, rgb, 2, 8, 0))
        lace = _decode_png(make_png_v2(w, h, rgb, 2, 8, 1))
        assert seq == lace == (w, h, bytes(rgb))

    def test_adam7_16bit_combined_and_palette_interlaced(self):
        from snowflake_to_postgres_spark.operators.multimodal import _decode_png
        from tests.test_round12_ops import _chunk

        w, h = 13, 9
        rgb = self._rgb(w, h)
        got = _decode_png(make_png_v2(w, h, [v * 257 for v in rgb], 2, 16, 1))
        assert got == (w, h, bytes(rgb))
        # interlaced 8-bit palette: encode the index plane as an Adam7
        # gray PNG, then patch colortype 0 -> 3 and splice a PLTE chunk
        # in after IHDR

        palette = [(i * 7 & 255, i * 13 & 255, i * 29 & 255) for i in range(16)]
        indices = [(x * 3 + y * 5) % 16 for y in range(h) for x in range(w)]
        body = make_png_v2(w, h, indices, 0, 8, 1)  # encode as gray plane
        # patch colortype 0 -> 3 and splice PLTE before IDAT
        ba = bytearray(body)
        ba[25] = 3  # IHDR colortype byte (8 sig + 8 len/type + 9 offset)
        plte = _chunk(b"PLTE", bytes(v for rgb3 in palette for v in rgb3))
        ihdr_end = 8 + 12 + 13
        patched = bytes(ba[:ihdr_end]) + plte + bytes(ba[ihdr_end:])
        got = _decode_png(patched)
        want = bytes(v for i in indices for v in palette[i])
        assert got == (w, h, want)

    def test_adam7_truncated_pass_raises(self):
        import struct
        import zlib

        from snowflake_to_postgres_spark.operators.multimodal import _decode_png
        from tests.test_round12_ops import _chunk

        w, h = 9, 9
        good = make_png_v2(w, h, self._rgb(w, h), 2, 8, 1)
        # re-deflate with the last pass's final scanline dropped
        raw = bytearray()
        # decode the IDAT payload of `good`
        pos, idat = 8, bytearray()
        while pos + 8 <= len(good):
            (length,) = struct.unpack(">I", good[pos:pos + 4])
            if good[pos + 4:pos + 8] == b"IDAT":
                idat += good[pos + 8:pos + 8 + length]
            pos += 12 + length
        full = zlib.decompress(bytes(idat))
        bad_raw = full[: len(full) - (w * 3 + 1)]
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
            + _chunk(b"IDAT", zlib.compress(bad_raw))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="truncated"):
            _decode_png(bad)

    def test_dhash_parity_interlaced_vs_sequential(self):
        """The dhash of an image must not depend on its PNG encoding —
        the palette-twin discipline applied to Adam7 and 16-bit."""
        from snowflake_to_postgres_spark.operators.multimodal import (
            _decode_pixels,
            _dhash64_pixels,
        )

        w, h = 24, 18
        rgb = self._rgb(w, h)
        variants = [
            make_png_v2(w, h, rgb, 2, 8, 0),
            make_png_v2(w, h, rgb, 2, 8, 1),
            make_png_v2(w, h, [v * 257 for v in rgb], 2, 16, 0),
            make_png_v2(w, h, [v * 257 for v in rgb], 2, 16, 1),
        ]
        hashes = set()
        for v in variants:
            gw, gh, pix = _decode_pixels(v)
            assert (gw, gh, pix) == (w, h, bytes(rgb))
            hashes.add(_dhash64_pixels(gw, gh, pix))
        assert len(hashes) == 1


class TestBpeFertility:
    """Per-source tokenizer fertility: invariants + exact consistency
    with the global tokenize stats (same trained merges, re-weighted)."""

    def test_invariants_and_global_consistency(self, spark, sf_dir):
        from snowflake_to_postgres_spark.operators.bpe import (
            tx_bpe_fertility,
            tx_bpe_tokenize,
        )

        rows = tx_bpe_fertility(spark, sf_dir).collect()
        assert rows and len({r["source"] for r in rows}) == len(rows)
        for r in rows:
            # every word is at least one piece; every piece at least one
            # char-symbol (EOW included on both sides of the ratio)
            assert r["pieces_per_word_ppm"] >= 1_000_000, r
            assert r["chars_per_piece_ppm"] >= 1_000_000, r
            assert r["n_pieces"] >= r["n_words"]
        # Σ_src Σ_w freq_src·pieces(w) == Σ_w freq_global·pieces(w):
        # the per-source weighting must re-partition the global mass
        tok = tx_bpe_tokenize(spark, sf_dir).collect()[0]
        assert sum(r["n_pieces"] for r in rows) == tok["symbols_after"]


class TestLayoutIndependence:
    """Round-14 ask #1's correctness leg: query results must not depend
    on the physical parquet layout. make_multisplit rewrites sf0.001
    into the many-files/many-row-groups twin and a representative query
    slice (order-sensitive candidates on purpose: deterministic
    sampling, keyed pagination, space-filling-curve layout, window
    ranks, LSH banding) must return identical rows."""

    def test_queries_identical_on_multisplit_twin(self, spark, sf_dir, tmp_path):
        import sys as _sys
        from pathlib import Path as _Path

        _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
        from make_multisplit import rewrite

        from snowflake_to_postgres_spark.registry import queries

        dst = str(tmp_path / "msplit")
        rewrite(sf_dir, dst, 4, 3)
        qs = queries()
        for name in (
            "s10_deterministic_sample",
            "p5_offset_pagination",
            "layout_zorder",
            "w1_topk_per_group",
            "dedup_minhash_lsh_pairs",
            "q1_pricing_summary",
            "st_windowed_agg",
            "diag_join_plan",
        ):
            a = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
            b = sorted(map(tuple, qs[name](spark, dst).collect()))
            assert a == b, f"{name}: layout changed the result"


class TestDiagJoinPlan:
    """The registered decision-layer twin of the join-plan CLI verb
    (oracle parity runs in test_oracle_parity; this pins the branch
    semantics on the fixture)."""

    def test_fixture_pairs_and_skew_visibility(self, spark, sf_dir):
        from snowflake_to_postgres_spark.operators.analytics_ext import (
            JOIN_PLAN_BROADCAST_ROWS,
            diag_join_plan,
        )

        rows = {r["pair"]: r for r in diag_join_plan(spark, sf_dir).collect()}
        assert set(rows) == {
            "supplier_lineitem", "orders_lineitem", "customer_events",
        }
        for r in rows.values():
            # at fixture SFs every pair has a side under the cutoff
            assert min(r["left_rows"], r["right_rows"]) <= JOIN_PLAN_BROADCAST_ROWS
            assert r["recommendation"] == "broadcast"
            small = "left" if r["left_rows"] <= r["right_rows"] else "right"
            assert r["broadcast_side"] == small
        # the events side carries the fixture's planted hot keys (the
        # same threshold diag_salt_plan's CLI test pins non-empty)
        assert rows["customer_events"]["hot_right"] >= 1
        # TPC-H uniform keys: no hot keys on either join side
        assert rows["orders_lineitem"]["hot_left"] == 0
        assert rows["orders_lineitem"]["hot_right"] == 0


class TestJoinPlanCli:
    """Round-14 ask #7: the a24/a27 CMS join-size sketches get a
    consumer — `join-plan` reads two key columns, runs the sketch, and
    recommends broadcast / salt / shuffle with the never-undercounting
    pair bound."""

    def _write(self, spark, tmp_path, name, keys):
        path = str(tmp_path / name)
        spark.createDataFrame([(k,) for k in keys], ["jk"]).coalesce(
            2
        ).write.parquet(path)
        return path

    def test_small_side_recommends_broadcast(self, spark, tmp_path, capsys):
        import json

        from snowflake_to_postgres_spark.cli import main

        dim = self._write(spark, tmp_path, "dim", list(range(50)))
        fact = self._write(
            spark, tmp_path, "fact", [i % 50 for i in range(5000)]
        )
        rc = main([
            "join-plan", "--left", dim, "--left-key", "jk",
            "--right", fact, "--right-key", "jk",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert out["recommendation"] == "broadcast"
        assert out["broadcast_side"] == "left"
        assert out["left_rows"] == 50 and out["right_rows"] == 5000
        assert out["never_undercounts"] is True
        assert out["cms_estimate_pairs"] >= out["exact_pairs"] == 5000

    def test_planted_hot_key_recommends_salt(self, spark, tmp_path, capsys):
        import json

        from snowflake_to_postgres_spark.cli import main
        from snowflake_to_postgres_spark.operators.analytics_ext import (
            SALT_PLAN_SHARE_PPM,
        )

        # right side: 40% of rows share one key — far above the
        # SALT_PLAN_SHARE_PPM threshold; both sides above the (lowered)
        # broadcast cutoff
        left = self._write(spark, tmp_path, "l", [i % 200 for i in range(2000)])
        right = self._write(
            spark, tmp_path, "r",
            [7] * 800 + [i % 190 for i in range(1200)],
        )
        rc = main([
            "join-plan", "--left", left, "--left-key", "jk",
            "--right", right, "--right-key", "jk",
            "--broadcast-rows", "100",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert out["recommendation"] == "salt"
        assert out["broadcast_side"] is None
        hot = {r["k"]: r for r in out["hot_keys_right"]}
        assert 7 in hot
        assert hot[7]["share_ppm"] > SALT_PLAN_SHARE_PPM
        assert hot[7]["salt_buckets"] >= 2  # 40% share over 32-way plan
        assert out["never_undercounts"] is True

    def test_uniform_big_sides_recommend_shuffle(self, spark, tmp_path, capsys):
        import json

        from snowflake_to_postgres_spark.cli import main

        left = self._write(spark, tmp_path, "lu", [i % 500 for i in range(2000)])
        right = self._write(spark, tmp_path, "ru", [i % 500 for i in range(2000)])
        rc = main([
            "join-plan", "--left", left, "--left-key", "jk",
            "--right", right, "--right-key", "jk",
            "--broadcast-rows", "100",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert out["recommendation"] == "shuffle"
        assert out["hot_keys_left"] == [] and out["hot_keys_right"] == []


from hypothesis import given, settings
from hypothesis import strategies as st


class TestPngPropertyRound14:
    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 11),
        colortype=st.sampled_from([0, 2, 4, 6]),
        bitdepth=st.sampled_from([8, 16]),
        interlace=st.sampled_from([0, 1]),
        data=st.data(),
    )
    def test_png_roundtrip_random_16bit_adam7(
        self, w, h, colortype, bitdepth, interlace, data
    ):
        """encode→decode identity over the round-14 shape grid: random
        pixels, random per-row filters, 8/16-bit × sequential/Adam7."""
        from snowflake_to_postgres_spark.operators.multimodal import _decode_png

        nch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
        vals8 = data.draw(
            st.lists(st.integers(0, 255), min_size=w * h * nch,
                     max_size=w * h * nch)
        )
        lows = (
            data.draw(st.lists(st.integers(0, 255), min_size=w * h * nch,
                               max_size=w * h * nch))
            if bitdepth == 16
            else None
        )
        samples = (
            [v * 256 + lo for v, lo in zip(vals8, lows)]
            if bitdepth == 16
            else vals8
        )
        filters = data.draw(st.lists(st.integers(0, 4), min_size=5, max_size=5))
        gw, gh, rgb = _decode_png(
            make_png_v2(w, h, samples, colortype, bitdepth, interlace, filters)
        )
        assert (gw, gh) == (w, h)
        want = bytearray()
        for i in range(w * h):
            s = i * nch
            if colortype in (0, 4):
                want += bytes((vals8[s],) * 3)
            else:
                want += bytes(vals8[s : s + 3])
        assert rgb == bytes(want)


class TestAmbientCalibration:
    """Round-14 ask #5: the bench drift detector normalizes by a
    3-key calibration probe, so a uniform machine-day slowdown reads
    "stable" while a key-local regression still fires."""

    def test_uniform_slowdown_normalizes_to_stable(self):
        import bench

        committed = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 1.5}
        per_query = {k: v * 1.3 for k, v in committed.items()}  # machine day
        calib = {k: 1.3 for k in bench.CALIBRATION_KEYS}
        amb = bench.ambient_factor(calib, {k: 1.0 for k in calib})
        assert amb == 1.3
        r = bench.assess_drift(per_query, committed, amb)
        assert r["geomean_raw"] == 1.3
        assert r["direction"] == "stable"
        assert r["suspect"] is False
        # without the probe the same run would (wrongly) flag
        raw = bench.assess_drift(per_query, committed)
        assert raw["suspect"] is True

    def test_single_key_regression_still_fires(self):
        import bench

        committed = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0}
        per_query = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 3.0}  # code regression
        calib = {k: 1.0 for k in bench.CALIBRATION_KEYS}
        amb = bench.ambient_factor(calib, {k: 1.0 for k in calib})
        assert amb == 1.0
        r = bench.assess_drift(per_query, committed, amb)
        assert r["direction"] == "slower"
        assert r["suspect"] is True
        # normalized equals raw when the machine is steady
        assert r["geomean"] == r["geomean_raw"]

    def test_partial_probe_is_no_probe(self):
        import bench

        calib = {bench.CALIBRATION_KEYS[0]: 1.0}  # two keys missing
        assert bench.ambient_factor(calib, calib) is None
        assert bench.ambient_factor({}, {}) is None
        # ambient=None leaves the detector exactly as before
        r = bench.assess_drift({"a": 1.3}, {"a": 1.0}, None)
        assert r["geomean"] == r["geomean_raw"] == 1.3
        assert r["suspect"] is True


class TestRpAutoBits:
    """Round-14 ask #3: the occupancy rule (tools/rp_ladder.py) applied
    AUTOMATICALLY — bits derived from a bounded corpus count instead of
    the hand-picked RP_BITS constant; the registered query keeps its
    pinned rung."""

    def test_bits_rise_with_corpus_per_occupancy_rule(self):
        from snowflake_to_postgres_spark.operators.similarity import (
            RP_BITS_MAX,
            RP_TABLES,
            rp_auto_bits,
        )

        # the fixture rungs the ladder measured: 500 vectors → the
        # shipped bits=6 config, 2000 → the measured bits=8 rung
        assert rp_auto_bits(500) == 6
        assert rp_auto_bits(2000) == 8
        # growth: monotone non-decreasing, log2-paced, capped
        prev = 0
        for n in (10, 100, 1_000, 10_000, 10**6, 10**9, 10**12):
            b = rp_auto_bits(n)
            assert b >= prev
            prev = b
        assert rp_auto_bits(10**9) == 27
        assert rp_auto_bits(10**12) == RP_BITS_MAX
        # tiny corpora: hyperplane budget (2·bits·tables ≤ N) and the
        # degenerate floor hold
        for n in (1, 3, 8, 40):
            b = rp_auto_bits(n)
            assert 1 <= b
            assert 2 * b * RP_TABLES <= max(n, 2 * RP_TABLES)

    def _auto_recall(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.operators import similarity as sim

        comp = sim._components(spark, sf_dir)
        truth = (
            sim.sim_topk_bruteforce(spark, sf_dir)
            .filter(F.col("rank") <= sim.ANN_EVAL_K)
            .select("qid", "neighbor_id")
        )
        n_queries = truth.select("qid").distinct().count()
        topk = sim._rank_candidates(
            comp, sim.rp_lsh_candidates(comp, bits=None), k=3
        ).filter(F.col("rank") <= sim.ANN_EVAL_K)
        hits = truth.join(
            topk.select("qid", "neighbor_id"), ["qid", "neighbor_id"],
            "left_semi",
        ).count()
        n_vec = comp.select("vec_id").distinct().count()
        return hits / (n_queries * sim.ANN_EVAL_K), n_vec

    def test_auto_bits_hold_recall_at_sf001_and_sf01(self, spark):
        from snowflake_to_postgres_spark.operators import similarity as sim

        # sf0.01 (500 vectors): auto resolves to the shipped rung
        recall, n = self._auto_recall(spark, "/root/testdata/sf0.01")
        assert sim.rp_auto_bits(n) == 6
        assert recall >= sim.ANN_RECALL_BAR
        # sf0.1 (2000 vectors): auto climbs to the measured bits=8 rung
        recall, n = self._auto_recall(spark, "/root/testdata/sf0.1")
        assert sim.rp_auto_bits(n) == 8
        assert recall >= sim.ANN_RECALL_BAR


class TestQuotaStreamRetention:
    """Round-14 ask #4 / ADVICE r13: state partitions older than the
    immediate prior batch are pruned after each commit, so a long-lived
    stream's state listing stays O(1) instead of O(#batches) — without
    giving up replay idempotence or cross-batch quota correctness."""

    def _drain(self, spark, sf_dir, tmp_path, quota, n_chunks):
        import os

        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.sources import load_table
        from snowflake_to_postgres_spark.streaming.pipeline import (
            quota_sample_stream,
        )

        docs = load_table(spark, sf_dir, "documents")
        src = str(tmp_path / "src")
        chunked = docs.withColumn(
            "chunk", F.abs(F.hash("doc_id")) % n_chunks
        )
        for c in range(n_chunks):
            chunked.filter(F.col("chunk") == c).drop("chunk").coalesce(
                1
            ).write.parquet(f"{src}/chunk{c:02d}.parquet")

        def make_stream():
            return (
                spark.readStream.schema(docs.schema)
                .format("parquet")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .load(src)
            )

        out, state, ckpt = (
            str(tmp_path / "out"),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
        )
        quota_sample_stream(
            spark, sf_dir, out, state, ckpt, docs=make_stream(), quota=quota
        )
        return docs, out, state, ckpt, make_stream

    def test_long_drain_bounded_state_and_idempotent_replay(
        self, spark, sf_dir, tmp_path
    ):
        import os

        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.streaming.pipeline import (
            quota_sample_stream,
        )

        quota, n_chunks = 3, 22
        docs, out, state, ckpt, make_stream = self._drain(
            spark, sf_dir, tmp_path, quota, n_chunks
        )
        batches = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(out)
            if d.startswith("batch=")
        )
        assert len(batches) >= 20, "drain did not produce ≥20 micro-batches"
        # retention: at most the current + immediate-prior state partitions
        state_dirs = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(state)
            if d.startswith("batch=")
        )
        assert state_dirs == batches[-2:], state_dirs
        # quota still enforced across the WHOLE stream despite pruning
        kept = spark.read.parquet(out)
        per_src = {
            r["source"]: r["n"]
            for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        totals = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        for s, n_total in totals.items():
            assert per_src.get(s, 0) == min(quota, n_total), s
        # restart with the same checkpoint: no new batches, nothing changes
        before = sorted(tuple(r) for r in kept.collect())
        state_before = sorted(
            tuple(r) for r in spark.read.parquet(state).collect()
        )
        quota_sample_stream(
            spark, sf_dir, out, state, ckpt, docs=make_stream(), quota=quota
        )
        assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == before
        assert (
            sorted(tuple(r) for r in spark.read.parquet(state).collect())
            == state_before
        )
        assert sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(state)
            if d.startswith("batch=")
        ) == state_dirs


class TestQualityClassifier:
    """tx_quality_classifier / tx_quality_calibration (round-14 widening):
    the fixed-point GD trainer must be bit-deterministic (numpy twin,
    partition invariance) and must actually LEARN (beat the majority
    class where the corpus supports it)."""

    @staticmethod
    def _feats_numpy(sfdir):
        import duckdb
        import numpy as np

        from snowflake_to_postgres_spark.operators.text import (
            QL_DIM,
            _ql_feats_cte,
        )

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sfdir}/documents.parquet')"
        )
        cols = ", ".join([f"x{i}" for i in range(QL_DIM)] + ["yf"])
        f = con.execute(
            _ql_feats_cte() + f" SELECT {cols} FROM feats ORDER BY doc_id"
        ).fetchnumpy()
        X = np.stack(
            [f[f"x{i}"].astype(np.int64) for i in range(QL_DIM)], axis=1
        )
        return X, f["yf"].astype(np.int64)

    @staticmethod
    def _train_numpy(X, Y, rounds):
        import math

        import numpy as np

        n = len(Y)
        w = np.zeros(X.shape[1], dtype=np.int64)
        for _ in range(rounds):
            mr = (X @ w).astype(np.float64) / 1e12
            p = 0.5 + 0.5 * mr / (1.0 + np.abs(mr))
            pf = np.floor(p * 1e6 + 0.5).astype(np.int64)
            grad = ((pf - Y)[:, None] * X).sum(axis=0)
            w = w - np.array(
                [math.floor(float(g) / (n * 1e6) + 0.5) for g in grad],
                dtype=np.int64,
            )
        return [int(v) for v in w]

    def test_weights_match_numpy_reference(self, spark, sf_dir):
        """The Spark trainer's fixed-point weights equal an independent
        numpy implementation of the same semantics EXACTLY — the
        determinism contract (decimal gradient sums, gridded sigmoid,
        mirrored update rounding) has no float-accumulation slack."""
        from snowflake_to_postgres_spark.operators.text import (
            QL_ROUNDS,
            _quality_features,
            train_quality_logreg,
        )

        feats = _quality_features(spark, sf_dir)
        w_spark, n = train_quality_logreg(feats)
        X, Y = self._feats_numpy(sf_dir)
        assert n == len(Y)
        assert w_spark == self._train_numpy(X, Y, QL_ROUNDS)

    def test_partition_invariance(self, spark, sf_dir):
        """DECIMAL(38,0) gradient accumulation is order-independent:
        retraining over an adversarial repartition yields bit-identical
        weights (a float-double accumulator would not survive this)."""
        from snowflake_to_postgres_spark.operators.text import (
            _quality_features,
            train_quality_logreg,
        )

        feats = _quality_features(spark, sf_dir)
        w1, _ = train_quality_logreg(feats)
        w2, _ = train_quality_logreg(feats.repartition(13))
        assert w1 == w2

    def test_learns_above_majority(self, spark):
        """At sf0.01 (labels 318/182) the probe must beat the majority
        class by a real margin — the round-1 all-zero-weights trainer
        predicts p=0.5 everywhere, so this pins that GD actually moved
        the boundary, not just matched an oracle."""
        from snowflake_to_postgres_spark.operators.text import (
            tx_quality_calibration,
        )

        rows = tx_quality_calibration(spark, "/root/testdata/sf0.01").collect()
        n = sum(r["n"] for r in rows)
        n_pos = sum(r["n_pos"] for r in rows)
        n_correct = sum(r["n_correct"] for r in rows)
        majority = max(n_pos, n - n_pos) / n
        assert n_correct / n >= majority + 0.15, (n_correct / n, majority)

    def test_calibration_table_consistency(self, spark, sf_dir):
        """Decile table invariants: deciles within [0,9], counts
        partition the corpus, n_pos/n_correct bounded by n, mean_p
        inside its decile band (±1e-6 for the p=1.0 snap into 9)."""
        from snowflake_to_postgres_spark.operators.text import (
            _quality_features,
            tx_quality_calibration,
        )

        rows = tx_quality_calibration(spark, sf_dir).collect()
        n_docs = _quality_features(spark, sf_dir).count()
        assert sum(r["n"] for r in rows) == n_docs
        for r in rows:
            assert 0 <= r["decile"] <= 9
            assert 0 <= r["n_pos"] <= r["n"]
            assert 0 <= r["n_correct"] <= r["n"]
            lo, hi = r["decile"] * 0.1, (r["decile"] + 1) * 0.1
            hi = 1.0 + 1e-6 if r["decile"] == 9 else hi
            assert lo - 1e-6 <= r["mean_p"] <= hi + 1e-6, (r["decile"], r["mean_p"])

    def test_classifier_output_shape(self, spark, sf_dir):
        """Model frame: one row per feature, weight = weight_fp/1e6."""
        from snowflake_to_postgres_spark.operators.text import (
            QL_FEATURES,
            tx_quality_classifier,
        )

        rows = {r["feature"]: r for r in tx_quality_classifier(spark, sf_dir).collect()}
        assert set(rows) == set(QL_FEATURES)
        for r in rows.values():
            assert r["weight"] == r["weight_fp"] / 1e6


class TestKnLmScore:
    """tx_kn_lm_score: interpolated Kneser–Ney bigram scoring."""

    def test_row_structure_matches_addone_twin(self, spark, sf_dir):
        """Same docs, same bigram counts as the add-one model — only the
        smoothing differs."""
        from snowflake_to_postgres_spark.operators.text import (
            tx_bigram_lm_score,
            tx_kn_lm_score,
        )

        kn = {r["doc_id"]: r["n_bigrams"]
              for r in tx_kn_lm_score(spark, sf_dir).collect()}
        a1 = {r["doc_id"]: r["n_bigrams"]
              for r in tx_bigram_lm_score(spark, sf_dir).collect()}
        assert kn == a1 and kn

    def test_valid_probabilities_and_less_oversmoothing(self, spark, sf_dir):
        """Every per-doc score is a valid mean ln P (< 0), and corpus-wide
        KN assigns MORE mass to observed bigrams than add-one — the
        over-smoothing add-one pays on frequent histories is exactly what
        KN's absolute discount removes."""
        from snowflake_to_postgres_spark.operators.text import (
            tx_bigram_lm_score,
            tx_kn_lm_score,
        )

        kn_rows = tx_kn_lm_score(spark, sf_dir).collect()
        assert all(r["kn_logprob"] < 0 for r in kn_rows)
        a1_rows = tx_bigram_lm_score(spark, sf_dir).collect()
        kn_mean = sum(r["kn_logprob"] * r["n_bigrams"] for r in kn_rows) / sum(
            r["n_bigrams"] for r in kn_rows
        )
        a1_mean = sum(r["avg_logprob"] * r["n_bigrams"] for r in a1_rows) / sum(
            r["n_bigrams"] for r in a1_rows
        )
        assert kn_mean > a1_mean


class TestQualityGateStream:
    """quality_gate_stream: frozen-model streaming enforcement of the
    learned quality gate (the observe→act discipline, applied to the
    engine's own trained classifier)."""

    def test_stream_equals_batch_and_replay_idempotent(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.operators.pipeline_ext import (
            pipe_quality_filter,
        )
        from snowflake_to_postgres_spark.sources import load_table
        from snowflake_to_postgres_spark.streaming.pipeline import (
            quality_gate_stream,
        )

        # sf0.01, not the sf0.001 default: the probe must LEARN for the
        # gate to admit anything (at sf0.001 it honestly degenerates to
        # the majority class and admits zero docs — []==[] parity would
        # pass vacuously)
        sf_dir = "/root/testdata/sf0.01"
        docs = load_table(spark, sf_dir, "documents")
        n_chunks = 6
        src = str(tmp_path / "src")
        chunked = docs.withColumn("chunk", F.abs(F.hash("doc_id")) % n_chunks)
        for c in range(n_chunks):
            chunked.filter(F.col("chunk") == c).drop("chunk").coalesce(
                1
            ).write.parquet(f"{src}/chunk{c:02d}.parquet")

        def make_stream():
            return (
                spark.readStream.schema(docs.schema)
                .format("parquet")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .load(src)
            )

        out, mon, ckpt = (
            str(tmp_path / "out"),
            str(tmp_path / "mon"),
            str(tmp_path / "ckpt"),
        )
        quality_gate_stream(
            spark, sf_dir, out, mon, ckpt, docs=make_stream()
        )
        # stateless gate ⇒ the stream admits EXACTLY the batch set
        stream_kept = sorted(
            (r["doc_id"], r["pf"])
            for r in spark.read.parquet(out).collect()
        )
        batch_kept = sorted(
            (r["doc_id"], r["pf"])
            for r in pipe_quality_filter(spark, sf_dir).collect()
        )
        assert stream_kept == batch_kept and stream_kept
        # monitor accounting closes over the whole drain
        mon_rows = spark.read.parquet(mon).collect()
        assert len(mon_rows) >= 4, "expected a multi-batch drain"
        assert sum(r["n_in"] for r in mon_rows) == docs.count()
        assert sum(r["n_admitted"] for r in mon_rows) == len(stream_kept)
        for r in mon_rows:
            assert 0 <= r["n_admitted"] <= r["n_in"]
            assert 0 <= r["mean_p_ppm"] <= 1_000_000
        # restart on the same checkpoint: nothing re-emitted or changed
        before_out = stream_kept
        before_mon = sorted(tuple(r) for r in mon_rows)
        quality_gate_stream(
            spark, sf_dir, out, mon, ckpt, docs=make_stream()
        )
        assert (
            sorted(
                (r["doc_id"], r["pf"])
                for r in spark.read.parquet(out).collect()
            )
            == before_out
        )
        assert sorted(tuple(r) for r in spark.read.parquet(mon).collect()) == before_mon


class TestImageStats:
    """mm_image_stats: shared integer stats kernel over pixel buffers."""

    def test_real_png_pixels_hand_computed(self):
        """The same kernel the registered query runs over payload bytes
        computes correct stats over REAL decoded PNG pixels — planted
        image with known dark/bright counts."""
        import numpy as np

        from snowflake_to_postgres_spark.operators.multimodal import (
            _decode_pixels,
            image_stats_values,
        )
        from tests.test_round12_ops import make_png

        # 4x2 RGB: 3 dark px (v=10), 3 bright px (v=200), 2 mid (v=100)
        px = []
        for v in [10, 10, 10, 200, 200, 200, 100, 100]:
            px += [v, v, v]
        png = make_png(4, 2, bytes(px))
        w, h, buf = _decode_pixels(png)
        assert (w, h) == (4, 2)
        vals = np.frombuffer(buf, dtype=np.uint8)
        n, mean_ppm, dark, bright, distinct, vmin, vmax = image_stats_values(vals)
        assert n == 24
        assert mean_ppm == (3 * 10 + 3 * 200 + 2 * 100) * 3 * 1_000_000 // 24
        assert dark == 9 * 1_000_000 // 24      # v=10 < 64
        assert bright == 9 * 1_000_000 // 24    # v=200 >= 192
        assert (distinct, vmin, vmax) == (3, 10, 200)

    def test_empty_and_constant_buffers(self):
        import numpy as np

        from snowflake_to_postgres_spark.operators.multimodal import (
            image_stats_values,
        )

        assert image_stats_values(np.array([], dtype=np.uint8)) == (
            0, 0, 0, 0, 0, 0, 0,
        )
        n, mean_ppm, dark, bright, distinct, vmin, vmax = image_stats_values(
            np.full(100, 7, dtype=np.uint8)
        )
        assert (n, mean_ppm, distinct, vmin, vmax) == (100, 7_000_000, 1, 7, 7)
        assert (dark, bright) == (1_000_000, 0)  # constant-dark flag


class TestCusumChangepoint:
    """ts_cusum_changepoint: prefix-min identity == the textbook
    recurrence, and the detector catches a small persistent drift."""

    def test_identity_matches_recurrence_on_fixture(self, spark, sf_dir, duck):
        from collections import defaultdict

        from snowflake_to_postgres_spark.operators.analytics_ext import (
            CUSUM_BASE_DAYS,
            CUSUM_H_DIV,
            CUSUM_K_DIV,
            ts_cusum_changepoint,
        )

        rows = ts_cusum_changepoint(spark, sf_dir).collect()
        daily = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
            daily[r["event_type"]].append(r)
        assert daily
        for et, seq in daily.items():
            base = seq[:CUSUM_BASE_DAYS]
            mu_num = sum(r["cnt"] for r in base)
            den = len(base)
            k = mu_num // CUSUM_K_DIV
            h = mu_num // CUSUM_H_DIV
            s_hi = s_lo = 0
            for r in seq:
                s_hi = max(0, s_hi + (r["cnt"] * den - mu_num - k))
                s_lo = max(0, s_lo + (mu_num - r["cnt"] * den - k))
                assert r["cusum_hi"] == s_hi, (et, r["day"])
                assert r["cusum_lo"] == s_lo, (et, r["day"])
                assert r["alarm_hi"] == (s_hi > h)
                assert r["alarm_lo"] == (s_lo > h)

    def test_detects_persistent_drift_not_noise(self, spark, tmp_path):
        """A +12%/day persistent shift (small per-day, never a spike)
        must alarm after accumulation; the identical series WITHOUT the
        shift must never alarm — the slow-drift case the single-bar
        z-score monitor is blind to."""
        import datetime

        from snowflake_to_postgres_spark.operators.analytics_ext import (
            ts_cusum_changepoint,
        )

        def build(drift):
            rows = []
            eid = 0
            for d in range(21):
                # alternating 90/110 baseline "noise"; +12 after day 7
                n = (90 if d % 2 == 0 else 110) + (12 if drift and d >= 7 else 0)
                for i in range(n):
                    eid += 1
                    rows.append((
                        eid,
                        datetime.datetime(2024, 3, 1 + d, 1 + (i % 20), 0, 0),
                        1, "probe", 1.0, "{}",
                    ))
            return spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )

        for drift, expect_alarm in [(True, True), (False, False)]:
            d = str(tmp_path / ("drift" if drift else "flat"))
            build(drift).write.parquet(f"{d}/events.parquet")
            out = ts_cusum_changepoint(spark, d).collect()
            fired = [r for r in out if r["alarm_hi"]]
            assert bool(fired) == expect_alarm, (drift, fired)
            if drift:
                # accumulates: first alarm strictly after the shift start
                assert min(r["day"] for r in fired) > "2024-03-08"


class TestCusumStream:
    """cusum_stream: sequential mix-drift accumulation with bounded
    state and the quota-stream retention contract."""

    def _chunked_events(self, spark, events, tmp_path, n_chunks, key="event_id"):
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        chunked = events.withColumn("chunk", F.abs(F.hash(key)) % n_chunks)
        for c in range(n_chunks):
            chunked.filter(F.col("chunk") == c).drop("chunk").coalesce(
                1
            ).write.parquet(f"{src}/chunk{c:02d}.parquet")

        def make_stream():
            return (
                spark.readStream.schema(events.schema)
                .format("parquet")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .load(src)
            )

        return make_stream

    def test_recurrence_parity_retention_and_replay(
        self, spark, sf_dir, tmp_path
    ):
        import os
        from collections import defaultdict

        from snowflake_to_postgres_spark.sources import load_table, table_path
        from snowflake_to_postgres_spark.streaming.pipeline import (
            CUSUM_STREAM_K_DIV,
            cusum_stream,
            read_events_stream,
        )

        events = load_table(spark, sf_dir, "events")
        make_stream = self._chunked_events(spark, events, tmp_path, 8)
        mon, state, ckpt = (
            str(tmp_path / "mon"),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
        )
        cusum_stream(spark, sf_dir, mon, state, ckpt, events=make_stream())

        mon_rows = spark.read.option("basePath", mon).parquet(mon).collect()
        batches = sorted({r["batch_id"] for r in mon_rows})
        assert len(batches) == 8
        # python recurrence over the SAME per-batch counts
        tot = events.count()
        targets = {
            r["event_type"]: r["cnt"] * 1_000_000 // tot
            for r in events.groupBy("event_type")
            .agg(__import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("cnt"))
            .collect()
        }
        by_batch = defaultdict(dict)
        for r in mon_rows:
            by_batch[r["batch_id"]][r["event_type"]] = r
        s_hi = defaultdict(int)
        s_lo = defaultdict(int)
        for b in batches:
            total = sum(r["cnt"] for r in by_batch[b].values())
            for et, r in by_batch[b].items():
                exp = targets.get(et, 0) * total
                assert r["exp_x1e6"] == exp, (b, et)
                k = exp // CUSUM_STREAM_K_DIV
                s_hi[et] = max(0, s_hi[et] + (r["cnt"] * 1_000_000 - exp - k))
                s_lo[et] = max(0, s_lo[et] + (exp - r["cnt"] * 1_000_000 - k))
                assert r["s_hi"] == s_hi[et], (b, et)
                assert r["s_lo"] == s_lo[et], (b, et)
        # retention: ≤ 2 state partitions, the last two batch ids
        state_dirs = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(state)
            if d.startswith("batch=")
        )
        assert state_dirs == batches[-2:]
        # replay on the same checkpoint: nothing changes
        before = sorted(tuple(r) for r in mon_rows)
        cusum_stream(spark, sf_dir, mon, state, ckpt, events=make_stream())
        after = sorted(
            tuple(r)
            for r in spark.read.option("basePath", mon).parquet(mon).collect()
        )
        assert after == before

    def test_slow_drift_alarms_flat_does_not(self, spark, sf_dir, tmp_path):
        """One type running ~15% hot IN SHARE every batch (hot rows
        also inflate the batch total, so +35 rows on a 100-row
        expectation is a +14.9% share drift — above the 10% allowance,
        far below the 50% per-batch alarm bar) must alarm after
        accumulation; the reference-mix twin must never alarm."""
        import datetime

        from snowflake_to_postgres_spark.streaming.pipeline import cusum_stream

        def build(hot_extra):
            # reference mix: a/b equal; stream: 'a' gets +hot_extra
            # rows per 200-row batch
            rows = []
            eid = 0
            for b in range(16):
                for et, n in (("a", 100 + hot_extra), ("b", 100)):
                    for i in range(n):
                        eid += 1
                        rows.append((
                            eid,
                            datetime.datetime(2024, 3, 1) + datetime.timedelta(
                                hours=b, minutes=i % 60
                            ),
                            1, et, 1.0, "{}",
                        ))
            return spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )

        # frozen reference = the FLAT mix
        ref_dir = str(tmp_path / "ref")
        build(0).write.parquet(f"{ref_dir}/events.parquet")
        for hot, expect in [(35, True), (0, False)]:
            tp = tmp_path / f"case{hot}"
            tp.mkdir()
            make_stream = self._chunked_events(
                spark, build(hot), tp, 16, key="ts"
            )
            mon = str(tp / "mon")
            cusum_stream(
                spark, ref_dir, mon, str(tp / "state"), str(tp / "ckpt"),
                events=make_stream(),
            )
            rows = spark.read.option("basePath", mon).parquet(mon).collect()
            fired = [r for r in rows if r["alarm_hi"] and r["event_type"] == "a"]
            assert bool(fired) == expect, (hot, sorted(
                (r["batch_id"], r["event_type"], r["s_hi"]) for r in rows
            )[:8])
            if expect:
                # sub-spike per batch: no single batch deviates ≥ 50%
                for r in rows:
                    if r["exp_x1e6"]:
                        assert (
                            abs(r["cnt"] * 1_000_000 - r["exp_x1e6"])
                            < r["exp_x1e6"] // 2
                        )


class TestBenford:
    """val_benford: first-digit forensics over order totals."""

    def test_accounting_and_fixture_flagged_synthetic(self, spark, sf_dir):
        from snowflake_to_postgres_spark.operators.validation import (
            val_benford,
        )
        from snowflake_to_postgres_spark.sources import load_table

        rows = sorted(val_benford(spark, sf_dir).collect(), key=lambda r: r["digit"])
        assert [r["digit"] for r in rows] == list(range(1, 10))
        total = load_table(spark, sf_dir, "orders").filter(
            "o_totalprice > 0"
        ).count()
        assert sum(r["observed"] for r in rows) == total
        assert all(r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"] for r in rows)
        # the fixture's totals are SYNTHETIC — the audit must say so:
        # MAD far above Nigrini's 0.015 nonconformity line
        mad = sum(abs(r["dev_ppm"]) for r in rows) / 9
        assert mad > 15_000, mad

    def test_benford_conforming_sample_passes(self, spark, tmp_path):
        """A log-uniform (equidistributed-mantissa) planted sample must
        conform (MAD under the bar) while a uniform sample must not —
        the audit separates organic from fabricated."""
        import math

        from snowflake_to_postgres_spark.operators.validation import (
            val_benford,
        )

        def run(vals, name):
            d = str(tmp_path / name)
            spark.createDataFrame(
                [(i, float(v)) for i, v in enumerate(vals)],
                "o_orderkey long, o_totalprice double",
            ).write.parquet(f"{d}/orders.parquet")
            rows = val_benford(spark, d).collect()
            return sum(abs(r["dev_ppm"]) for r in rows) / 9

        n = 4000
        g = (math.sqrt(5) - 1) / 2  # golden-ratio equidistribution
        benford = [10 ** (2 + ((i * g) % 1.0) * 3) for i in range(n)]
        uniform = [100.0 + 900.0 * i / n for i in range(n)]
        assert run(benford, "ben") < 15_000
        assert run(uniform, "uni") > 15_000


class TestDatasetCard:
    def test_card_cross_checks_other_surfaces(self, spark, sf_dir):
        """The card's cells must agree with the independent operators
        that own each statistic: corpus totals, the classifier's label
        rule, exact-dup group mass."""
        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.operators.pipeline_ext import (
            pipe_dataset_card,
        )
        from snowflake_to_postgres_spark.operators.text import (
            QL_SCALE,
            _quality_features,
        )
        from snowflake_to_postgres_spark.sources import load_table

        card = pipe_dataset_card(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        assert sum(r["n_docs"] for r in card) == docs.count()
        assert sum(r["n_chars"] for r in card) == docs.agg(
            F.sum("n_chars")
        ).collect()[0][0]
        # ppm shares sum to ~1e6 (floor rounding loses < |sources| ppm)
        share = sum(r["char_share_ppm"] for r in card)
        assert 1_000_000 - len(card) <= share <= 1_000_000
        # label rule == the classifier's yf
        n_pass = _quality_features(spark, sf_dir).filter(
            F.col("yf") == QL_SCALE
        ).count()
        assert sum(r["n_quality_pass"] for r in card) == n_pass
        # dup mass == docs in any text-digest group of size >= 2
        dup_members = (
            docs.groupBy(F.md5("text").alias("dg"))
            .agg(F.count("*").alias("n"))
            .filter("n >= 2")
            .agg(F.sum("n"))
            .collect()[0][0]
            or 0
        )
        assert sum(r["n_dup_docs"] for r in card) == dup_members
        for r in card:
            assert 0 <= r["en_ppm"] <= 1_000_000
            assert 0 <= r["dup_ppm"] <= 1_000_000
            assert 0 <= r["pass_ppm"] <= 1_000_000


class TestMatryoshkaRecall:
    def test_ladder_monotone_and_truth_consistent(self, spark, sf_dir):
        """The full-dim 'truncation' must reproduce the brute-force
        truth exactly and accounting must close (hits ≤ k·n_queries,
        exact ppm). Monotonicity in prefix length is NOT asserted — it
        is a property of matryoshka-TRAINED embeddings, not a
        mathematical invariant, and the fixture's random vectors
        honestly violate it (which is exactly the no-go signal the
        audit exists to produce)."""
        from snowflake_to_postgres_spark.operators.similarity import (
            MRL_LADDER,
            N_QUERIES,
            TOP_K,
            _components,
            _trunc_topk,
            emb_matryoshka_recall,
            sim_topk_bruteforce,
        )

        rows = sorted(
            emb_matryoshka_recall(spark, sf_dir).collect(),
            key=lambda r: r["trunc_dim"],
        )
        assert [r["trunc_dim"] for r in rows] == list(MRL_LADDER)
        for r in rows:
            assert 0 <= r["hits"] <= TOP_K * N_QUERIES
            assert r["recall_ppm"] == r["hits"] * 1_000_000 // (TOP_K * N_QUERIES)
        comp = _components(spark, sf_dir)
        full = {
            (r["qid"], r["neighbor_id"])
            for r in _trunc_topk(comp, None).collect()
        }
        truth = {
            (r["qid"], r["neighbor_id"])
            for r in sim_topk_bruteforce(spark, sf_dir).collect()
        }
        assert full == truth and len(full) == TOP_K * N_QUERIES


class TestTokenBudgetPlan:
    def test_accounting_and_cap_semantics(self, spark, sf_dir):
        from snowflake_to_postgres_spark.operators.pipeline_ext import (
            EPOCH_CAP_PPM,
            TOKEN_BUDGET_X,
            pipe_token_budget_plan,
        )

        rows = pipe_token_budget_plan(spark, sf_dir).collect()
        assert rows
        total = sum(r["available_tokens"] for r in rows)
        budget = total * TOKEN_BUDGET_X
        tgt = sum(r["target_tokens"] for r in rows)
        # floor rounding loses < |sources| tokens of the budget
        assert budget - len(rows) <= tgt <= budget
        for r in rows:
            # epochs ≈ target/available; target was floored at 1e6
            # first, so the recomputation can sit up to 1e6/available
            # ppm below the exact value
            approx = r["target_tokens"] * 1_000_000 // r["available_tokens"]
            assert (
                0
                <= r["epochs_ppm"] - approx
                <= 1_000_000 // r["available_tokens"] + 1
            )
            assert r["over_cap"] == (r["epochs_ppm"] > EPOCH_CAP_PPM)
            if not r["over_cap"]:
                assert r["shortfall_tokens"] == max(
                    0,
                    r["target_tokens"]
                    - r["available_tokens"] * EPOCH_CAP_PPM // 1_000_000,
                )
            else:
                assert r["shortfall_tokens"] > 0


class TestPruneStateEmptyBatchSafety:
    def test_prune_keeps_two_newest_existing_partitions(self, spark, tmp_path):
        """Session-2 self-review: empty micro-batches write no state, so
        pruning by id (< batch_id-1) would delete the partition a
        crash-replay needs. The contract is 'two newest EXISTING'."""
        import os

        from snowflake_to_postgres_spark.streaming.pipeline import (
            _prior_state,
            _prune_state,
            _state_batch_ids,
        )

        state = str(tmp_path / "state")
        schema = "k string, v long"
        # batches 3 and 5 were empty: only 0, 2, 4, 6 wrote state
        for b in (0, 2, 4, 6):
            spark.createDataFrame([(f"b{b}", b)], schema).write.parquet(
                os.path.join(state, f"batch={b}")
            )
        _prune_state(spark, state, 6)
        assert _state_batch_ids(spark, state) == [4, 6]
        # replay of batch 6 after a crash still reads its prior (4),
        # even though 4 < 6-1
        assert [tuple(r) for r in _prior_state(spark, state, 6, schema).collect()] == [
            ("b4", 4)
        ]


class TestCusumUnknownTypeCarry:
    def test_unknown_type_state_survives_skipped_batch(self, spark, tmp_path):
        """Session-2 self-review: an unknown event type that appears,
        skips a batch, then reappears must keep its accumulated CUSUM
        state (the quota-stream carried-rows guarantee)."""
        import datetime

        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.streaming.pipeline import cusum_stream

        def events(rows):
            return spark.createDataFrame(
                [
                    (i, datetime.datetime(2024, 4, 1, h), 1, et, 1.0, "{}")
                    for i, (h, et) in enumerate(rows)
                ],
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )

        ref_dir = str(tmp_path / "ref")
        events([(0, "a")] * 50).write.parquet(f"{ref_dir}/events.parquet")
        # chunk files drained one per batch: z in batch0, absent batch1,
        # back in batch2
        src = str(tmp_path / "src")
        events([(0, "a")] * 10 + [(0, "z")] * 3).coalesce(1).write.parquet(
            f"{src}/c0.parquet"
        )
        events([(1, "a")] * 10).coalesce(1).write.parquet(f"{src}/c1.parquet")
        events([(2, "a")] * 10 + [(2, "z")] * 2).coalesce(1).write.parquet(
            f"{src}/c2.parquet"
        )
        stream = (
            spark.readStream.schema(events([(0, "a")]).schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .load(src)
        )
        mon = str(tmp_path / "mon")
        cusum_stream(
            spark, ref_dir, mon, str(tmp_path / "state"),
            str(tmp_path / "ckpt"), events=stream,
        )
        rows = spark.read.option("basePath", mon).parquet(mon).collect()
        z = {r["batch_id"]: r for r in rows if r["event_type"] == "z"}
        # file→batch order follows file listing (c0, c1, c2)
        assert set(z) == {0, 1, 2}, sorted(
            (r["batch_id"], r["event_type"]) for r in rows
        )
        # batch 0: 3×1e6 excess accumulated; batch 1 (absent): carried
        # unchanged; batch 2: grows again — never reset
        assert z[0]["s_hi"] == 3_000_000
        assert z[1]["s_hi"] == 3_000_000
        assert z[2]["s_hi"] == 5_000_000
        assert all(r["alarm_hi"] for r in z.values())  # zero expectation


class TestQualityAuc:
    def test_auc_matches_sklearn_free_reference(self, spark):
        """U-statistic AUC == a direct pairwise-comparison reference
        (ties count half) on the learning corpus, and the trained probe
        must actually rank (AUC well above chance at sf0.01)."""
        from snowflake_to_postgres_spark.operators.text import (
            QL_SCALE,
            _ql_scored,
            _quality_features,
            train_quality_logreg,
            tx_quality_auc,
        )

        sf = "/root/testdata/sf0.01"
        row = tx_quality_auc(spark, sf).collect()[0]
        feats = _quality_features(spark, sf)
        w, _ = train_quality_logreg(feats)
        scored = [
            (r["pf"], r["yf"] == QL_SCALE)
            for r in _ql_scored(feats, w).select("pf", "yf").collect()
        ]
        pos = [p for p, y in scored if y]
        neg = [p for p, y in scored if not y]
        assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
        # pairwise reference in doubled units to keep ties exact
        u2_ref = sum(
            2 if p > q else (1 if p == q else 0) for p in pos for q in neg
        )
        assert row["u2"] == u2_ref
        assert row["auc_ppm"] == u2_ref * 1_000_000 // (2 * len(pos) * len(neg))
        assert row["auc_ppm"] > 900_000  # it RANKS, not just matches

    def test_auc_chance_on_constant_scores(self, spark, sf_dir):
        """Structural: with zero GD rounds every pf is 500000, one tie
        group — midrank algebra must give exactly AUC = 1/2."""
        from snowflake_to_postgres_spark.operators.text import (
            QL_SCALE,
            _ql_scored,
            _quality_features,
        )
        from pyspark.sql import Window, functions as F

        feats = _quality_features(spark, sf_dir)
        scored = _ql_scored(feats, [0] * 7)
        grid = scored.groupBy("pf").agg(
            F.count("*").alias("cnt"),
            F.sum(F.when(F.col("yf") == QL_SCALE, 1).otherwise(0)).alias("pos"),
        )
        win = Window.orderBy("pf").rowsBetween(Window.unboundedPreceding, -1)
        r = (
            grid.select(
                "cnt", "pos",
                F.coalesce(F.sum("cnt").over(win), F.lit(0)).alias("cb"),
            )
            .agg(
                F.sum("pos").alias("np"),
                (F.sum("cnt") - F.sum("pos")).alias("nn"),
                (
                    F.sum(F.col("pos") * (F.lit(2) * F.col("cb") + F.col("cnt") + F.lit(1)))
                    - F.sum("pos") * (F.sum("pos") + F.lit(1))
                ).alias("u2"),
            )
            .collect()[0]
        )
        assert r["u2"] == r["np"] * r["nn"]  # AUC exactly 1/2


class TestIvmTopkRefresh:
    def test_monotone_theorem_and_counterexample_shape(self, spark, sf_dir):
        """The incremental result equals the full recompute (the
        theorem), and the structural premise holds: every new-view row
        comes from old-top-k ∪ delta."""
        from pyspark.sql import Window, functions as F

        from snowflake_to_postgres_spark.operators.analytics_ext import (
            IVM_SPLIT,
            IVM_TOPK_K,
            ivm_topk_refresh,
        )
        from snowflake_to_postgres_spark.sources import load_table

        inc = {
            (r["o_orderpriority"], r["rank"], r["o_orderkey"])
            for r in ivm_topk_refresh(spark, sf_dir).collect()
        }
        orders = load_table(spark, sf_dir, "orders")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), "o_orderkey"
        )
        fullk = {
            (r["o_orderpriority"], r["rank"], r["o_orderkey"])
            for r in orders.withColumn(
                "rank", F.row_number().over(w).cast("bigint")
            )
            .filter(F.col("rank") <= IVM_TOPK_K)
            .collect()
        }
        assert inc == fullk and inc
        # premise: every surviving key is in old-top-k or the delta
        old_k = {
            r["o_orderkey"]
            for r in orders.filter(F.col("o_orderdate") < IVM_SPLIT)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= IVM_TOPK_K)
            .collect()
        }
        delta = {
            r["o_orderkey"]
            for r in orders.filter(F.col("o_orderdate") >= IVM_SPLIT)
            .select("o_orderkey")
            .collect()
        }
        assert {k for _, _, k in inc} <= old_k | delta


class TestTopkStream:
    def test_drained_state_equals_batch_topk_exactly(
        self, spark, sf_dir, tmp_path
    ):
        """The monotone theorem live: after a chunked AvailableNow
        drain, the final state partition == the batch top-k over the
        whole events table, bit-exact; replay changes nothing; state
        dir stays at ≤2 partitions."""
        import os

        from pyspark.sql import Window, functions as F

        from snowflake_to_postgres_spark.sources import load_table
        from snowflake_to_postgres_spark.streaming.pipeline import (
            TOPK_STREAM_K,
            topk_stream,
        )

        events = load_table(spark, sf_dir, "events")
        n_chunks = 7
        src = str(tmp_path / "src")
        chunked = events.withColumn(
            "chunk", F.abs(F.hash("event_id")) % n_chunks
        )
        for c in range(n_chunks):
            chunked.filter(F.col("chunk") == c).drop("chunk").coalesce(
                1
            ).write.parquet(f"{src}/c{c:02d}.parquet")

        def make_stream():
            return (
                spark.readStream.schema(events.schema)
                .format("parquet")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .load(src)
            )

        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
        topk_stream(spark, sf_dir, state, ckpt, events=make_stream())
        state_dirs = sorted(
            d for d in os.listdir(state) if d.startswith("batch=")
        )
        assert len(state_dirs) <= 2
        got = {
            (r["event_type"], r["event_id"])
            for r in spark.read.parquet(
                os.path.join(state, state_dirs[-1])
            ).collect()
        }
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), "event_id"
        )
        want = {
            (r["event_type"], r["event_id"])
            for r in events.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOPK_STREAM_K)
            .collect()
        }
        assert got == want and got
        # replay idempotence
        topk_stream(spark, sf_dir, state, ckpt, events=make_stream())
        after = {
            (r["event_type"], r["event_id"])
            for r in spark.read.parquet(
                os.path.join(state, sorted(
                    d for d in os.listdir(state) if d.startswith("batch=")
                )[-1])
            ).collect()
        }
        assert after == got


class TestBinaryHammingRecall:
    def test_packing_matches_sign_predicate_and_accounting(
        self, spark, sf_dir
    ):
        from snowflake_to_postgres_spark.operators.similarity import (
            N_QUERIES,
            TOP_K,
            _components,
            _sign_packed,
            emb_binary_hamming_recall,
        )

        comp = _components(spark, sf_dir)
        signs = {}
        for r in comp.collect():
            signs.setdefault(r["vec_id"], {})[r["idx"]] = r["val"] > 0
        packed = {
            r["vec_id"]: (r["lo"], r["hi"])
            for r in _sign_packed(comp).collect()
        }
        assert set(packed) == set(signs)
        for vid, (lo, hi) in list(packed.items())[:20]:
            for idx, pos in signs[vid].items():
                word, bit = (lo, idx) if idx < 32 else (hi, idx - 32)
                assert bool((word >> bit) & 1) == pos, (vid, idx)
        row = emb_binary_hamming_recall(spark, sf_dir).collect()[0]
        assert row["k"] == TOP_K and row["n_queries"] == N_QUERIES
        assert 0 <= row["hits"] <= TOP_K * N_QUERIES
        assert row["recall_ppm"] == row["hits"] * 1_000_000 // (TOP_K * N_QUERIES)

    def test_identical_vectors_have_zero_hamming(self, spark, sf_dir):
        """Self-distance sanity through the packed representation."""
        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.operators.similarity import (
            _components,
            _sign_packed,
        )

        p = _sign_packed(_components(spark, sf_dir))
        a = p.select(
            F.col("vec_id").alias("v"), F.col("lo").alias("alo"),
            F.col("hi").alias("ahi"),
        )
        joined = p.join(a, p["vec_id"] == a["v"]).select(
            (F.expr("bit_count(lo ^ alo)") + F.expr("bit_count(hi ^ ahi)")).alias("h")
        )
        assert joined.agg(F.max("h")).collect()[0][0] == 0


class TestHammingRerank:
    def test_rerank_recovers_recall_over_raw_binary(self, spark, sf_dir):
        """The two-stage pattern must beat raw binary top-k against the
        exact truth (that's its entire reason to exist), and ranks must
        carry exact cosines."""
        from snowflake_to_postgres_spark.operators.similarity import (
            emb_binary_hamming_recall,
            sim_hamming_rerank,
            sim_topk_bruteforce,
        )

        truth = {
            (r["qid"], r["neighbor_id"])
            for r in sim_topk_bruteforce(spark, sf_dir).collect()
        }
        rer = sim_hamming_rerank(spark, sf_dir).collect()
        rer_set = {(r["qid"], r["neighbor_id"]) for r in rer}
        raw_hits = emb_binary_hamming_recall(spark, sf_dir).collect()[0]["hits"]
        assert len(rer_set & truth) >= raw_hits
        # reranked cosines are the TRUE cosines: any overlap with the
        # brute-force truth carries identical (qid, rank-ordering) keys
        by_q = {}
        for r in rer:
            by_q.setdefault(r["qid"], []).append((r["rank"], r["cosine"]))
        for qid, rows in by_q.items():
            ordered = sorted(rows)
            assert [c for _, c in ordered] == sorted(
                [c for _, c in ordered], reverse=True
            ), qid


class TestFilteredTierCountShortcut:
    def test_scan_count_equals_assign_count(self, spark, sf_dir):
        """Round-14 optimization: sim_filtered_ann derives the
        tier-choice scalar from a pushed-filter count of eligible
        non-empty embedding rows instead of counting the assign
        frame's rows. The two counts must be identical — every vector
        with >= 1 component gets exactly one cell assignment."""
        from pyspark.sql import functions as F

        from snowflake_to_postgres_spark.operators.similarity import (
            FILTERED_RECALL_MODS,
            _components,
            _ivf_assign,
            _ivf_cell_d2,
            _ivf_centroids,
        )
        from snowflake_to_postgres_spark.sources import load_table

        comp = _components(spark, sf_dir)
        assign = _ivf_assign(_ivf_cell_d2(comp, _ivf_centroids(comp)))
        emb = load_table(spark, sf_dir, "embeddings")
        for mod in (2,) + tuple(FILTERED_RECALL_MODS):
            n_assign = assign.filter(F.col("vec_id") % mod == 0).count()
            n_scan = emb.filter(
                (F.col("vec_id") % mod == 0) & (F.size("embedding") > 0)
            ).count()
            assert n_assign == n_scan, mod
