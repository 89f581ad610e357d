"""Dedup family + similarity search invariants (beyond the oracle checks):
LSH recall vs the exact baselines, simhash locality, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.operators import dedup as D
from sqldataintegrationfunctiontriggerapp_spark.operators import multimodal as MM
from sqldataintegrationfunctiontriggerapp_spark.operators import similarity as S
from sqldataintegrationfunctiontriggerapp_spark.plans import dedup as PD


def test_minhash_lsh_finds_all_exact_jaccard_pairs(spark, sf_dir):
    """The shipped MinHash composition at 8 bands must recall every pair
    with true J>=0.8 that the exact n-gram stage finds (collision miss prob
    (1-0.8)^8 ~ 2.6e-6; the fixtures' planted dups), with the same exact
    Jaccard."""
    _sigs, _cands, jacc0 = PD._minhash_stage(spark, sf_dir)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in PD._ngram_pairs_stage(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jacc0.where(F.col("jaccard") >= 0.8).collect()
    }
    assert exact, "fixtures should contain planted near-dups"
    assert exact == lsh


def _pair_rows(df):
    return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())


def test_verify_jaccard_semi_join_branches_bitwise_identical(
        spark, sf_dir, monkeypatch):
    """The candidate-doc restriction semi-join is broadcast under
    _VERIFY_BROADCAST_MAX_PAIRS and left to AQE above it; on the MinHash
    stage's own inputs both branches return the same pairs with
    bit-identical jaccard."""
    shingled = PD._shingles_stage(spark, sf_dir)
    _sigs, cands, _jacc0 = PD._minhash_stage(spark, sf_dir)
    n = cands.count()

    def verified():
        out = D.verify_jaccard(cands, shingled, 0.0, trust_stats=True,
                               n_candidates=n)
        hinted = "strategy=broadcast" in str(
            out._jdf.queryExecution().optimizedPlan()
        )
        return _pair_rows(out), hinted

    broadcast, hinted = verified()
    assert hinted and broadcast, "default branch broadcasts the doc list"
    monkeypatch.setattr(D, "_VERIFY_BROADCAST_MAX_PAIRS", -1)
    unhinted, hinted = verified()
    assert not hinted
    assert unhinted == broadcast


def test_stop_shingle_anti_join_branches_bitwise_identical(
        spark, sf_dir, monkeypatch):
    """The stop-shingle anti join is broadcast under
    _STOP_SHINGLE_BROADCAST_MAX_ROWS and shuffled above it; both branches
    return the same pairs with bit-identical jaccard."""
    shingled = PD._shingles_stage(spark, sf_dir)
    broadcast = _pair_rows(D.ngram_jaccard_pairs(shingled, threshold=0.0))
    monkeypatch.setattr(D, "_STOP_SHINGLE_BROADCAST_MAX_ROWS", -1)
    shuffled = _pair_rows(D.ngram_jaccard_pairs(shingled, threshold=0.0))
    assert broadcast
    assert shuffled == broadcast


def test_bucketed_cosine_pairs_match_bruteforce_exactly(spark, sf_dir):
    """The pivot-partitioned angular join is EXACT (triangle-inequality
    pruning, not probabilistic LSH): at the dedup threshold 0.4 it must
    return the identical pair set and bit-identical cosines as the O(n^2)
    baseline -- 100% recall by construction."""
    e = load_table(spark, sf_dir, "embeddings")
    brute = {(r.id_a, r.id_b): r.cos for r in S.cosine_pairs_above(e, 0.4).collect()}
    bucketed = {
        (r.id_a, r.id_b): r.cos
        for r in S.cosine_pairs_above_bucketed(e, 0.4).collect()
    }
    assert brute, "fixtures should contain qualifying pairs"
    assert set(brute) == set(bucketed)
    assert all(brute[k] == bucketed[k] for k in brute)


def test_exact_dedup_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    groups = D.exact_dedup_groups(d)
    assert groups.agg(F.sum("n_copies")).first()[0] == d.count()


def test_simhash_identical_docs_collide(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "totally different words here entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert 0 <= got[1] < 2**16


def test_lsh_topk_subset_of_bruteforce_corpus(spark, sf_dir):
    """SRP-LSH results: rank-1 neighbors must score <= the exact top-1 and
    every returned cos must match the brute-force score for that pair."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    exact = S.brute_force_topk(e, q, k=5).collect()
    approx = S.lsh_topk(e, q, k=5, nbits=4).collect()
    exact_best = {r.query_id: r.cos for r in exact if r.rank == 1}
    scores = {(r.query_id, r.neighbor_id): r.cos for r in exact}
    # fall back to direct computation for pairs outside exact top-5
    for r in approx:
        if (r.query_id, r.neighbor_id) in scores:
            assert abs(scores[(r.query_id, r.neighbor_id)] - r.cos) < 1e-12
        assert r.cos <= exact_best[r.query_id] + 1e-12


def test_multimodal_stub_features(spark, sf_dir):
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = MM.extract_features(media)
    rows = feats.limit(5).collect()
    assert rows and all(0 <= r.feature_0 < 1 for r in rows)
    assert all(r.byte_len >= 1 for r in rows)
    # determinism: same input => same features
    again = {r.media_id: r.feature_0 for r in feats.limit(5).collect()}
    assert {r.media_id: r.feature_0 for r in rows} == again


def test_png_pixel_codec_roundtrip_pure_python():
    """Driver-side pin of the pure-stdlib PNG pixel codec: encode with all
    five filter types in rotation, decode, and compare the recovered
    statistics against the generator's closed form -- no Spark, so a codec
    bug localizes here before the registry query sees it."""
    for did in (5, 12, 38, 101):  # h = 6..12 rows -> every filter type used
        buf = MM._png_full_bytes(did)
        w, h = did % 16 + 1, did % 12 + 1
        r = MM._decode_png_pixels_one(buf)
        assert r is not None and r[0] != "corrupt"
        rw, rh, ch, sums, mn, mx = r
        assert (rw, rh, ch) == (w, h, 3)
        expect = [
            sum((x + 2 * y + 3 * c + did) % 256
                for x in range(w) for y in range(h))
            for c in range(3)
        ]
        assert sums == expect
        allv = [(x + 2 * y + 3 * c + did) % 256
                for x in range(w) for y in range(h) for c in range(3)]
        assert (mn, mx) == (min(allv), max(allv))


def test_png_pixel_codec_degrades_on_corrupt_bytes():
    # truncated IDAT (the fixture's own corrupt branch): header dims kept
    r = MM._decode_png_pixels_one(MM._png_full_bytes(97))
    assert r[0] == "corrupt" and (r[1], r[2], r[3]) == (97 % 16 + 1, 97 % 12 + 1, 3)
    # non-PNG bytes and empty input: unknown, never a raise
    assert MM._decode_png_pixels_one(b"not a png at all" * 4) is None
    assert MM._decode_png_pixels_one(b"") is None
    # bit-flip inside IDAT: zlib checksum/structure failure -> corrupt
    good = bytearray(MM._png_full_bytes(12))
    good[60] ^= 0xFF
    r = MM._decode_png_pixels_one(bytes(good))
    assert r is None or r[0] == "corrupt"


def test_wav_codec_roundtrip_pure_python():
    """Driver-side pin of the WAV/PCM codec: the stdlib `wave` writer and
    the hand-rolled RIFF parser are independent implementations, so the
    round-trip catches a framing bug in either before the registry query
    sees it."""
    for did in (1, 2, 7, 54, 200):
        rate, nch, nf = 8000 * (did % 3 + 1), did % 2 + 1, did % 50 + 10
        r = MM._decode_wav_one(MM._wav_full_bytes(did))
        assert r is not None and r[0] != "corrupt"
        rr, rn, rf, sums, mn, mx, samples = r
        assert len(samples) == rf * rn
        assert (rr, rn, rf) == (rate, nch, nf)
        expect = [
            sum(MM._wav_sample(did, i, c) for i in range(nf))
            for c in range(nch)
        ]
        allv = [MM._wav_sample(did, i, c)
                for i in range(nf) for c in range(nch)]
        assert sums == expect and (mn, mx) == (min(allv), max(allv))


def test_wav_codec_degrades_on_corrupt_bytes():
    # truncated data chunk (the fixture's own corrupt branch): fmt kept
    r = MM._decode_wav_one(MM._wav_full_bytes(101))
    assert r == ("corrupt", 8000 * (101 % 3 + 1), 101 % 2 + 1)
    # non-WAV / empty input: unknown, never a raise
    assert MM._decode_wav_one(b"RIFFxxxxJUNK" + b"\0" * 20) is None
    assert MM._decode_wav_one(b"") is None
    # non-PCM format code: header survives as corrupt (compressed audio
    # is the documented boundary, not a task failure)
    buf = bytearray(MM._wav_full_bytes(7))
    fmt_at = buf.index(b"fmt ") + 8
    buf[fmt_at] = 3  # IEEE-float format code
    r = MM._decode_wav_one(bytes(buf))
    assert r is not None and r[0] == "corrupt"


def test_jpeg_codec_roundtrip_dc_only():
    """Baseline-JPEG codec pin: DC-only fixture blocks decode to exactly
    the generator's closed form, corrupt/truncated streams degrade."""
    for did in (1, 5, 11, 123):
        r = MM._decode_jpeg_pixels_one(MM._jpeg_full_bytes(did))
        w, h = 8 * (did % 4 + 1), 8 * (did % 3 + 1)
        vs = [(5 * bx + 7 * by + did) % 256
              for by in range(h // 8) for bx in range(w // 8)]
        assert r == (w, h, 1, [sum(64 * v for v in vs)], min(vs), max(vs))
    r = MM._decode_jpeg_pixels_one(MM._jpeg_full_bytes(89))
    assert r[0] == "corrupt" and r[1:] == (16, 24, 1)
    assert MM._decode_jpeg_pixels_one(b"png or junk") is None


def test_jpeg_fast_reader_bit_identical_to_reference():
    """The LUT-driven _FastBits entropy reader (r13, 5.5x measured over
    the committed bit-at-a-time decoder) against the _BitReader reference
    path: identical output on every fixture id AND on byte-flipped
    streams, where the corrupt-degradation branches must agree too."""
    import random

    for did in range(0, 300):
        buf = MM._jpeg_full_bytes(did)
        assert MM._decode_jpeg_pixels_one(buf) == MM._decode_jpeg_pixels_one(
            buf, reader=MM._BitReader
        )
    rnd = random.Random(13)
    for _ in range(200):
        buf = bytearray(MM._jpeg_full_bytes(rnd.randrange(1, 500)))
        buf[rnd.randrange(len(buf))] ^= 0xFF
        b = bytes(buf)
        assert MM._decode_jpeg_pixels_one(b) == MM._decode_jpeg_pixels_one(
            b, reader=MM._BitReader
        )


def test_jpeg_codec_ac_runlength_path_matches_idct_reference():
    """The AC path (nonzero coefficients, run skips, ZRL) against an
    independent numpy IDCT reference -- the part of the decoder the
    DC-only registry fixture cannot reach."""
    import numpy as np

    # custom AC table: EOB, (run0,size1), (run1,size1), ZRL at length 3
    ac_counts = [0, 0, 4] + [0] * 13
    ac_syms = [0x00, 0x01, 0x11, 0xF0]
    dqt = bytes([0x00]) + bytes([2] * 64)  # non-trivial quant step
    sof = bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(MM._JPEG_DC_COUNTS) \
        + bytes(MM._JPEG_DC_SYMBOLS)
    dht_ac = bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    bw = MM._BitWriter()
    bw.write(5, 5)          # DC category 5
    bw.write(16, 5)         # DC diff +16
    bw.write(0b001, 3)      # AC (0,1) at k=1
    bw.write(1, 1)          # +1
    bw.write(0b011, 3)      # ZRL: skip 16 -> k=18
    bw.write(0b010, 3)      # AC (1,1): skip 1 -> k=19
    bw.write(0, 1)          # -1 (EXTEND of 0 at size 1)
    bw.write(0b000, 3)      # EOB
    buf = (b"\xff\xd8" + MM._jpeg_seg(0xDB, dqt) + MM._jpeg_seg(0xC0, sof)
           + MM._jpeg_seg(0xC4, dht_dc) + MM._jpeg_seg(0xC4, dht_ac)
           + MM._jpeg_seg(0xDA, sos) + bw.flush() + b"\xff\xd9")
    r = MM._decode_jpeg_pixels_one(buf)
    assert r is not None and r[0] != "corrupt"
    w, h, ch, sums, mn, mx = r
    assert (w, h, ch) == (8, 8, 1)
    # independent reference: numpy basis IDCT of the same coefficients
    coef = np.zeros(64)
    coef[0] = 16 * 2
    coef[MM._JPEG_ZIGZAG[1]] = 1 * 2
    coef[MM._JPEG_ZIGZAG[19]] = -1 * 2
    F = coef.reshape(8, 8)          # F[v, u] row-major like the decoder
    c = np.ones(8); c[0] = 1 / np.sqrt(2)
    xs = np.arange(8)
    basis = np.cos((2 * xs[:, None] + 1) * np.arange(8)[None, :]
                   * np.pi / 16)   # basis[x, u]
    spatial = (basis * c[None, :]) @ F.T @ (basis * c[None, :]).T / 4.0
    # spatial[x, y]; decoder emits row-major [y, x]
    ref = np.clip(np.round(spatial.T).astype(int) + 128, 0, 255)
    assert sums == [int(ref.sum())]
    assert (mn, mx) == (int(ref.min()), int(ref.max()))


def test_gif_codec_roundtrip_and_degradation():
    """GIF/LZW codec pin: full decode matches the fixture's closed form
    (palette routing, width growth, mid-stream clears), truncation keeps
    dims as corrupt, non-GIF is unknown, 600 byte-flips never raise."""
    import random

    def expected(did):
        w, h = did % 29 + 10, did % 23 + 10
        sums = [0, 0, 0]
        mn, mx = 255, 0
        for y in range(h):
            for x in range(w):
                r, g, b = MM._gif_palette((x + 2 * y + did) % 256)
                sums[0] += r
                sums[1] += g
                sums[2] += b
                mn = min(mn, r, g, b)
                mx = max(mx, r, g, b)
        return (w, h, 3, sums, mn, mx)

    for did in (1, 5, 54, 109, 300, 0):
        r = MM._decode_gif_one(MM._gif_full_bytes(did))
        if did % 109 == 0:
            assert r == ("corrupt", did % 29 + 10, did % 23 + 10, 3)
        else:
            assert r == expected(did), did
    assert MM._decode_gif_one(b"") is None
    assert MM._decode_gif_one(b"not a gif at all") is None
    rnd = random.Random(41)
    for _ in range(600):
        b = bytearray(MM._gif_full_bytes(rnd.randrange(0, 800)))
        b[rnd.randrange(len(b))] ^= 0xFF
        MM._decode_gif_one(bytes(b))  # must not raise


def test_gif_interlaced_local_palette_decode():
    """Interlaced + local-color-table GIF pin: the decoded statistics
    match the closed form (so the 4-pass row map and the local-over-
    global palette routing are both exercised), the position-weighted
    sum actually DETECTS a skipped deinterlace (flip the interlace bit
    on the same stream -> wpos shifts while channel sums stay), the
    shared core keeps the raster fixture bit-identical, truncation
    degrades with dims kept, and 400 byte-flips never raise."""
    import random

    def expected(did):
        w, h = did % 27 + 12, did % 21 + 11
        sums = [0, 0, 0]
        wpos = 0
        for y in range(h):
            for x in range(w):
                r, g, b = MM._gif_local_palette((x + 2 * y + did) % 256)
                sums[0] += r
                sums[1] += g
                sums[2] += b
                wpos += r * (y * w + x + 1)
        return (w, h, sums, wpos)

    for did in (1, 7, 54, 113, 226, 0, 500):
        r = MM._decode_gif_interlaced_one(MM._gif_interlaced_bytes(did))
        if did % 113 == 0:
            assert r == ("corrupt", did % 27 + 12, did % 21 + 11), (did, r)
        else:
            assert r == expected(did), did
    # the negative control: same stream, interlace flag cleared -- a
    # decoder ignoring the flag would emit THESE numbers, and they must
    # differ in wpos (row permutation) while channel sums agree
    buf = bytearray(MM._gif_interlaced_bytes(7))
    ipos = buf.index(0x2C, 13 + 768)
    assert buf[ipos + 9] == 0xC7
    buf[ipos + 9] = 0x87
    ref = expected(7)
    r2 = MM._decode_gif_interlaced_one(bytes(buf))
    assert r2[2] == ref[2] and r2[3] != ref[3]
    # non-GIF bytes and fuzz
    assert MM._decode_gif_interlaced_one(b"") is None
    rnd = random.Random(17)
    for _ in range(400):
        b = bytearray(MM._gif_interlaced_bytes(rnd.randrange(0, 800)))
        b[rnd.randrange(len(b))] ^= 0xFF
        MM._decode_gif_interlaced_one(bytes(b))  # must not raise
        MM._decode_gif_one(bytes(b))


def test_gif_degradation_edges_consistent():
    """ADVICE r14 pins: (a) a zero-area image descriptor degrades as
    'corrupt' identically through BOTH shared-core consumers (previously
    _decode_gif_one returned ok with px_min=255 > px_max=0 while the
    interlaced path said corrupt); (b) an image descriptor whose dims
    differ from the logical-screen dims is rejected by the
    position-sensitive path, whose documented y*w+x+1 weight grid is
    defined over the screen raster."""
    buf = bytearray(MM._gif_full_bytes(3))
    ipos = buf.index(0x2C, 13 + 768)
    # (a) zero both image-descriptor dims
    zbuf = bytearray(buf)
    zbuf[ipos + 5 : ipos + 9] = b"\x00\x00\x00\x00"
    w = int.from_bytes(buf[6:8], "little")
    h = int.from_bytes(buf[8:10], "little")
    assert MM._decode_gif_arr(bytes(zbuf)) == ("corrupt", w, h)
    assert MM._decode_gif_one(bytes(zbuf)) == ("corrupt", w, h, 3)
    assert MM._decode_gif_interlaced_one(bytes(zbuf)) == ("corrupt", w, h)
    # (b) shrink the descriptor width by 1: channel-sum path may still
    # decode a sub-image, but the position-weighted contract must refuse
    sbuf = bytearray(MM._gif_interlaced_bytes(7))
    spos = sbuf.index(0x2C, 13 + 768)
    iw = int.from_bytes(sbuf[spos + 5 : spos + 7], "little")
    sbuf[spos + 5 : spos + 7] = (iw - 1).to_bytes(2, "little")
    r = MM._decode_gif_interlaced_one(bytes(sbuf))
    assert r is not None and r[0] == "corrupt"


def test_png_adam7_interlaced_decode():
    """Adam7 PNG pin: decoded statistics match the closed form across
    all seven passes (per-pass filter rotation with prev reset), the
    position-weighted sum covers every pass's placement grid, raster
    and interlaced decoders reject each other's files as corrupt
    instead of mis-decoding, truncation degrades with dims kept, and
    400 byte-flips never raise."""
    import random

    def expected(did):
        w, h = did % 26 + 13, did % 19 + 9
        sums = [0, 0, 0]
        wpos = 0
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    v = (x + 2 * y + 3 * c + did) % 256
                    sums[c] += v
                    if c == 0:
                        wpos += v * (y * w + x + 1)
        return (w, h, sums, wpos)

    for did in (1, 7, 54, 101, 202, 0, 500):
        r = MM._decode_png_interlaced_one(MM._png_interlaced_bytes(did))
        if did % 101 == 0:
            assert r == ("corrupt", did % 26 + 13, did % 19 + 9), (did, r)
        else:
            assert r == expected(did), did
    # cross-path: neither decoder silently mis-reads the other's layout
    assert MM._decode_png_interlaced_one(MM._png_full_bytes(5)) == \
        ("corrupt", 5 % 16 + 1, 5 % 12 + 1)
    assert MM._decode_png_pixels_one(MM._png_interlaced_bytes(5))[0] == \
        "corrupt"
    assert MM._decode_png_interlaced_one(b"") is None
    rnd = random.Random(23)
    for _ in range(400):
        b = bytearray(MM._png_interlaced_bytes(rnd.randrange(0, 800)))
        b[rnd.randrange(len(b))] ^= 0xFF
        MM._decode_png_interlaced_one(bytes(b))  # must not raise


def test_gif_lzw_kwkwk_case():
    """The KwKwK corner (a code referencing the entry being defined) --
    unreachable by the literal-coded registry fixture: a hand-compressed
    3x1 image with pixels [1, 1, 1] emits codes [CLEAR, 1, 6] at mcs=2,
    where 6 IS the entry under construction. The decoder must expand it
    to prev + prev[0]."""
    # header: 3x1 screen, 4-entry global table
    out = bytearray(b"GIF89a")
    out += (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
    out += bytes([0x80 | 0x01, 0, 0])  # global table, 2<<1 = 4 entries
    pal = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (5, 15, 25)]
    for rgb in pal:
        out += bytes(rgb)
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2 \
        + (3).to_bytes(2, "little") + (1).to_bytes(2, "little") + bytes([0])
    # mcs=2: clear=4, end=5; codes [4, 1, 6, 5] at width 3, LSB-first
    acc = 0
    nbits = 0
    data = bytearray()
    for code in (4, 1, 6, 5):
        acc |= code << nbits
        nbits += 3
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out += bytes([2, len(data)]) + data + bytes([0, 0x3B])
    r = MM._decode_gif_one(bytes(out))
    assert r == (3, 1, 3, [40 * 3, 50 * 3, 60 * 3], 40, 60), r


def test_jpeg_420_subsampled_matches_closed_form():
    """4:2:0 MCU-interleaved decode vs the fixture's closed form: luma
    2x2 + chroma 1x1 with right-edge padding blocks and partial chroma
    blocks, stats over the full-res upsampled planes; truncated entropy
    keeps dims; both entropy readers agree, and cross-fixture byte-flip
    fuzzing (all three JPEG fixtures) stays parity-identical -- the sweep
    that caught the DC-size>16 ValueError task-killer."""
    import random

    def expected(did):
        w, h = 8 * (did % 5 + 2), 8 * (did % 4 + 2)
        yv, cb, cr = MM._jpeg_420_block_vals(did, w, h)
        ys = [yv(bx, by) for bx in range(w // 8) for by in range(h // 8)]
        cbs, crs, c1, c2 = [], [], 0, 0
        for mx in range((w + 15) // 16):
            for my in range((h + 15) // 16):
                nx = min(8, w // 2 - 8 * mx)
                ny = min(8, h // 2 - 8 * my)
                v1, v2 = cb(mx, my), cr(mx, my)
                cbs.append(v1)
                crs.append(v2)
                c1 += v1 * nx * ny * 4
                c2 += v2 * nx * ny * 4
        allv = ys + cbs + crs
        return (
            w, h, 3, [sum(v * 64 for v in ys), c1, c2],
            min(allv), max(allv),
        )

    for did in range(0, 200):
        r = MM._decode_jpeg_pixels_one(MM._jpeg_420_bytes(did))
        if did % 89 == 0:
            assert r == ("corrupt", 8 * (did % 5 + 2), 8 * (did % 4 + 2), 3)
        else:
            assert r == expected(did), did
    rnd = random.Random(23)
    for fixture in (MM._jpeg_420_bytes, MM._jpeg_full_bytes,
                    MM._jpeg_progressive_bytes):
        for _ in range(200):
            b = bytearray(fixture(rnd.randrange(1, 500)))
            b[rnd.randrange(len(b))] ^= 0xFF
            bb = bytes(b)
            assert MM._decode_jpeg_pixels_one(bb) == \
                MM._decode_jpeg_pixels_one(bb, reader=MM._BitReader)


def test_jpeg_progressive_matches_baseline_and_degrades():
    """VERDICT r13 #9: the progressive (SOF2) path decodes the same image
    bit-identically to the baseline encoding across the whole fixture
    range -- both entropy readers -- and the truncated-first-scan corrupt
    branch keeps the SOF2 dims. 400 byte-flips across the scan ladder
    stay reader-parity-identical and never raise."""
    import random

    for did in range(0, 300):
        b = MM._decode_jpeg_pixels_one(MM._jpeg_full_bytes(did))
        p = MM._decode_jpeg_pixels_one(MM._jpeg_progressive_bytes(did))
        if did % 89 == 0:
            assert p == ("corrupt", 8 * (did % 4 + 1), 8 * (did % 3 + 1), 1)
        else:
            assert p == b, did
    for did in (1, 7, 123):
        buf = MM._jpeg_progressive_bytes(did)
        assert MM._decode_jpeg_pixels_one(buf) == MM._decode_jpeg_pixels_one(
            buf, reader=MM._BitReader
        )
    rnd = random.Random(17)
    for _ in range(400):
        buf = bytearray(MM._jpeg_progressive_bytes(rnd.randrange(1, 500)))
        buf[rnd.randrange(len(buf))] ^= 0xFF
        b2 = bytes(buf)
        assert MM._decode_jpeg_pixels_one(b2) == MM._decode_jpeg_pixels_one(
            b2, reader=MM._BitReader
        )


def test_jpeg_progressive_ac_refinement_matches_idct_reference():
    """The AC refinement path (G.2.2 correction bits: history corrections
    riding EOB runs AND inside runs, plus a newly-nonzero coefficient
    placed by the refinement scan) -- unreachable by the DC-only registry
    fixture -- against an independent numpy IDCT reference."""
    import numpy as np

    # 16x8 frame, 2 blocks. Target quantized coefficients (zigzag k):
    #   block0: DC=16, k1=+3, k7=-2
    #   block1: DC=-24, k2=+2, k7=-1 (k7 appears ONLY in the refine scan)
    dqt = bytes([0x00]) + bytes([1 + (k % 3) for k in range(64)])
    sof = bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(MM._JPEG_DC_COUNTS) \
        + bytes(MM._JPEG_DC_SYMBOLS)
    ac_counts = [0, 0, 4] + [0] * 13
    ac_syms = [0x00, 0x01, 0x11, 0x51]  # EOB0, (0,1), (1,1), (5,1)
    dht_ac = bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)

    def sos(ss, se, ah, al, entropy):
        return MM._jpeg_seg(
            0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        ) + entropy

    # scan 1: DC first, Al=0 (diffs +16, -40)
    bw = MM._BitWriter()
    bw.write(5, 5); bw.write(16, 5)              # +16
    bw.write(6, 5); bw.write(-40 + 63, 6)        # -40
    dc_scan = sos(0, 0, 0, 0, bw.flush())
    # scan 2: AC first, band 1-63, Al=1 (values >> 1, trunc toward zero)
    bw = MM._BitWriter()
    bw.write(0b001, 3); bw.write(1, 1)   # blk0 k=1: (0,1) +1 -> +2
    bw.write(0b011, 3)                   # (5,1): skip k=2..6, land at k=7
    bw.write(0, 1)                       # -1 -> -2 at k=7
    bw.write(0b000, 3)                   # EOB0: rest of blk0
    bw.write(0b010, 3); bw.write(1, 1)   # blk1: (1,1) skip k=1 -> k=2: +1 -> +2
    bw.write(0b000, 3)                   # EOB0: rest of blk1
    ac1_scan = sos(1, 63, 0, 1, bw.flush())
    # scan 3: AC refine, band 1-63, Ah=1, Al=0
    bw = MM._BitWriter()
    # blk0: no new coefficient -> EOB0 first, then history corrections
    bw.write(0b000, 3)                   # EOB0 (covers blk0)
    bw.write(1, 1)                       # k=1 history +2 -> +3 (bit 1)
    bw.write(0, 1)                       # k=7 history -2 stays (bit 0)
    # blk1: new coefficient -1 at k=7, after skipping r=5 zero-history
    # slots (k=1,3,4,5,6 -- k=2 is nonzero history, correction inline)
    bw.write(0b011, 3)                   # (5,1)
    bw.write(0, 1)                       # sign bit: negative -> -1
    bw.write(0, 1)                       # k=2 history +2 correction bit 0
    bw.write(0b000, 3)                   # EOB0 (rest of blk1, no history)
    ac2_scan = sos(1, 63, 1, 0, bw.flush())

    buf = (b"\xff\xd8" + MM._jpeg_seg(0xDB, dqt) + MM._jpeg_seg(0xC2, sof)
           + MM._jpeg_seg(0xC4, dht_dc) + MM._jpeg_seg(0xC4, dht_ac)
           + dc_scan + ac1_scan + ac2_scan + b"\xff\xd9")
    r = MM._decode_jpeg_pixels_one(buf)
    assert r is not None and r[0] != "corrupt"
    w, h, ch, sums, mn, mx = r
    assert (w, h, ch) == (16, 8, 1)
    assert MM._decode_jpeg_pixels_one(buf, reader=MM._BitReader) == r

    q = np.array([1 + (k % 3) for k in range(64)])
    c = np.ones(8); c[0] = 1 / np.sqrt(2)
    xs = np.arange(8)
    basis = np.cos((2 * xs[:, None] + 1) * np.arange(8)[None, :]
                   * np.pi / 16)

    def ref_block(zz_coefs):
        coef = np.zeros(64)
        for k, v in zz_coefs.items():
            coef[MM._JPEG_ZIGZAG[k]] = v * q[k]
        F = coef.reshape(8, 8)
        spatial = (basis * c[None, :]) @ F.T @ (basis * c[None, :]).T / 4.0
        return np.clip(np.round(spatial.T).astype(int) + 128, 0, 255)

    b0 = ref_block({0: 16, 1: 3, 7: -2})
    b1 = ref_block({0: -24, 2: 2, 7: -1})
    assert sums == [int(b0.sum() + b1.sum())]
    assert mn == int(min(b0.min(), b1.min()))
    assert mx == int(max(b0.max(), b1.max()))


def test_frame_sample_offsets(spark, sf_dir):
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents")).limit(3)
    frames = MM.frame_sample(media, every_n_bytes=100)
    bad = frames.join(media, "media_id").where(
        F.col("byte_offset") > F.col("byte_len")
    )
    assert bad.count() == 0


def test_connected_components_rejects_non_integral_ids(spark, monkeypatch):
    """Python ``<`` (driver route) and Spark ``min`` (distributed route) can
    order double ids differently (NaN), so the gate refuses them on both
    routes instead of letting the routes diverge."""
    edges = spark.createDataFrame(
        [(1.0, 2.0), (2.0, float("nan"))], "doc_a double, doc_b double"
    )
    for bound in (D._CC_DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", bound)
        with pytest.raises(ValueError, match="doc_a.*double"):
            D.connected_components(edges)


def test_connected_components_chain_and_islands(spark):
    """A 6-node chain (worst case for label propagation: full diameter) plus
    a 2-node island and a triangle must resolve to min-id components in the
    O(log n) pointer-jumping rounds."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain
         (10, 11),                                  # island
         (20, 21), (21, 22), (20, 22)],             # triangle
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in D.connected_components(edges).collect()
    }
    want = {(n, 1) for n in range(1, 7)} | {(10, 10), (11, 10)} | {
        (n, 20) for n in (20, 21, 22)
    }
    assert got == want


def test_blas_cosine_pairs_match_bruteforce_exactly(spark, sf_dir):
    """The BLAS prefilter + exact-verify kernel (r08) must be bit-identical
    to the fold-join baseline: the dgemm only nominates candidates, and the
    np.add.accumulate re-score replicates the JVM's left-to-right double
    fold exactly. Also pins the accumulate-equals-sequential-fold premise
    directly in python, and the zero-norm row exclusion."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    brute = {(r.id_a, r.id_b): r.cos for r in S.cosine_pairs_above(e, 0.4).collect()}
    blas = {
        (r.id_a, r.id_b): r.cos
        for r in S.cosine_pairs_above_blas(e, 0.4).collect()
    }
    assert brute, "fixtures should contain qualifying pairs"
    assert set(brute) == set(blas)
    assert all(brute[k] == blas[k] for k in brute)

    # premise check: accumulate's prefix contract is the sequential fold
    rng = np.random.default_rng(7)
    x = rng.normal(size=(50, 64))
    y = rng.normal(size=(50, 64))
    acc = np.add.accumulate(x * y, axis=1)[:, -1]
    for i in range(50):
        s = 0.0
        for a, b in zip(x[i], y[i]):
            s = s + float(a) * float(b)
        assert s == acc[i]

    # zero-norm vectors have undefined cosine and must never pair
    z = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [0.0] * 4), (3, [1.0, 0.0, 0.0, 0.0]),
         (4, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r.id_a, r.id_b) for r in S.cosine_pairs_above_blas(z, 0.4).collect()}
    assert got == {(3, 4)}


def test_bucketed_blas_cosine_pairs_match_bruteforce_exactly(spark, sf_dir):
    """The blocked-dgemm back end of the bucketed angular join (r08) must
    return the identical pair set and bit-identical cosines as the O(n^2)
    baseline -- same contract as the fold back end and the broadcast BLAS
    kernel. block_rows=256 forces multi-block clusters on the fixture so
    same-block, cross-block and cross-cluster groups all execute."""
    e = load_table(spark, sf_dir, "embeddings")
    brute = {(r.id_a, r.id_b): r.cos for r in S.cosine_pairs_above(e, 0.4).collect()}
    blocked = {
        (r.id_a, r.id_b): r.cos
        for r in S.cosine_pairs_above_bucketed_blas(
            e, 0.4, block_rows=256
        ).collect()
    }
    assert brute, "fixtures should contain qualifying pairs"
    assert set(brute) == set(blocked)
    assert all(brute[k] == blocked[k] for k in brute)

    # empty input degrades to a typed empty frame, like the fold back end
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.cosine_pairs_above_bucketed_blas(empty, 0.4).count() == 0


def test_semantic_cluster_pairs_blas_matches_fold_exactly(spark, sf_dir):
    """SemDeDup's per-cluster blocked-dgemm pair kernel (r09) must be
    bit-identical to the all-JVM fold equi-join on cluster_id -- the
    kernel-sharing pin VERDICT r08 #3 asked for. cluster_id = vec_id % 3
    stands in for the k-means assignment (the contract is per-cluster
    pair equality for ANY deterministic partition, not one clustering);
    block_rows=64 forces multi-block clusters so same-block and
    cross-block groups both execute."""
    e = load_table(spark, sf_dir, "embeddings")
    member = (
        e.select("vec_id", S._as_double("embedding").alias("v"))
        .withColumn("n2", S.dot(F.col("v"), F.col("v")))
        .withColumn("cluster_id", (F.col("vec_id") % 3).cast("int"))
        .where(F.col("n2") > 0)
    )
    fold = {
        (r.id_a, r.id_b): r.cos
        for r in S.semantic_pairs_auto(member, 0.4).collect()
    }
    blas = {
        (r.id_a, r.id_b): r.cos
        for r in S.cluster_pairs_above_blas(member, 0.4, block_rows=64).collect()
    }
    assert fold, "fixtures should contain qualifying within-cluster pairs"
    assert set(fold) == set(blas)
    assert all(fold[k] == blas[k] for k in fold)

    # the auto-route itself: forcing the bound down must flip the stage to
    # the dgemm kernel and return the identical stream
    routed = {
        (r.id_a, r.id_b): r.cos
        for r in S.semantic_pairs_auto(member, 0.4, fold_max_cluster=1).collect()
    }
    assert routed == fold

    # empty member frame degrades to a typed empty pair stream
    empty = spark.createDataFrame(
        [], "vec_id long, cluster_id int, v array<double>, n2 double"
    )
    assert S.cluster_pairs_above_blas(empty, 0.4).count() == 0
    assert S.semantic_pairs_auto(empty, 0.4).count() == 0


def test_blas_topk_matches_bruteforce_exactly(spark, sf_dir):
    """brute_force_topk_blas (r08) must reproduce the JVM baseline bit for
    bit: same neighbors, same ranks, same cosine doubles -- the margin-
    buffered candidate cut provably contains the exact top-k and the
    accumulate re-score replicates the fold."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    jvm = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.brute_force_topk(e, q, k=5).collect()
    )
    blas = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.brute_force_topk_blas(e, q, k=5).collect()
    )
    assert jvm and jvm == blas

    # k exceeding the corpus: every query still gets corpus-1 ranked rows
    small = e.limit(4)
    got = S.brute_force_topk_blas(small, small, k=10).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_blas_ivf_probe_matches_jvm_probe_exactly(spark, sf_dir):
    """ivf_topk_blas (r08) must reproduce ivf_topk bit for bit: the list
    selection is the SAME _probe_frame JVM expression, the margin-buffered
    per-(query, list-group) candidate cut provably contains every global
    top-k member, and the accumulate re-score replicates the fold -- so
    neighbors, ranks AND cosine doubles are identical. Also pinned on the
    amortized split-index path (ivf_probe_topk_blas over a standing
    ivf_assign frame) and on empty inputs."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    jvm = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.ivf_topk(e, q, k=5, n_lists=8, n_probe=3).collect()
    )
    blas = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.ivf_topk_blas(e, q, k=5, n_lists=8, n_probe=3).collect()
    )
    assert jvm and jvm == blas

    # amortized path: standing index, separate probe call
    pivots = S.ivf_pivots(e, n_lists=8)
    assigned = S.ivf_assign(e, pivots)
    split = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.ivf_probe_topk_blas(
            assigned, q, pivots, k=5, n_probe=3
        ).collect()
    )
    assert split == jvm

    # empty corpus and empty query set both yield typed empty results
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.ivf_topk_blas(empty, q, k=5).count() == 0
    assert S.ivf_topk_blas(e, empty, k=5).count() == 0


def test_semantic_dedup_matches_python_reference(spark, sf_dir):
    """dedup_semantic (plans/similarity.py): replicate the within-cluster
    pair stage in Python over the SAME k-means assignment and pin the
    min-id-survivor / n_dups / max_cos algebra exactly. The cosine fold is
    the identical left-to-right double accumulation, so comparisons against
    tau cannot flip between the replica and the engine."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.similarity import (
        _kmeans_assignment,
        dedup_semantic,
    )

    out = {r.vec_id: r for r in dedup_semantic(spark, sf_dir).collect()}
    assign = {
        r.vec_id: r.cluster_id
        for r in _kmeans_assignment(spark, sf_dir).collect()
    }
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert set(out) == set(assign) == set(vecs)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    norms = {i: fold_dot(v, v) for i, v in vecs.items()}
    expected = {}
    for j in vecs:
        hits = []
        for i in vecs:
            if i >= j or assign[i] != assign[j]:
                continue
            if norms[i] <= 0 or norms[j] <= 0:
                continue  # undefined cosine: never a candidate
            cos = fold_dot(vecs[i], vecs[j]) / math.sqrt(norms[i] * norms[j])
            if cos >= 0.4:
                hits.append((i, cos))
        expected[j] = hits

    n_flagged = 0
    for j, row in out.items():
        hits = expected[j]
        assert row.cluster_id == assign[j]
        assert row.is_dup == bool(hits), j
        assert row.n_dups == len(hits), j
        if hits:
            n_flagged += 1
            assert row.dup_of == min(i for i, _ in hits), j
            assert row.max_cos == max(c for _, c in hits), j
        else:
            assert row.dup_of is None and row.max_cos is None, j
    # the fixture must actually exercise the dup path
    assert n_flagged > 0


def test_blas_ivf_assign_matches_jvm_exactly(spark, sf_dir):
    """ivf_assign_blas (r09) must reproduce ivf_assign row for row: same
    list choice (incl. the first-index tie rule), same exact cn2, same
    vectors -- the index-BUILD side of the BLAS bit-identity discipline."""
    e = load_table(spark, sf_dir, "embeddings")
    pivots = S.ivf_pivots(e, 16)
    jvm = sorted(
        (r.neighbor_id, r.list_id, r.cn2, tuple(r.cv))
        for r in S.ivf_assign(e, pivots).collect()
    )
    blas = sorted(
        (r.neighbor_id, r.list_id, r.cn2, tuple(r.cv))
        for r in S.ivf_assign_blas(e, pivots).collect()
    )
    assert jvm and jvm == blas

    # zero-norm handling mirrors ivf_assign in both modes
    z = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pv = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    for flag in (False, True):
        a = {
            r.neighbor_id: r.list_id
            for r in S.ivf_assign_blas(z, pv, include_zero_norm=flag).collect()
        }
        b = {
            r.neighbor_id: r.list_id
            for r in S.ivf_assign(z, pv, include_zero_norm=flag).collect()
        }
        assert a == b
        assert set(a) == ({1, 2} if flag else {2})


def test_annotate_survivors_branches_bitwise_identical(spark, monkeypatch):
    """The size-gated survivor join (r10: kills the forced broadcast of
    the data-dependent component table) must produce identical rows on
    the broadcast branch and the shuffled-join branch, including docs
    with no component row (kept=true, canonical=self)."""
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(10)], "doc_id long, source string"
    )
    comps = spark.createDataFrame(
        [(1, 1), (4, 1), (7, 7), (9, 7)], "doc_id long, component_id long"
    ).localCheckpoint()
    bcast = {
        (r.doc_id, r.canonical_id, r.kept, r.source)
        for r in D.annotate_survivors(docs, comps).collect()
    }
    monkeypatch.setattr(D, "_SURVIVORS_BROADCAST_MAX_ROWS", -1)
    shuf = {
        (r.doc_id, r.canonical_id, r.kept, r.source)
        for r in D.annotate_survivors(docs, comps).collect()
    }
    assert bcast == shuf
    assert len(bcast) == 10
    # survivors: every doc except the non-canonical component members 4, 9
    kept = {r[0] for r in bcast if r[2]}
    assert kept == {0, 1, 2, 3, 5, 6, 7, 8}
    by_id = {r[0]: r[1] for r in bcast}
    assert by_id[4] == 1 and by_id[9] == 7 and by_id[5] == 5


def test_pq_fused_fit_matches_per_subspace_kmeans_exactly(spark, sf_dir):
    """pq_fit's fused single-job Lloyd rounds must be bit-identical to m
    independent per-subspace kmeans_fit runs (the form the ann_pq_adc_topk
    oracle unrolls): same md5 pivot seed sliced, same decimal-exact means,
    same argmin tie rule."""
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    fused = S.pq_fit(e, m=4, k=16, iters=2, dim=64)
    for s in range(4):
        sub = e.select(
            "vec_id",
            F.slice(S._as_double("embedding"), s * 16 + 1, 16).alias("subv"),
        )
        solo = S.kmeans_fit(sub, k=16, iters=2, vec_col="subv")
        assert fused[s] == solo, f"subspace {s} codebooks differ"


def test_pq_fit_multi_matches_sequential_fits_exactly(spark, sf_dir):
    """pq_fit_multi's fused rounds (one Spark job per Lloyd round for ALL
    variants -- the r15 dim-alloc optimization) must be bit-identical to
    sequential pq_fit per corpus, and the driver-side permuted seed must
    equal the permuted corpus's own md5-ordered sample (ivf_pivots orders
    by id only, so a column permutation of the corpus permutes the sample
    vectors verbatim)."""
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = S._as_double("embedding")
    base = e.select("vec_id", v.alias("w"))
    perm = list(range(63, -1, -1))  # any fixed permutation
    basep = e.select(
        "vec_id", F.array(*[v[perm[j]] for j in range(64)]).alias("w")
    )
    seed = S.ivf_pivots(base, 16, vec_col="w")
    seed_p_derived = [[p[perm[j]] for j in range(64)] for p in seed]
    assert seed_p_derived == S.ivf_pivots(basep, 16, vec_col="w")
    fused = S.pq_fit_multi(
        [base, basep], [seed, seed_p_derived], m=4, k=16, iters=2, dim=64,
        vec_col="w",
    )
    solo = [
        S.pq_fit(c, m=4, k=16, iters=2, dim=64, vec_col="w")
        for c in (base, basep)
    ]
    assert fused == solo


def test_pq_fit_multi_rejects_seed_larger_than_k(spark):
    """A seed carrying more pivot rows than the codebook size is a caller
    mistake: it must raise ValueError naming both lengths, before any
    Spark job runs."""
    k = 4
    seed = [[float(i)] * 8 for i in range(k + 1)]
    corpus = spark.range(1).select(F.array(*[F.lit(0.0)] * 8).alias("w"))
    with pytest.raises(ValueError, match=r"5 rows.*k=4"):
        S.pq_fit_multi([corpus], [seed], m=2, k=k, dim=8, vec_col="w")


def test_pq_codes_are_bounded_ints(spark, sf_dir):
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = S.pq_fit(e, m=4, k=16, iters=2, dim=64)
    codes = S.pq_codes(e, books).collect()
    assert len(codes) == e.count()
    for r in codes:
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 16


def test_pq_codes_blas_matches_jvm_exactly(spark, sf_dir):
    """The dgemm encode kernel must produce the JVM argmin expression's
    codes bit for bit (candidate + exact-rescore + lowest-index tie
    rule), and the forced-blas fit must return the same codebooks as the
    JVM fit (the decimal mean aggregate never leaves Spark)."""
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    jvm_books = S.pq_fit(e, m=4, k=16, iters=2, dim=64, via_blas=False)
    blas_books = S.pq_fit(e, m=4, k=16, iters=2, dim=64, via_blas=True)
    assert jvm_books == blas_books
    jvm = {tuple(r) for r in S.pq_codes(e, jvm_books).collect()}
    blas = {tuple(r) for r in S.pq_codes_blas(e, jvm_books).collect()}
    assert jvm == blas and len(jvm) == e.count()


def test_pq_codes_blas_carries_extra_cols(spark, sf_dir):
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = S.pq_fit(e, m=4, k=16, iters=2, dim=64, via_blas=False)
    tagged = e.withColumn("tag", F.col("vec_id") * 2)
    out = S.pq_codes_blas(tagged, books, extra_cols=["tag"]).collect()
    assert all(r.tag == r.vec_id * 2 for r in out)


def _write_docs_fixture(spark, rows, prefix):
    """Write a tiny documents.parquet fixture dir for plan-level tests."""
    import atexit
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_span_auto_route_uncapped_equals_primary(spark):
    """Where the cap is NOT binding (hottest posting list <= _F_AUTO) the
    auto-routed detect/remove queries must be bit-identical to the
    uncapped primaries -- routing is pure cost there, never semantics."""
    import sqldataintegrationfunctiontriggerapp_spark.plans.dedup as dd

    base = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"x{i}" for i in range(12))
    d = _write_docs_fixture(
        spark,
        [(1, base, "en", "a", len(base)),
         (2, base, "en", "a", len(base)),
         (3, other, "en", "a", len(other))],
        "span_auto_lo_",
    )
    runs = {tuple(r) for r in dd.crossdoc_span_runs(spark, d).collect()}
    runs_auto = {
        tuple(r) for r in dd.crossdoc_span_runs_auto(spark, d).collect()
    }
    assert runs == runs_auto and runs
    rm = {tuple(r) for r in dd.crossdoc_span_removal(spark, d).collect()}
    rm_auto = {
        tuple(r) for r in dd.crossdoc_span_removal_auto(spark, d).collect()
    }
    assert rm == rm_auto and len(rm) == 3


def test_span_auto_route_caps_on_boilerplate(spark):
    """Where any posting list exceeds _F_AUTO documents, the auto route
    must flip to the _CAP_F-masked postings: identical output to
    crossdoc_span_runs_capped, and strictly fewer pair rows than the
    uncapped primary (the boilerplate-only pairs are the ones dropped)."""
    import sqldataintegrationfunctiontriggerapp_spark.plans.dedup as dd

    n_docs = dd._F_AUTO + 6  # hottest shingle df = 70 > _F_AUTO
    boiler = " ".join(f"b{i}" for i in range(8))  # one shared 8-gram
    rows = [
        (
            i,
            f"u{i}a u{i}b u{i}c {boiler} t{i}x t{i}y t{i}z",
            "en",
            "a",
            40,
        )
        for i in range(n_docs)
    ]
    # plus one genuine near-dup pair whose shared span survives the cap
    uniq = " ".join(f"q{i}" for i in range(12))
    rows += [(1000, uniq, "en", "a", len(uniq)),
             (1001, uniq, "en", "a", len(uniq))]
    d = _write_docs_fixture(spark, rows, "span_auto_hi_")
    capped = {
        tuple(r) for r in dd.crossdoc_span_runs_capped(spark, d).collect()
    }
    auto = {tuple(r) for r in dd.crossdoc_span_runs_auto(spark, d).collect()}
    assert auto == capped
    assert (1000, 1001) in {(a, b) for (a, b, *_) in auto}
    n_uncapped = dd.crossdoc_span_runs(spark, d).count()
    assert len(auto) < n_uncapped


def test_minhash_shard_merge_empty_corpus(spark):
    """ADVICE r10 #5: over a corpus with ZERO shingles (all docs shorter
    than the shingle width) the mergeability contract is vacuous -- zero
    rows, matching the oracle's GROUP BY over an empty set, instead of 16
    NULL-signature rows from Spark's ungrouped global agg."""
    import sqldataintegrationfunctiontriggerapp_spark.plans.dedup as dd

    d = _write_docs_fixture(
        spark,
        [(1, "one two", "en", "a", 7), (2, "a b", "en", "a", 3)],
        "mh_merge_empty_",
    )
    assert dd.minhash_shard_merge(spark, d).count() == 0


def test_image_header_parsers_and_corrupt_degradation(spark):
    """The 'image_dims' codec must parse real PNG/JPEG header bytes and degrade
    per-row on garbage (format 'unknown', NULL dims) without failing the
    task -- the corrupt-file contract of a media crawl."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.multimodal import (
        _jpeg_bytes,
        _png_bytes,
        decode_media,
    )

    # r11 review hardening: a bit-flipped IHDR width field (FF FF FF FF)
    # overflows int32 and used to KILL the task at the pd.array Int32 cast;
    # an out-of-table color type used to emit 'png' with n_channels=0; a
    # NULL content cell used to raise at bytes(None). All three must
    # degrade per-row instead.
    overflow_png = bytearray(_png_bytes(16, 16, color_type=2))
    overflow_png[16:20] = b"\xff\xff\xff\xff"
    badcolor_png = bytearray(_png_bytes(16, 16, color_type=2))
    badcolor_png[25] = 5
    rows = [
        (1, bytearray(_png_bytes(800, 600, color_type=6))),
        (2, bytearray(_jpeg_bytes(320, 240, n_comp=1))),
        (3, bytearray(b"\x89PNG but truncated")),
        (4, bytearray(b"\xff\xd8\x00garbage after SOI")),
        (5, bytearray(b"")),
        (6, overflow_png),
        (7, badcolor_png),
        (8, None),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    out = {r.media_id: r for r in decode_media(media, "image_dims").collect()}
    assert (out[1].format, out[1].width, out[1].height,
            out[1].n_channels) == ("png", 800, 600, 4)
    assert (out[2].format, out[2].width, out[2].height,
            out[2].n_channels) == ("jpeg", 320, 240, 1)
    for bad in (3, 4, 5, 6, 7, 8):
        assert out[bad].format == "unknown", bad
        assert out[bad].width is None and out[bad].n_channels is None


# one fixture per codec whose doc_id 1 payload decodes cleanly; a codec
# added to MM.CODECS without an entry here fails the test below
_GOOD_FIXTURE = {
    "image_dims": MM._image_header_bytes,
    "png": MM._png_full_bytes,
    "png_interlaced": MM._png_interlaced_bytes,
    "jpeg": MM._jpeg_full_bytes,
    "gif": MM._gif_full_bytes,
    "gif_interlaced": MM._gif_interlaced_bytes,
    "wav": MM._wav_full_bytes,
    "wav_windows": MM._wav_full_bytes,
    "adpcm": MM._adpcm_full_bytes,
    "avi": MM._avi_full_bytes,
    "mjpeg": MM._mjpeg_full_bytes,
}


@pytest.mark.parametrize("codec", sorted(MM.CODECS))
def test_codec_degrades_bad_payloads_per_row(spark, codec):
    """The shared degradation contract of decode_media, for every codec: a
    NULL cell, empty bytes and junk each degrade their own row ('unknown'
    with NULL fields; mjpeg one frame=NULL row; WAV windows no rows)
    while the good fixture row in the same batch decodes, and the output
    columns carry exactly the codec's declared names and types."""
    schema, _rows_fn = MM.CODECS[codec]
    media = spark.createDataFrame(
        [
            (1, bytearray(_GOOD_FIXTURE[codec](1))),
            (2, None),
            (3, bytearray(b"")),
            (4, bytearray(b"junk, not a media payload")),
        ],
        "media_id bigint, content binary",
    ).coalesce(1)
    out = MM.decode_media(media, codec)
    declared = [tuple(c.split()) for c in schema.split(",")]
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == (
        declared
    )
    rows = out.collect()
    good = [r for r in rows if r.media_id == 1]
    bad = sorted((r for r in rows if r.media_id != 1), key=lambda r: r[0])
    assert good
    if codec == "wav_windows":
        assert bad == []
        return
    assert [r.media_id for r in bad] == [2, 3, 4]
    if codec == "mjpeg":
        assert all(r.status == "ok" for r in good)
        for r in bad:
            assert r.frame is None and r.status == "unknown"
            assert all(v is None for v in r[3:])
    elif codec == "image_dims":
        assert good[0].format == "jpeg" and good[0].width == 2
        for r in bad:
            assert r.format == "unknown"
            assert all(v is None for v in r[2:])
    else:
        assert good[0].status == "ok"
        for r in bad:
            assert r.status == "unknown"
            assert all(v is None for v in r[2:])


def test_png_rgba_decodes_ok_with_three_channel_sums(spark):
    """An 8-bit RGBA PNG (color_type 6) decodes 'ok': the schema carries
    three channel sums, so the alpha sum is dropped rather than widening
    the row past PIXEL_SCHEMA and failing the task."""
    import zlib

    w, h = 3, 2
    px = [(x * 10 + y, 50 + x, 100 + y, 200 + x + y)
          for y in range(h) for x in range(w)]
    raw = b"".join(
        b"\x00" + bytes(v for p in px[y * w:(y + 1) * w] for v in p)
        for y in range(h)
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + MM._png_chunk(
            b"IHDR",
            w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 6, 0, 0, 0]),
        )
        + MM._png_chunk(b"IDAT", zlib.compress(raw))
        + MM._png_chunk(b"IEND", b"")
    )
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(MM._png_full_bytes(1)))],
        "media_id bigint, content binary",
    ).coalesce(1)
    out = {r.media_id: r for r in MM.decode_media(media, "png").collect()}
    r = out[1]
    assert (r.status, r.width, r.height, r.n_channels) == ("ok", w, h, 4)
    assert (r.c0_sum, r.c1_sum, r.c2_sum) == tuple(
        sum(p[c] for p in px) for c in range(3)
    )
    assert out[2].status == "ok"

def test_truthful_ckpt_survives_clearcache_with_honest_stats(spark, sf_dir):
    """The r11 stage-materialization contract (plans/_util.py
    truthful_ckpt): the returned frame must (a) keep the materialized
    cache's HONEST size statistics -- not the raw explode chain's
    lying-small estimate -- and (b) stay materialized across
    spark.catalog.clearCache(), which the bench harness runs between
    queries (a bare persist() stage was silently evicted there and
    re-paid the whole family build per query)."""
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        truthful_ckpt,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exploded = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )

    def size_of(df):
        return int(
            df.select("*")._jdf.queryExecution().optimizedPlan()
            .stats().sizeInBytes()
        )

    raw_estimate = size_of(exploded)
    out = truthful_ckpt(exploded)
    honest = size_of(out)
    # the explode estimate inherits the parquet scan's bytes (lying small
    # for a token explosion); the materialized stats must exceed it
    assert honest > raw_estimate, (honest, raw_estimate)
    # the SQL-cache copy was released; only the checkpoint remains
    assert not out.is_cached
    spark.catalog.clearCache()
    assert size_of(out) == honest  # stats snapshot survives eviction
    # and the data itself does not recompute from the (mutable) source:
    # a checkpoint scan counts rows without touching the parquet lineage
    assert out.count() == exploded.count()


def test_ann_index_publish_reads_index_with_its_written_schema(
        spark, sf_dir):
    """ann_index_publish_probe reads each published index generation back
    with the schema of the frame it wrote, which must be the schema Spark
    infers from the files."""
    import glob
    import json
    import os

    from sqldataintegrationfunctiontriggerapp_spark import plans
    from sqldataintegrationfunctiontriggerapp_spark.plans import _util

    _util.drop_stage(spark, sf_dir, "ann_index_publish")
    assert plans.QUERIES["ann_index_publish_probe"](spark, sf_dir).count()
    base, _ = _util._STAGE_CACHE[
        (spark.sparkContext.applicationId, sf_dir, "ann_index_publish")]
    e = load_table(spark, sf_dir, "embeddings")
    generations = glob.glob(os.path.join(base, "index_root", "v*"))
    assert len(generations) == 2
    for gen in generations:
        with open(os.path.join(gen, "pivots.json")) as f:
            written = S.ivf_assign(e, json.load(f)).schema
        path = os.path.join(gen, "assigned")
        assert (spark.read.schema(written).parquet(path).schema
                == spark.read.parquet(path).schema)


def test_greedy_dim_allocation_balances_the_ramp():
    """The measured-spectrum allocation rule (operators/similarity.py
    greedy_dim_allocation): on the 8-plateau power-of-two ramp the
    registered ann_pq_dim_alloc_recall uses, every subspace must receive
    an equal share of every variance plateau (which is exactly what the
    query's round-robin permutation hand-encodes), sizes must be equal,
    and the result must be deterministic."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        allocation_permutation,
        greedy_dim_allocation,
    )

    var = [4.0 ** (-(j // 8)) for j in range(64)]  # scale^2 of the ramp
    alloc = greedy_dim_allocation(var, 4)
    assert [len(b) for b in alloc] == [16] * 4
    assert sorted(j for b in alloc for j in b) == list(range(64))
    for plateau in range(8):
        dims = set(range(plateau * 8, plateau * 8 + 8))
        shares = [len(dims & set(b)) for b in alloc]
        assert shares == [2, 2, 2, 2], (plateau, shares)
    assert alloc == greedy_dim_allocation(list(var), 4)
    perm = allocation_permutation(alloc)
    assert sorted(perm) == list(range(64)) and len(perm) == 64
    # a spectrum with one dominant dim: the heavy dim's subspace must
    # receive the SMALLEST remaining variance mass (greedy compensation)
    var2 = [1000.0] + [1.0] * 63
    alloc2 = greedy_dim_allocation(var2, 4)
    heavy = next(b for b in alloc2 if 0 in b)
    assert len(heavy) == 16


def test_mmr_first_pick_is_top_relevance_and_ids_distinct(spark, sf_dir):
    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES

    rows = sorted(
        QUERIES["mmr_diverse_topk"](spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    # rank 1 is the pure-relevance argmax (maxsim term is zero)
    assert rows[0]["relevance"] == max(r["relevance"] for r in rows)
    # every later pick's score is lam*rel - (1-lam)*maxsim with
    # maxsim in [-1, 1] (cosine to a selected item may be NEGATIVE, so
    # the penalty term can raise the score): |score - lam*rel| <= 1-lam
    for r in rows[1:]:
        assert abs(r["mmr_score"] - 0.7 * r["relevance"]) <= 0.3 + 1e-12


def test_kcenter_radius_non_increasing_and_ids_distinct(spark, sf_dir):
    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES

    rows = sorted(
        QUERIES["kcenter_coreset"](spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    assert rows[0]["radius2"] is None
    radii = [r["radius2"] for r in rows[1:]]
    assert all(r is not None and r >= 0 for r in radii)
    # farthest-point traversal: covering radius certificate is monotone
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)


def test_wav_window_features_match_closed_form(spark):
    """The decode -> framing seam end-to-end on a tiny frame: windows of
    20 frames over channel 0, energy and zero-crossings equal the
    fixture's closed form."""
    docs = spark.createDataFrame([(7,), (54,)], "doc_id long")
    out = MM.decode_media(MM.synth_media(docs, MM._wav_full_bytes), "wav_windows")
    got = {(r.media_id, r.win): (r.n_frames, r.abs_sum, r.zero_crossings)
           for r in out.collect()}
    for did in (7, 54):
        nf = did % 50 + 10
        ch0 = [MM._wav_sample(did, i, 0) for i in range(nf)]
        for w0 in range(0, nf, 20):
            seg = ch0[w0:w0 + 20]
            zc = sum(1 for a, b in zip(seg, seg[1:]) if (a >= 0) != (b >= 0))
            assert got[(did, w0 // 20)] == (
                len(seg), sum(abs(v) for v in seg), zc
            )
    assert len(got) == sum(-(-(d % 50 + 10) // 20) for d in (7, 54))


def test_wav_window_features_never_throw_on_multi_data_chunks(spark):
    """ADVICE r13 regression: a WAV with TWO data chunks (decoy first) is
    accepted by _decode_wav_one (last-chunk-wins walk). The r13 window
    extractor re-walked the file taking the FIRST chunk and struck a
    struct.error task-killer; the fix reuses decode's own samples, so the
    row must produce windows matching the REAL (last) data chunk."""
    import struct

    did = 7
    good = MM._wav_full_bytes(did)  # 1 channel, 17 frames
    nf = did % 50 + 10
    # splice a decoy odd-length 'data' chunk right after the fmt chunk
    fmt_at = good.index(b"fmt ")
    fmt_size = int.from_bytes(good[fmt_at + 4:fmt_at + 8], "little")
    cut = fmt_at + 8 + fmt_size + (fmt_size & 1)
    decoy = b"data" + (3).to_bytes(4, "little") + b"\x01\x02\x03\x00"
    evil = bytearray(good[:cut] + decoy + good[cut:])
    # patch the RIFF size so the container stays well-formed
    evil[4:8] = (len(evil) - 8).to_bytes(4, "little")
    evil = bytes(evil)
    r = MM._decode_wav_one(evil)
    assert r is not None and r[0] != "corrupt"  # decode accepts it

    media = spark.createDataFrame(
        [(did, bytearray(evil))], "media_id long, content binary"
    )
    out = MM.decode_media(media, "wav_windows").collect()
    # no task failure, and features come from the real (last) data chunk
    ch0 = [MM._wav_sample(did, i, 0) for i in range(nf)]
    got = {(row.win): (row.n_frames, row.abs_sum) for row in out}
    for w0 in range(0, nf, 20):
        seg = ch0[w0:w0 + 20]
        assert got[w0 // 20] == (len(seg), sum(abs(v) for v in seg))


def test_adpcm_codec_roundtrip_and_degradation():
    """IMA ADPCM codec pin: the hand-rolled block decoder reproduces the
    reference predictor walk (step-table magnitudes, sign bit, int16
    clamp, index adaptation) for every fixture id; truncated data keeps
    the fmt header as corrupt; non-WAV bytes are unknown; 400 byte-flips
    never raise."""
    import random

    def ref_walk(did):
        n = did % 40 + 8
        p, idx = did % 1001 - 500, did % 89
        out = [p]
        for i in range(1, n):
            p, idx = MM._ima_step(p, idx, MM._adpcm_nibble(did, i))
            out.append(p)
        return out

    for did in (1, 2, 7, 54, 88, 200, 500):
        r = MM._decode_adpcm_one(MM._adpcm_full_bytes(did))
        s = ref_walk(did)
        assert r == (
            8000 * (did % 3 + 1), len(s), sum(s), min(s), max(s)
        ), did
    for did in (0, 107):  # truncated data chunk: fmt kept
        assert MM._decode_adpcm_one(MM._adpcm_full_bytes(did)) == (
            "corrupt", 8000 * (did % 3 + 1)
        )
    assert MM._decode_adpcm_one(b"") is None
    assert MM._decode_adpcm_one(b"RIFFxxxxJUNKpadpad") is None
    rnd = random.Random(31)
    for _ in range(400):
        b = bytearray(MM._adpcm_full_bytes(rnd.randrange(0, 600)))
        b[rnd.randrange(len(b))] ^= 0xFF
        MM._decode_adpcm_one(bytes(b))  # must not raise


def test_mjpeg_composition_matches_closed_form():
    """VERDICT r13 #2: the AVI frame walk composed with the baseline-JPEG
    reader -- every complete '00dc' payload decodes to the JPEG closed
    form at seed doc_id + 131*frame; truncated containers yield their
    intact leading frames; per-frame entropy corruption degrades only
    that frame."""
    for did in (1, 5, 47, 89, 103, 0, 258):
        frames, trunc = MM._mjpeg_frames_one(MM._mjpeg_full_bytes(did))
        total = did % 6 + 2
        assert trunc == (did % 103 == 0)
        assert len(frames) == (total - 1 if trunc else total)
        for f, payload in enumerate(frames):
            seed = did + 131 * f
            jr = MM._decode_jpeg_pixels_one(payload)
            w, h = 8 * (seed % 4 + 1), 8 * (seed % 3 + 1)
            if seed % 89 == 0:
                assert jr == ("corrupt", w, h, 1)
            else:
                vs = [
                    (5 * bx + 7 * by + seed) % 256
                    for bx in range(w // 8)
                    for by in range(h // 8)
                ]
                assert jr == (
                    w, h, 1, [64 * sum(vs)], min(vs), max(vs)
                )
    # non-AVI bytes: unknown, never a raise
    assert MM._mjpeg_frames_one(b"not a riff") is None
    assert MM._mjpeg_frames_one(b"") is None


def test_mjpeg_byte_flip_fuzz_never_throws():
    """Byte-flip fuzzing across BOTH layers (the r13 discipline that
    found the SOS KeyError task-killer): flipping any byte of the
    container or any frame payload must degrade per-frame or per-file,
    never raise."""
    import random

    rnd = random.Random(29)
    for _ in range(300):
        buf = bytearray(MM._mjpeg_full_bytes(rnd.randrange(0, 500)))
        buf[rnd.randrange(len(buf))] ^= 0xFF
        r = MM._mjpeg_frames_one(bytes(buf))
        if r is None:
            continue
        frames, _trunc = r
        for payload in frames:
            MM._decode_jpeg_pixels_one(payload)  # must not raise


def test_avi_container_roundtrip_and_degradation():
    """RIFF/AVI container codec pin: header fields, frame census, and
    payload byte count equal the closed form; truncated movi keeps the
    header as corrupt; non-AVI bytes are unknown."""
    for did in (1, 4, 17, 102, 300):
        fps = 10 + (did % 5) * 5
        uspf, total = 1_000_000 // fps, did % 40 + 5
        w, h = 16 * (did % 20 + 1), 16 * (did % 15 + 1)
        mb = sum(MM._avi_frame_size(did, f) for f in range(total))
        assert MM._decode_avi_one(MM._avi_full_bytes(did)) == (
            w, h, uspf, total, 1, total, mb
        )
    r = MM._decode_avi_one(MM._avi_full_bytes(103))
    assert r[0] == "corrupt" and r[1:] == (
        16 * (103 % 20 + 1), 16 * (103 % 15 + 1),
        1_000_000 // (10 + (103 % 5) * 5), 103 % 40 + 5, 1,
    )
    assert MM._decode_avi_one(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert MM._decode_avi_one(b"") is None
    # declared frame count above the chunks actually present -> corrupt
    buf = bytearray(MM._avi_full_bytes(9))
    at = buf.index(b"avih") + 8 + 16  # avih field 4: total_frames
    buf[at:at + 4] = (1000).to_bytes(4, "little")
    r = MM._decode_avi_one(bytes(buf))
    assert r is not None and r[0] == "corrupt" and r[4] == 1000
