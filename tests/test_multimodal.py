"""Resize/frame-sample plumbing (extensions/multimodal.py). The oracle
differential pins the plan entries; these pin the payload-moving seam,
the plan/execute agreement, and the feature/dedup/decoder seams on a
hand-built binary column."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bread_spark.extensions import multimodal as MM
from bread_spark.extensions.multimodal import (
    RESIZE_MAX_H,
    RESIZE_MAX_W,
    media_from_documents,
    media_resize_plan,
    resize_media,
    set_resizer,
)
from tests.conftest import SF_DIR


def test_resize_never_upscales_and_preserves_aspect(spark):
    plan = media_resize_plan(spark, SF_DIR).collect()
    assert plan
    for r in plan:
        assert 1 <= r["out_w"] <= min(r["width"], RESIZE_MAX_W)
        assert 1 <= r["out_h"] <= min(r["height"], RESIZE_MAX_H)
        # aspect preserved to floor precision: out_w/out_h within one
        # pixel step of width/height's ratio
        if r["width"] <= RESIZE_MAX_W and r["height"] <= RESIZE_MAX_H:
            assert (r["out_w"], r["out_h"]) == (r["width"], r["height"])
        else:
            assert abs(r["out_w"] * r["height"] - r["out_h"] * r["width"]) <= max(
                r["width"], r["height"]
            )


def test_resize_media_agrees_with_plan_and_runs_seam(spark):
    media = media_from_documents(spark, SF_DIR)
    plan = {
        r["media_id"]: (r["out_w"], r["out_h"])
        for r in media_resize_plan(spark, SF_DIR).collect()
    }
    rows = resize_media(media).collect()
    assert {r["media_id"] for r in rows} == set(plan)
    for r in rows:
        assert (r["out_w"], r["out_h"]) == plan[r["media_id"]]
        # the fake resampler sizes payload by target area
        assert len(r["payload"]) == max(1, (r["out_w"] * r["out_h"]) // 256)


def test_resizer_seam_is_pluggable(spark):
    media = media_from_documents(spark, SF_DIR).limit(6)
    try:
        set_resizer(lambda payload, w, h: b"\x00" * 4)
        rows = resize_media(media).collect()
        assert rows and all(r["payload"] == b"\x00" * 4 for r in rows)
    finally:
        from bread_spark.extensions import multimodal as M

        set_resizer(M._fake_resize)


def _byte_stream(seed: int, n: int) -> bytes:
    import hashlib

    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.sha256(f"{seed}:{i}".encode()).digest()
        i += 1
    return out[:n]


def _resample(payload: bytes, m: int) -> bytes:
    """Fake 'resize': nearest-neighbor resample of the byte signal —
    preserves block means, like pixel resampling preserves the
    low-frequency image content a real pHash keys on."""
    n = len(payload)
    return bytes(payload[j * n // m] for j in range(m))


def _requantize(payload: bytes, q: int = 8) -> bytes:
    """Fake 'lossy re-encode': quantize every byte to a multiple of q —
    shifts all block means (and the median) together."""
    return bytes((b // q) * q for b in payload)


def _phash_media(spark, rows):
    from bread_spark.extensions.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_phash_planted_transform_recall(spark):
    """Resized and re-encoded twins within the accept threshold are
    FOUND — with MIH probing (r13), every twin inside ANY threshold is
    found by CONSTRUCTION (pigeonhole: some band within ρ =
    max_hamming // bands, and the probe ball covers ρ), not by a lucky
    shared band. Twins past the default cut (seeds 1 and 3 measure
    Hamming 8) are correctly NOT accepted at max_hamming=7 — and ARE
    found at max_hamming=10 (VERDICT r12 #6: the 8..10 tail is now a
    dial inside the guarantee, ρ=2 probes). Distinct originals are NOT
    paired; audio never enters the family."""
    from bread_spark.extensions.multimodal import (
        PHASH_MAX_HAMMING,
        _fake_phash,
        media_phash_features,
        phash_candidate_pairs,
    )

    def twin(i: int) -> bytes:
        p = _byte_stream(i, 2048)
        return _resample(p, 3072) if i < 4 else _requantize(p)

    def hamming(i: int) -> int:
        a = _fake_phash(_byte_stream(i, 2048), "image")
        b = _fake_phash(twin(i), "image")
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    guaranteed = {i for i in range(8) if hamming(i) <= PHASH_MAX_HAMMING}
    assert guaranteed == {0, 2, 4, 5, 6, 7}  # seeds 1/3 sit at 8 bits

    rows = [(i, "image", _byte_stream(i, 2048), "image/png") for i in range(8)]
    rows += [(100 + i, "image", twin(i), "image/png") for i in range(8)]
    rows.append((999, "audio", _byte_stream(0, 2048), "audio/wav"))
    feats = media_phash_features(_phash_media(spark, rows))
    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in phash_candidate_pairs(feats).collect()
    }
    assert set(pairs) == {(i, 100 + i) for i in guaranteed}
    assert all(h <= PHASH_MAX_HAMMING for h in pairs.values())

    # the 8..10-bit tail dial: at max_hamming=10 the ρ=2 probe ball
    # makes recall exact past PHASH_BANDS - 1 — seeds 1/3 (Hamming 8)
    # are now guaranteed-found, and nothing above 10 slips in
    wide = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in phash_candidate_pairs(feats, max_hamming=10).collect()
    }
    in_tail = {i for i in range(8) if hamming(i) <= 10}
    assert in_tail >= guaranteed | {1, 3}
    assert {p for p in wide if p[1] < 999} >= {(i, 100 + i) for i in in_tail}
    assert all(h <= 10 for h in wide.values())


def test_phash_bands_and_hamming_agree_with_python(spark):
    """The Spark band-wise bit_count Hamming equals the Python distance
    on the same fingerprints, and band ints stay within 8 bits."""
    from bread_spark.extensions.multimodal import (
        PHASH_BANDS,
        PHASH_BITS,
        _fake_phash,
        media_phash_features,
        phash_candidate_pairs,
    )

    p0 = _byte_stream(3, 2048)
    p1 = _resample(p0, 2560)
    h0, h1 = _fake_phash(p0, "image"), _fake_phash(p1, "image")
    assert len(h0) == PHASH_BANDS
    assert all(0 <= b < (1 << (PHASH_BITS // PHASH_BANDS)) for b in h0)
    want = sum(bin(x ^ y).count("1") for x, y in zip(h0, h1))
    rows = [(1, "image", p0, "image/png"), (2, "image", p1, "image/png")]
    got = phash_candidate_pairs(
        media_phash_features(_phash_media(spark, rows))
    ).collect()
    assert [(r.media_id_a, r.media_id_b, r.hamming) for r in got] == [
        (1, 2, want)
    ]


def test_phash_dedup_report_clusters(spark):
    """Each planted (original, twin) pair becomes one 2-member cluster
    labeled by its min media_id; unpaired media produce no row."""
    from bread_spark.extensions.multimodal import (
        media_phash_features,
        phash_candidate_pairs,
    )
    from bread_spark.extensions.dedup import connected_components
    import pyspark.sql.functions as F

    rows = [(i, "image", _byte_stream(i, 2048), "image/png") for i in range(4)]
    rows += [
        # resample twins of seeds 1/3 measure Hamming 8 (past the
        # guarantee-aligned gate), so odd seeds plant requantize twins
        # (Hamming 0) instead — every planted pair is guaranteed-found
        (
            100 + i,
            "image",
            _resample(_byte_stream(i, 2048), 3072)
            if i % 2 == 0
            else _requantize(_byte_stream(i, 2048)),
            "image/png",
        )
        for i in range(4)
    ]
    feats = media_phash_features(_phash_media(spark, rows))
    pairs = phash_candidate_pairs(feats).select(
        F.col("media_id_a").alias("doc_a"), F.col("media_id_b").alias("doc_b")
    )
    labels = connected_components(
        feats.select(F.col("media_id").alias("doc_id")), pairs
    )
    report = {
        r.canonical_media_id: r.cluster_size
        for r in labels.groupBy(F.col("cluster_id").alias("canonical_media_id"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
        .collect()
    }
    assert report == {i: 2 for i in range(4)}


def test_phash_gate_drops_twins_admits_novel(spark):
    """The ingest gate (foreachBatch body of the streaming story):
    incoming media with a base near-dup within the exact Hamming
    threshold is dropped — resized/re-encoded twins of base content —
    while novel content passes the inline verify even when its bands
    collide with the saturating base band table."""
    from bread_spark.extensions.multimodal import (
        media_phash_features,
        phash_gate,
    )

    base = _phash_media(
        spark, [(i, "image", _byte_stream(i, 2048), "image/png") for i in range(4)]
    )
    incoming = _phash_media(
        spark,
        [
            # twins of base 0/1 under both planted transforms
            # (Hamming 4 and 0 — inside the pigeonhole guarantee)
            (100, "image", _resample(_byte_stream(0, 2048), 3072), "image/png"),
            (101, "image", _requantize(_byte_stream(1, 2048)), "image/png"),
            # novel content
            (200, "image", _byte_stream(40, 2048), "image/png"),
            (201, "image", _byte_stream(41, 2048), "image/png"),
        ],
    )
    admitted = {
        r.media_id
        for r in phash_gate(incoming, media_phash_features(base)).collect()
    }
    assert 100 not in admitted and 101 not in admitted
    assert admitted == {200, 201}


def test_phash_gate_novel_admit_rate_at_scale(spark):
    """ADVICE r11 (medium): the old band-PRESENCE gate false-dropped
    ~80% of novel media against a 50-item base because 8-bit bands
    saturate. The inline exact-Hamming verify admits EVERY novel item
    against a 300-item base (their band collisions are verified away)
    while still dropping all planted twins."""
    from bread_spark.extensions.multimodal import (
        media_phash_features,
        phash_gate,
    )

    base = _phash_media(
        spark,
        [
            (i, "image", _byte_stream(1000 + i, 2048), "image/png")
            for i in range(300)
        ],
    )
    novel = [
        (200 + i, "image", _byte_stream(2000 + i, 2048), "image/png")
        for i in range(50)
    ]
    twins = [
        # base seeds 1002/1001: resample twin at Hamming 4, requantize
        # twin at 0 — both inside the pigeonhole guarantee
        (600, "image", _resample(_byte_stream(1002, 2048), 3072), "image/png"),
        (601, "image", _requantize(_byte_stream(1001, 2048)), "image/png"),
    ]
    admitted = {
        r.media_id
        for r in phash_gate(
            _phash_media(spark, novel + twins), media_phash_features(base)
        ).collect()
    }
    assert admitted == {200 + i for i in range(50)}  # 100% novel admit
    assert 600 not in admitted and 601 not in admitted


# ---------------------------------------------------------------------------
# DCT pHash kernel (VERDICT r11 #4) — synthetic 2-D PGM images
# ---------------------------------------------------------------------------


def _smooth_img(seed: int, h: int = 64, w: int = 64):
    """Deterministic low-frequency test image: a few random cosine
    plates + mild noise, scaled to 0..230 so a +20 brightness shift
    never clips (clipping would add non-DC energy)."""
    import numpy as np

    r = np.random.RandomState(seed)
    y, x = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(6):
        fy, fx = r.randint(0, 5, 2)
        ph = r.rand() * 2 * np.pi
        amp = r.rand() * 40 + 10
        img += amp * np.cos(2 * np.pi * (fy * y / h + fx * x / w) + ph)
    img += r.rand(h, w) * 6
    img -= img.min()
    img *= 230 / max(img.max(), 1e-9)
    return img


def _pgm(img) -> bytes:
    import numpy as np

    h, w = img.shape
    return b"P5 %d %d 255\n" % (w, h) + bytes(
        np.clip(img, 0, 255).astype(np.uint8).flatten()
    )


def test_dct_phash_decodes_pgm_and_ppm():
    """The PNM parser reads both raster forms (PPM via luma mean) and
    rejects malformed payloads instead of guessing."""
    import numpy as np

    from bread_spark.extensions.multimodal import _decode_pnm_gray

    img = _smooth_img(0, 8, 8)
    got = _decode_pnm_gray(_pgm(img))
    assert got is not None and np.allclose(got, img.astype(np.uint8))
    rgb = b"P6 2 2 255\n" + bytes(range(12))
    got3 = _decode_pnm_gray(rgb)
    assert got3 is not None and got3.shape == (2, 2)
    assert np.allclose(got3[0, 0], (0 + 1 + 2) / 3)
    # comment + arbitrary whitespace in the header
    assert _decode_pnm_gray(b"P5 # c\n2\n2 255\n" + bytes(4)) is not None
    for bad in (b"", b"P5", b"P5 2 2 255\n" + bytes(3), b"P5 2 2 70000\n", b"hi"):
        assert _decode_pnm_gray(bad) is None


def test_dct_phash_planted_transform_recall(spark):
    """The real 2-D kernel on genuine images: upscaled, brightness-
    shifted and requantized twins all land within the pigeonhole-
    guaranteed Hamming band (measured worst: 6/0/6 over these seeds),
    so the banded candidate join finds every planted pair; distinct
    images sit ≥26 bits apart and are never paired."""
    from bread_spark.extensions.multimodal import (
        PHASH_MAX_HAMMING,
        _box_resize,
        media_phash_features,
        phash_candidate_pairs,
    )

    rows = []
    for i in range(6):
        img = _smooth_img(i)
        rows.append((i, "image", _pgm(img), "image/pgm"))
        twin = (
            _box_resize(img, 96, 96)
            if i % 3 == 0
            else (img + 20)
            if i % 3 == 1
            else (img // 2) * 2
        )
        rows.append((100 + i, "image", _pgm(twin), "image/pgm"))
    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in phash_candidate_pairs(
            media_phash_features(_phash_media(spark, rows))
        ).collect()
    }
    assert set(pairs) == {(i, 100 + i) for i in range(6)}
    assert all(h <= PHASH_MAX_HAMMING for h in pairs.values())


def test_dct_phash_brightness_moves_only_dc():
    """A clipless brightness shift changes only the DC coefficient, and
    the median threshold excludes DC — the hash is bit-identical."""
    from bread_spark.extensions.multimodal import dct_phash

    img = _smooth_img(7)
    assert dct_phash(_pgm(img), "image") == dct_phash(_pgm(img + 20), "image")


def test_dct_phash_falls_back_to_byte_ahash():
    """Undecodable payloads ride the byte-signal aHash, so one
    registered phasher serves a mixed corpus (and the catalog's UTF-8
    derived media keeps its pre-r12 fingerprints)."""
    from bread_spark.extensions.multimodal import _fake_phash, dct_phash

    p = _byte_stream(5, 2048)
    assert dct_phash(p, "image") == _fake_phash(p, "image")


def test_dct_phash_band_ints_in_range():
    from bread_spark.extensions.multimodal import (
        PHASH_BANDS,
        PHASH_BITS,
        dct_phash,
    )

    bands = dct_phash(_pgm(_smooth_img(3)), "image")
    assert len(bands) == PHASH_BANDS
    assert all(0 <= b < (1 << (PHASH_BITS // PHASH_BANDS)) for b in bands)


def test_frame_samples_schedule_is_stride_30(spark):
    from bread_spark.extensions.multimodal import FRAME_EVERY_N, media_frame_samples

    rows = media_frame_samples(spark, SF_DIR).collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for media_id, rs in by_media.items():
        n = rs[0]["n_frames"]
        assert sorted(r["frame_idx"] for r in rs) == list(
            range(0, n, FRAME_EVERY_N)
        ), media_id


def test_hamming_ball_masks_sizes_and_guard():
    """The MIH probe set is the exact Hamming ball: 1+16 at ρ=1,
    +C(16,2) at ρ=2, +C(16,3) at ρ=3; ρ>3 is a design error (lengthen
    the fingerprint, banner dial) and raises."""
    import pytest

    from bread_spark.extensions.dedup import _hamming_ball_masks

    assert len(_hamming_ball_masks(16, 0)) == 1
    assert len(_hamming_ball_masks(16, 1)) == 17
    assert len(_hamming_ball_masks(16, 2)) == 137
    assert len(_hamming_ball_masks(16, 3)) == 697
    ball = _hamming_ball_masks(16, 2)
    assert len(set(ball)) == len(ball)
    assert all(bin(m).count("1") <= 2 and 0 <= m < 1 << 16 for m in ball)
    with pytest.raises(ValueError):
        _hamming_ball_masks(16, 4)


def test_phash_candidate_fanout_bounded_at_16bit_bands():
    """ADVICE r12 (medium) scale pin: the banded join's RANDOM-collision
    candidate count follows the banner formula pairs × m·masks / 2^w.
    At the r12 8×8 geometry every 256-value cell saturates and the
    join examines ~pairs/32 candidates — quadratic with a constant
    ~30× worse than the 4×16 MIH geometry this pin locks in. Counted
    in Python over the same fingerprints the Spark join buckets (the
    probe-hit predicate 'some band within ρ' is exactly the join's
    (band_idx, band_val) match), deterministic via seeded payloads."""
    from bread_spark.extensions.dedup import _hamming_ball_masks
    from bread_spark.extensions.multimodal import (
        PHASH_BANDS,
        PHASH_BAND_WIDTH,
        PHASH_MAX_HAMMING,
        _fake_phash,
    )

    n = 300
    feats = [_fake_phash(_byte_stream(5000 + i, 2048), "image") for i in range(n)]
    rho = PHASH_MAX_HAMMING // PHASH_BANDS
    n_masks = len(_hamming_ball_masks(PHASH_BAND_WIDTH, rho))

    def band_dists(a, b):
        return [bin(x ^ y).count("1") for x, y in zip(a, b)]

    new_geom = old_geom = 0
    for i in range(n):
        for j in range(i + 1, n):
            d = band_dists(feats[i], feats[j])
            if min(d) <= rho:  # 4×16 probe-join candidate
                new_geom += 1
            # the old 8×8 geometry: any 8-bit half-band exactly equal
            halves_equal = any(
                (x >> 8) == (y >> 8) or (x & 0xFF) == (y & 0xFF)
                for x, y in zip(feats[i], feats[j])
            )
            if halves_equal:
                old_geom += 1

    pairs = n * (n - 1) // 2
    bound = pairs * PHASH_BANDS * n_masks / (1 << PHASH_BAND_WIDTH)
    # random term within 3× of the formula (these fingerprints are not
    # perfectly uniform — byte-signal aHashes of random streams — so
    # allow headroom; the point is the ORDER, not the last digit)
    assert new_geom <= 3 * bound, (new_geom, bound)
    # and the retired 8-bit geometry examines ≥10× more candidates on
    # the SAME fingerprints — the ADVICE r12 fan-out, demonstrated
    assert old_geom >= 10 * max(new_geom, 1), (old_geom, new_geom)


def test_phash_full_codec_swap_preserves_contracts(spark):
    """VERDICT r12 #5: `set_phasher` is the documented swap-point for a
    real JPEG/PNG decoder. Register a stub full-codec phasher (strips a
    fake JPEG SOI header, decodes the embedded raster, runs the same
    DCT recipe) and re-run the planted-transform recall AND the gate
    admit/drop contract THROUGH the swapped kernel — the banded MIH
    machinery must preserve both regardless of the registered codec."""
    from bread_spark.extensions.multimodal import (
        PHASH_MAX_HAMMING,
        _box_resize,
        dct_phash,
        media_phash_features,
        phash_candidate_pairs,
        phash_gate,
        set_phasher,
    )

    def full_codec_phash(payload: bytes, kind: str) -> list[int]:
        # "full codec": understands one more container than dct_phash —
        # a JPEG-like envelope (SOI marker + embedded PNM raster)
        if payload.startswith(b"\xff\xd8"):
            return dct_phash(payload[2:], kind)
        return dct_phash(payload, kind)

    jpeg = lambda img: b"\xff\xd8" + _pgm(img)
    set_phasher(full_codec_phash)
    try:
        rows = []
        # seeds 0..3 with the i%3 transform pattern — the same planted
        # set the native-path recall test measures ≤6 bits on
        for i in range(4):
            img = _smooth_img(i)
            twin = (
                _box_resize(img, 96, 96)
                if i % 3 == 0
                else (img + 20)
                if i % 3 == 1
                else (img // 2) * 2
            )
            rows.append((i, "image", jpeg(img), "image/jpeg"))
            rows.append((100 + i, "image", jpeg(twin), "image/jpeg"))
        pairs = {
            (r.media_id_a, r.media_id_b): r.hamming
            for r in phash_candidate_pairs(
                media_phash_features(_phash_media(spark, rows))
            ).collect()
        }
        assert set(pairs) == {(i, 100 + i) for i in range(4)}
        assert all(h <= PHASH_MAX_HAMMING for h in pairs.values())

        base = _phash_media(
            spark,
            [(i, "image", jpeg(_smooth_img(60 + i)), "image/jpeg") for i in range(4)],
        )
        incoming = _phash_media(
            spark,
            [
                (100, "image", jpeg(_box_resize(_smooth_img(60), 96, 96)), "image/jpeg"),
                (101, "image", jpeg(_smooth_img(61) + 20), "image/jpeg"),
                (200, "image", jpeg(_smooth_img(80)), "image/jpeg"),
                (201, "image", jpeg(_smooth_img(81)), "image/jpeg"),
            ],
        )
        admitted = {
            r.media_id
            for r in phash_gate(incoming, media_phash_features(base)).collect()
        }
        assert admitted == {200, 201}
    finally:
        set_phasher(dct_phash)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNGfakebytes1", "image/png"),
        (2, "image", b"\x89PNGfakebytes1", "image/png"),  # exact dup of 1
        (3, "video", b"\x00\x00fakevideobytes", "video/mp4"),
        (4, "audio", b"RIFFfakeaudio", "audio/wav"),
    ]
    return spark.createDataFrame(rows, schema=MM.MEDIA_SCHEMA)


def test_media_features(media):
    feats = {r["media_id"]: r for r in MM.extract_media_features(media).collect()}
    assert len(feats) == 4
    # deterministic fake decode: same payload → same dims & digest
    assert feats[1]["content_sha256"] == feats[2]["content_sha256"]
    assert (feats[1]["width"], feats[1]["height"]) == (feats[2]["width"], feats[2]["height"])
    assert feats[3]["n_frames"] > 1  # video gets frames
    assert feats[4]["n_frames"] == 1
    assert feats[1]["byte_len"] == 14


def test_media_dedup_and_frame_sampling(media):
    dups = {r["content_sha256"]: r for r in MM.media_dedup_exact(media).collect()}
    assert len(dups) == 3
    assert max(r["dup_count"] for r in dups.values()) == 2
    frames = MM.frame_sample_plan(media, every_n=30).collect()
    vid = [r for r in frames if r["media_id"] == 3]
    assert vid and all(r["frame_idx"] % 30 == 0 for r in vid)


def test_custom_decoder_seam(spark, media):
    MM.set_decoder(lambda payload, kind: (640, 480, 7))
    try:
        feats = MM.extract_media_features(media).collect()
        assert all((r["width"], r["height"], r["n_frames"]) == (640, 480, 7) for r in feats)
    finally:
        MM.set_decoder(MM._fake_decode)
