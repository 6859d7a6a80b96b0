"""Media corpus screens (r6): per-screen header flags, the funnel
report, the dataset card, and the metadata-only (mp4/mp3) paths."""

import numpy as np
import pytest

from lsdm_motogp_data_integration_spark.operators import mediacodec as mc
from lsdm_motogp_data_integration_spark.operators.jpegcodec import (
    encode_jpeg,
)
from lsdm_motogp_data_integration_spark.operators.multimodal import (
    MEDIA_SCHEMA,
)
from lsdm_motogp_data_integration_spark.pipelines.media import (
    media_screen_flags,
    media_screen_report,
)


def _img(seed: int, w: int = 12, h: int = 10) -> np.ndarray:
    return np.random.RandomState(seed).randint(
        0, 200, size=(h, w), dtype=np.uint8
    )


@pytest.fixture(scope="module")
def corpus(spark):
    a = _img(1)
    wave = (
        8000 * np.sin(np.arange(128) / 7.0)
        + 3000 * np.sin(np.arange(128) / 2.3)
    ).astype(np.int16)
    f0, f1 = _img(3, 18, 16), _img(4, 18, 16)
    a3 = np.repeat(a[:, :, None], 3, 2)
    rows = [
        # 1: an RGB PNG; 2: the SAME pixels as BMP (exact decoded dup
        # in the canonical RGB form)
        (1, "image", mc.encode_png(a3), None),
        (2, "image", mc.encode_bmp(a3), None),
        # 3: perceptual twin of 1 (brightness +20 — same dHash)
        (3, "image", mc.encode_png(a3 + 20), None),
        # 4: distinct image
        (4, "image", mc.encode_png(_img(9)), None),
        # 5: too-small image (fails dims screen)
        (5, "image", mc.encode_png(_img(5, 3, 3)), None),
        # 6: audio + 7: its NN-resampled perceptual twin
        (6, "audio", mc.encode_wav(wave, 8000), None),
        (7, "audio", mc.encode_wav(wave[::2].copy(), 4000), None),
        # 8: video + 9: brightness twin (conjunctive perceptual dup)
        (8, "video", mc.encode_y4m([f0, f1], 10, 1), None),
        (9, "video", mc.encode_y4m([f0 + 20, f1 + 20], 10, 1), None),
        # 10: mp4 skeleton, long enough; 11: an exact COPY of 10
        (10, "video", mc.encode_mp4_skeleton(60000, width=640,
                                             height=480), None),
        (11, "video", mc.encode_mp4_skeleton(60000, width=640,
                                             height=480), None),
        # 12: mp3 too short (fails the duration screen)
        (12, "audio", mc.encode_mp3_skeleton(4), None),
        # 13: unparseable garbage; 14: NULL content
        (13, "image", b"complete garbage, not a container!!!", None),
        (14, "image", None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_SCREEN_KW = dict(min_width=4, min_height=4, min_duration_ms=10)


def _survivors(media, **screen_kwargs) -> set:
    flags = media_screen_flags(media, **screen_kwargs)
    return {r["media_id"] for r in flags.filter("keep").collect()}


def test_screens_and_funnel(corpus):
    survivors = _survivors(corpus, **_SCREEN_KW)
    # 5 fails dims; 13/14 fail parse; 12 (mp3, 4 frames ≈ 104 ms)
    # PASSES the 10 ms floor here — the 200 ms floor drops it in
    # test_duration_screen_uses_walked_metadata
    assert 5 not in survivors and 13 not in survivors
    assert 14 not in survivors
    assert {1, 2, 3, 4, 6, 7, 8, 9, 10, 11}.issubset(survivors)
    rep = {
        r["screen"]: r
        for r in media_screen_report(corpus, **_SCREEN_KW).collect()
    }
    assert rep["parse"]["n_fail"] == 2  # garbage + NULL
    assert rep["dims"]["n_fail"] == 1  # the 3×3 image
    assert rep["size"]["n_surviving"] == len(survivors)


def test_duration_screen_uses_walked_metadata(corpus):
    # mp3 skeleton: 4 frames ≈ 104 ms; a 200 ms floor drops it AND
    # the 16 ms wav twin (64 frames @ 4 kHz)
    survivors = _survivors(corpus, min_duration_ms=200)
    assert 12 not in survivors
    assert 7 not in survivors  # 64 frames @ 4000 Hz = 16 ms
    assert 10 in survivors  # 60 s mp4


def test_keep_fmts_screen(corpus):
    survivors = _survivors(corpus, keep_fmts=("png", "wav"))
    assert survivors == {1, 3, 4, 5, 6, 7}


def test_output_carries_metadata_columns(corpus):
    out = media_screen_flags(corpus, **_SCREEN_KW)
    cols = set(out.columns)
    assert {"media_id", "kind", "content", "fmt", "n_bytes", "width",
            "height", "duration_ms"} <= cols
    assert {c for c in cols if c.startswith("keep")} == {
        "keep", "keep_parse", "keep_fmt", "keep_dims", "keep_duration",
        "keep_size",
    }
    row = {r["media_id"]: r for r in out.collect()}
    assert row[10]["fmt"] == "mp4" and row[10]["duration_ms"] == 60000
    assert row[1]["width"] == 12 and row[1]["height"] == 10


def test_jpeg_blob_through_pipeline(spark):
    # a JPEG passes the screens on its header dims, next to a PNG of
    # the same pixels
    blocks = np.random.RandomState(2).randint(
        0, 256, size=(2, 3), dtype=np.uint8
    )
    img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    flat8 = np.full((8, 8), 8, np.int64)
    rows = [
        (1, "image", encode_jpeg(img, quant=flat8), None),
        # the same pixels as a GRAY png
        (2, "image", mc.encode_png(img), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    flags = {
        r["media_id"]: r
        for r in media_screen_flags(media, min_width=16).collect()
    }
    assert flags[1]["fmt"] == "jpeg" and flags[2]["fmt"] == "png"
    for r in flags.values():
        assert (r["width"], r["height"]) == (24, 16) and r["keep"]


def test_media_dataset_card(corpus):
    """The per-(kind, fmt) dataset card (r7): every input blob is
    accounted for (unparseable/NULL under fmt=NULL), counts/bytes/
    dims/durations all from the O(header) flags relation, and n_kept
    reports against the screens of media_screen_flags."""
    from lsdm_motogp_data_integration_spark.pipelines.media import (
        media_dataset_card,
    )

    card = {
        (r["kind"], r["fmt"]): r
        for r in media_dataset_card(corpus, **_SCREEN_KW).collect()
    }
    assert sum(r["n_blobs"] for r in card.values()) == 14
    png = card[("image", "png")]
    assert png["n_blobs"] == 4 and png["n_kept"] == 3  # 3x3 fails dims
    assert (png["min_width"], png["max_width"]) == (3, 12)
    assert (png["min_height"], png["max_height"]) == (3, 10)
    assert card[("image", "bmp")]["n_blobs"] == 1
    bad = card[("image", None)]
    assert bad["n_blobs"] == 2 and bad["n_kept"] == 0  # garbage + NULL
    assert bad["sum_bytes"] == 36 and bad["mean_bytes"] == 36.0
    wav = card[("audio", "wav")]
    assert wav["n_blobs"] == 2
    assert (wav["min_duration_ms"], wav["max_duration_ms"]) == (16, 16)
    assert wav["sum_duration_ms"] == 32
    mp3 = card[("audio", "mp3")]
    assert mp3["n_blobs"] == 1 and mp3["n_kept"] == 1
    assert mp3["min_duration_ms"] == 4 * 1152 * 1000 // 44100
    y4m = card[("video", "y4m")]
    assert y4m["n_blobs"] == 2 and y4m["sum_duration_ms"] == 400
    mp4 = card[("video", "mp4")]
    assert mp4["n_blobs"] == 2 and mp4["min_duration_ms"] == 60000
    assert (mp4["min_width"], mp4["min_height"]) == (640, 480)
    # no-screens form: every parseable blob counts as kept
    free = {
        (r["kind"], r["fmt"]): r
        for r in media_dataset_card(corpus).collect()
    }
    assert free[("image", "png")]["n_kept"] == 4
    assert free[("image", None)]["n_kept"] == 0


def test_unified_dataset_card_composes_verified_cards(spark, corpus):
    """r8 (VERDICT r7 #7): the unified corpus card is a pure
    COMPOSITION of the two driver-verified cards — its media section
    must row-match media_dataset_card, its text sections must
    row-match independent per-source / per-lang_id2 rollups, and
    every input (doc or blob) is accounted for exactly once per
    grouping."""
    from lsdm_motogp_data_integration_spark.operators.textops import (
        lang_id2,
    )
    from lsdm_motogp_data_integration_spark.pipelines.curation import (
        dataset_card,
    )
    from lsdm_motogp_data_integration_spark.pipelines.media import (
        media_dataset_card,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "crawl", "the quick brown fox jumps over the dog"),
            (2, "crawl", "pack my box with five dozen liquor jugs"),
            (3, "books", "Съешь же ещё этих мягких французских булок"),
            (4, "books", "short"),
            (5, "wiki", "και το ελληνικό κείμενο έχει θέση εδώ"),
        ],
        "doc_id: long, source: string, text: string",
    )
    card = dataset_card(docs, corpus, **_SCREEN_KW)
    rows = card.collect()
    by_sec = {}
    for r in rows:
        by_sec.setdefault((r["modality"], r["grouping"]), []).append(r)

    # media section == media_dataset_card, column for column
    med = {
        (r["kind"], r["fmt"]): r
        for r in media_dataset_card(corpus, **_SCREEN_KW).collect()
    }
    got_med = [
        r
        for (m, g), rs in by_sec.items()
        if g == "fmt"
        for r in rs
    ]
    assert len(got_med) == len(med)
    for r in got_med:
        ref = med[(r["modality"], r["key"])]
        assert r["unit"] == "bytes"
        assert r["n_items"] == ref["n_blobs"]
        assert r["n_kept"] == ref["n_kept"]
        assert r["sum_units"] == ref["sum_bytes"]
        assert r["mean_units"] == ref["mean_bytes"]
        assert (r["min_units"], r["max_units"]) == (
            ref["min_bytes"],
            ref["max_bytes"],
        )
        for c in (
            "min_width", "max_width", "min_height", "max_height",
            "min_duration_ms", "max_duration_ms", "sum_duration_ms",
        ):
            assert r[c] == ref[c]

    # text/source section == an independent rollup
    src = {
        r["source"]: r
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("s"),
            F.min(F.length("text")).alias("lo"),
            F.max(F.length("text")).alias("hi"),
        )
        .collect()
    }
    got_src = {r["key"]: r for r in by_sec[("text", "source")]}
    assert set(got_src) == set(src)
    for k, r in got_src.items():
        assert r["unit"] == "chars"
        assert r["n_items"] == src[k]["n"] == r["n_kept"]
        assert r["sum_units"] == src[k]["s"]
        assert (r["min_units"], r["max_units"]) == (
            src[k]["lo"],
            src[k]["hi"],
        )
        assert all(
            r[c] is None
            for c in ("min_width", "sum_duration_ms", "max_height")
        )

    # text/lang section == the langmix rollup over lang_id2
    mix = {
        r["lang"]: r["n"]
        for r in docs.groupBy(lang_id2("text").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_mix = {r["key"]: r["n_items"] for r in by_sec[("text", "lang")]}
    assert got_mix == mix
    assert sum(got_mix.values()) == 5  # every doc in the mix

    # text-only and media-only forms
    assert dataset_card(docs).count() == len(
        by_sec[("text", "source")]
    ) + len(by_sec[("text", "lang")])
    assert dataset_card(media=corpus, **_SCREEN_KW).count() == len(
        got_med
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="documents and/or media"):
        dataset_card()


def test_dataset_card_null_text_mean(spark):
    """r9 advisor fix: mean_units divides sum(length(text)) — which
    skips NULL texts — by count(text), not count(*); NULL-text rows
    still count in n_items so they stay visible."""
    from lsdm_motogp_data_integration_spark.pipelines.curation import (
        dataset_card,
    )

    docs = spark.createDataFrame(
        [
            (1, "crawl", "abcd"),       # 4 chars
            (2, "crawl", "abcdefgh"),   # 8 chars
            (3, "crawl", None),         # must not skew the mean
        ],
        "doc_id: long, source: string, text: string",
    )
    rows = dataset_card(docs, None).collect()
    src = [
        r for r in rows
        if r["modality"] == "text" and r["grouping"] == "source"
    ]
    assert len(src) == 1
    r = src[0]
    assert r["n_items"] == 3
    assert r["sum_units"] == 12
    assert r["mean_units"] == 6.0  # 12 / 2 non-null, not 12 / 3
