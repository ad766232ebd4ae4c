"""Multimodal plumbing: media, image, audio and video operators."""

from pdf_parser_spark.ops.multimodal import (
    fixture_media_df, media_features, sample_frames, strict_decoder,
)


def test_media_features_real_decode_matches_ground_truth(spark):
    """Encode→decode round trip: the pipeline's decoded features must
    equal the construction-time (encode-side) ground truth for every
    row — including the poison rows' decode_error."""
    from pdf_parser_spark.ops.multimodal import fixture_media

    media = fixture_media_df(spark, n=30)
    rows = {r.url: r for r in media_features(media).collect()}
    assert len(rows) == 30
    assert {r.media_type for r in rows.values()} == \
        {"image", "audio", "video"}
    for d in fixture_media(30):
        r, t = rows[d["url"]], d["truth"]
        for k in ("width", "height", "channels", "duration_ms",
                  "mean_luma", "decode_error", "sha256", "n_bytes"):
            assert getattr(r, k) == t[k], (d["url"], k, getattr(r, k), t[k])
    # poison rows exist and surface as decode_error, not task failure
    assert sum(1 for r in rows.values() if r.decode_error) == 3


def test_media_features_strict_decoder_captures_errors(spark):
    media = fixture_media_df(spark, n=9)
    rows = media_features(media, decoder=strict_decoder).collect()
    assert len(rows) == 9
    assert all(r.decode_error and "NotImplementedError" in r.decode_error
               for r in rows)
    assert all(r.width is None for r in rows)  # schema holds under failure


def test_sample_frames_flatmap_shape(spark):
    media = fixture_media_df(spark, n=30)
    frames = sample_frames(media, every_ms=1000, max_frames=8)
    rows = frames.collect()
    videos = [r for r in media.collect() if r.media_type == "video"]
    assert len(rows) >= len(videos)  # ≥1 frame per video, only videos
    assert {r.url.split("/")[-2] for r in rows} == {"video"}
    per_url = {}
    for r in rows:
        per_url.setdefault(r.url, []).append(r.frame_no)
    for url, nos in per_url.items():
        assert sorted(nos) == list(range(len(nos)))  # dense frame index


def test_image_ahash_decode_matches_encode_side(spark):
    """Codec independence: ahash64 over the DECODED payload must equal
    ahash64 over the encode-side array for every fixture (PNG and BMP
    paths), and the poison row must surface decode_error, not raise."""
    from pdf_parser_spark.ops.multimodal import (
        ahash64, fixture_images_df, fixture_images_neardup, image_ahash,
    )

    got = {r.url: (r.ahash, r.decode_error)
           for r in image_ahash(fixture_images_df(spark)).collect()}
    for d in fixture_images_neardup():
        if d["pixels"] is None:
            assert got[d["url"]][0] is None
            assert "not a PNG/BMP" in got[d["url"]][1]
        else:
            assert got[d["url"]] == (ahash64(d["pixels"]), None), d["url"]


def test_image_neardup_banded_equals_brute_force(spark):
    """The banded join at hamming<=3 with 4x16-bit bands has EXACT
    recall (pigeonhole) — its pairs must equal the encode-side brute
    force, including the planted -dup/-copy twins AND the one natural
    base-pair collision."""
    from pdf_parser_spark.ops.multimodal import (
        ahash_neardup, expected_neardup_rows, fixture_images_df,
        image_ahash,
    )

    pairs = ahash_neardup(image_ahash(fixture_images_df(spark)))
    got = sorted((r.url_a, r.url_b, r.hamming) for r in pairs.collect())
    exp = sorted((r["url_a"], r["url_b"], r["hamming"])
                 for r in expected_neardup_rows())
    assert got == exp
    assert any(h == 0 for _, _, h in got)       # exact copies
    assert any(h > 0 for _, _, h in got)        # true near-dups


def test_image_neardup_bucket_cap_drops_degenerate_band(spark):
    """Super-bucket guard: a degenerate cluster (many byte-identical
    images -> identical hashes -> one band bucket) is dropped once the
    bucket exceeds the cap, so no quadratic pair blowup — same
    semantics as the text LSH tier's bucket_cap."""
    from pdf_parser_spark.ops.multimodal import (
        MEDIA_SCHEMA, _neardup_image_arrays, ahash_neardup, image_ahash,
    )
    from pdf_parser_spark.ops.media_codecs import png_encode

    arr, _ = _neardup_image_arrays(0)
    rows = [("u%03d" % i, "image", bytearray(png_encode(arr)), None)
            for i in range(20)]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    hashes = image_ahash(media)
    assert ahash_neardup(hashes, bucket_cap=10).count() == 0
    # without the cap the same input yields all C(20,2) pairs
    assert ahash_neardup(hashes, bucket_cap=None).count() == 190


def test_audio_fp_decode_matches_encode_side(spark):
    """Codec independence for the audio tier: audio_fp64 over the
    DECODED WAV must equal audio_fp64 over the encode-side samples for
    every fixture; poison payload surfaces decode_error."""
    from pdf_parser_spark.ops.multimodal import (
        audio_fingerprint, audio_fp64, fixture_audio_df,
        fixture_audio_neardup,
    )

    got = {r.url: (r.afp, r.decode_error)
           for r in audio_fingerprint(fixture_audio_df(spark)).collect()}
    for d in fixture_audio_neardup():
        if d["samples"] is None:
            assert got[d["url"]][0] is None
            assert "not a WAV" in got[d["url"]][1]
        else:
            assert got[d["url"]] == (audio_fp64(d["samples"]), None)


def test_audio_neardup_banded_equals_brute_force(spark):
    """The hash-agnostic banded join over audio fingerprints equals
    encode-side brute force — including agreeing that the one planted
    twin at hamming 4 is NOT a pair at the <=3 threshold."""
    from pdf_parser_spark.ops.multimodal import (
        ahash_neardup, audio_fingerprint, audio_fp64,
        expected_audio_neardup_rows, fixture_audio_df,
        fixture_audio_neardup,
    )

    pairs = ahash_neardup(audio_fingerprint(fixture_audio_df(spark)),
                          hash_col="afp")
    got = sorted((r.url_a, r.url_b, r.hamming) for r in pairs.collect())
    exp = sorted((r["url_a"], r["url_b"], r["hamming"])
                 for r in expected_audio_neardup_rows())
    assert got == exp
    # the just-missed twin really exists (threshold boundary is live)
    fps = {d["url"]: audio_fp64(d["samples"])
           for d in fixture_audio_neardup() if d["samples"] is not None}
    dists = [bin((fps[u] ^ fps[u + "-dup"]) & ((1 << 64) - 1)).count("1")
             for u in fps if u + "-dup" in fps]
    assert any(d > 3 for d in dists) and any(d <= 3 for d in dists)


def test_video_containment_equals_brute_force(spark):
    """Frame-hash sub-clip detection: pipeline pairs (decode -> hash
    every frame -> inverted-index containment) must equal encode-side
    brute force — interior cuts verdict 'subclip', the mostly-
    overlapping -mix twins 'partial' in BOTH directions, unrelated
    videos share zero frames and never pair."""
    from pdf_parser_spark.ops.multimodal import (
        expected_clip_rows, fixture_videos_df, video_clip_containment,
        video_frame_hashes,
    )

    out = video_clip_containment(video_frame_hashes(
        fixture_videos_df(spark)))
    got = sorted(tuple(r) for r in out.collect())
    exp = sorted((r["url_outer"], r["url_clip"], r["n_common"],
                  r["n_clip"], r["containment_pct"], r["verdict"])
                 for r in expected_clip_rows())
    assert got == exp
    verdicts = {g[5] for g in got}
    assert verdicts == {"subclip", "partial"}
    # asymmetry: every -clip pair points clip-ward only
    for outer, clip, *_ , v in got:
        if v == "subclip" and clip.endswith("-clip"):
            assert not outer.endswith("-clip") or outer != clip


def test_video_scene_cuts_matches_encode_plan(spark):
    """Scene segmentation equals the encode-side scene plan exactly
    (scene count, start frames, lengths), and the poison payload
    contributes no rows."""
    from pdf_parser_spark.ops.multimodal import (
        expected_scene_rows, fixture_scenes_df, video_frame_hashes,
        video_scene_cuts,
    )

    got = sorted((r.url, r.scene_no, r.start_frame, r.n_frames)
                 for r in video_scene_cuts(
                     video_frame_hashes(fixture_scenes_df(spark)))
                 .collect())
    want = sorted((d["url"], d["scene_no"], d["start_frame"],
                   d["n_frames"]) for d in expected_scene_rows())
    assert got == want and len(got) > 30
    assert not any("poison" in u for u, *_ in got)


def test_video_scene_cuts_single_shuffle(spark):
    """The window pass and the scene rollup share one url
    hash-partitioning — a second exchange would double the frame-hash
    bytes moved at corpus scale."""
    from pdf_parser_spark.ops.multimodal import (
        fixture_scenes_df, video_frame_hashes, video_scene_cuts,
    )

    plan = video_scene_cuts(
        video_frame_hashes(fixture_scenes_df(spark)))._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
