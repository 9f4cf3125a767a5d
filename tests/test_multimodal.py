"""Image plane: the PPM codec round trip, the deterministic PPM synth
against its pixel formula, and the no-shuffle plan of the stats pass."""


def test_ppm_codec_and_real_resize():
    import numpy as np

    from mq_to_db_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()


def test_synth_ppm_image_stats_match_formula(spark):
    """The contract plane (round 4): deterministic PPM synth → real P6
    encode → Arrow binary column → real decode → exact integer stats,
    verified against the closed-form pixel formula."""
    import numpy as np

    from mq_to_db_spark.operators.multimodal import (
        decode_ppm,
        image_byte_stats,
        synth_ppm_from_ids,
    )

    ids = [0, 1, 7, 12, 123456789]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    media = synth_ppm_from_ids(df, "doc_id")
    rows = {r.media_id: r for r in media.collect()}
    # payload is a real P6 PPM whose pixels replay the formula
    for i in ids:
        px = decode_ppm(bytes(rows[i].payload))
        w, h = 4 + i % 5, 3 + i % 4
        assert px.shape == (h, w, 3)
        q = np.arange(h * w * 3)
        assert (px.reshape(-1) == (i * 31 + 7 * q) % 256).all()
    stats = {r.media_id: r for r in image_byte_stats(media).collect()}
    for i in ids:
        w, h = 4 + i % 5, 3 + i % 4
        q = np.arange(h * w * 3)
        expect = (i * 31 + 7 * q) % 256
        s = stats[i]
        assert (s.width, s.height, s.n_px) == (w, h, h * w * 3)
        assert s.sum_px == int(expect.sum())
        assert s.max_px == int(expect.max())


def test_image_byte_stats_no_shuffle(spark):
    """Both passes are mapInPandas narrow transforms: the physical plan
    must contain no Exchange — payload bytes never shuffle."""
    from mq_to_db_spark.operators.multimodal import (
        image_byte_stats,
        synth_ppm_from_ids,
    )

    df = spark.range(64).withColumnRenamed("id", "doc_id")
    plan = image_byte_stats(synth_ppm_from_ids(df, "doc_id"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
