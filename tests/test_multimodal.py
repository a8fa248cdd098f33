"""Multimodal plumbing tests: binary payloads, Arrow batch UDFs, stubs."""

from __future__ import annotations

from edu_data_pipeline_spark.operators import multimodal


def make_docs(spark):
    rows = [(i, f"doc text number {i} " * (i + 1), "en", "src", 20 * (i + 1))
            for i in range(6)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_attach_media_schema_and_types(spark):
    media = multimodal.attach_fake_media(make_docs(spark))
    assert [f.name for f in media.schema.fields] == ["doc_id", "media_type", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"
    rows = {r.doc_id: r for r in media.collect()}
    assert rows[0].media_type == "image" and rows[1].media_type == "audio"
    assert rows[2].media_type == "video" and rows[2].meta.n_frames == 3
    assert rows[1].meta.sample_rate == 16000
    assert bytes(rows[0].payload).decode() == "doc text number 0 "
    assert rows[0].meta.n_bytes == 18


def test_extract_features_deterministic(spark):
    media = multimodal.attach_fake_media(make_docs(spark))
    f1 = multimodal.extract_features(media).collect()
    f2 = multimodal.extract_features(media).collect()
    assert sorted(map(tuple, f1)) == sorted(map(tuple, f2))
    by_id = {r.doc_id: r for r in f1}
    assert len(by_id[0].features) == multimodal.N_FEATURE_BINS
    assert abs(sum(by_id[0].features) - 1.0) < 1e-9  # L1-normalized histogram
    assert by_id[0].n_bytes == 18


def test_features_shuffle_invariant(spark):
    """Property (VERDICT r2 #6): the fake decoder's features must be a pure
    function of the payload — identical under any repartitioning (i.e.
    invariant to Arrow batch boundaries and partition assignment), and over
    randomized payload shapes, not just the fixture corpus."""
    import random

    rng = random.Random(20260813)
    rows = []
    for i in range(40):
        n = rng.randint(0, 300)
        text = "".join(chr(rng.randint(32, 0x24F)) for _ in range(n))
        rows.append((i, text, "xx", "prop", n))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    media = multimodal.attach_fake_media(docs)

    def fingerprint(df):
        return sorted(
            (r.doc_id, r.media_type, r.n_bytes, tuple(r.features))
            for r in multimodal.extract_features(df).collect()
        )

    base = fingerprint(media)
    assert base == fingerprint(media.repartition(17))
    assert base == fingerprint(media.repartition(1))
    assert base == fingerprint(media.repartitionByRange(5, "doc_id"))
    # and the reference python decode agrees cell-for-cell
    payloads = {r.doc_id: bytes(r.payload) for r in media.collect()}
    for doc_id, _, n_bytes, feats in base:
        assert list(feats) == multimodal._decode_fake(payloads[doc_id])
        assert n_bytes == len(payloads[doc_id])


def test_features_exact_twin_matches_arrow_path(spark, tmp_path):
    """multimodal_features_exact (native, oracle-checked) must equal the
    Arrow mapInPandas path row-for-row — this transfers the driver's
    hash check onto the Arrow plumbing (VERDICT r8 next-round #5).
    Includes an empty doc (n_bytes 0 -> bin_0 0, mass 0) and non-ascii
    text (multi-byte utf-8 payload)."""
    from edu_data_pipeline_spark.suite import load_all

    reg = load_all()
    rows = [
        (0, "", "en", "src", 0),
        (1, "plain ascii text 0123", "en", "src", 21),
        (2, "unicode éü中文 bytes", "en", "src", 18),
        (3, "doc text number 3 " * 4, "en", "src", 72),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "mmx")
    d.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    exact = {
        r["doc_id"]: (r["media_type"], r["n_bytes"], r["bin_0"], r["feature_mass"])
        for r in reg["multimodal_features_exact"].fn(spark, sf_dir).collect()
    }
    arrow = {
        r["doc_id"]: (r["media_type"], r["n_bytes"], r["bin_0"], r["feature_mass"])
        for r in reg["multimodal_features"].fn(spark, sf_dir).collect()
    }
    assert exact == arrow
