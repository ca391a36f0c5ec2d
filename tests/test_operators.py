"""Unit tests for pivots, diffs, paths, dedup, similarity, multimodal."""

from pyspark.sql import functions as F

from picsure_dictionary_etl_spark.operators import diffs, multimodal, paths, pivots, similarity


def test_melt_and_pivot_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "b1", "t1"), (2, "b2", "")], ["id", "brand", "type"]
    )
    long = pivots.melt(df, ["id"], ["brand", "type"])
    assert {(r["id"], r["key"], r["value"]) for r in long.collect()} == {
        (1, "brand", "b1"), (1, "type", "t1"), (2, "brand", "b2"),
    }
    wide = pivots.eav_pivot(long, "id", "key", "value", ["brand", "type"])
    rows = {r["id"]: r for r in wide.collect()}
    assert rows[1]["brand"] == "b1" and rows[2]["type"] is None


def test_index_aligned_pivot(spark):
    df = spark.createDataFrame(
        [("f1", "a"), ("f1", "b"), ("f2", "z")], ["facet", "path"]
    )
    out = pivots.index_aligned_pivot(df, "facet", "path").collect()
    # row 1: (a, z); row 2: (b, null) — padded ragged columns (F3)
    assert out[0]["f1"] == "a" and out[0]["f2"] == "z"
    assert out[1]["f1"] == "b" and out[1]["f2"] is None


def test_diffs_new_obsolete_changed(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    incoming = spark.createDataFrame([(2, "b"), (3, "c"), (1, "CHANGED")], ["k", "v"])
    assert [r["k"] for r in diffs.new_rows(incoming, existing, ["k"]).collect()] == [3]
    assert [r["k"] for r in diffs.obsolete_rows(existing, incoming, ["k"]).collect()] == []
    changed = diffs.changed_rows(incoming, existing, ["k"], ["v"])
    got = sorted(r["k"] for r in changed.collect())
    assert got == [1, 3]  # 1 changed, 3 new, 2 suppressed as no-op (D9)


def test_prefix_explode_and_leaves(spark):
    df = spark.createDataFrame(
        [("\\a\\b\\c\\",), ("\\a\\b\\",), ("\\x\\",)], ["concept_path"]
    )
    nodes = {(r["prefix"], r["depth"]) for r in paths.distinct_concept_nodes(df, "concept_path").collect()}
    assert nodes == {("\\a\\", 1), ("\\a\\b\\", 2), ("\\a\\b\\c\\", 3), ("\\x\\", 1)}
    leaves = sorted(r["concept_path"] for r in paths.leaf_paths(df, "concept_path").collect())
    assert leaves == ["\\a\\b\\c\\", "\\x\\"]


def test_cosine_topk_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    assert out[0]["cosine_sim"] == 1.0


def test_lsh_bucket_recall_of_identical(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    q = [2.0, 4.0, 1.0]  # equals vectors with i%3==2, (7i)%5==4 e.g. i=2? ensure bucket match of exact dup
    out = similarity.lsh_bucketed_topk(df, q, k=5, planes=4)
    rows = out.collect()
    assert len(rows) >= 1  # the query's own bucket is non-empty
    # exact duplicates of q (if present) must rank first
    top = rows[0]
    assert top["cosine_sim"] <= 1.0


def test_lsh_topk_no_driver_collect_and_multiprobe_superset(spark):
    """The query bucket joins in-plan (no job-per-call collect); probing
    more buckets can only widen the candidate set."""
    df = spark.createDataFrame(
        [(i, [float((i * 13) % 7) - 3, float((i * 5) % 11) - 5, 1.0])
         for i in range(60)],
        ["vec_id", "embedding"],
    )
    q = [1.0, -2.0, 1.0]
    one = similarity.lsh_bucketed_topk(df, q, k=50, planes=4, probes=1)
    multi = similarity.lsh_bucketed_topk(df, q, k=50, planes=4, probes=3)
    ids1 = {r["vec_id"] for r in one.collect()}
    ids3 = {r["vec_id"] for r in multi.collect()}
    assert ids1 <= ids3 and len(ids3) >= len(ids1)
    # the whole probe is one plan: a broadcast join, no SinglePartition sort
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _near_dup_corpus(spark, dim=32):
    """60 deterministic random vectors + 30 perturbed copies whose
    cosine to their source is >= 0.98 (the near-dup regime)."""
    import hashlib

    def det_vec(seed):
        return [
            ((int(hashlib.md5(f"{seed}|{d}".encode()).hexdigest()[:8], 16) % 2000)
             / 1000.0) - 1.0
            for d in range(dim)
        ]

    rows = []
    for i in range(60):
        v = det_vec(i)
        rows.append((i, v))
        if i < 30:
            pert = det_vec(i + 1000)
            rows.append((1000 + i, [a + 0.02 * b for a, b in zip(v, pert)]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_near_dup_multiprobe_recall_high_threshold(spark):
    """At the near-dup threshold (0.98), 1-2 probes close the recall
    gap vs brute force; precision is always perfect (exact verify).
    planes=0 degenerates to one bucket = the brute-force oracle."""
    e = _near_dup_corpus(spark)
    truth = {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_duplicates(
        e, threshold=0.98, planes=0, dim=32).collect()}
    assert len(truth) == 30  # the 30 constructed copies, nothing else

    def pairs(mp):
        return {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_duplicates(
            e, threshold=0.98, planes=8, dim=32, multi_probe=mp).collect()}

    single, probed = pairs(0), pairs(2)
    assert single <= probed <= truth  # monotone widening, no false pairs
    assert len(single) / len(truth) >= 0.8   # measured 0.93
    assert len(probed) / len(truth) >= 0.95  # measured 1.0


def test_embedding_near_dup_multiprobe_monotone_loose_threshold(spark, sf_dir):
    """At loose thresholds single-bucket recall decays (p_agree^planes);
    each extra probe must monotonically widen the (always-correct)
    candidate set — the documented recall curve on real sf data."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    truth = {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_duplicates(
        e, threshold=0.35, planes=0, dim=64).collect()}
    assert truth
    prev: set = set()
    for mp in (0, 2, 4):
        got = {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_duplicates(
            e, threshold=0.35, planes=8, dim=64, multi_probe=mp).collect()}
        assert prev <= got <= truth
        assert len(got) > len(prev) or prev == truth
        prev = got


def test_sample_frames_grid_semantics(spark):
    import pytest

    media = spark.createDataFrame(
        [(1, "video", 5000), (2, "video", 5500), (3, "video", 0), (4, "image", 9000)],
        ["media_id", "kind", "duration_ms"],
    )
    rows = multimodal.sample_frames(media, fps=1.0).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    # exact-multiple duration: frames strictly inside [0, duration) — no
    # frame at t == 5000
    assert sorted(by_id[1]) == [0, 1000, 2000, 3000, 4000]
    assert sorted(by_id[2]) == [0, 1000, 2000, 3000, 4000, 5000]
    assert by_id[3] == [0]  # zero duration still yields the t=0 frame
    assert 4 not in by_id  # non-video filtered
    with pytest.raises(ValueError):
        multimodal.sample_frames(media, fps=2000)  # sub-ms step rejected


def test_multimodal_feature_oracle_byte_exact_non_ascii(spark):
    """The DuckDB oracle must derive first_byte from the UTF-8 BYTES
    (0xC3 for 'é'), not the codepoint (0xE9) — byte-exact parity for
    non-ASCII-leading documents (ADVICE r2)."""
    import duckdb

    import __spark_entry__ as entry

    docs = spark.createDataFrame(
        [(1, "étoile"), (2, "ascii"), (3, "")], ["doc_id", "text"]
    )
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, dim=16)
    got = {
        r["media_id"]: (r["n_bytes"], round(float(r["feature"][0]), 4))
        for r in feats.collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {
        r[0]: (r[2], round(float(r[3]), 4))
        for r in con.execute(entry.SQL_MULTIMODAL_FEATURES).fetchall()
    }
    assert got == want
    assert got[1][0] == len("étoile".encode()) == 7  # bytes, not chars


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], ["doc_id", "text"]
    )
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, dim=8)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == len("hello world")
    assert len(rows[1]["feature"]) == 8
    # determinism
    again = {r["media_id"]: r for r in multimodal.extract_features(media, dim=8).collect()}
    assert rows[1]["feature"] == again[1]["feature"]


def test_embedding_near_dup_requires_dim(spark):
    """dim= is required: the old .first() fallback cost a driver-side
    Spark job and raised on empty input."""
    import pytest

    from picsure_dictionary_etl_spark.operators import similarity

    df = spark.createDataFrame([("a", [0.1, 0.2])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="dim"):
        similarity.embedding_near_duplicates(df)


def test_dedup_shingle_cache_is_bounded(spark):
    """Repeated jaccard/containment calls must not accumulate cached
    frames (the r3 storage leak): the scoped cache holds at most ONE
    and release_caches() empties it."""
    from picsure_dictionary_etl_spark.operators import dedup

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    dedup.release_caches()
    base = n_cached()
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(30)],
        ["doc_id", "text"])
    for i in range(6):
        fn = dedup.jaccard_pairs if i % 2 else dedup.containment_pairs
        fn(docs, "doc_id", "text", n=2, threshold=0.5).count()
        assert n_cached() <= base + 1
    dedup.release_caches()
    assert n_cached() == base


def test_dedup_cache_survives_dead_cached_frame(spark):
    """A cached frame bound to a stopped session must be treated as a
    miss, not poison the next dedup call."""
    from picsure_dictionary_etl_spark.operators import dedup

    class DeadFrame:
        def sameSemantics(self, other):
            raise RuntimeError("SparkContext was shut down")

        def unpersist(self):
            raise RuntimeError("SparkContext was shut down")

    dedup.release_caches()
    dedup._live_cache.append(DeadFrame())
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"])
    out = dedup.jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5)
    assert out.count() == 1  # recovered and computed normally
    dedup.release_caches()


def test_ppm_decode_resize_roundtrip(spark):
    """REAL image path: synthetic P6 PPM payloads decode to exact pixel
    statistics and box-average resize is numerically exact — no imaging
    library, pure numpy, distributed via mapInPandas."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import multimodal as mm

    media = mm.synthetic_ppm_media(spark, 6, width=32, height=24)
    rows = {r["media_id"]: r for r in mm.decode_media(media, dim=16).collect()}
    assert len(rows) == 6
    for mid, r in rows.items():
        # recompute the expected per-channel means locally
        yy, xx = np.mgrid[0:24, 0:32]
        arr = np.stack([(xx * 8 + mid) % 256, (yy * 8 + mid * 3) % 256,
                        (xx + yy + mid * 7) % 256], axis=-1).astype(np.uint8)
        want = (arr.astype(np.float32) / 255.0).mean(axis=(0, 1))
        got = np.array(r["feature"][:3])
        assert np.allclose(got, want, atol=1e-6)

    small = {r["media_id"]: r for r in mm.resize_ppm_images(media, max_side=8).collect()}
    for mid, r in small.items():
        assert (r["out_width"], r["out_height"]) == (8, 6)  # 32x24 / 4
        arr = mm.decode_ppm(bytes(r["payload"]))
        assert arr.shape == (6, 8, 3)
        # exact box average of the known source pattern
        yy, xx = np.mgrid[0:24, 0:32]
        src = np.stack([(xx * 8 + mid) % 256, (yy * 8 + mid * 3) % 256,
                        (xx + yy + mid * 7) % 256], axis=-1).astype(np.float32)
        want = src.reshape(6, 4, 8, 4, 3).mean(axis=(1, 3)).round().astype(np.uint8)
        assert (arr == want).all()


def test_wav_decode_rms(spark):
    """REAL audio path: stdlib-written PCM WAV payloads decode to the
    exact RMS a local numpy computation predicts (sine RMS ~ 0.5/√2)."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import multimodal as mm

    media = mm.synthetic_wav_media(spark, 4, rate=8000, seconds=0.25)
    rows = {r["media_id"]: r for r in mm.decode_media(media, dim=8).collect()}
    assert len(rows) == 4
    for mid, r in rows.items():
        t = np.arange(2000) / 8000.0
        freq = 220.0 + 55.0 * (mid % 8)
        x = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
        want = float(np.sqrt(np.mean((x / 32768.0) ** 2)))
        assert abs(r["feature"][0] - want) < 1e-6
        # envelope windows of a steady tone are all ~ the global RMS
        assert np.allclose(np.array(r["feature"][1:]), want, atol=0.02)


def test_decode_media_mixed_corpus_fallback(spark):
    """Mixed corpora: PPM and WAV decode for real, unknown payloads
    (plain text bytes) fall back to the deterministic stub instead of
    failing the batch."""
    from picsure_dictionary_etl_spark.operators import multimodal as mm

    ppm = mm.synthetic_ppm_media(spark, 2)
    wav = mm.synthetic_wav_media(spark, 2)
    docs = spark.createDataFrame([(100, "note text")], ["doc_id", "text"])
    txt = mm.documents_as_media(docs, kind="image")
    allm = ppm.unionByName(wav).unionByName(txt)
    out = mm.decode_media(allm, dim=8).collect()
    assert len(out) == 5
    assert all(len(r["feature"]) == 8 for r in out)


def test_decode_media_corrupt_payloads_dont_fail_batch(spark):
    """Truncated P6 / RIFF payloads fall back to the byte-stats vector
    instead of failing the whole Arrow batch."""
    from picsure_dictionary_etl_spark.operators import multimodal as mm

    rows = [
        (1, "image", bytearray(b"P6\n32 24\n255\n\x01\x02"), 32, 24, None),  # truncated
        (2, "audio", bytearray(b"RIFFjunk"), None, None, 100),               # corrupt
        (3, "image", None, 1, 1, None),                                      # null
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.decode_media(media, dim=4).collect()}
    assert len(out) == 3
    assert all(len(r["feature"]) == 4 for r in out.values())
    assert list(out[3]["feature"]) == [0.0, 0.0, 0.0, 0.0]


def test_jpeg_codec_roundtrip_exact():
    """The pure-numpy baseline JPEG codec: constant-8x8-block images
    with an all-ones quant table round-trip BIT-exactly (the integer-
    oracle certification contract), and a non-constant gradient stays
    within rounding error of lossless at quant=1."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    v = np.zeros((24, 32), dtype=np.uint8)
    for by in range(3):
        for bx in range(4):
            v[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (11 + bx * 7 + by * 13) % 256
    img = jc.decode_jpeg(jc.encode_jpeg([v]))
    assert img.shape == (24, 32, 3)
    assert (img == v[:, :, None]).all()

    # 3-component 4:4:4 with neutral chroma: full color path, RGB == Y
    neutral = np.full_like(v, 128)
    img3 = jc.decode_jpeg(jc.encode_jpeg([v, neutral, neutral]))
    assert (img3 == v[:, :, None]).all()

    # general content: DCT-coefficient rounding only (quant table = 1)
    yy, xx = np.mgrid[0:24, 0:32]
    g = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    got = jc.decode_jpeg(jc.encode_jpeg([g]))[:, :, 0]
    assert np.abs(got.astype(int) - g.astype(int)).max() <= 2

    # non-multiple-of-8 dims: encoder edge-pads, decoder crops
    odd = ((xx + yy) % 256).astype(np.uint8)[:20, :27]
    got = jc.decode_jpeg(jc.encode_jpeg([odd]))[:, :, 0]
    assert got.shape == (20, 27)
    assert np.abs(got.astype(int) - odd.astype(int)).max() <= 2


def test_jpeg_decoder_against_hand_crafted_spec_bytes():
    """Decoder validated independently of our own encoder: a single
    8x8 gray block at value 130 entropy-coded BY HAND from the T.81
    tables (DC diff 16 -> category-5 code '110' + '10000', EOB '1010',
    1-padded) must decode to a solid 130."""
    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    hand = bytearray(b"\xff\xd8")
    hand += jc._seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    hand += jc._seg(0xC0, bytes([8]) + (8).to_bytes(2, "big")
                    + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    hand += jc._seg(0xC4, bytes([0x00]) + bytes(jc.DC_LUM_BITS)
                    + bytes(jc.DC_LUM_VALS) + bytes([0x10])
                    + bytes(jc.AC_LUM_BITS) + bytes(jc.AC_LUM_VALS))
    hand += jc._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    hand += bytes([0b11010000, 0b10101111]) + b"\xff\xd9"
    out = jc.decode_jpeg(bytes(hand))
    assert (out == 130).all()


def test_jpeg_honest_seams_and_corrupt():
    """Legal-but-unsupported variants raise NotImplementedError (the
    honest seam contract); malformed data raises ValueError."""
    import pytest

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    sof_payload = bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0])
    # arithmetic LOSSLESS (SOF11) + hierarchical stay typed seams;
    # sequential/progressive huffman AND arithmetic (SOF0/1/2/9/10) and
    # huffman lossless (SOF3) all decode for real since r6
    with pytest.raises(NotImplementedError, match="SOF11"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xCB, sof_payload))
    # a lossless frame with subsampled components is ITS typed seam
    sof3_sub = bytes([8, 0, 8, 0, 16, 2, 1, 0x21, 0, 2, 0x11, 0])
    with pytest.raises(NotImplementedError, match="1x1 sampling"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xC3, sof3_sub)
                       + jc._seg(0xDA, bytes([2, 1, 0, 2, 0, 1, 0, 0])))
    # non-DIVIDING sampling factors (3,2 luma vs 2,1 chroma) stay a
    # typed seam; plain 4:2:0/4:2:2 decode for real since r6
    weird = bytes([8, 0, 16, 0, 16, 3, 1, 0x32, 0, 2, 0x21, 1, 3, 0x11, 1])
    with pytest.raises(NotImplementedError, match="non-dividing"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xC0, weird))
    with pytest.raises(ValueError):
        jc.decode_jpeg(b"not a jpeg at all")
    with pytest.raises(ValueError):
        jc.decode_jpeg(b"\xff\xd8\xff\xd9")  # EOI before any scan
    with pytest.raises(ValueError):  # fill bytes to end of data: no IndexError
        jc.decode_jpeg(b"\xff\xd8" + b"\xff" * 7)


def test_jpeg_subsampled_roundtrip_exact():
    """4:2:0 and 4:2:2 (r5 verdict stretch item): block-constant luma +
    MCU-constant chroma survive the subsampled pipeline BIT-exactly —
    constant chroma is a fixed point of box-average downsampling and
    replication upsampling, so the only arithmetic left is the same
    exact constant-block DCT as 4:4:4. Odd (non-multiple-of-MCU) dims
    exercise the edge-pad + crop path."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    rng = np.random.default_rng(42)

    def block_plane(h, w, bs_y, bs_x):
        bh, bw = -(-h // bs_y), -(-w // bs_x)
        vals = rng.integers(0, 256, size=(bh, bw), dtype=np.int64)
        return np.repeat(np.repeat(vals, bs_y, axis=0), bs_x, axis=1)[
            :h, :w
        ].astype(np.uint8)

    def expected_rgb(y, cb, cr):
        yf, cbf, crf = (p.astype(np.float64) for p in (y, cb, cr))
        r = np.clip(np.round(yf + 1.402 * (crf - 128)), 0, 255)
        g = np.clip(np.round(yf - 0.344136 * (cbf - 128)
                             - 0.714136 * (crf - 128)), 0, 255)
        b = np.clip(np.round(yf + 1.772 * (cbf - 128)), 0, 255)
        return np.stack([r, g, b], axis=-1).astype(np.uint8)

    for h, w in [(32, 32), (19, 13), (17, 33)]:  # incl. ragged MCUs
        y = block_plane(h, w, 8, 8)
        cb, cr = block_plane(h, w, 16, 16), block_plane(h, w, 16, 16)
        got = jc.decode_jpeg(jc.encode_jpeg([y, cb, cr], sampling=(2, 2)))
        assert got.shape == (h, w, 3)
        assert (got == expected_rgb(y, cb, cr)).all(), (h, w, "4:2:0")

    for h, w in [(16, 32), (19, 13)]:
        y = block_plane(h, w, 8, 8)
        cb, cr = block_plane(h, w, 8, 16), block_plane(h, w, 8, 16)
        got = jc.decode_jpeg(jc.encode_jpeg([y, cb, cr], sampling=(2, 1)))
        assert (got == expected_rgb(y, cb, cr)).all(), (h, w, "4:2:2")

    # gradient content through 4:2:0 with quant=1: only DCT/round noise
    yy, xx = np.mgrid[0:24, 0:32]
    y = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    cb = cr = np.full_like(y, 128)
    got = jc.decode_jpeg(jc.encode_jpeg([y, cb, cr], sampling=(2, 2)))
    assert np.abs(got[:, :, 0].astype(int) - y.astype(int)).max() <= 2


def test_jpeg_12bit_grayscale_roundtrip():
    """Round-6 seam closure: 12-bit extended sequential (SOF1)
    grayscale. Constant 8x8 blocks spanning the FULL 0..4095 range
    (DC diffs up to |32760| exercise the extended table's SSSS 12-15
    categories) round-trip bit-exactly with the all-ones quant table;
    the decoder returns uint16; the extended DC table is canonically
    valid with the all-ones code unassigned; illegal combos raise."""
    import numpy as np
    import pytest

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    # extended-table hygiene: Kraft sum < 1 (all-ones code reserved),
    # 16 symbols, and a prefix-free canonical assignment
    codes = jc._canonical_codes(jc.DC_LUM_BITS_12, jc.DC_LUM_VALS_12)
    assert sorted(codes) == list(range(16))
    assert sum(2.0 ** -ln for _, ln in codes.values()) < 1.0
    assert len({(c, ln) for c, ln in codes.values()}) == 16

    # 0 -> 4095 adjacent blocks: max-magnitude DC swings both ways
    blocks = np.array([[0, 4095, 0, 4095], [2048, 1, 4094, 2], [7, 3500, 12, 600]],
                      dtype=np.uint16)
    v = np.kron(blocks, np.ones((8, 8), dtype=np.uint16))
    img = jc.decode_jpeg(jc.encode_jpeg([v], precision=12))
    assert img.dtype == np.uint16
    assert img.shape == (24, 32, 3)
    assert (img == v[:, :, None]).all()

    # general 12-bit content: quant=1 keeps rounding error tiny, but
    # big ACs exceed Annex-K SSSS 10 -> typed seam; a coarse quant
    # table brings them in range and decodes within quantization error
    yy, xx = np.mgrid[0:24, 0:32]
    g = ((xx * 51 + yy * 77) % 4096).astype(np.uint16)
    with pytest.raises(NotImplementedError, match="SSSS"):
        jc.encode_jpeg([g], precision=12)
    qt = np.full(64, 16, dtype=np.int64)
    got = jc.decode_jpeg(jc.encode_jpeg([g], qtable=qt, precision=12))[:, :, 0]
    assert np.abs(got.astype(int) - g.astype(int)).max() <= 8 * 16

    # seams: 12-bit color write unsupported; SOF0 must be 8-bit;
    # 10-bit precision stays a typed seam; samples must fit 12 bits
    with pytest.raises(NotImplementedError, match="grayscale"):
        jc.encode_jpeg([v, v, v], precision=12)
    with pytest.raises(ValueError, match="precision"):
        jc.encode_jpeg([v], precision=10)
    with pytest.raises(ValueError, match="0..4095"):
        jc.encode_jpeg([np.full((8, 8), 5000, dtype=np.uint16)], precision=12)
    sof12_base = bytes([12, 0, 8, 0, 8, 1, 1, 0x11, 0])
    with pytest.raises(ValueError, match="8-bit only"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xC0, sof12_base))
    sof10 = bytes([10]) + sof12_base[1:]
    with pytest.raises(NotImplementedError, match="10-bit"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xC1, sof10))
    sof12_color = bytes([12, 0, 8, 0, 8, 3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    with pytest.raises(NotImplementedError, match="grayscale"):
        jc.decode_jpeg(b"\xff\xd8" + jc._seg(0xC1, sof12_color))

    # 8-bit frames are also legal under SOF1 (extended sequential):
    # same bytes as SOF0 apart from the marker must decode identically
    v8 = (blocks % 256).astype(np.uint8)
    y8 = np.kron(v8, np.ones((8, 8), dtype=np.uint8))
    seq = jc.encode_jpeg([y8])
    as_sof1 = seq.replace(b"\xff\xc0", b"\xff\xc1", 1)
    assert (jc.decode_jpeg(as_sof1) == jc.decode_jpeg(seq)).all()


def test_jpeg_progressive_and_multiscan():
    """Round-6 seam closures: progressive (SOF2) decode — spectral
    selection + successive approximation (DC/AC first + refinement
    scans, EOB runs) — and non-interleaved multi-scan baseline, both
    through the coefficient-buffer path. The strongest check is
    equality with the sequential decode on ARBITRARY content: both
    writers quantize identical coefficients, so the decoded pixels
    must match bit-for-bit even though the codec is lossy vs the
    original."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    rng = np.random.default_rng(7)

    # constant blocks + all-ones quant: progressive round trip is
    # BIT-exact vs the ORIGINAL (the certification contract)
    blocks = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
    y = np.kron(blocks, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
    assert (jc.decode_jpeg(jc.encode_jpeg_progressive([y])) == y[:, :, None]).all()
    neutral = np.full_like(y, 128)
    assert (jc.decode_jpeg(jc.encode_jpeg_progressive([y, neutral, neutral]))
            == y[:, :, None]).all()
    cb, cr = np.full_like(y, 91), np.full_like(y, 147)
    seq = jc.decode_jpeg(jc.encode_jpeg([y, cb, cr], sampling=(2, 2)))
    prog = jc.decode_jpeg(jc.encode_jpeg_progressive([y, cb, cr], sampling=(2, 2)))
    assert (seq == prog).all()

    # arbitrary content: progressive == sequential == multiscan decode,
    # across 4:4:4 / 4:2:0 / 4:2:2 and ragged (non-MCU-multiple) dims,
    # gray and color, and a real (lossy) quant table
    for shape, samp in [((24, 32), (1, 1)), ((24, 32), (2, 2)),
                        ((16, 16), (2, 1)), ((17, 25), (2, 2))]:
        ps = [rng.integers(0, 256, size=shape, dtype=np.uint8) for _ in range(3)]
        a = jc.decode_jpeg(jc.encode_jpeg(ps, sampling=samp))
        assert (a == jc.decode_jpeg(
            jc.encode_jpeg_progressive(ps, sampling=samp))).all(), (shape, samp)
        assert (a == jc.decode_jpeg(
            jc.encode_jpeg_multiscan(ps, sampling=samp))).all(), (shape, samp)
    g = rng.integers(0, 256, size=(40, 41), dtype=np.uint8)
    assert (jc.decode_jpeg(jc.encode_jpeg([g]))
            == jc.decode_jpeg(jc.encode_jpeg_progressive([g]))).all()
    assert (jc.decode_jpeg(jc.encode_jpeg([g]))
            == jc.decode_jpeg(jc.encode_jpeg_multiscan([g]))).all()
    qt = np.array([max(1, (i % 16) + 1) for i in range(64)])
    ps = [rng.integers(0, 256, size=(24, 24), dtype=np.uint8) for _ in range(3)]
    assert (jc.decode_jpeg(jc.encode_jpeg(ps, qtable=qt))
            == jc.decode_jpeg(jc.encode_jpeg_progressive(ps, qtable=qt))).all()


def test_png_codec_roundtrip_and_filters():
    """Pure stdlib+numpy PNG: lossless roundtrip for RGB and grey, and
    a HAND-FILTERED stream exercising all five scanline filter types
    (None/Sub/Up/Average/Paeth) decodes exactly — the filter math is
    validated independently of our own filter-0-only writer."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from picsure_dictionary_etl_spark.operators import png_codec as pc

    yy, xx = np.mgrid[0:24, 0:32]
    arr = np.stack([(xx * 8 + 5) % 256, (yy * 8 + 15) % 256,
                    (xx + yy + 35) % 256], axis=-1).astype(np.uint8)
    assert (pc.decode_png(pc.encode_png(arr)) == arr).all()
    g = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    assert (pc.decode_png(pc.encode_png(g)) == g[:, :, None]).all()

    # hand-filter a known 5x4 RGB image, one row per filter type
    img = (np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3) * 7 + 3) % 256
    stride, bpp = 12, 3
    raws = bytearray()
    prev = np.zeros(stride, dtype=int)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = img[y].reshape(-1).astype(int)
        enc = cur.copy()
        if f == 1:
            for x in range(stride - 1, bpp - 1, -1):
                enc[x] = (cur[x] - cur[x - bpp]) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                enc[x] = (cur[x] - pc._paeth(left, prev[x], ul)) & 0xFF
        raws.append(f)
        raws += bytes(int(v) for v in enc)
        prev = cur

    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))

    hand = bytearray(pc._SIG)
    hand += chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
    hand += chunk(b"IDAT", zlib.compress(bytes(raws)))
    hand += chunk(b"IEND", b"")
    assert (pc.decode_png(bytes(hand)) == img).all()

    # error contract on illegal header values
    bad = bytearray(pc._SIG) + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2))
    with pytest.raises(ValueError, match="interlace"):
        pc.decode_png(bytes(bad))
    bad = bytearray(pc._SIG) + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0))
    with pytest.raises(ValueError, match="bit depth"):
        pc.decode_png(bytes(bad))  # depth 4 illegal for truecolor
    with pytest.raises(ValueError):
        pc.decode_png(b"junk")
    # error contract: malformed internals are ValueError, never the raw
    # zlib.error / struct.error leaking through (review finding r5)
    with pytest.raises(ValueError, match="IDAT"):
        pc.decode_png(bytes(
            bytearray(pc._SIG)
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", b"definitely not zlib")
            + chunk(b"IEND", b"")))
    with pytest.raises(ValueError, match="IHDR"):
        pc.decode_png(bytes(bytearray(pc._SIG) + chunk(b"IHDR", b"\x00\x01")))


def test_png_codec_variants_palette_16bit_adam7_grey_alpha():
    """Round-6 seam closures: palette (all four legal depths), 16-bit
    (high-byte reduction exact on *257 samples), Adam7 interlace
    (decodes identically to the non-interlaced emit of the same
    pixels), grey+alpha (alpha dropped), and sub-byte greyscale
    scaling — plus the new error contracts (missing PLTE, palette
    index out of range)."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from picsure_dictionary_etl_spark.operators import png_codec as pc

    rng = np.random.default_rng(42)
    arr = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    # Adam7 == non-interlaced, RGB and grey, incl. dims < one pass tile
    assert (pc.decode_png(pc.encode_png(arr, interlace=True)) == arr).all()
    tiny = arr[:3, :2]
    assert (pc.decode_png(pc.encode_png(tiny, interlace=True)) == tiny).all()
    g = rng.integers(0, 256, size=(9, 5), dtype=np.uint8)
    assert (pc.decode_png(pc.encode_png(g, interlace=True)) == g[:, :, None]).all()

    # 16-bit: s*257 high-byte-reduces back to s exactly (RGB + grey,
    # both interlace methods)
    s = rng.integers(0, 256, size=(6, 11, 3), dtype=np.uint16)
    assert (pc.decode_png(pc.encode_png16(s * 257)) == s).all()
    assert (pc.decode_png(pc.encode_png16(s * 257, interlace=True)) == s).all()
    g16 = rng.integers(0, 256, size=(4, 7), dtype=np.uint16)
    assert (pc.decode_png(pc.encode_png16(g16 * 257)) == g16[:, :, None]).all()

    # palette at depths 8/4/2/1, plain and interlaced
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    for depth, maxv in [(8, 256), (4, 16), (2, 4), (1, 2)]:
        idx = rng.integers(0, maxv, size=(10, 9), dtype=np.uint8)
        for il in (False, True):
            got = pc.decode_png(
                pc.encode_png_palette(idx, pal[:maxv], depth=depth, interlace=il))
            assert (got == pal[:maxv][idx]).all(), (depth, il)

    # grey+alpha: grey replicated, alpha dropped
    a = rng.integers(0, 256, size=g.shape, dtype=np.uint8)
    assert (pc.decode_png(pc.encode_png_grey_alpha(g, a)) == g[:, :, None]).all()

    # sub-byte greyscale scales by 255/(2^d - 1) (exact for 1/2/4)
    for depth, scale in [(1, 255), (2, 85), (4, 17)]:
        v = rng.integers(0, 1 << depth, size=(6, 7), dtype=np.uint8)
        raw = pc._emit(7, 6, depth, 0, v[:, :, None], False)
        assert (pc.decode_png(raw)
                == (v.astype(np.uint16) * scale).astype(np.uint8)[:, :, None]).all()

    # error contracts
    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))

    no_plte = (bytearray(pc._SIG)
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
               + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PLTE"):
        pc.decode_png(bytes(no_plte))
    oob = (bytearray(pc._SIG)
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", b"\x00\x01\x02")  # 1 entry, index 5 below
           + chunk(b"IDAT", zlib.compress(b"\x00\x05"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        pc.decode_png(bytes(oob))
    with pytest.raises(ValueError, match="out of range"):
        pc.encode_png_palette(np.full((2, 2), 9, np.uint8),
                              np.zeros((16, 3), np.uint8), depth=2)


def test_simhash_fast_and_portable_paths_agree_on_duplicates(spark):
    """The xxhash64 fast path and the md5 portable path use different
    hash families (signatures differ) but identical texts must produce
    identical signatures WITHIN each path — exact-duplicate groups and
    hamming-0 pairs agree across paths. Guards the SQL-string rewrite
    of the packed-counter expressions on both branches."""
    from picsure_dictionary_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here now"), (4, "alpha beta gamma delta"),
         (5, "totally different words here now"), (6, "one more unique doc")],
        ["doc_id", "text"],
    )
    for portable in (False, True):
        groups = {(r["keeper_id"], r["n_docs"])
                  for r in dedup.simhash_duplicates(
                      docs, "doc_id", portable=portable).collect()}
        assert groups == {(1, 3), (3, 2)}, f"portable={portable}"
        pairs = {(r["id_a"], r["id_b"])
                 for r in dedup.simhash_near_duplicates(
                     docs, "doc_id", max_hamming=0, portable=portable).collect()}
        assert pairs == {(1, 2), (1, 4), (2, 4), (3, 5)}, f"portable={portable}"


def test_codec_property_roundtrips():
    """Property-based codec contracts: PNG roundtrips EVERY uint8 RGB
    image exactly (lossless format), and JPEG roundtrips every
    constant-8x8-block image exactly under the all-ones quant table
    (the certification invariant the integer oracle rests on)."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc
    from picsure_dictionary_etl_spark.operators import png_codec as pc

    @given(
        st.integers(1, 5), st.integers(1, 5), st.integers(0, 2**32 - 1)
    )
    @settings(max_examples=25, deadline=None)
    def png_roundtrip(h, w, seed):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (pc.decode_png(pc.encode_png(arr)) == arr).all()
        assert (pc.decode_png(pc.encode_png(arr, interlace=True)) == arr).all()

    @given(
        st.integers(1, 3), st.integers(1, 3),
        st.lists(st.integers(0, 255), min_size=9, max_size=9),
    )
    @settings(max_examples=25, deadline=None)
    def jpeg_constant_blocks(bh, bw, vals):
        blocks = np.array(vals[: bh * bw], dtype=np.uint8).reshape(bh, bw)
        y = np.kron(blocks, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
        img = jc.decode_jpeg(jc.encode_jpeg([y]))
        assert (img == y[:, :, None]).all()

    @given(
        st.integers(1, 3), st.integers(1, 3),
        st.lists(st.integers(0, 255), min_size=9, max_size=9),
    )
    # the last code bytes must follow pending 0x00 bytes (D.1.8 flush)
    @example(2, 3, [135, 71, 183, 183, 71, 165, 0, 0, 0])
    @settings(max_examples=15, deadline=None)
    def jpeg_arith_constant_blocks(bh, bw, vals):
        blocks = np.array(vals[: bh * bw], dtype=np.uint8).reshape(bh, bw)
        y = np.kron(blocks, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
        img = jc.decode_jpeg(jc.encode_jpeg_arithmetic([y]))
        assert (img == y[:, :, None]).all()
        img2 = jc.decode_jpeg(jc.encode_jpeg_progressive_arithmetic([y]))
        assert (img2 == y[:, :, None]).all()

    @given(st.integers(4, 40), st.integers(4, 40),
           st.integers(0, 2**32 - 1))
    @settings(max_examples=15, deadline=None)
    def jpeg_arith_equals_huffman(h, w, seed):
        # entropy coding is lossless: arithmetic and huffman encodings
        # of ANY image carry identical coefficients -> identical decode
        rng = np.random.default_rng(seed)
        planes = [rng.integers(0, 256, size=(h, w), dtype=np.uint8)
                  for _ in range(3)]
        ha = jc.decode_jpeg(jc.encode_jpeg_arithmetic(planes))
        hh = jc.decode_jpeg(jc.encode_jpeg(planes))
        assert (ha == hh).all()

    png_roundtrip()
    jpeg_constant_blocks()
    jpeg_arith_constant_blocks()
    jpeg_arith_equals_huffman()


def test_wav_sample_sums_integer_exact(spark):
    """REAL audio decode certification twin: integer-pattern PCM WAV
    payloads decode (stdlib wave) to sample statistics matching the
    local recompute exactly."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import multimodal as mm

    wav = mm.synthetic_int_wav_media(spark, 4, n_samples=512)
    got = {r["media_id"]: r for r in mm.wav_sample_sums(wav).collect()}
    assert len(got) == 4
    i = np.arange(512, dtype=np.int64)
    for mid in range(4):
        x = (i * (mid + 3) + mid * 17) % 65536 - 32768
        r = got[mid]
        assert (r["n_samples"], r["sample_sum"], r["sample_min"], r["sample_max"]) \
            == (512, int(x.sum()), int(x.min()), int(x.max()))


def test_image_channel_sums_mixed_formats(spark):
    """Driver-query twin: PPM, JPEG and PNG payloads in ONE frame
    dispatch on magic bytes and produce integer channel sums matching
    the local recompute of all three synthetic patterns."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import multimodal as mm

    ppm = mm.synthetic_ppm_media(spark, 4, width=32, height=24)
    jpg = mm.synthetic_jpeg_media(spark, 4, width=32, height=24)
    png = mm.synthetic_png_media(spark, 4, width=32, height=24)
    media = ppm.unionByName(jpg).unionByName(png)
    got = {(r["media_id"], r["fmt"]): (r["r_sum"], r["g_sum"], r["b_sum"])
           for r in mm.image_channel_sums(media).collect()}
    assert len(got) == 12
    yy, xx = np.mgrid[0:24, 0:32]
    by_, bx_ = np.mgrid[0:3, 0:4]
    for mid in range(4):
        r = int(((xx * 8 + mid) % 256).sum())
        g = int(((yy * 8 + mid * 3) % 256).sum())
        b = int(((xx + yy + mid * 7) % 256).sum())
        assert got[(mid, "ppm")] == (r, g, b)
        yv = (mid * 11 + bx_ * 7 + by_ * 13) % 256
        if mid % 4 == 3:
            # 4:2:0 payload: constant non-neutral chroma, each block one
            # constant RGB via the T.871 inverse (mirrors the oracle SQL)
            cb, cr = (mid * 17 + 40) % 256 - 128, (mid * 29 + 60) % 256 - 128
            jr = int(64 * np.clip(np.round(yv + 1.402 * cr), 0, 255).sum())
            jg = int(64 * np.clip(
                np.round(yv - 0.344136 * cb - 0.714136 * cr), 0, 255).sum())
            jb = int(64 * np.clip(np.round(yv + 1.772 * cb), 0, 255).sum())
            assert got[(mid, "jpeg")] == (jr, jg, jb)
        else:
            j = int(64 * yv.sum())
            assert got[(mid, "jpeg")] == (j, j, j)
        # PNG variants by id % 5: 0 plain / 1 Adam7 / 2 16-bit share the
        # gradient sums; 3 is palette; 4 grey+alpha (n=4 covers 0..3)
        if mid % 5 in (0, 1, 2):
            r = int(((xx * 5 + mid) % 256).sum())
            g = int(((yy * 7 + mid * 5) % 256).sum())
            b = int(((xx * 2 + yy * 3 + mid * 11) % 256).sum())
        elif mid % 5 == 3:
            idx = (xx + yy * 32 + mid) % 256
            r, g, b = (int((idx * k % 256).sum()) for k in (5, 7, 11))
        else:
            r = g = b = int(((xx * 3 + yy * 5 + mid) % 256).sum())
        assert got[(mid, "png")] == (r, g, b)


def test_resize_ppm_mixed_corpus_and_corrupt(spark):
    """resize_ppm_images: audio rows (null width/height) and corrupt P6
    payloads pass through instead of crashing the Arrow batch."""
    from picsure_dictionary_etl_spark.operators import multimodal as mm

    good = mm.synthetic_ppm_media(spark, 2)
    wav = mm.synthetic_wav_media(spark, 1)
    bad = spark.createDataFrame(
        [(77, "image", bytearray(b"P6\n32 24\n255\nxx"), 32, 24, None)],
        mm.MEDIA_SCHEMA)
    out = {(r["media_id"], r["kind"]): r
           for r in mm.resize_ppm_images(
               good.unionByName(wav).unionByName(bad), max_side=8).collect()}
    assert len(out) == 4
    assert out[(0, "image")]["out_width"] == 8
    assert out[(0, "image")]["out_height"] == 6
    # corrupt P6: payload passes through UNresized, so the emitted dims
    # must echo the original metadata — never the fictitious resize
    assert out[(77, "image")]["out_width"] == 32
    assert out[(77, "image")]["out_height"] == 24
    assert bytes(out[(77, "image")]["payload"]).startswith(b"P6\n32 24")
    wav_row = out[(0, "audio")]
    assert wav_row["out_width"] is None and wav_row["out_height"] is None


# ---------------------------------------------------------------------------
# MP4 (ISO BMFF) codec — from-scratch demuxer/writer (operators/mp4_codec.py)
# ---------------------------------------------------------------------------


def test_jpeg_lossless_roundtrip_and_hand_pin():
    """LOSSLESS (SOF3) JPEG: exact roundtrip on ARBITRARY patterns
    (lossless needs no constant-block trick) across all 7 Annex-H
    predictors, 8/12/16-bit precision, 1- and 3-component frames,
    ragged/degenerate dims, restart intervals and the point transform;
    the decoder is additionally pinned against HAND-assembled bytes
    (explicit code table + literal bit string, independent of the
    writer); decode_jpeg dispatches SOF3 and replicates grayscale."""
    import numpy as np
    import pytest

    from picsure_dictionary_etl_spark.operators import jpeg_codec as jc

    rng = np.random.default_rng(42)
    # predictor x precision matrix on random content
    for pred in range(1, 8):
        for prec, hi in ((8, 256), (12, 4096), (16, 65536)):
            img = rng.integers(0, hi, (11, 13)).astype(
                np.uint8 if prec == 8 else np.uint16)
            blob = jc.encode_jpeg_lossless(img, predictor=pred,
                                           precision=prec)
            back = jc.decode_jpeg_lossless(blob)
            assert back.dtype == img.dtype and (back == img).all(), \
                (pred, prec)
    # 3-component RGB + restart intervals (prediction resets pinned by
    # exactness: a wrong reset rule cannot round-trip)
    rgb = rng.integers(0, 256, (10, 9, 3)).astype(np.uint8)
    for ri in (0, 1, 5, 90):
        blob = jc.encode_jpeg_lossless(rgb, predictor=4,
                                       restart_interval=ri)
        assert (jc.decode_jpeg_lossless(blob) == rgb).all(), ri
    # point transform: decode returns samples << Pt (low bits dropped)
    i12 = rng.integers(0, 4096, (6, 7)).astype(np.uint16)
    blob = jc.encode_jpeg_lossless(i12, predictor=5, point_transform=3)
    assert (jc.decode_jpeg_lossless(blob) == (i12 >> 3 << 3)).all()
    # degenerate dims: single row, single column, single pixel
    for shape in ((1, 7), (7, 1), (1, 1)):
        img = rng.integers(0, 65536, shape).astype(np.uint16)
        blob = jc.encode_jpeg_lossless(img, predictor=7, precision=16)
        assert (jc.decode_jpeg_lossless(blob) == img).all(), shape
    # decode_jpeg dispatch: grayscale replicates, RGB passes through
    g = rng.integers(0, 256, (5, 4)).astype(np.uint8)
    out = jc.decode_jpeg(jc.encode_jpeg_lossless(g, predictor=1))
    assert out.shape == (5, 4, 3) and (out == g[..., None]).all()
    out3 = jc.decode_jpeg(jc.encode_jpeg_lossless(rgb, predictor=2))
    assert (out3 == rgb).all()

    # HAND-pinned decode: 2x2 8-bit, predictor 1, samples
    # [[100, 101], [103, 99]]. Categories/bits derived longhand from
    # the canonical table (len2: cat0=00; len3: cat1=010 ... cat5=110;
    # ...), T.81 H.1 prediction (first sample 128, first line Ra,
    # first column Rb), F.12 EXTEND for negatives:
    #   m0: diff -28  -> cat5 '110'  + ext 5 bits of (-28+31)=3 '00011'
    #   m1: diff  +1  -> cat1 '010'  + ext '1'
    #   m2: diff  +3  -> cat2 '011'  + ext '11'
    #   m3: diff  -4  -> cat3 '100'  + ext (-4+7)=3 '011'
    bits = "110" + "00011" + "010" + "1" + "011" + "11" + "100" + "011"
    bits += "1" * (-len(bits) % 8)  # 1-fill pad (F.1.2.3)
    entropy = bytes(int(bits[k : k + 8], 2) for k in range(0, len(bits), 8))
    hand = (b"\xff\xd8"
            + jc._seg(0xC3, bytes([8, 0, 2, 0, 2, 1, 1, 0x11, 0]))
            + jc._seg(0xC4, bytes([0x00]) + bytes(jc.DC_LOSSLESS_BITS)
                      + bytes(jc.DC_LOSSLESS_VALS))
            + jc._seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0]))
            + entropy + b"\xff\xd9")
    assert jc.decode_jpeg_lossless(hand).tolist() == [[100, 101], [103, 99]]

    # malformed: predictor 0 in the scan header
    bad = hand.replace(bytes([1, 1, 0x00, 1, 0, 0]),
                       bytes([1, 1, 0x00, 0, 0, 0]))
    with pytest.raises(ValueError, match="predictor"):
        jc.decode_jpeg_lossless(bad)
    # 5-component frames exceed the scan limit the writer enforces
    with pytest.raises(ValueError, match=r"n<=4"):
        jc.encode_jpeg_lossless(np.zeros((4, 4, 5), np.uint8))


def _hand_mp4(codec=b"raw ", stsz_count=2, stco0=24, extra_trak=b"",
              extra_stbl=b""):
    """A minimal video-only MP4 built with EXPLICIT struct.pack and
    literal byte offsets — independent of the module's writer, so
    writer<->parser round trips can't be self-consistently wrong.

    Layout: ftyp(16) | mdat(8 hdr + 12 payload: two 2x1 RGB frames) |
    moov.  Chunk offsets are the LITERALS 24 and 30."""
    import struct

    def box(t, p):
        return struct.pack(">I4s", 8 + len(p), t) + p

    def full(t, p):
        return box(t, b"\x00\x00\x00\x00" + p)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0))  # 16 bytes, no compat list
    assert len(ftyp) == 16
    mdat = box(b"mdat", bytes(range(1, 13)))  # frames [1..6], [7..12]

    entry = box(
        codec,
        b"\x00" * 6 + struct.pack(">H", 1)          # data_reference_index
        + b"\x00" * 16                              # pre_defined/reserved
        + struct.pack(">HH", 2, 1)                  # width=2 height=1
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">I", 0) + struct.pack(">H", 1)
        + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
    stsd = full(b"stsd", struct.pack(">I", 1) + entry)
    stts = full(b"stts", struct.pack(">III", 1, 2, 100))     # 2 samples, delta 100
    stsc = full(b"stsc", struct.pack(">IIII", 1, 1, 1, 1))   # 1 sample/chunk
    stsz = full(b"stsz", struct.pack(">II", 6, stsz_count))  # uniform 6 bytes
    stco = full(b"stco", struct.pack(">III", 2, stco0, 30))  # LITERAL offsets
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + extra_stbl)
    vmhd = box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
    dinf = box(b"dinf", full(b"dref", struct.pack(">I", 1)
                             + box(b"url ", b"\x00\x00\x00\x01")))
    minf = box(b"minf", vmhd + dinf + stbl)
    hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 13)
    mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, 200, 200)
                + struct.pack(">HH", 0x55C4, 0))
    tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1) + struct.pack(">II", 0, 200)
                + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
                + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
                + struct.pack(">II", 2 << 16, 1 << 16))
    trak = box(b"trak", tkhd + extra_trak + box(b"mdia", mdhd + hdlr + minf))
    mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, 200, 200)
                + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
                + b"\x00" * 10
                + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
                + b"\x00" * 24 + struct.pack(">I", 2))
    return ftyp + mdat + box(b"moov", mvhd + trak)


def test_mp4_roundtrip_layout_matrix():
    """Writer -> demuxer bit-exact round trip for raw RGB frames and
    PCM audio across every physical layout the writer can emit:
    samples-per-chunk 1/3/7, stco vs co64, mdat-first vs moov-first
    (the moov-first path exercises the dry-pass offset sizing)."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import mp4_codec as m

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (12, 16, 3), dtype=np.uint8) for _ in range(10)]
    audio = rng.integers(-30000, 30000, 4000, dtype=np.int16)
    for spc in (1, 3, 7):
        for co64 in (False, True):
            for mf in (True, False):
                blob = m.encode_mp4(
                    frames, fps=5, audio=audio, sample_rate=8000,
                    samples_per_chunk=spc, use_co64=co64, mdat_first=mf)
                info = m.parse_mp4(blob)
                v, a = info.video(), info.audio()
                dec = m.decode_raw_frames(blob, v)
                assert len(dec) == 10
                assert all((d == f).all() for d, f in zip(dec, frames))
                assert (m.decode_pcm_audio(blob, a) == audio.astype(np.int64)).all()
                assert (v.width, v.height, v.codec, v.depth) == (16, 12, "raw ", 24)
                assert (a.sample_rate, a.channels, a.sample_bits) == (8000, 1, 16)
                # stts->dts expansion: ticks 0/0.5/1.0/1.5s over a
                # 2s-at-5fps clip pick frames 0, 2, 5, 7
                assert m.frame_indices_at_fps(v, 2.0).tolist() == [0, 2, 5, 7]


def test_mp4_demuxer_against_hand_built_bytes():
    """The demuxer is pinned against a hand-assembled blob with literal
    chunk offsets (24, 30) — fully independent of encode_mp4."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import mp4_codec as m

    blob = _hand_mp4()
    info = m.parse_mp4(blob)
    assert info.timescale == 200 and len(info.tracks) == 1
    v = info.video()
    assert (v.track_id, v.codec, v.width, v.height, v.depth) == (1, "raw ", 2, 1, 24)
    assert v.timescale == 200 and v.duration == 200
    assert v.offsets.tolist() == [24, 30]
    assert v.sizes.tolist() == [6, 6]
    assert v.dts.tolist() == [0, 100]
    f0, f1 = m.decode_raw_frames(blob, v)
    assert f0.tolist() == [[[1, 2, 3], [4, 5, 6]]]
    assert f1.tolist() == [[[7, 8, 9], [10, 11, 12]]]
    assert [bytes(s) for s in m.extract_samples(blob, v)] == [
        bytes(range(1, 7)), bytes(range(7, 13))]


def test_mp4_typed_seams_and_corrupt():
    """Honest seams raise typed errors; malformed tables raise Mp4Error
    (never garbage decode): non-standard edit-list shapes, ctts that
    disagrees with stsz, truncation, stts/stsz disagreement, offsets
    past EOF, and pixel decode of entropy-coded codecs (demux still
    works for those). HAND-built ctts/elst bytes (explicit struct.pack,
    independent of the writer) pin the composition/edit parsing."""
    import struct

    import pytest

    from picsure_dictionary_etl_spark.operators import mp4_codec as m

    def box(t, p):
        return struct.pack(">I4s", 8 + len(p), t) + p

    def full(t, vf, p):
        return box(t, struct.pack(">I", vf) + p)

    # hand-built ctts v0: offsets [100, 0] -> pts = dts + off = [100, 100]
    ctts0 = full(b"ctts", 0, struct.pack(">IIIII", 2, 1, 100, 1, 0))
    v = m.parse_mp4(_hand_mp4(extra_stbl=ctts0)).video()
    assert v.dts.tolist() == [0, 100] and v.pts.tolist() == [100, 100]
    # hand-built ctts v1: SIGNED offsets [0, -100] -> pts = [0, 0]
    ctts1 = full(b"ctts", 1 << 24,
                 struct.pack(">II", 2, 1) + struct.pack(">i", 0)
                 + struct.pack(">I", 1) + struct.pack(">i", -100))
    v = m.parse_mp4(_hand_mp4(extra_stbl=ctts1)).video()
    assert v.pts.tolist() == [0, 0]
    # hand-built elst v0: one forward edit media_time=100 -> pts - 100
    elst = box(b"edts", full(b"elst", 0, struct.pack(">I", 1)
                             + struct.pack(">IiHH", 200, 100, 1, 0)))
    v = m.parse_mp4(_hand_mp4(extra_trak=elst)).video()
    assert v.pts.tolist() == [-100, 0]  # first sample = trimmed pre-roll
    # empty edts (no elst) is a no-op now
    v = m.parse_mp4(_hand_mp4(extra_trak=box(b"edts", b""))).video()
    assert v.pts.tolist() == [0, 100]

    # ctts sample coverage must match stsz
    bad_ctts = full(b"ctts", 0, struct.pack(">III", 1, 1, 100))
    with pytest.raises(m.Mp4Error, match="ctts covers"):
        m.parse_mp4(_hand_mp4(extra_stbl=bad_ctts))
    # unsupported edit-list SHAPE stays a typed seam (two normal edits)
    elst2 = box(b"edts", full(b"elst", 0, struct.pack(">I", 2)
                              + struct.pack(">IiHH", 100, 0, 1, 0)
                              + struct.pack(">IiHH", 100, 50, 1, 0)))
    with pytest.raises(NotImplementedError, match="edit list shape"):
        m.parse_mp4(_hand_mp4(extra_trak=elst2))
    # rate-warped edit is a typed seam too
    elst3 = box(b"edts", full(b"elst", 0, struct.pack(">I", 1)
                              + struct.pack(">IiHH", 200, 0, 2, 0)))
    with pytest.raises(NotImplementedError, match="edit list shape"):
        m.parse_mp4(_hand_mp4(extra_trak=elst3))
    with pytest.raises(m.Mp4Error):
        m.parse_mp4(_hand_mp4()[:20])          # truncated inside mdat
    with pytest.raises(m.Mp4Error, match="stsz declares"):
        m.parse_mp4(_hand_mp4(stsz_count=3))   # stts covers only 2
    with pytest.raises(m.Mp4Error, match="overruns the file"):
        m.parse_mp4(_hand_mp4(stco0=60000))
    # entropy-coded codec: byte-range demux works, pixel decode is a seam
    blob = _hand_mp4(codec=b"avc1")
    info = m.parse_mp4(blob)
    assert len(m.extract_samples(blob, info.video())) == 2
    with pytest.raises(NotImplementedError, match="avc1"):
        m.decode_raw_frames(blob, info.video())
    with pytest.raises(NotImplementedError, match="audio decode"):
        m.decode_pcm_audio(blob, info.video())


def test_mp4_fragmented_roundtrip_and_seams():
    """Fragmented MP4 (moof/tfhd/tfdt/trun): writer -> demuxer
    bit-exact round trip with tfhd-default AND per-sample trun field
    layouts, ragged final fragments, trex fallback, and the typed
    seams (implicit base chaining, nonzero cts offsets)."""
    import struct

    import numpy as np
    import pytest

    from picsure_dictionary_etl_spark.operators import mp4_codec as m

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (6, 8, 3), dtype=np.uint8) for _ in range(11)]
    audio = rng.integers(-20000, 20000, 1000, dtype=np.int16)
    for psf in (False, True):
        for fpf in (4, 1, 11):
            blob = m.encode_mp4_fragmented(
                frames, fps=5, audio=audio, frames_per_fragment=fpf,
                per_sample_fields=psf)
            info = m.parse_mp4(blob)
            v, a = info.video(), info.audio()
            assert v.n_samples == 11
            # dts comes from tfdt + per-fragment accumulation
            assert v.dts.tolist() == [i * 120 for i in range(11)]
            assert v.duration == 11 * 120
            dec = m.decode_raw_frames(blob, v)
            assert all((d == f).all() for d, f in zip(dec, frames))
            assert (m.decode_pcm_audio(blob, a) == audio.astype(np.int64)).all()
            # frame sampling works off the fragment-derived dts
            assert m.frame_indices_at_fps(v, 1.0).tolist() == [0, 5, 10]

    # moov-only parse of a fragmented file with zero fragments yet
    head = m.encode_mp4_fragmented(frames[:1], fps=5)
    moov_end = head.index(b"moof") - 4
    info = m.parse_mp4(head[:moov_end])
    assert info.video().n_samples == 0

    def box(t, p):
        return struct.pack(">I4s", 8 + len(p), t) + p

    def full(t, flags, p):
        return box(t, struct.pack(">I", flags) + p)

    base = head[:moov_end]
    # tfhd with NEITHER base-data-offset nor default-base-is-moof
    bad_tfhd = box(b"moof", full(b"mfhd", 0, struct.pack(">I", 1)) + box(
        b"traf", full(b"tfhd", 0x18, struct.pack(">III", 1, 120, 144))
        + full(b"trun", 0x1, struct.pack(">Ii", 1, 0))))
    with pytest.raises(NotImplementedError, match="default-base-is-moof"):
        m.parse_mp4(base + bad_tfhd)
    # nonzero composition offsets are REAL since late r6: a hand-built
    # trun with a cts field (v0 unsigned, 7 ticks) shifts pts, and the
    # sample bytes still decode. moof size is offset-independent, so
    # compute doff in a probe pass exactly as the writer does.
    def cts_moof(doff: int) -> bytes:
        return box(b"moof", full(b"mfhd", 0, struct.pack(">I", 1)) + box(
            b"traf", full(b"tfhd", 0x20018, struct.pack(">III", 1, 120, 144))
            + full(b"trun", 0x801, struct.pack(">IiI", 1, doff, 7))))

    probe_m = cts_moof(0)
    frame_bytes = frames[0].tobytes()  # 6*8*3 = 144 = tfhd default size
    hand = base + cts_moof(len(probe_m) + 8) + box(b"mdat", frame_bytes)
    info_c = m.parse_mp4(hand)
    vc = info_c.video()
    assert vc.n_samples == 1
    assert vc.dts.tolist() == [0] and vc.pts.tolist() == [7]
    assert (m.decode_raw_frames(hand, vc)[0] == frames[0]).all()
    # trun overrunning EOF is malformed, not garbage
    over_trun = box(b"moof", full(b"mfhd", 0, struct.pack(">I", 1)) + box(
        b"traf", full(b"tfhd", 0x20018, struct.pack(">III", 1, 120, 144))
        + full(b"trun", 0x1, struct.pack(">Ii", 1, 50000))))
    with pytest.raises(m.Mp4Error, match="overruns"):
        m.parse_mp4(base + over_trun)


def test_mp4_ctts_elst_presentation_order():
    """Composition offsets + edit lists end to end: frames stored in
    DECODE order with a B-style reorder permutation must decode back in
    PRESENTATION order via pts; fps-grid sampling follows what a viewer
    sees at each tick; an empty edit delays pts and a media_time edit
    trims pre-roll (negative pts); fragmented trun cts (both trun
    layouts) parses identically to the progressive ctts; streams
    without reordering keep pts == dts and the original sampling."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import mp4_codec as m

    # presentation frames F0..F5 (constant colors); stored order is the
    # permutation perm (stored[i] is PRESENTED at slot perm[i])
    perm = [0, 2, 1, 4, 3, 5]
    dur = 600 // 30
    frames_pres = [np.full((4, 4, 3), 10 * (k + 1), np.uint8)
                   for k in range(6)]
    stored = [frames_pres[perm[i]] for i in range(6)]
    cts = [(perm[i] - i) * dur for i in range(6)]  # negative entries too

    blob = m.encode_mp4(stored, fps=30, cts_offsets=cts)
    v = m.parse_mp4(blob).video()
    assert v.pts.tolist() == [perm[i] * dur for i in range(6)]
    order = m.presentation_order(v)
    dec = m.decode_raw_frames(blob, v, order)
    assert all((d == f).all() for d, f in zip(dec, frames_pres))
    # at the native fps every tick selects the presented frame: the
    # stored indices come back in presentation order
    idx = m.frame_indices_at_fps(v, 30)
    assert [int(v.pts[i]) for i in idx] == [k * dur for k in range(6)]

    # elst: 1 s empty edit (movie ts = 600) delays pts; media_time=dur
    # trims one frame of pre-roll
    blob2 = m.encode_mp4(stored, fps=30, cts_offsets=cts,
                         edit_media_time=dur, edit_empty_dur=600)
    v2 = m.parse_mp4(blob2).video()
    assert v2.pts.tolist() == [perm[i] * dur - dur + 600 for i in range(6)]

    # fragmented trun cts, both per-sample layouts, ragged fragments
    for psf in (False, True):
        blob3 = m.encode_mp4_fragmented(stored, fps=30, cts_offsets=cts,
                                        per_sample_fields=psf,
                                        frames_per_fragment=2)
        v3 = m.parse_mp4(blob3).video()
        assert v3.pts.tolist() == [perm[i] * dur for i in range(6)], psf
        dec3 = m.decode_raw_frames(blob3, v3, m.presentation_order(v3))
        assert all((d == f).all() for d, f in zip(dec3, frames_pres))

    # no reordering: pts == dts, sampling identical to the dts grid
    blob4 = m.encode_mp4(frames_pres, fps=30)
    v4 = m.parse_mp4(blob4).video()
    assert (v4.pts == v4.dts).all()
    assert m.frame_indices_at_fps(v4, 30).tolist() == list(range(6))
    assert m.presentation_order(v4).tolist() == list(range(6))


def test_mp4_track_sums_spark(spark):
    """Driver-query twin: synthetic MP4 payloads (layouts rotating by
    id) demux + decode inside mapInPandas to integer statistics
    matching a local numpy recompute exactly."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators import multimodal as mm

    media = mm.synthetic_mp4_media(spark, 4)
    got = {r["media_id"]: r for r in mm.mp4_track_sums(media, sample_fps=2.0).collect()}
    assert len(got) == 4
    yy, xx = np.mgrid[0:12, 0:16]
    i = np.arange(512, dtype=np.int64)
    for mid in range(4):
        r_sum = sum(int(((xx * 3 + f * 7 + mid) % 256).sum()) for f in range(6))
        g_sum = sum(int(((yy * 5 + f * 11 + mid * 3) % 256).sum()) for f in range(6))
        b_sum = sum(int(((xx + yy + f * 13 + mid * 7) % 256).sum()) for f in range(6))
        pcm = (i * (mid + 5) + mid * 13) % 65536 - 32768
        row = got[mid]
        assert (row["n_frames"], row["width"], row["height"], row["video_ms"]) \
            == (6, 16, 12, 1200)
        assert (row["r_sum"], row["g_sum"], row["b_sum"]) == (r_sum, g_sum, b_sum)
        assert (row["n_audio"], row["audio_sum"], row["audio_min"], row["audio_max"]) \
            == (512, int(pcm.sum()), int(pcm.min()), int(pcm.max()))
        # frames at slots 0+2+5 at 2fps over 1.2s@5fps; id 2 stores a
        # reorder permutation (ctts + net-zero elst), so the sampled
        # STORED indices are the slots XOR 1 (1+3+4)
        assert row["fidx_sum"] == (8 if mid % 7 == 2 else 7)


def test_jpeg_arithmetic_coding_real():
    """From-scratch QM arithmetic entropy coding (T.81 Annexes D/F,
    SOF9 + DAC): (1) constant-block + unit-quant payloads round-trip
    BIT-exactly through encode_jpeg_arithmetic -> decode_jpeg (the same
    integer-oracle contract as the huffman pipeline); (2) on ARBITRARY
    content the arithmetic and huffman pipelines decode IDENTICALLY
    (entropy coding is lossless - same quantized coefficients) across
    grayscale / 4:4:4 / 4:2:0; (3) an EMBEDDED cross-implementation
    fixture: libjpeg-turbo's arithmetic and huffman encodings of one
    real 16x16 image must decode to the same pixels through OUR decoder
    (pins the Qe state machine, byte stuffing, carry handling and the
    DC/AC statistical models against an independent implementation);
    (4) the arithmetic stream is smaller (the point of the mode)."""
    import numpy as np

    from picsure_dictionary_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_arithmetic,
    )

    # (1) exact integer roundtrip on constant blocks
    v = (np.arange(12).reshape(3, 4) * 19 + 7) % 256
    y = np.kron(v, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_arithmetic([y]))
    assert np.array_equal(out[..., 0], y)

    # (2) arbitrary content: arithmetic == huffman decode, both mine
    rng = np.random.default_rng(5)
    for planes, samp in [
        ([rng.integers(0, 256, (41, 53), dtype=np.uint8)], None),
        ([rng.integers(0, 256, (24, 40), dtype=np.uint8)
          for _ in range(3)], None),
        ([rng.integers(0, 256, (37, 61), dtype=np.uint8)
          for _ in range(3)], (2, 2)),
    ]:
        a = encode_jpeg_arithmetic(planes, sampling=samp)
        h = encode_jpeg(planes, sampling=samp)
        assert np.array_equal(decode_jpeg(a), decode_jpeg(h)), samp
        assert len(a) < len(h)  # (4) compression win

    # (2b) PROGRESSIVE arithmetic (SOF10): my 4-scan writer decodes
    # identically to both huffman pipelines on arbitrary content
    from picsure_dictionary_etl_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
        encode_jpeg_progressive_arithmetic,
    )

    planes = [rng.integers(0, 256, (33, 41), dtype=np.uint8)
              for _ in range(3)]
    pa = encode_jpeg_progressive_arithmetic(planes, sampling=(2, 2))
    assert np.array_equal(
        decode_jpeg(pa),
        decode_jpeg(encode_jpeg_progressive(planes, sampling=(2, 2))))
    assert np.array_equal(
        decode_jpeg(pa), decode_jpeg(encode_jpeg(planes, sampling=(2, 2))))

    # (3) embedded libjpeg-turbo fixture pairs (quality 85, 16x16 noise):
    # sequential (SOF9) and progressive (SOF10, 10-scan simple
    # progression) each against their huffman twins
    import tests.jpeg_arith_fixture as fx

    mine_a = decode_jpeg(bytes.fromhex(fx.LIBJPEG_ARITH_HEX))
    mine_h = decode_jpeg(bytes.fromhex(fx.LIBJPEG_HUFF_HEX))
    assert np.array_equal(mine_a, mine_h)
    assert mine_a.shape == (16, 16, 3)
    import hashlib

    assert hashlib.md5(mine_a.tobytes()).hexdigest() == fx.PIXELS_MD5
    prog_a = decode_jpeg(bytes.fromhex(fx.LIBJPEG_PROG_ARITH_HEX))
    prog_h = decode_jpeg(bytes.fromhex(fx.LIBJPEG_PROG_HUFF_HEX))
    assert np.array_equal(prog_a, prog_h)
    assert hashlib.md5(prog_a.tobytes()).hexdigest() == fx.PROG_PIXELS_MD5


def test_jpeg_arithmetic_interop_libjpeg_live():
    """LIVE two-way interop against libjpeg-turbo (skipped where the
    toolchain is absent): libjpeg's arithmetic bytes decode through our
    decoder to the same pixels as libjpeg's huffman bytes (incl. a
    restart interval), and OUR arithmetic bytes decode through libjpeg
    to the same pixels as our huffman bytes."""
    import ctypes.util
    import os
    import shutil
    import subprocess
    import tempfile

    import numpy as np
    import pytest

    if not shutil.which("gcc") or not ctypes.util.find_library("jpeg") \
            or not os.path.exists("/usr/include/jpeglib.h"):
        pytest.skip("gcc + libjpeg dev toolchain unavailable")

    from picsure_dictionary_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_arithmetic,
    )

    src = r"""
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <jpeglib.h>
static unsigned char *read_ppm(const char *fn, int *w, int *h) {
  FILE *f = fopen(fn, "rb"); char m[3]; int mx;
  if (!f || fscanf(f, "%2s %d %d %d", m, w, h, &mx) != 4) exit(2);
  fgetc(f);
  unsigned char *b = malloc((size_t)(*w) * (*h) * 3);
  if (fread(b, 1, (size_t)(*w)*(*h)*3, f) != (size_t)(*w)*(*h)*3) exit(3);
  fclose(f); return b;
}
int main(int argc, char **argv) {
  if (!strcmp(argv[1], "enc")) {
    int w, h; unsigned char *img = read_ppm(argv[2], &w, &h);
    struct jpeg_compress_struct c; struct jpeg_error_mgr e;
    c.err = jpeg_std_error(&e); jpeg_create_compress(&c);
    FILE *o = fopen(argv[3], "wb"); jpeg_stdio_dest(&c, o);
    c.image_width = w; c.image_height = h;
    c.input_components = 3; c.in_color_space = JCS_RGB;
    jpeg_set_defaults(&c); jpeg_set_quality(&c, atoi(argv[4]), TRUE);
    c.arith_code = atoi(argv[5]) ? TRUE : FALSE;
    if (argc > 6) c.restart_interval = atoi(argv[6]);
    if (argc > 7 && atoi(argv[7])) jpeg_simple_progression(&c);
    jpeg_start_compress(&c, TRUE);
    while (c.next_scanline < c.image_height) {
      JSAMPROW r = img + (size_t)c.next_scanline * w * 3;
      jpeg_write_scanlines(&c, &r, 1);
    }
    jpeg_finish_compress(&c); fclose(o);
  } else {
    struct jpeg_decompress_struct d; struct jpeg_error_mgr e;
    d.err = jpeg_std_error(&e); jpeg_create_decompress(&d);
    FILE *i = fopen(argv[2], "rb"); jpeg_stdio_src(&d, i);
    jpeg_read_header(&d, TRUE); d.out_color_space = JCS_RGB;
    jpeg_start_decompress(&d);
    FILE *o = fopen(argv[3], "wb");
    fprintf(o, "P6\n%d %d\n255\n", d.output_width, d.output_height);
    unsigned char *row = malloc((size_t)d.output_width * 3);
    while (d.output_scanline < d.output_height) {
      JSAMPROW r = row; jpeg_read_scanlines(&d, &r, 1);
      fwrite(row, 1, (size_t)d.output_width * 3, o);
    }
    jpeg_finish_decompress(&d); fclose(o); fclose(i);
  }
  return 0;
}
"""
    with tempfile.TemporaryDirectory() as td:
        cfile, tool = os.path.join(td, "t.c"), os.path.join(td, "t")
        open(cfile, "w").write(src)
        subprocess.run(["gcc", "-O2", "-o", tool, cfile, "-ljpeg"],
                       check=True, capture_output=True)

        def ppm(path, arr):
            with open(path, "wb") as f:
                f.write(b"P6\n%d %d\n255\n" % (arr.shape[1], arr.shape[0]))
                f.write(arr.tobytes())

        def read_ppm(path):
            raw = open(path, "rb").read()
            head, data = raw.split(b"\n", 3)[:3], raw.split(b"\n", 3)[3]
            w, h = map(int, head[1].split())
            return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)

        rng = np.random.default_rng(31)
        img = rng.integers(0, 256, (48, 80, 3), dtype=np.uint8)
        ppm(f"{td}/in.ppm", img)
        # libjpeg -> our decoder (restart interval 3 exercises RSTn)
        subprocess.run([tool, "enc", f"{td}/in.ppm", f"{td}/a.jpg", "88",
                        "1", "3"], check=True)
        subprocess.run([tool, "enc", f"{td}/in.ppm", f"{td}/h.jpg", "88",
                        "0", "3"], check=True)
        assert np.array_equal(
            decode_jpeg(open(f"{td}/a.jpg", "rb").read()),
            decode_jpeg(open(f"{td}/h.jpg", "rb").read()))
        # zero-padded restart flush (review finding): a spec-literal
        # encoder may leave trailing 0x00 flush bytes before each RSTn
        # that the QM decoder never consumes — restart() must scan
        # forward to the marker, not expect it at the current offset
        raw = open(f"{td}/a.jpg", "rb").read()
        padded = bytearray()
        i = 0
        while i < len(raw):
            if raw[i] == 0xFF and i + 1 < len(raw) and \
                    0xD0 <= raw[i + 1] <= 0xD7:
                padded += b"\x00\x00\x00"
            padded.append(raw[i])
            i += 1
        assert np.array_equal(
            decode_jpeg(bytes(padded)),
            decode_jpeg(open(f"{td}/h.jpg", "rb").read()))
        # progressive arithmetic (SOF10, libjpeg 10-scan script)
        subprocess.run([tool, "enc", f"{td}/in.ppm", f"{td}/pa.jpg",
                        "88", "1", "0", "1"], check=True)
        assert b"\xff\xca" in open(f"{td}/pa.jpg", "rb").read()
        assert np.array_equal(
            decode_jpeg(open(f"{td}/pa.jpg", "rb").read()),
            decode_jpeg(open(f"{td}/h.jpg", "rb").read()))
        # our encoder -> libjpeg
        planes = [rng.integers(0, 256, (32, 56), dtype=np.uint8)
                  for _ in range(3)]
        from picsure_dictionary_etl_spark.operators.jpeg_codec import (
            encode_jpeg_progressive_arithmetic,
        )

        open(f"{td}/ma.jpg", "wb").write(encode_jpeg_arithmetic(planes))
        open(f"{td}/mp.jpg", "wb").write(
            encode_jpeg_progressive_arithmetic(planes))
        open(f"{td}/mh.jpg", "wb").write(encode_jpeg(planes))
        subprocess.run([tool, "dec", f"{td}/ma.jpg", f"{td}/ma.ppm"],
                       check=True)
        subprocess.run([tool, "dec", f"{td}/mh.jpg", f"{td}/mh.ppm"],
                       check=True)
        subprocess.run([tool, "dec", f"{td}/mp.jpg", f"{td}/mp.ppm"],
                       check=True)
        assert np.array_equal(read_ppm(f"{td}/ma.ppm"),
                              read_ppm(f"{td}/mh.ppm"))
        assert np.array_equal(read_ppm(f"{td}/mp.ppm"),
                              read_ppm(f"{td}/mh.ppm"))
