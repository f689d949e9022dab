"""Unit tests for engine operators: PCA, dedup, similarity, chunking,
text, multimodal (SURVEY.md §5 layer 2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from laser_hadoop_spark.operators import chunking, dedup, multimodal, pca, similarity, text
from laser_hadoop_spark.tables import table


# --- PCA ---------------------------------------------------------------------


def _random_matrix(n=40, d=6, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.normal(size=(n, 3)) @ rng.normal(size=(3, d))
    return base + 0.01 * rng.normal(size=(n, d))


def test_grouped_pca_matches_numpy(spark):
    x = _random_matrix()
    rows = [("g1", f"id{i:03d}", *map(float, x[i])) for i in range(len(x))]
    cols = ["grp", "rid"] + [f"f{j}" for j in range(x.shape[1])]
    df = spark.createDataFrame(rows, cols)
    out = pca.grouped_pca(
        df, group_col="grp", id_col="rid", feature_cols=cols[2:], dim=3
    )
    got = {r["rid"]: np.array(r["pc"]) for r in out.collect()}
    scores, _ = pca._pca_numpy(x, 3)
    for i in range(len(x)):
        np.testing.assert_allclose(got[f"id{i:03d}"], scores[i], atol=1e-8)


def test_global_pca_variance(spark):
    x = _random_matrix()
    cols = [f"f{j}" for j in range(x.shape[1])]
    df = spark.createDataFrame([tuple(map(float, r)) for r in x], cols)
    var = pca.explained_variance(df, feature_cols=cols, dim=3)
    # 3 latent dims planted -> top-3 explain ~everything, descending
    assert sum(var) > 0.99
    assert var == sorted(var, reverse=True)
    out = pca.global_pca(df.withColumn("rid", F.monotonically_increasing_id()),
                         feature_cols=cols, id_cols=["rid"], dim=3)
    assert out.count() == len(x)
    assert len(out.first()["pc"]) == 3


def test_procrustes_recovers_rotation():
    rng = np.random.RandomState(0)
    ref = rng.normal(size=(25, 3))
    theta = 0.7
    rot = np.array(
        [
            [np.cos(theta), -np.sin(theta), 0],
            [np.sin(theta), np.cos(theta), 0],
            [0, 0, 1],
        ]
    )
    study = (ref @ rot) * 2.5 + 1.0
    mapped = pca.procrustes_project(study, ref)
    np.testing.assert_allclose(mapped, ref, atol=1e-8)


# --- dedup -------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def test_exact_and_fingerprint_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "hello world"), (3, "HELLO WORLD"), (4, "bye")],
        "doc_id int, text string",
    )
    assert dedup.exact_dedup(df).count() == 4  # rows differ
    # normalization collapses whitespace+case -> 2 distinct fingerprints
    assert dedup.fingerprint_dedup(df).count() == 2


def test_ngram_jaccard_pairs_operator(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(pairs) > 0
    assert all(r["jaccard"] > 0.8 and r["doc_a"] < r["doc_b"] for r in pairs)
    # df-cap variant returns a subset (ubiquitous shingles dropped)
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_shingle_df=20)
    assert capped.count() <= len(pairs) + 5


def test_shingle_hash_rows_equal_exploded_hash_array(spark):
    """shingle_hash_rows (explode_outer + not-null, token hashes
    projected once) yields exactly the rows of a plain explode over
    word_shingle_hashes, with the same per-doc shingle count."""
    df = spark.createDataFrame(
        [
            (1, None),  # NULL text
            (2, ""),  # empty text
            (3, "two words"),  # fewer tokens than n = 3
            (4, "a  b c  d"),  # double spaces make empty tokens
            (5, "x y z x y z x y z"),  # repeated n-grams
            (6, "the quick brown fox jumps"),
        ],
        "doc_id long, text string",
    )
    for n in (2, 3):
        sh = dedup.word_shingle_hashes("text", n)
        want = df.select(
            F.col("doc_id").alias("doc"),
            F.size(sh).alias("n"),
            F.explode(sh).alias("shingle"),
        ).collect()
        got = dedup.shingle_hash_rows(df, "doc_id", "text", n).collect()
        assert sorted(got) == sorted(want), n
        assert {r["doc"] for r in got} == {3, 4, 5, 6} - ({3} if n == 3 else set())


def test_minhash_recall_vs_exact(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, distance=0.4).collect()
    }
    # LSH at distance<0.4 must recover the >0.8-jaccard pairs (recall ~1)
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} on {len(exact)} true pairs"


def test_simhash_near_dups(spark, docs):
    sk = dedup.simhash(docs)
    assert sk.count() == docs.count()
    pairs = dedup.simhash_pairs(docs, max_hamming=4).collect()
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # near-identical docs should collide in simhash space
    assert exact, "fixture should contain >0.9-jaccard near-dups"
    assert len(exact & got) / len(exact) >= 0.8


def test_simhash_64bit_banding_lossless(spark, docs):
    """The production width (bits=64, WWW'07): banding with
    max_hamming < n_bands must return EXACTLY the pairs the quadratic
    hamming definition does (pigeonhole makes candidate generation
    lossless, not approximate), and the sign bit must be handled (bit
    63's addend is min-long; band 7's key masks the arithmetic
    shift's sign extension)."""
    sk = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=64).collect()}
    assert any(v < 0 for v in sk.values()) or len(sk) < 8, (
        "expected at least one sketch with bit 63 set on a non-tiny corpus"
    )
    ids = sorted(sk)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sk[a] ^ sk[b]) & ((1 << 64) - 1)).count("1") <= 6
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs, max_hamming=6, n_bands=8, bits=64).collect()
    }
    assert got == truth
    # 64-bit band keys are 8 bits wide: no key may exceed 255 and the
    # top band must be sign-mask-clean
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=6, n_bands=7, bits=64)


# --- similarity --------------------------------------------------------------


def test_brute_force_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(
        emb, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=5,
    )
    rows = out.collect()
    assert len(rows) == 15  # 3 queries x k
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for sims in by_q.values():
        ordered = sorted(sims, key=lambda r: r["rank"])
        vals = [r["cosine_sim"] for r in ordered]
        assert vals == sorted(vals, reverse=True)


def test_ann_lsh_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(
        emb, emb.limit(20), id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=1,
    ).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in exact}
    approx = similarity.ann_lsh_topk(
        emb, id_col="vec_id", vec_col="embedding", k=3, n_planes=2, n_tables=8
    ).collect()
    cand = {}
    for r in approx:
        cand.setdefault(r["id_a"], set()).add(r["id_b"])
    hits = sum(1 for q, nn in top1.items() if nn in cand.get(q, set()))
    # 2 planes -> 4 buckets per table, 8 tables: decent recall of true top-1
    assert hits / len(top1) >= 0.7


def test_grid_pairs_match_blocked(spark, sf_dir):
    """Grid-blocked (both-sides-sharded) all-pairs is bit-identical across
    block counts (incl. n_blocks > distinct blocks): sharding both sides
    changes which task scores a pair, never the pair set or its value."""
    emb = table(spark, sf_dir, "embeddings").limit(120).cache()

    def pairs(n_blocks):
        return {
            (r["vec_a"], r["vec_b"]): r["cosine_sim"]
            for r in similarity.brute_force_pairs_grid(
                emb,
                id_col="vec_id",
                vec_col="embedding",
                threshold=0.3,
                n_blocks=n_blocks,
            ).collect()
        }

    want = pairs(1)
    assert want
    for n_blocks in (3, 8):
        assert pairs(n_blocks) == want, f"n_blocks={n_blocks}"
    emb.unpersist()


def test_blocked_pairs_match_expr_form(spark, sf_dir):
    """Grid-blocked (both-sides-sharded) all-pairs == the expression-form
    cosine, for several block counts (incl. n_blocks > distinct blocks)."""
    emb = table(spark, sf_dir, "embeddings").limit(120).cache()
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    sim = similarity.cosine_expr(F.col("ea"), F.col("eb"))
    want = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(sim > 0.3)  # the kernel thresholds the unrounded cosine
        .select("vec_a", "vec_b", F.round(sim, 4).alias("sim"))
        .collect()
    }
    assert want  # the threshold keeps a non-trivial pair set
    for n_blocks in (1, 3, 8):
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine_sim"]
            for r in similarity.brute_force_pairs_grid(
                emb,
                id_col="vec_id",
                vec_col="embedding",
                threshold=0.3,
                n_blocks=n_blocks,
            ).collect()
        }
        assert set(got) == set(want), f"n_blocks={n_blocks}"
        for k in got:
            assert abs(got[k] - want[k]) <= 1e-4, (n_blocks, k)
    emb.unpersist()


def test_ordered_cumsum_chunking_matches_window(spark):
    """Row-number chunking through ordered_cumsum's two-pass offsets ==
    global-window chunking, on shuffled input with a ragged final
    chunk."""
    import random

    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    keys = list(range(1000, 1000 + 437))
    random.Random(3).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(7)
    want = {
        (r["k"], r["chunk"])
        for r in chunking.assign_chunks(df, "k", chunk_size=50).collect()
    }
    got = {
        (r["k"], r["chunk"])
        for r in ordered_cumsum(df, order_by=["k"], row_number_col="rn")
        .select("k", F.floor((F.col("rn") - 1) / 50).alias("chunk"))
        .collect()
    }
    assert got == want
    # chunk sizes: all 50 except the last (437 = 8*50 + 37)
    from collections import Counter

    sizes = Counter(c for _k, c in got)
    assert sorted(sizes.values(), reverse=True) == [50] * 8 + [37]


def test_imagecodec_roundtrip_and_filters():
    """PNG encode->decode roundtrip plus a hand-filtered all-filters PNG."""
    import struct
    import zlib

    import numpy as np

    from laser_hadoop_spark.operators import imagecodec as ic

    rng = np.random.RandomState(0)
    for shape in [(5, 7, 1), (16, 16, 3), (9, 4, 4)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert (ic.decode_png(ic.encode_png(img)) == img).all(), shape

    # PNG exercising every filter type (one per scanline)
    img = rng.randint(0, 256, size=(10, 6, 3), dtype=np.uint8)
    h, w, c = img.shape

    def paeth(a, b, cc):
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else cc)

    rows, prev = [], np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        f = y % 5
        if f == 0:
            filt = cur
        elif f == 1:
            filt = [(cur[x] - (cur[x - c] if x >= c else 0)) & 0xFF for x in range(w * c)]
        elif f == 2:
            filt = (cur - prev) & 0xFF
        elif f == 3:
            filt = [
                (cur[x] - (((cur[x - c] if x >= c else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(w * c)
            ]
        else:
            filt = [
                (cur[x] - paeth(
                    (cur[x - c] if x >= c else 0), prev[x],
                    (prev[x - c] if x >= c else 0),
                )) & 0xFF
                for x in range(w * c)
            ]
        rows.append(bytes([f]) + bytes(np.array(filt, dtype=np.uint8)))
        prev = cur

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    data = (
        ic.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert (ic.decode_png(data) == img).all()

    # JPEG magic refuses honestly
    with pytest.raises(NotImplementedError):
        ic.decode_image(b"\xff\xd8\xff\xe0fakejpeg")


def test_assign_chunks_by_key_matches_global(spark):
    df = spark.range(257).toDF("k")
    a = chunking.assign_chunks(df, "k", 100)
    b = chunking.assign_chunks_by_key(df, "k", 100)
    ra = {r["k"]: r["chunk"] for r in a.collect()}
    rb = {r["k"]: r["chunk"] for r in b.collect()}
    assert ra == rb  # dense key -> identical chunking, no global window
    counts = {r["chunk"]: r["n_rows"] for r in chunking.chunk_counts(a).collect()}
    assert counts == {0: 100, 1: 100, 2: 57}


def test_assign_to_batches(spark):
    base = spark.range(1, 51).toDF("v")
    batches = chunking.range_batches(base, 20)
    joined = chunking.assign_to_batches(base, batches, "v")
    assert joined.count() == 50
    per = {
        r["batch_id"]: r["n"]
        for r in joined.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert per == {"00000": 20, "00001": 20, "00002": 10}


# --- text --------------------------------------------------------------------


def test_text_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs on and on"),
            (2, "el la de que y en el la de que y en"),
            (3, "x!!!"),
        ],
        "doc_id int, text string",
    )
    out = df.select(
        "doc_id",
        text.predict_lang().alias("lang"),
        text.quality_score().alias("q"),
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["lang"] == "en"
    assert got[2]["lang"] == "es"
    assert got[1]["q"] > got[3]["q"]


def test_rolling_hashes(spark):
    df = spark.createDataFrame([("abcdefghij",)], "text string")
    arr = df.select(text.rolling_hashes(window=4).alias("h")).first()["h"]
    assert len(arr) == 7  # len - window + 1
    assert len(set(arr)) == 7


# --- multimodal --------------------------------------------------------------


def _media_df(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNGfakebytes"), ("image/png", 64, 48, None)),
        (2, "image", bytearray(b"\xff\xd8jpegfake"), ("image/jpeg", 32, 32, None)),
        (3, "video", None, ("video/mp4", 640, 360, 3500)),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_decode_media_stubbed(spark):
    df = _media_df(spark)
    # real path on undecodable payloads: the codec raises (JPEG/garbage)
    with pytest.raises(Exception) as excinfo:
        multimodal.decode_media(df, fake=False).collect()
    assert "image" in str(excinfo.value) or "NotImplementedError" in str(excinfo.value)
    out = multimodal.decode_media(df, fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["width"] == 64 and rows[1]["height"] == 48
    assert rows[1]["n_bytes"] == 13
    assert len(rows[1]["checksum"]) == 32
    assert rows[3]["n_bytes"] == 0  # null payload handled


def test_decode_media_real_png(spark):
    """Real decode path: actual PNG/BMP bytes -> decoded shapes + stats."""
    import numpy as np

    from laser_hadoop_spark.operators.imagecodec import encode_png

    rng = np.random.RandomState(7)
    img_a = rng.randint(0, 256, size=(48, 64, 3), dtype=np.uint8)
    img_b = rng.randint(0, 256, size=(10, 20, 1), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_png(img_a)), ("image/png", None, None, None)),
        (2, "image", bytearray(encode_png(img_b)), ("image/png", None, None, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.decode_media(df, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"]) == (64, 48)
    assert (got[2]["width"], got[2]["height"]) == (20, 10)
    assert abs(got[1]["gray_mean"] - float(img_a.mean()) / 255.0) < 1e-9
    assert abs(got[2]["gray_mean"] - float(img_b.mean()) / 255.0) < 1e-9


def test_resize_images_real_png(spark):
    """Real resize: decode -> nearest resample -> re-encoded PNG payload."""
    import numpy as np

    from laser_hadoop_spark.operators.imagecodec import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 12, 3), dtype=np.uint8)
    rows = [(1, "image", bytearray(encode_png(img)), ("image/png", 12, 16, None))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_images(df, target_w=6, target_h=8, fake=False).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"]) == (6, 8)
    assert (r["src_width"], r["src_height"]) == (12, 16)
    resized = decode_png(bytes(r["payload"]))
    assert (resized == resize_nearest(img, 6, 8)).all()


def test_sample_frames(spark):
    df = _media_df(spark)
    frames = multimodal.sample_frames(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_read_binary_files(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"12345")
    (tmp_path / "b.bin").write_bytes(b"678")
    df = multimodal.read_binary_files(spark, str(tmp_path))
    got = {r["length"]: len(r["content"]) for r in df.collect()}
    assert got == {5: 5, 3: 3}


def test_ann_ivf_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(
        emb, emb.limit(20), id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=1,
    ).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in exact}
    approx = similarity.ivf_topk(
        emb, id_col="vec_id", vec_col="embedding", k=3, n_cells=8, n_probe=3
    ).collect()
    cand = {}
    for r in approx:
        cand.setdefault(r["id_a"], set()).add(r["id_b"])
    hits = sum(1 for q, nn in top1.items() if nn in cand.get(q, set()))
    assert hits / len(top1) >= 0.7
    # deterministic across invocations (fixed seed)
    again = similarity.ivf_topk(
        emb, id_col="vec_id", vec_col="embedding", k=3, n_cells=8, n_probe=3
    ).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_asof_join_generic(spark):
    from laser_hadoop_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100.0), (1, "2024-01-01 11:00:00", 110.0),
         (2, "2024-01-01 10:30:00", 50.0)],
        "key long, ts string, px double",
    ).withColumn("ts", F.to_timestamp("ts"))
    trades = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:30:00"),   # between quotes -> 100.0
         (2, 1, "2024-01-01 11:00:00"),   # tie with quote ts -> inclusive 110.0
         (3, 2, "2024-01-01 10:00:00"),   # before any quote -> dropped (inner)
         (4, 3, "2024-01-01 12:00:00")],  # key with no quotes -> dropped
        "trade_id long, key long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))

    out = {r["trade_id"]: r["asof_px"] for r in
           asof_join(trades, quotes, on=["key"]).collect()}
    assert out == {1: 100.0, 2: 110.0}
    left = {r["trade_id"]: r["asof_px"] for r in
            asof_join(trades, quotes, on=["key"], how="left").collect()}
    assert left == {1: 100.0, 2: 110.0, 3: None, 4: None}


def test_salted_join_matches_plain(spark, sf_dir):
    from laser_hadoop_spark.operators.relational import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    plain = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand").agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(li.withColumnRenamed("l_partkey", "p_partkey"), part,
                    on=["p_partkey"], n_salts=8)
        .groupBy("p_brand").agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    from laser_hadoop_spark.operators.relational import bucketed_join, write_bucketed

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    write_bucketed(li, "t_li_bucketed", keys=["l_orderkey"], n_buckets=4)
    write_bucketed(o, "t_o_bucketed", keys=["l_orderkey"], n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_li_bucketed", "t_o_bucketed", on=["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_resize_images_stubbed(spark):
    df = _media_df(spark)
    with pytest.raises(Exception) as excinfo:
        multimodal.resize_images(df, target_w=8, target_h=4, fake=False).collect()
    assert "codec" in str(excinfo.value) or "NotImplementedError" in str(excinfo.value)
    out = multimodal.resize_images(df, target_w=8, target_h=4, fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(r["kind"] for r in rows.values()) == {"image"}
    for r in rows.values():
        assert (r["width"], r["height"]) == (8, 4)
        assert len(r["payload"]) == 32
    assert rows[1]["src_width"] == 64 and rows[1]["src_height"] == 48
    # deterministic stub
    again = {r["media_id"]: r for r in
             multimodal.resize_images(df, target_w=8, target_h=4, fake=True).collect()}
    assert all(bytes(again[k]["payload"]) == bytes(rows[k]["payload"]) for k in rows)


def test_token_chunks_edges(spark):
    from laser_hadoop_spark.operators.text import token_chunks

    docs = spark.createDataFrame(
        [(1, "a b c"),                       # short: one window
         (2, " ".join(f"t{i}" for i in range(10))),   # 10 tokens size4 stride3
         (3, " ".join(f"t{i}" for i in range(7)))],   # exact 4+3
        "doc_id long, text string",
    )
    out = (
        docs.select("doc_id", F.explode(token_chunks("text", size=4, stride=3)).alias("c"))
        .select("doc_id", "c.chunk_start", "c.chunk_text")
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_start"], r["chunk_text"]))
    assert by_doc[1] == [(1, "a b c")]
    # 10 tokens: starts 1,4,7 (last clamped to 7 = 10-4+1), full coverage
    assert [s for s, _ in sorted(by_doc[2])] == [1, 4, 7]
    assert sorted(by_doc[2])[-1][1] == "t6 t7 t8 t9"
    # 7 tokens: starts 1,4 — tail exactly covered, no duplicate window
    assert [s for s, _ in sorted(by_doc[3])] == [1, 4]


def test_connected_components(spark):
    from laser_hadoop_spark.operators.graph import connected_components, dedup_clusters

    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12),      # chain component -> min 1
         (20, 21),                     # pair component -> min 20
         (30, 31), (32, 31)],          # star via 31 -> min 30
        "src long, dst long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 5: 1, 9: 1, 12: 1, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30}

    clusters = dedup_clusters(edges, left="src", right="dst").collect()
    reps = {r["doc_id"] for r in clusters if r["is_representative"]}
    assert reps == {1, 20, 30}


def _path_edges(spark, n: int):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")


def test_connected_components_path_within_max_iter(spark):
    from laser_hadoop_spark.operators.graph import connected_components

    comp = connected_components(_path_edges(spark, 10)).collect()
    assert len(comp) == 10
    assert {r["component"] for r in comp} == {0}
    # an empty edge list observes a NULL change count: converged, not an error
    assert connected_components(_path_edges(spark, 1)).collect() == []


def test_connected_components_raises_instead_of_unconverged_labels(spark):
    """A 30-node path needs about 30 rounds; with max_iter=25 the labels
    are still changing, and the operator raises rather than return them
    (they would split the path into 5 components)."""
    from laser_hadoop_spark.operators.graph import connected_components

    with pytest.raises(RuntimeError, match="did not converge.*round 25"):
        connected_components(_path_edges(spark, 30)).collect()


def test_dedup_clusters_on_real_pairs(spark, docs):
    from laser_hadoop_spark.operators.graph import dedup_clusters

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    if pairs.count() == 0:
        pytest.skip("fixture has no near-dup pairs at this threshold")
    cl = dedup_clusters(pairs)
    # every cluster has exactly one representative: its min doc id
    agg = cl.groupBy("cluster_id").agg(
        F.sum(F.col("is_representative").cast("int")).alias("n_reps"),
        F.min("doc_id").alias("min_doc"),
    )
    rows = agg.collect()
    assert all(r["n_reps"] == 1 for r in rows)
    assert all(r["min_doc"] == r["cluster_id"] for r in rows)


def test_quota_and_stratified_sampling(spark, sf_dir):
    from laser_hadoop_spark.operators.sampling import quota_sample, stratified_sample

    d = table(spark, sf_dir, "documents")
    q = quota_sample(d, strata_col="source", n_per_stratum=10, order_col="doc_id")
    per = {r["source"]: r["n"] for r in
           q.groupBy("source").agg(F.count("*").alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {s: min(10, n) for s, n in totals.items()}

    s = stratified_sample(d, strata_col="source",
                          fractions={k: 0.5 for k in totals}, seed=7)
    n1 = s.count()
    # deterministic for a fixed seed
    assert stratified_sample(d, strata_col="source",
                             fractions={k: 0.5 for k in totals}, seed=7).count() == n1
    assert 0.2 * d.count() < n1 < 0.8 * d.count()


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank == dense numpy power iteration (same damping/dangling
    handling) within float tolerance on a small directed graph."""
    import numpy as np

    from laser_hadoop_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 5 has no edges
    nodes = [1, 2, 3, 4]
    idx = {v: i for i, v in enumerate(nodes)}
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"), n_iter=10
        ).collect()
    }
    n, d = len(nodes), 0.85
    r = np.full(n, 1.0 / n)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    for _ in range(10):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        dm = r[out_deg == 0].sum()
        r = (1 - d) / n + d * (contrib + dm / n)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, v


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """approx_percentile at accuracy 10k is within 1% of the exact
    interpolated percentile on orders.o_totalprice."""
    from laser_hadoop_spark.tables import table

    o = table(spark, sf_dir, "orders")
    row = o.agg(
        F.percentile_approx("o_totalprice", 0.5, 10_000).alias("approx"),
        F.percentile("o_totalprice", 0.5).alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_observed_counters_single_pass_gate(spark, tmp_path):
    """X38: df.observe counters accumulate during the write action (no
    second scan), and gate_observed raises on nonzero violations."""
    import pytest as _pytest

    from laser_hadoop_spark.operators.validation import (
        Constraint,
        ValidationError,
        gate_observed,
        observed_counters,
    )

    df = spark.createDataFrame([(2,), (5,), (2,)], "n_fields int")
    ok_df, obs = observed_counters(
        df, [Constraint("GROUP_FILE_INVALID_ROW", F.col("n_fields") != 2)]
    )
    ok_df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the ONE action
    with _pytest.raises(ValidationError, match="GROUP_FILE_INVALID_ROW"):
        gate_observed(obs)
    # clean input: gate passes and returns the metrics dict
    clean, obs2 = observed_counters(
        spark.createDataFrame([(2,), (2,)], "n_fields int"),
        [Constraint("GROUP_FILE_INVALID_ROW", F.col("n_fields") != 2)],
    )
    clean.write.mode("overwrite").parquet(str(tmp_path / "out2"))
    assert gate_observed(obs2) == {"GROUP_FILE_INVALID_ROW": 0}


def test_stratified_sample_expr_rule_based(spark, sf_dir):
    """Per-row fraction expression: deterministic for a fixed seed and
    within binomial tolerance of the rule's expected keep rate."""
    from pyspark.sql import functions as F

    from laser_hadoop_spark.operators.sampling import stratified_sample_expr

    d = table(spark, sf_dir, "documents")
    frac = F.when(
        F.pmod(F.xxhash64("source"), F.lit(2)) == 0, F.lit(0.5)
    ).otherwise(F.lit(0.2))
    s = stratified_sample_expr(d, fraction=frac, seed=7)
    n1 = s.count()
    assert stratified_sample_expr(d, fraction=frac, seed=7).count() == n1
    expected = (
        d.groupBy("source").agg(F.count("*").alias("n"))
        .withColumn(
            "f",
            F.when(F.pmod(F.xxhash64("source"), F.lit(2)) == 0, 0.5).otherwise(0.2),
        )
        .agg(F.sum(F.col("n") * F.col("f")))
        .collect()[0][0]
    )
    assert 0.5 * expected < n1 < 1.5 * expected


def test_jpeg_roundtrip_all_paths():
    """Baseline JPEG: encode->decode roundtrip within quantization error
    for 4:4:4, 4:2:0, restart intervals, grayscale, and odd dims."""
    import numpy as np

    from laser_hadoop_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // w, yy * 255 // h, (xx + yy) * 255 // (h + w)], axis=2
    ).astype(np.uint8)
    for kw in (
        {},
        {"subsample": True},
        {"restart_interval": 3},
        {"subsample": True, "restart_interval": 2},
    ):
        out = decode_jpeg(encode_jpeg(img, quality=90, **kw))
        assert out.shape == (h, w, 3), kw
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 12, (kw, err.max())

    gray = (yy * 255 // h).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=90))
    assert out.shape == (h, w, 1)
    assert np.abs(out[:, :, 0].astype(int) - gray.astype(int)).max() <= 4

    odd = img[:37, :41]
    for kw in ({}, {"subsample": True}):
        out = decode_jpeg(encode_jpeg(odd, quality=85, **kw))
        assert out.shape == (37, 41, 3)
        assert np.abs(out.astype(int) - odd.astype(int)).max() <= 16


def test_jpeg_uniform_dc_exact():
    """A uniform image is all-DC: decode must be bit-exact (any zigzag /
    table / predictor bug shows up here immediately)."""
    import numpy as np

    from laser_hadoop_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    for color in ([200, 30, 90], [0, 0, 0], [255, 255, 255]):
        img = np.tile(np.array(color, dtype=np.uint8), (24, 32, 1))
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 2, color


def test_jpeg_progressive_rejected():
    """Progressive (SOF2) raises UnsupportedImage, never garbage."""
    import pytest as _pytest

    from laser_hadoop_spark.operators.imagecodec import UnsupportedImage
    from laser_hadoop_spark.operators.jpegcodec import decode_jpeg, encode_jpeg
    import numpy as np

    data = bytearray(
        encode_jpeg(np.zeros((16, 16, 3), dtype=np.uint8))
    )
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2  # rewrite marker to progressive
    with _pytest.raises(UnsupportedImage):
        decode_jpeg(bytes(data))


def test_decode_media_real_jpeg(spark):
    """decode_media real path over JPEG payloads: dims + gray stats come
    from decoded pixels (within lossy-codec tolerance)."""
    import numpy as np

    from laser_hadoop_spark.operators.jpegcodec import encode_jpeg

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.stack(
        [xx * 255 // 64, yy * 255 // 48, (xx * yy) % 256], axis=2
    ).astype(np.uint8)
    rows = [
        (1, "image", bytearray(encode_jpeg(img, quality=90)),
         ("image/jpeg", None, None, None)),
        (2, "image", bytearray(encode_jpeg(img, quality=90, subsample=True)),
         ("image/jpeg", None, None, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.decode_media(df, fake=False).collect()}
    want_mean = float(img.mean()) / 255.0
    for mid in (1, 2):
        assert (got[mid]["width"], got[mid]["height"]) == (64, 48)
        assert abs(got[mid]["gray_mean"] - want_mean) < 0.02


def test_wav_roundtrip_and_features():
    """WAV codec: 16-bit/float32 roundtrip; features recover the known
    physics of a synthesized tone (rms = A/sqrt(2), centroid ~ f0)."""
    import numpy as np

    from laser_hadoop_spark.operators.audiocodec import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    rate = 16000
    t = np.arange(rate) / rate  # 1 second
    tone = 0.5 * np.sin(2 * np.pi * 440.0 * t)

    x, r = decode_wav(encode_wav(tone, rate, bits=16))
    assert r == rate and x.shape == (rate, 1)
    assert np.abs(x[:, 0] - tone).max() < 1e-3  # 16-bit quantization

    x32, _ = decode_wav(encode_wav(tone, rate, bits=32))
    assert np.abs(x32[:, 0] - tone).max() < 1e-6

    stereo = np.stack([tone, -tone], axis=1)
    xs, _ = decode_wav(encode_wav(stereo, rate, bits=16))
    assert xs.shape == (rate, 2)

    f = audio_features(x, rate)
    assert f["duration_ms"] == 1000
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(f["spectral_centroid_hz"] - 440.0) < 30.0
    assert abs(f["zero_crossing_rate"] - 2 * 440.0 / rate) < 1e-3


def test_wav_compressed_rejected():
    import pytest as _pytest

    from laser_hadoop_spark.operators.audiocodec import (
        UnsupportedAudio,
        decode_wav,
        sniff_audio,
    )

    assert sniff_audio(b"ID3\x04rest") == "mp3"
    assert sniff_audio(b"OggS....") == "ogg"
    with _pytest.raises(UnsupportedAudio):
        decode_wav(b"ID3\x04not a wav at all")


def test_extract_audio_features_real(spark):
    """Real audio path end-to-end through the Arrow kernel."""
    import numpy as np

    from laser_hadoop_spark.operators.audiocodec import encode_wav

    rate = 8000
    t = np.arange(rate // 2) / rate
    rows = [
        (1, "audio", bytearray(encode_wav(0.25 * np.sin(2 * np.pi * 220 * t), rate)),
         ("audio/wav", None, None, 500)),
        (2, "audio", bytearray(encode_wav(0.9 * np.sin(2 * np.pi * 1000 * t), rate)),
         ("audio/wav", None, None, 500)),
        (3, "image", bytearray(b"not audio"), ("image/png", 1, 1, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           multimodal.extract_audio_features(df, fake=False).collect()}
    assert set(got) == {1, 2}  # image row filtered out
    assert got[1]["duration_ms"] == 500
    assert got[1]["sample_rate"] == rate
    assert abs(got[1]["spectral_centroid_hz"] - 220.0) < 40.0
    assert abs(got[2]["spectral_centroid_hz"] - 1000.0) < 40.0
    assert got[2]["rms"] > got[1]["rms"]


def test_mjpeg_avi_roundtrip_and_sampling():
    """MJPEG-AVI: encode 5 JPEG frames into a standard AVI, walk it
    back out, decode sampled frames; non-MJPEG payloads rejected."""
    import numpy as np
    import pytest as _pytest

    from laser_hadoop_spark.operators.jpegcodec import encode_jpeg
    from laser_hadoop_spark.operators.videocodec import (
        UnsupportedVideo,
        decode_frames,
        encode_mjpeg_avi,
        iter_mjpeg_frames,
        sniff_video,
    )

    h, w = 24, 32
    frames, rasters = [], []
    for i in range(5):
        img = np.full((h, w, 3), 40 * i + 20, dtype=np.uint8)
        rasters.append(img)
        frames.append(encode_jpeg(img, quality=95))
    avi = encode_mjpeg_avi(frames, width=w, height=h, fps=5)
    assert sniff_video(avi) == "avi"
    assert [f[:3] for f in iter_mjpeg_frames(avi)] == [b"\xff\xd8\xff"] * 5

    got = list(decode_frames(avi, every_n=2))
    assert [i for i, _ in got] == [0, 2, 4]
    for idx, img in got:
        assert img.shape == (h, w, 3)
        assert abs(float(img.mean()) - float(rasters[idx].mean())) < 3.0

    got = list(decode_frames(avi, every_n=1, max_frames=2))
    assert [i for i, _ in got] == [0, 1]

    with _pytest.raises(UnsupportedVideo):
        list(iter_mjpeg_frames(b"\x1a\x45\xdf\xa3 matroska"))


def test_decode_video_frames_real(spark):
    """Real video path end-to-end through the Arrow kernel."""
    import numpy as np

    from laser_hadoop_spark.operators.jpegcodec import encode_jpeg
    from laser_hadoop_spark.operators.videocodec import encode_mjpeg_avi

    frames = [
        bytes(encode_jpeg(np.full((16, 16, 3), v, dtype=np.uint8), quality=95))
        for v in (10, 120, 240)
    ]
    avi = encode_mjpeg_avi(frames, width=16, height=16, fps=3)
    rows = [
        (1, "video", bytearray(avi), ("video/avi", 16, 16, 1000)),
        (2, "image", bytearray(b"x"), ("image/png", 1, 1, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.decode_video_frames(df, every_n=1).collect()
    assert [(r["media_id"], r["frame_index"]) for r in got] == [(1, 0), (1, 1), (1, 2)]
    means = [r["gray_mean"] for r in got]
    assert means[0] < means[1] < means[2]


def test_bloom_semi_join_equals_plain_semi_join(spark, sf_dir):
    """bloom_semi_join is value-identical to the exact semi-join: the
    bitmap only prunes (no false negatives), the residual join removes
    false positives."""
    from laser_hadoop_spark.operators.bloom import bloom_semi_join
    from laser_hadoop_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    dim = (
        table(spark, sf_dir, "orders")
        .where("o_orderpriority = '2-HIGH'")
        .select("o_orderkey")
    )
    got = bloom_semi_join(li, dim, "l_orderkey", "o_orderkey")
    want = li.join(dim, li.l_orderkey == dim.o_orderkey, "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_bitmap_prunes_before_the_join(spark, sf_dir):
    """The broadcast-bitmap filter alone (no residual join) must already
    cut the fact side down to near the true selectivity — that pruned
    cardinality is what enters the join exchange at scale."""
    import pyspark.sql.functions as F

    from laser_hadoop_spark.operators.bloom import build_bloom, might_contain
    from laser_hadoop_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    dim = (
        table(spark, sf_dir, "orders")
        .where("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
    )
    bloom = build_bloom(dim, "o_orderkey")
    pruned = (
        li.join(F.broadcast(bloom))
        .where(might_contain(F.col("l_orderkey"), F.col("__bloom_bitmap")))
        .count()
    )
    exact = li.join(dim, li.l_orderkey == dim.o_orderkey, "left_semi").count()
    total = li.count()
    assert exact <= pruned < total
    # false-positive rate: survivors beyond the exact matches, relative
    # to the non-matching population, must be far under 1% with
    # n ~ 12k keys in m = 2^20 bits, k = 5
    fp_rate = (pruned - exact) / max(total - exact, 1)
    assert fp_rate < 0.01, fp_rate


def test_bloom_semi_join_plan_stays_jvm_side(spark, sf_dir):
    """No Python evaluation anywhere in the bloom path, and the bitmap
    build aggregates into a single row without collecting to the
    driver."""
    from laser_hadoop_spark import registry

    plan = (
        registry.get("q_bloom_semi_join")
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_auto_bloom_params_hit_standard_optima():
    """auto_bloom_params matches the textbook m/k formulas, rounds to
    whole 64-bit words, and clamps k to the probe-cost ceiling."""
    import math

    from laser_hadoop_spark.operators.bloom import auto_bloom_params

    n_bits, k = auto_bloom_params(100_000, 0.01)
    want_m = -100_000 * math.log(0.01) / math.log(2) ** 2
    assert n_bits % 64 == 0 and want_m <= n_bits < want_m + 64
    assert k == round(n_bits / 100_000 * math.log(2)) == 7
    # tiny dims floor at the minimum bitmap, k capped at 8
    n_bits, k = auto_bloom_params(3, 0.01)
    assert n_bits == 1 << 10 and k == 8
    # huge dims ceil at 16 MiB: k degrades (honest fpp loss) not m
    n_bits, k = auto_bloom_params(1 << 30, 0.01)
    assert n_bits == 1 << 27 and k == 1
    with pytest.raises(ValueError):
        auto_bloom_params(10, 0.0)


def test_bloom_semi_join_auto_sized_equals_plain_semi_join(spark, sf_dir):
    """n_bits=None sizes the bitmap from an approx_count_distinct of the
    dim keys; results stay value-identical to the exact semi-join."""
    from laser_hadoop_spark.operators.bloom import bloom_semi_join
    from laser_hadoop_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    dim = (
        table(spark, sf_dir, "orders")
        .where("o_orderpriority = '2-HIGH'")
        .select("o_orderkey")
    )
    got = bloom_semi_join(li, dim, "l_orderkey", "o_orderkey", n_bits=None)
    want = li.join(dim, li.l_orderkey == dim.o_orderkey, "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Files written by zorder_write have tight min/max ranges on BOTH
    interleaved dimensions: a point predicate on either column overlaps
    only a fraction of files — the data-skipping claim, measured from
    the actual parquet footers."""
    import glob as _glob

    import pyspark.sql.functions as F

    from laser_hadoop_spark.operators.zorder import zorder_write
    from laser_hadoop_spark.tables import table

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias(
            "epoch_day"
        ),
    )
    path = str(tmp_path / "zorders")
    zorder_write(o, path, "o_custkey", "epoch_day", n_files=16)

    files = sorted(_glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 8
    stats = []
    for f in files:
        row = (
            spark.read.parquet(f)
            .agg(
                F.min("o_custkey"),
                F.max("o_custkey"),
                F.min("epoch_day"),
                F.max("epoch_day"),
            )
            .collect()[0]
        )
        stats.append(tuple(row))
    lo_c, hi_c, lo_d, hi_d = stats[len(stats) // 2]
    probe_cust = (lo_c + hi_c) // 2
    probe_day = (lo_d + hi_d) // 2
    hit_cust = sum(1 for (a, b, _, _) in stats if a <= probe_cust <= b)
    hit_day = sum(1 for (_, _, c, d) in stats if c <= probe_day <= d)
    # a single-column sort would leave the OTHER dimension's ranges
    # covering everything (hit = all files); z-order keeps both bounded
    assert hit_cust <= len(stats) * 0.75, (hit_cust, len(stats))
    assert hit_day <= len(stats) * 0.75, (hit_day, len(stats))
    assert hit_cust + hit_day < 2 * len(stats)


def test_morton_interleave_is_bijective_on_16_bits(spark):
    """spread16/interleave16 must be injective over the full 16-bit
    domain of both coordinates — any collision would silently merge
    distinct (a, b) cells into one Z location and break file pruning."""
    import pyspark.sql.functions as F

    from laser_hadoop_spark.operators.zorder import interleave16, spread16

    # all 2^16 values of one coordinate: spread is injective and the
    # odd (b) lane never collides with the even (a) lane
    d = spark.range(1 << 16)
    n = d.select(spread16(F.col("id")).alias("s")).distinct().count()
    assert n == 1 << 16
    # dense 256x256 grid: interleave is injective and fills [0, 2^16)
    grid = spark.range(1 << 16).select(
        (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("long").alias("b")
    )
    z = grid.select(interleave16(F.col("a"), F.col("b")).alias("z"))
    stats = z.agg(
        F.count_distinct("z").alias("n"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert (stats["n"], stats["lo"], stats["hi"]) == (1 << 16, 0, (1 << 16) - 1)


def test_prefix_filter_generates_fewer_candidates(spark):
    """On a corpus with cluster structure, the prefix join generates a
    small fraction of the all-shared-tokens candidates (stopwords are
    excluded from prefixes by the rarity order); the oracle equivalence
    of q_prefix_filter_pairs separately proves no pair is lost."""
    import pyspark.sql.functions as F

    # 20 clusters x 10 near-dup docs: 27 cluster tokens + 3 universal
    # stopwords each -> every doc pair shares the stopwords, but only
    # same-cluster pairs share anything rare.
    rows = []
    for c in range(20):
        for i in range(10):
            toks = [f"c{c}tok{j}" for j in range(27)] + ["the", "and", "of"]
            rows.append((c * 10 + i, " ".join(toks)))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    tok = d.select(
        F.col("doc_id").alias("doc"), F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    all_pairs = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.token") == F.col("b.token")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select("a.doc", "b.doc")
        .distinct()
        .count()
    )
    from pyspark.sql import Window

    t_bp = 9000
    sizes = tok.groupBy("doc").agg(F.count("*").alias("n"))
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    ranked = (
        tok.join(dfreq, "token")
        .withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("doc").orderBy("df", "token")),
        )
        .join(sizes, "doc")
    )
    prefix = ranked.where(
        F.col("rank") <= F.col("n") - F.expr(f"({t_bp} * n + 9999) DIV 10000") + 1
    ).select("doc", "token")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.token") == F.col("b.token")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select("a.doc", "b.doc")
        .distinct()
        .count()
    )
    # all-shared-tokens joins every pair (19,900); prefixes keep only
    # within-cluster candidates (20 * C(10,2) = 900)
    assert all_pairs == 19900
    assert cand == 900, cand

    # and the filter is still lossless: exact pairs from candidates
    # equal exact pairs from the full join at threshold 0.9
    from laser_hadoop_spark.operators.dedup import prefix_filter_pairs

    got = prefix_filter_pairs(d, threshold_bp=9000).count()
    assert got == 900  # within-cluster Jaccard = 30/30 = 1.0 >= 0.9


def test_hamming_neighbors_finds_insert_delete_pairs(spark, tmp_path):
    """X79 regression (round-3 ADVICE): the SymSpell blocking must emit
    the undeleted string as a key so levenshtein<=1 pairs whose lengths
    differ by one (insert/delete edits) produce a shared candidate key.
    TPC-H c_name is fixed-length, so the oracle corpus cannot catch
    this — this fixture uses variable-length names."""
    import glob
    import shutil

    from laser_hadoop_spark import registry

    names = [(1, "cat"), (2, "cats"), (3, "bat"), (4, "ca"), (5, "dog")]
    df = spark.createDataFrame(names, "c_custkey bigint, c_name string")
    staged = tmp_path / "sf"
    staged.mkdir()
    df.coalesce(1).write.parquet(str(tmp_path / "p"))
    shutil.copyfile(
        glob.glob(str(tmp_path / "p" / "part-*.parquet"))[0],
        str(staged / "customer.parquet"),
    )
    got = {
        r.custkey: (r.n_neighbors, r.nearest_key)
        for r in registry.get("q_hamming_neighbors").fn(spark, str(staged)).collect()
    }
    # all-pairs levenshtein<=1 truth: cat~{cats,bat,ca}, cats~{cat},
    # bat~{cat}, ca~{cat}, dog~{} (absent)
    assert got == {1: (3, 2), 2: (1, 1), 3: (1, 1), 4: (1, 1)}


def test_ordered_cumsum_matches_global_window(spark):
    """operators/cumulative.ordered_cumsum == the single-partition
    global-window form, for any partition-boundary placement (unique
    tiebreaker => total order), including desc orderings and multiple
    value columns."""
    import random

    from pyspark.sql.window import Window

    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 50), rng.randrange(-100, 100)) for i in range(997)]
    df = spark.createDataFrame(rows, "k bigint, g bigint, v bigint")
    order = [F.col("g").desc(), F.col("k")]
    got = {
        r.k: (r.cum_v, r.rn)
        for r in ordered_cumsum(
            df, order_by=order, values={"v": "cum_v"}, row_number_col="rn",
            n_partitions=7,
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: (r.cum_v, r.rn)
        for r in df.select(
            "k",
            F.sum("v").over(w).alias("cum_v"),
            F.row_number().over(Window.orderBy(*order)).alias("rn"),
        ).collect()
    }
    assert got == want


def test_ivf_recall_target_autotunes_n_probe(spark):
    """Round-3 verdict item 9: ivf_topk(recall_target=...) derives
    n_probe from the training sample instead of a fixed guess, and the
    MEASURED recall on a clustered fixture (the realistic case
    PERF_NOTES identifies) meets the target within estimation noise."""
    import numpy as np

    from laser_hadoop_spark.operators.similarity import (
        _kmeans_centroids,
        ivf_topk,
        tune_n_probe,
    )

    rng = np.random.RandomState(11)
    # 12 well-separated clusters in 16-d: the realistic embedding shape
    centers = rng.normal(size=(12, 16)) * 6
    pts = np.concatenate(
        [c + rng.normal(size=(60, 16)) for c in centers]
    )  # 720 vectors
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # the tuner picks a small probe count on clustered data...
    mat = pts.copy()
    cents = _kmeans_centroids(mat, 12, 42)
    p_clustered = tune_n_probe(mat, cents, k=3, recall_target=0.9)
    assert 1 <= p_clustered <= 4

    # ...and the end-to-end measured recall@1 meets the target
    approx = ivf_topk(
        df, id_col="vec_id", vec_col="embedding", k=3, n_cells=12,
        recall_target=0.9, train_rows=720,
    ).collect()
    cand = {}
    for r in approx:
        cand.setdefault(r["id_a"], set()).add(r["id_b"])
    normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    sims = normed @ normed.T
    np.fill_diagonal(sims, -np.inf)
    true_top1 = np.argmax(sims, axis=1)
    hits = sum(1 for i in range(len(pts)) if true_top1[i] in cand.get(i, set()))
    assert hits / len(pts) >= 0.85
