"""Charter-extension operator tests: text analysis, dedup, similarity,
multimodal plumbing, event-time windows, stateful streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.functions.text import (
    detect_language,
    quality_score,
    token_count,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
    cluster_pairs,
    drop_exact_dups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
    as_media,
    decode_features,
    decode_media,
    extract_features,
    sample_frames,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_events
from azure_airbnb_cdc_ingestion_pipeline_spark.streaming import windows as W


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- text -------------------------------------------------------------------


def test_token_count_and_quality_bounds(docs):
    out = docs.select(
        token_count("text").alias("n"), quality_score("text").alias("q")
    ).agg(
        F.min("n"), F.min("q"), F.max("q")
    ).first()
    assert out[0] >= 1
    assert 0.0 <= out[1] <= out[2] <= 1.0


def test_word_ngrams_multiplicity_and_short_docs(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.text import word_ngrams

    df = spark.createDataFrame(
        [("a b a b",), ("solo",), ("",)], "text string"
    ).select(word_ngrams("text", 2).alias("bg"))
    rows = [r.bg for r in df.collect()]
    # occurrence-preserving: "a b" appears twice (shingles would dedupe)
    assert rows[0] == ["a b", "b a", "a b"]
    # shorter than n tokens -> empty array, not null / error
    assert rows[1] == [] and rows[2] == []


def test_langid_in_domain(docs):
    langs = {
        r[0]
        for r in docs.select(detect_language("text").alias("l")).distinct().collect()
    }
    assert langs <= {"en", "de", "es", "fr", "zh", "und"}


# -- dedup ------------------------------------------------------------------


def _with_exact_dups(docs):
    dup = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 50000
    )
    return docs.unionByName(dup)


def test_drop_exact_dups(docs):
    aug = _with_exact_dups(docs.select("doc_id", "text"))
    n_docs = docs.count()
    kept = drop_exact_dups(aug, "doc_id", "text")
    assert kept.count() == n_docs
    # survivors are the original (min) ids
    assert kept.filter(F.col("doc_id") >= 50000).count() == 0


def _with_near_dups(docs):
    dup = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 50000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzz qqq")))
    )
    return docs.select("doc_id", "text").unionByName(dup.select("doc_id", "text"))


def test_minhash_matches_exact_jaccard(docs):
    aug = _with_near_dups(docs)
    exact = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(aug, "doc_id", "text", threshold=0.6).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(
            aug, "doc_id", "text", num_hashes=64, bands=32, threshold=0.6
        ).collect()
    }
    assert exact  # the planted near-dups were found
    assert lsh == exact  # banded candidates + exact verify lose nothing


def test_stable_split_deterministic_and_disjoint(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.splits import stable_split

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = stable_split(ids, "doc_id")
    b = stable_split(ids.repartition(7), "doc_id")  # partitioning-independent
    assert a.select("doc_id", "split").exceptAll(b.select("doc_id", "split")).count() == 0
    counts = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    # md5 buckets are uniform-ish: 80/10/10 within a loose tolerance
    assert counts["train"] / 2000 == pytest.approx(0.8, abs=0.05)
    assert counts["val"] / 2000 == pytest.approx(0.1, abs=0.04)


def test_cluster_pairs_connected_components(spark):
    # two components: a 4-node chain (1-2-3-4) and a 2-node edge (10-11);
    # node 99 appears in no pair and must not appear in the output
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a_id bigint, b_id bigint"
    )
    got = {
        (r.doc_id, r.canonical_id) for r in cluster_pairs(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_cluster_pairs_deep_chain_converges(spark):
    # a 12-node path needs ~11 propagation rounds — exercises the
    # fixpoint loop well past one hop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a_id bigint, b_id bigint"
    )
    labels = cluster_pairs(pairs).collect()
    assert {r.canonical_id for r in labels} == {0}
    assert len(labels) == 13


def test_simhash_finds_planted_near_dups(docs):
    aug = _with_near_dups(docs)
    pairs = simhash_pairs(aug, "doc_id", "text", max_distance=3)
    found = {(r.a_id, r.b_id) for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 50000)
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    }
    # simhash is a coarse signal on 10-100-token docs (2 appended tokens
    # flip several bits): expect to recover a majority, not all, at d<=3
    assert len(found & planted) >= 0.5 * len(planted)
    # exact duplicates are hamming-0 and must ALWAYS be found
    exact_aug = _with_exact_dups(docs.select("doc_id", "text"))
    exact_found = {
        (r.a_id, r.b_id)
        for r in simhash_pairs(exact_aug, "doc_id", "text", max_distance=0).collect()
    }
    exact_planted = {
        (r.doc_id, r.doc_id + 50000)
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    }
    assert exact_planted <= exact_found


# -- similarity -------------------------------------------------------------


def test_brute_force_topk_self_neighbor(emb):
    # a perturbed copy's nearest neighbor must be its original (cos ~0.999)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            (F.col("vec_id") + 1000).alias("query_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
            ).alias("qv"),
        )
    )
    top1 = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(queries, emb, k=1).collect()
    }
    assert top1 == {qid + 1000: qid for qid in range(10)}


def test_ann_lsh_retrieves_planted_neighbors(emb):
    # LSH on *random* vectors can't beat bucket-occupancy recall (neighbors
    # are near-orthogonal), so test what it is FOR: near-dup retrieval —
    # the planted near-identical vector must surface as the top hit.
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            (F.col("vec_id") + 1000).alias("query_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
            ).alias("qv"),
        )
    )
    hits = {
        r.query_id: r.neighbor_id
        for r in lsh_topk(
            queries, emb, dim=64, k=1, num_planes=4, multiprobe=True
        ).collect()
    }
    good = sum(1 for qid in range(10) if hits.get(qid + 1000) == qid)
    assert good >= 8  # ~cos 0.999 pairs collide with high probability


# -- multimodal -------------------------------------------------------------


def test_decode_media_contract():
    with pytest.raises(NotImplementedError):
        decode_media(b"xxx", "video/webm")  # genuinely no codec
    with pytest.raises(ValueError):
        decode_media(b"xxx", "image/png")  # codec present, payload invalid
    with pytest.raises(ValueError):
        decode_media(b"xxx", "video/mp4")  # header parser present, invalid
    fake = decode_media(b"xxx", "video/mp4", fake=True)
    assert fake == decode_media(b"xxx", "video/mp4", fake=True)  # deterministic
    assert set(fake) == {
        "width", "height", "channels", "mean_intensity", "duration_ms"
    }


def test_png_codec_roundtrip_and_real_decode():
    """Real stdlib PNG codec: encode→decode roundtrip is exact and the
    decoded stats are true pixel values, not digest fakes."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        decode_png,
        encode_png,
        resize_png,
    )

    # 2x2 RGB: red, green, blue, white
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    payload = encode_png(2, 2, 3, px)
    img = decode_png(payload)
    assert (img["width"], img["height"], img["channels"]) == (2, 2, 3)
    assert bytes(img["pixels"]) == px
    assert img["mean_intensity"] == pytest.approx(sum(px) / 12 / 255.0)

    big = decode_png(resize_png(payload, 4, 4))
    assert (big["width"], big["height"]) == (4, 4)
    # nearest-neighbor: top-left quadrant is all red
    p = big["pixels"]
    for y in range(2):
        for x in range(2):
            assert bytes(p[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3]) == bytes(
                [255, 0, 0]
            )

    # decode_media dispatches for the png mime
    out = decode_media(payload, "image/png")
    assert (out["width"], out["height"], out["channels"]) == (2, 2, 3)


def test_png_decoder_reverses_all_filters():
    """The decoder must undo Sub/Up/Average/Paeth scanline filters — build
    an IDAT stream using each filter type explicitly and compare against
    the plain encoding of the same pixels."""
    import struct
    import zlib

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        PNG_SIG,
        decode_png,
    )

    w, h, c = 4, 5, 3
    px = bytes((x * 7 + i * 13) % 256 for x in range(w * h) for i in range(c))
    stride = w * c

    def filt(ftype, line, prev):
        out = bytearray([ftype])
        for i in range(stride):
            left = line[i - c] if i >= c else 0
            up = prev[i]
            ul = prev[i - c] if i >= c else 0
            if ftype == 0:
                out.append(line[i])
            elif ftype == 1:
                out.append((line[i] - left) & 0xFF)
            elif ftype == 2:
                out.append((line[i] - up) & 0xFF)
            elif ftype == 3:
                out.append((line[i] - ((left + up) >> 1)) & 0xFF)
            else:  # paeth
                pp = left + up - ul
                pa, pb, pc_ = abs(pp - left), abs(pp - up), abs(pp - ul)
                pred = left if (pa <= pb and pa <= pc_) else (up if pb <= pc_ else ul)
                out.append((line[i] - pred) & 0xFF)
        return out

    raw = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        line = px[y * stride : (y + 1) * stride]
        raw += filt(y % 5, line, prev)
        prev = bytearray(line)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    payload = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert bytes(decode_png(payload)["pixels"]) == px


def test_wav_codec_real_decode():
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        decode_wav,
        encode_wav,
    )

    # 8000 samples at 8 kHz = exactly 1000 ms; constant amplitude 16384
    payload = encode_wav([16384, -16384] * 4000, channels=1, sample_rate=8000)
    au = decode_wav(payload)
    assert au["channels"] == 1
    assert au["duration_ms"] == 1000
    assert au["mean_intensity"] == pytest.approx(0.5)
    out = decode_media(payload, "audio/wav")
    assert out["duration_ms"] == 1000
    assert out["width"] is None


def test_decode_features_real_codecs_in_spark(spark):
    """End-to-end: mixed PNG + WAV corpus through the mapInPandas decode
    stage with NO fake flag — per-mime dispatch, real decoded values."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_png,
        encode_wav,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
        resize_media,
    )

    png = encode_png(3, 2, 3, bytes(range(18)))
    wav = encode_wav([0] * 4000, channels=2, sample_rate=4000)
    media = spark.createDataFrame(
        [
            (1, bytearray(png), {"mime": "image/png", "source": "t",
                                 "width": None, "height": None, "duration_ms": None}),
            (2, bytearray(wav), {"mime": "audio/wav", "source": "t",
                                 "width": None, "height": None, "duration_ms": None}),
        ],
        "media_id long, payload binary, meta struct<mime:string,source:string,width:int,height:int,duration_ms:bigint>",
    )
    rows = {r.media_id: r for r in decode_features(media).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (3, 2, 3)
    assert rows[1].mean_intensity == pytest.approx(sum(range(18)) / 18 / 255.0)
    # 4000 interleaved stereo samples = 2000 frames at 4 kHz = 500 ms
    assert rows[2].duration_ms == 500
    assert rows[2].channels == 2

    resized = resize_media(media.filter("media_id = 1"), 6, 4)
    r = resized.first()
    assert (r.meta.width, r.meta.height) == (6, 4)
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import decode_png

    out = decode_png(bytes(r.payload))
    assert (out["width"], out["height"]) == (6, 4)


def test_multimodal_pipeline_shapes(docs):
    media = as_media(
        docs.withColumn("payload", F.encode("text", "utf-8")).limit(50),
        "doc_id",
        "payload",
        "text/plain",
        "source",
    )
    n = media.count()
    feats = extract_features(media)
    assert feats.count() == n
    assert feats.filter(F.col("byte_len") <= 0).count() == 0
    decoded = decode_features(media, fake=True)
    assert decoded.count() == n
    frames = sample_frames(media, fake=True)
    assert frames.count() >= n  # 1..4 frames per item
    assert frames.groupBy("media_id").count().filter("count > 4").count() == 0


# -- event-time windows -----------------------------------------------------


def test_window_counts_conserved(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    total = ev.count()
    tumb = W.tumbling(ev, "ts", "1 day", aggs=[F.count(F.lit(1)).alias("n")])
    assert tumb.agg(F.sum("n")).first()[0] == total
    slid = W.sliding(ev, "ts", "1 day", "12 hours", aggs=[F.count(F.lit(1)).alias("n")])
    assert slid.agg(F.sum("n")).first()[0] == 2 * total  # duration/slide = 2
    sess = W.session(
        ev, "ts", "30 minutes", keys=["user_id"], aggs=[F.count(F.lit(1)).alias("n")]
    )
    assert sess.agg(F.sum("n")).first()[0] == total


def test_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.streaming import (
        q_stateful_running,
    )

    out = q_stateful_running(spark, sf_dir)
    batch = read_events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # update-mode sink appends one row per (batch, user): the per-user max
    # is the final state regardless of how many micro-batches ran
    got = {
        r.user_id: r.n
        for r in out.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
    }
    want = {r.user_id: r.n_events for r in batch.collect()}
    # final emitted state per user must equal the batch truth
    assert got == want


def test_ivf_topk_retrieves_planted_neighbors(emb):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("query_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x.cast("double") + F.lit(0.05)).otherwise(
                x.cast("double")
            ),
        ).alias("qv"),
    )
    hits = {
        r.query_id: r.neighbor_id
        for r in ivf_topk(queries, emb, k=1, n_clusters=8, n_probe=2).collect()
    }
    good = sum(1 for qid in range(10) if hits.get(qid + 1000) == qid)
    # near-identical vector lands in the same KMeans cell (probing 2 of 8)
    assert good >= 8


def test_salted_agg_equals_direct(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.skew import (
        explode_small_side,
        salted_agg,
    )

    ev = read_events(spark, sf_dir)
    direct = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r.event_type: r.n
        for r in salted_agg(
            ev, ["event_type"], {"n": (F.count(F.lit(1)), F.sum("n"))}, salt_buckets=4
        ).collect()
    }
    assert salted == direct

    # salted join replicates the small side but yields the same rows
    small = spark.createDataFrame(
        [(t, i) for i, t in enumerate(sorted(direct))], "event_type string, code int"
    )
    joined = explode_small_side(ev, small, ["event_type"], salt_buckets=4)
    assert joined.count() == ev.count()
    assert joined.filter(F.col("code").isNull()).count() == 0


def test_asof_join_hand_case(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.temporal import (
        asof_join,
        interval_join,
    )

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 15, "l3")], "k long, ts long, tag string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 10, 200.0), (1, 18, 300.0), (3, 1, 999.0)],
        "k long, ts long, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.tag: r.v_asof
        for r in asof_join(left, right, on="k", right_payload=["v"]).collect()
    }
    # l1@10: right@10 counts (inclusive) → 200; l2@20: right@18 → 300;
    # l3 (k=2): no right rows → null
    assert out == {"l1": 200.0, "l2": 300.0, "l3": None}

    pairs = {
        (r.tag, r.v)
        for r in interval_join(
            left, right, on="k", lower="INTERVAL '0' SECOND", upper="INTERVAL '8' SECOND"
        ).select("l.tag", "r.v").collect()
    }
    # window (ts-8, ts]: l1@10 ← right@5? 10-8=2 ≤ 5 ≤ 10 ✓ and right@10 ✓;
    # l2@20 ← right@18 ✓ (12 ≤ 18 ≤ 20); others out of range/key
    assert pairs == {("l1", 100.0), ("l1", 200.0), ("l2", 300.0)}


def test_resize_media_plumbing(spark, docs):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        as_media,
        resize_media,
    )

    media = as_media(
        docs.withColumn("payload", F.encode("text", "utf-8")).limit(20),
        "doc_id", "payload", "image/png", "source",
    )
    resized = resize_media(media, 32, 32, fake=True)
    assert resized.schema == media.schema
    rows = resized.select("meta.width", "meta.height").distinct().collect()
    assert [(r[0], r[1]) for r in rows] == [(32, 32)]
    assert resized.count() == 20


def test_redact_pii_strips_all_pattern_kinds(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.text import redact_pii

    rows = [
        ("mail me at jo.doe+spam@sub.example.co.uk thanks",
         "mail me at <EMAIL> thanks"),
        ("call +1-555-867-5309 or 44-020-555-1234 now",
         "call <PHONE> or <PHONE> now"),
        ("ssn is 987-65-4320.", "ssn is <SSN>."),
        ("host 192.168.0.1 and 10.0.255.99", "host <IP> and <IP>"),
        # mixed line: email digits must not leak into phone/IP rules
        ("a1@b2.com 1-555-000-1111 111-22-3333 8.8.8.8",
         "<EMAIL> <PHONE> <SSN> <IP>"),
        ("no pii here, just words", "no pii here, just words"),
    ]
    df = spark.createDataFrame(rows, ["raw", "want"])
    got = df.select("want", redact_pii("raw").alias("got")).collect()
    for r in got:
        assert r.got == r.want


def test_profile_columns_counts(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.relational import (
        q_profile_columns,
    )

    out = {r.col_name: r for r in q_profile_columns(spark, sf_dir).collect()}
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert set(out) == {"o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"}
    for r in out.values():
        assert r.n_rows == n and r.n_null == 0
    # orderkey is the PK: fully distinct, min/max are numeric strings
    assert out["o_orderkey"].n_distinct == n
    assert int(out["o_orderkey"].min_s) <= int(out["o_orderkey"].max_s)
    assert out["o_orderstatus"].n_distinct <= 3


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.streaming import (
        q_stream_stream_join,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_events

    got = {
        (r.c_user, r.click_id, r.purchase_ts)
        for r in q_stream_stream_join(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    want = {
        (r.c_user, r.click_id, r.purchase_ts)
        for r in clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_kmeans_clusters_cover_corpus(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.dedup_similarity import (
        q_kmeans_clusters,
    )

    rows = q_kmeans_clusters(spark, sf_dir).collect()
    total = sum(r.n for r in rows)
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert total == n_emb
    assert len({r.cluster for r in rows}) >= 2


def test_cosine_pairs_lsh_matches_all_pairs(emb):
    """The registered LSH-blocked near-dup plan must reproduce the exact
    all-pairs kernel on this corpus (recall 1.0 under the fixed hash
    family) — guards the embedding_cosine_pairs oracle swap."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    aug = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    pert = aug.filter(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x)
        ).alias("v"),
    )
    aug = aug.unionByName(pert)
    exact = {(r.a_id, r.b_id, r.cos) for r in cosine_pairs(aug, "vec_id", "v", 0.95).collect()}
    lsh = {(r.a_id, r.b_id, r.cos) for r in cosine_pairs_lsh(aug, "vec_id", "v", 0.95).collect()}
    assert len(exact) > 0
    assert lsh == exact


def test_stream_session_window_matches_batch(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.streaming import (
        q_stream_window_session,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_events
    from azure_airbnb_cdc_ingestion_pipeline_spark.streaming import windows as W

    got = {
        (r.event_type, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in q_stream_window_session(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = W.session(
        ev,
        "ts",
        "30 minutes",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )
    # append mode only emits sessions fully below the final watermark
    # (max event time - 1 day); later sessions are still open state
    want = {
        (r.event_type, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in batch.collect()
        if r.session_end < max_ts - __import__("datetime").timedelta(days=1)
    }
    assert got == want and len(want) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.streaming import (
        q_stream_static_enrich,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_events

    got = {
        (r.event_id, r.c_mktsegment, r.c_nationkey)
        for r in q_stream_static_enrich(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir).select("event_id", "user_id")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    want = {
        (r.event_id, r.c_mktsegment, r.c_nationkey)
        for r in ev.join(cust, "user_id").collect()
    }
    assert got == want and len(want) > 0


def test_stream_sessionize_stateful_matches_batch(spark, sf_dir):
    import datetime

    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.streaming import (
        q_stream_sessionize_stateful,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_events
    from azure_airbnb_cdc_ingestion_pipeline_spark.streaming import windows as W

    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events,
         round(r.total_value, 4))
        for r in q_stream_sessionize_stateful(spark, sf_dir).collect()
    }
    ev = (
        read_events(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts", "value")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(days=1)
    batch = W.session(
        ev,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        ],
    )
    epoch = datetime.datetime(1970, 1, 1)
    want = {
        (
            r.user_id,
            int((r.session_start - epoch).total_seconds() * 1000),
            int((r.session_end - epoch).total_seconds() * 1000),
            r.n_events,
            round(r.total_value, 4),
        )
        for r in batch.collect()
        if r.session_end <= wm
    }
    assert got == want and len(want) > 0


def test_jpeg_header_dimensions_real_in_spark(spark):
    """JPEG detect-and-degrade: SOF header parse yields REAL dimensions
    and channel count through the Spark decode stage (no fake flag);
    pixel-level mean_intensity stays null (no full decoder here)."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_jpeg_header,
        jpeg_info,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
    )

    assert jpeg_info(encode_jpeg_header(1920, 1080, 3)) == (1920, 1080, 3)
    assert jpeg_info(encode_jpeg_header(8, 8, 1)) == (8, 8, 1)
    with pytest.raises(ValueError):
        jpeg_info(b"\x89PNG not a jpeg")

    jpg = encode_jpeg_header(640, 480, 3)
    media = spark.createDataFrame(
        [
            (7, bytearray(jpg), {"mime": "image/jpeg", "source": "t",
                                 "width": None, "height": None, "duration_ms": None}),
        ],
        "media_id long, payload binary, meta struct<mime:string,source:string,width:int,height:int,duration_ms:bigint>",
    )
    r = decode_features(media).first()
    assert (r.width, r.height, r.channels) == (640, 480, 3)
    assert r.mean_intensity is None


def test_mp3_mp4_header_metadata_real_in_spark(spark):
    """MP3 frame-header + MP4 moov-box walks yield REAL duration /
    dimensions / channels through the Spark decode stage (no fake flag)."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_mp3_header,
        encode_mp4_header,
        mp3_info,
        mp4_info,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
    )

    assert mp3_info(encode_mp3_header(2500, 128, 1))["channels"] == 1
    # ID3v2 tag is skipped before the sync scan
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + \
        encode_mp3_header(1000, 64, 2)
    assert mp3_info(tagged)["duration_ms"] == 1000
    assert mp4_info(encode_mp4_header(640, 360, 9000)) == {
        "width": 640, "height": 360, "duration_ms": 9000,
    }
    with pytest.raises(ValueError):
        mp3_info(b"\x00" * 64)
    with pytest.raises(ValueError):
        mp4_info(b"\x00" * 64)
    # ADVICE r3: an mvhd/tkhd box with an EMPTY body used to escape the
    # ValueError contract as IndexError (payload[is_] version probe)
    import struct as _st

    def _box(btype, body):
        return _st.pack(">I4s", len(body) + 8, btype) + body

    empty_mvhd = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isom")
        + _box(b"moov", _box(b"mvhd", b""))
    )
    with pytest.raises(ValueError):
        mp4_info(empty_mvhd)
    empty_tkhd = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isom")
        + _box(b"moov", _box(b"trak", _box(b"tkhd", b"")))
    )
    with pytest.raises(ValueError):
        mp4_info(empty_tkhd)

    meta_t = ("struct<mime:string,source:string,width:int,height:int,"
              "duration_ms:bigint>")
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_mp3_header(2500, 128, 2)),
             {"mime": "audio/mpeg", "source": "t",
              "width": None, "height": None, "duration_ms": None}),
            (2, bytearray(encode_mp4_header(1280, 720, 5400)),
             {"mime": "video/mp4", "source": "t",
              "width": None, "height": None, "duration_ms": None}),
        ],
        f"media_id long, payload binary, meta {meta_t}",
    )
    rows = {r.media_id: r for r in decode_features(media).collect()}
    assert (rows[1].channels, rows[1].duration_ms) == (2, 2500)
    assert (rows[2].width, rows[2].height, rows[2].duration_ms) == (1280, 720, 5400)
    assert rows[2].mean_intensity is None


def test_sql_entry_point_registers_views_and_plans_broadcast(spark, sf_dir):
    """sql.run_sql: temp-view registration is metadata-only, the planned
    SQL gets the same Catalyst treatment as the DataFrame catalog
    (broadcast joins on the small dims), and events arrives with a proper
    µs timestamp column."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.sql import register_tables, run_sql

    df = run_sql(
        spark, sf_dir,
        "SELECT n_name, count(*) AS n FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    )
    assert df.count() == 25
    plan = df._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan
    register_tables(spark, sf_dir)
    ev = spark.sql("SELECT min(ts) AS lo, max(ts) AS hi FROM events").first()
    assert ev.lo is not None and str(ev.lo.year).startswith("20")


def test_semdedup_drops_planted_near_dups(spark, sf_dir):
    """A planted +0.05-perturbed copy (vec_id ≥ 100000) that lands in the
    SAME cell as its base must be marked keep=False (lower-id neighbor at
    cosine ≥ 0.95). Copies that straddle a cell boundary may survive —
    the known SemDeDup recall trade — but must be rare with 1/31 cells."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["semdedup_cells"](spark, sf_dir)
    planted = out.filter(F.col("vec_id") >= 100000)
    n_planted = planted.count()
    assert n_planted > 0
    # within-cell guarantee is absolute
    base_cells = out.filter(F.col("vec_id") < 100000).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.col("cell").alias("base_cell"),
    )
    same_cell = planted.join(base_cells, "vec_id").filter(
        F.col("cell") == F.col("base_cell")
    )
    assert same_cell.count() > 0
    assert same_cell.filter(F.col("keep")).count() == 0
    # boundary-straddling misses stay rare (recall ≥ 90% on planted dups)
    assert planted.filter(F.col("keep")).count() <= 0.1 * n_planted
    # base vectors without a planted twin and no natural near-dup survive
    kept = out.filter(F.col("keep")).count()
    assert kept >= out.count() - 2 * n_planted - 1


def test_decode_quarantine_diverts_corrupt_media(spark):
    """VERDICT r3 task #2: a corrupt payload (truncated JPEG, bogus WAV,
    unsupported mime) must divert to the error side channel instead of
    failing the Arrow task; good rows decode intact in the same batch."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_png,
        encode_wav,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
        split_quarantine,
    )

    meta_t = ("struct<mime:string,source:string,width:int,height:int,"
              "duration_ms:bigint>")

    def m(mime):
        return {"mime": mime, "source": "t", "width": None, "height": None,
                "duration_ms": None}

    good_png = encode_png(2, 2, 3, bytes(12))
    good_wav = encode_wav([0] * 800, channels=1)
    rows = [
        (1, bytearray(good_png), m("image/png")),
        (2, bytearray(good_wav), m("audio/wav")),
        (3, bytearray(b"\xff\xd8\xff\xe0trunc"), m("image/jpeg")),  # truncated
        (4, bytearray(b"not riff at all"), m("audio/wav")),         # bogus
        (5, bytearray(good_png), m("application/x-unknown")),       # no codec
    ]
    media = spark.createDataFrame(
        rows, f"media_id long, payload binary, meta {meta_t}"
    )
    decoded = decode_features(media, on_error="quarantine")
    good, bad = split_quarantine(decoded)
    got = {r.media_id: r for r in decoded.collect()}
    assert got[1].error is None and (got[1].width, got[1].height) == (2, 2)
    assert got[2].error is None and got[2].duration_ms == 100
    assert got[3].error.startswith("ValueError")
    assert got[4].error.startswith("ValueError")
    assert got[5].error.startswith("NotImplementedError")
    assert good.count() == 2 and "error" not in good.columns
    assert bad.count() == 3
    # default mode still raises (contract unchanged)
    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_features(media, on_error="raise").collect()


# ---------------------------------------------------------------------------
# r4: JSONL source reject channel, incremental minhash, cross-corpus
# embedding decontamination
# ---------------------------------------------------------------------------


def test_jsonl_rejects(spark, tmp_path):
    from pyspark.sql import types as T

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import (
        read_jsonl_with_rejects,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        '{"doc_id": 2, "text": "also good"}\n'
        "this is not json at all\n"
        '{"text": "missing the id"}\n'
        '{"doc_id": 3}\n'  # null text is fine — text not required
    )
    good, rejects = read_jsonl_with_rejects(
        spark, str(p), schema, required=["doc_id"]
    )
    assert sorted(r.doc_id for r in good.collect()) == [1, 2, 3]
    rej = {r.reject_reason: r.raw_line for r in rejects.collect()}
    assert rej == {
        "malformed_json": "this is not json at all",
        "missing_required": '{"text": "missing the id"}',
    }


def test_incremental_minhash_no_corpus_self_pairs(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # corpus dup
            (3, "completely different text about spark partitions and shuffles"),
        ],
        ["id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today yes"),
            (11, "unrelated new arrival with its own fresh vocabulary set"),
        ],
        ["id", "text"],
    )
    out = incremental_minhash_pairs(
        corpus, delta, "id", "text", n=3, num_hashes=64, bands=32, threshold=0.6
    ).collect()
    got = {(r.corpus_id, r.delta_id) for r in out}
    # 10 near-dups BOTH corpus copies; the corpus 1-2 self-pair must NOT
    # appear (that is the whole point of the incremental form), and the
    # fresh arrival matches nothing.
    assert got == {(1, 10), (2, 10)}


def test_cross_cosine_lsh_matches_brute_force(spark):
    import numpy as np

    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
        cross_cosine_lsh,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64)
    left_rows = [(int(i), [float(x) for x in base[i]]) for i in range(30)]
    # plant near-copies of right vectors 30/31 into left
    right_rows = [(int(i), [float(x) for x in base[i]]) for i in range(30, 40)]
    for j, src in enumerate((30, 31)):
        v = base[src].copy()
        v[0] += 0.05
        left_rows.append((100 + j, [float(x) for x in v]))
    left = spark.createDataFrame(left_rows, ["vec_id", "v"])
    right = spark.createDataFrame(right_rows, ["vec_id", "v"])
    out = cross_cosine_lsh(left, right, "vec_id", "v", threshold=0.95).collect()
    got = {(r.left_id, r.right_id) for r in out}
    # brute-force ground truth
    def unit(v):
        v = np.asarray(v)
        return v / np.linalg.norm(v)

    want = set()
    for lid, lv in left_rows:
        for rid, rv in right_rows:
            if round(float(np.dot(unit(lv), unit(rv))), 4) >= 0.95:
                want.add((lid, rid))
    assert got == want and {(100, 30), (101, 31)} <= got


def test_budget_select_boundaries(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.splits import (
        budget_select,
    )

    docs = spark.createDataFrame(
        [
            (1, 0.9, 30),
            (2, 0.9, 30),   # same bucket as 1 — admitted by id order
            (3, 0.5, 50),
            (4, 0.5, 50),
            (5, 0.1, 10),
        ],
        ["id", "score", "w"],
    )
    # budget 110: bucket 0.9 fits (60), residual 50 admits id 3 only
    # (id 4 would overflow), id 5's bucket never reached.
    got = {r.id for r in budget_select(docs, "id", "score", "w", 110).collect()}
    assert got == {1, 2, 3}
    # exact boundary: budget 60 admits exactly the top bucket
    got = {r.id for r in budget_select(docs, "id", "score", "w", 60).collect()}
    assert got == {1, 2}
    # first doc overflows → empty selection
    got = {r.id for r in budget_select(docs, "id", "score", "w", 20).collect()}
    assert got == set()
    # everything fits
    got = {r.id for r in budget_select(docs, "id", "score", "w", 1000).collect()}
    assert got == {1, 2, 3, 4, 5}


def test_jpeg_roundtrip_codec():
    import numpy as np

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.jpeg_codec import (
        NoScanData,
        decode_jpeg,
        encode_jpeg,
    )

    # grayscale gradient: smooth content survives quality-50 quantization
    w, h = 24, 16
    gray = np.tile(np.linspace(0, 255, w, dtype=np.uint8), (h, 1))
    out = decode_jpeg(encode_jpeg(w, h, 1, gray.tobytes()))
    assert (out["width"], out["height"], out["channels"]) == (w, h, 1)
    dec = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(h, w)
    assert np.abs(dec.astype(int) - gray.astype(int)).max() <= 4
    assert abs(out["mean_intensity"] - gray.mean()) < 3

    # RGB color blocks: color transform + 3-component interleave;
    # non-multiple-of-8 dims exercise edge padding + crop
    rgb = np.zeros((12, 20, 3), dtype=np.uint8)
    rgb[:, :7] = [200, 30, 30]
    rgb[:, 7:14] = [30, 200, 30]
    rgb[:, 14:] = [30, 30, 200]
    out3 = decode_jpeg(encode_jpeg(20, 12, 3, rgb.tobytes()))
    dec3 = np.frombuffer(out3["pixels"], dtype=np.uint8).reshape(12, 20, 3)
    # lossy: block edges ring, but interiors must be close
    assert np.abs(dec3[2:-2, 2:5].astype(int) - [200, 30, 30]).max() < 30

    # truncated scan → ValueError (quarantine); header-only → NoScanData
    # (degrade)
    import pytest as _pytest

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_jpeg_header,
    )

    full = encode_jpeg(20, 12, 3, rgb.tobytes())
    with _pytest.raises(ValueError):
        decode_jpeg(full[: len(full) // 2])
    with _pytest.raises(NoScanData):
        decode_jpeg(encode_jpeg_header(64, 64, 3))
    # a baseline stream merely relabeled SOF2 is MALFORMED (progressive
    # DC scan requires Se=0) → quarantine, not degrade
    with _pytest.raises(ValueError):
        decode_jpeg(full.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_jpeg_zigzag_matches_t81():
    """ITU-T T.81 Figure A.6 order — guards against the transposed-key
    regression the r4 advisor flagged (odd diagonals run by row, even by
    column)."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.jpeg_codec import (
        ZIGZAG,
    )

    assert ZIGZAG[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert ZIGZAG[-4:] == [(5, 7), (6, 7), (7, 6), (7, 7)]


def test_jpeg_progressive_roundtrip():
    """SOF2 encode (interleaved DC scan + per-component spectral AC
    scans) decodes to the SAME pixels as the baseline encoding of the
    same source — the spectral scans carry full coefficient precision."""
    import numpy as np

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    for ch, (w, h) in [(1, (24, 16)), (3, (20, 12)), (3, (13, 11))]:
        px = rng.integers(0, 256, size=h * w * ch, dtype=np.uint8).tobytes()
        base = decode_jpeg(encode_jpeg(w, h, ch, px))
        prog_payload = encode_jpeg(w, h, ch, px, progressive=True)
        assert b"\xff\xc2" in prog_payload and b"\xff\xc0" not in prog_payload
        prog = decode_jpeg(prog_payload)
        assert prog["pixels"] == base["pixels"]
        assert (prog["width"], prog["height"], prog["channels"]) == (w, h, ch)
    # truncated progressive scan data still quarantines
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_jpeg(prog_payload[: len(prog_payload) - 40])


def test_jpeg_malformed_raises_valueerror_only():
    """The quarantine contract: malformed bytes raise ValueError, never
    KeyError/IndexError (r4 advisor finding — empty SOS body, foreign
    scan component ids, truncated component lists)."""
    import struct

    import pytest as _pytest

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    good = encode_jpeg(8, 8, 1, bytes(64))
    i = good.find(b"\xff\xda")
    seglen = struct.unpack(">H", good[i + 2 : i + 4])[0]
    tail = good[i + 2 + seglen :]
    # empty SOS body
    with _pytest.raises(ValueError):
        decode_jpeg(good[:i] + b"\xff\xda\x00\x02" + tail)
    # scan component id absent from SOF
    body = bytearray(good[i + 4 : i + 2 + seglen])
    body[1] = 99
    with _pytest.raises(ValueError):
        decode_jpeg(good[: i + 4] + bytes(body) + tail)
    # truncated SOS component list
    with _pytest.raises(ValueError):
        decode_jpeg(good[:i] + b"\xff\xda\x00\x03\x02" + tail)
    # zero-length segment
    with _pytest.raises(ValueError):
        decode_jpeg(good[:i] + b"\xff\xda\x00\x01" + tail)


def test_decode_media_jpeg_pixels(spark):
    """decode_media now returns REAL mean_intensity for full baseline
    JPEGs while header-only fixtures keep the degrade contract (null
    intensity) and corrupt scans still quarantine."""
    import numpy as np

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_jpeg_header,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.jpeg_codec import (
        encode_jpeg,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
    )

    gray = np.full((8, 8), 100, dtype=np.uint8)
    meta = lambda: {"mime": "image/jpeg", "source": "t", "width": None,
                    "height": None, "duration_ms": None}
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_jpeg(8, 8, 1, gray.tobytes())), meta()),
            (2, bytearray(encode_jpeg_header(32, 16, 3)), meta()),
        ],
        "media_id long, payload binary, meta struct<mime:string,source:string,width:int,height:int,duration_ms:bigint>",
    )
    out = {r.media_id: r for r in decode_features(media).collect()}
    assert out[1].width == 8 and abs(out[1].mean_intensity - 100) < 3
    assert out[2].width == 32 and out[2].mean_intensity is None


def test_y4m_codec_roundtrip_and_contracts():
    """YUV4MPEG2 codec (r5): full raw-frame decode across colorspaces,
    frame sampling, and the degrade/quarantine error contract."""
    import pytest as _pytest

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        decode_y4m,
        encode_y4m,
    )

    frames = [bytes([40 + 5 * f]) * 128 for f in range(3)]
    for cs, nch in (("mono", 1), ("420", 3), ("444", 3)):
        d = decode_y4m(encode_y4m(16, 8, frames, colorspace=cs))
        assert (d["width"], d["height"], d["n_frames"]) == (16, 8, 3)
        assert d["duration_ms"] == 120 and d["channels"] == nch
        assert abs(d["mean_intensity"] - 45.0) < 1e-9
    # frame sampling: every 2nd frame -> frames 0 and 2 only
    p = encode_y4m(16, 8, [bytes([10]) * 128, bytes([99]) * 128,
                           bytes([20]) * 128])
    assert decode_y4m(p, sample_every=2)["mean_intensity"] == 15.0
    # quarantine: truncation / bad marker -> ValueError
    with _pytest.raises(ValueError):
        decode_y4m(p[:-10])
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W16 H8 F25:1\nFRAMX\n")
    # degrade: unsupported colorspace / interlace -> NotImplementedError
    mono = encode_y4m(16, 8, [bytes([40]) * 128], colorspace="mono")
    with _pytest.raises(NotImplementedError):
        decode_y4m(mono.replace(b"Cmono", b"C422"))
    with _pytest.raises(NotImplementedError):
        decode_y4m(mono.replace(b"Ip", b"It"))


def test_decode_media_y4m_through_spark(spark):
    """video/y4m flows through the decode_features Arrow stage with real
    decoded fields; corrupt payloads quarantine instead of failing."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import (
        encode_y4m,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.multimodal import (
        decode_features,
    )

    good = encode_y4m(16, 8, [bytes([50]) * 128, bytes([60]) * 128])
    meta = lambda: {"mime": "video/y4m", "source": "t", "width": None,
                    "height": None, "duration_ms": None}
    media = spark.createDataFrame(
        [(1, bytearray(good), meta()), (2, bytearray(good[:-20]), meta())],
        "media_id long, payload binary, meta struct<mime:string,source:string,width:int,height:int,duration_ms:bigint>",
    )
    rows = {
        r.media_id: r
        for r in decode_features(media, on_error="quarantine").collect()
    }
    assert rows[1].width == 16 and rows[1].duration_ms == 80
    assert abs(rows[1].mean_intensity - 55.0) < 1e-9
    assert rows[1].error is None
    assert rows[2].error is not None  # truncated -> quarantined


def test_cluster_pairs_driver_vs_distributed_parity(spark, monkeypatch):
    # r10: the driver union-find dispatch must be label-identical to the
    # distributed min-label loop on a random multi-component graph
    import random

    from azure_airbnb_cdc_ingestion_pipeline_spark.operators import dedup as D

    rng = random.Random(7)
    edges = {(i, i + 1) for i in range(0, 40, 2)}  # 20 two-node comps
    edges |= {
        (rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(120)
    }
    rows = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(rows, "a_id bigint, b_id bigint")
    fast = {
        (r.doc_id, r.canonical_id) for r in D.cluster_pairs(pairs).collect()
    }
    monkeypatch.setattr(D, "_DRIVER_CC_LIMIT", 0)  # force distributed loop
    slow = {
        (r.doc_id, r.canonical_id) for r in D.cluster_pairs(pairs).collect()
    }
    assert fast == slow and len(fast) > 0
    # r11: driver_limit=0 kwarg forces the same result (bench dist leg)
    monkeypatch.undo()
    forced = {
        (r.doc_id, r.canonical_id)
        for r in D.cluster_pairs(pairs, driver_limit=0).collect()
    }
    assert forced == slow
    # driver_limit=0 forces the distributed loop at n = 0 too: the empty
    # pair list must never reach the driver kernel
    def _no_driver(*_a, **_k):
        raise AssertionError("driver path taken with driver_limit=0")

    monkeypatch.setattr(D, "_cluster_pairs_driver", _no_driver)
    assert D.cluster_pairs(pairs.limit(0), driver_limit=0).collect() == []


def test_cluster_pairs_string_ids_take_distributed_path(spark):
    # r11 (advisor): the numpy driver kernel int64-casts ids, so
    # non-integral id types must fall through to the type-generic
    # distributed loop instead of crashing on the default path.
    rows = [("a", "b"), ("b", "c"), ("x", "y")]
    pairs = spark.createDataFrame(rows, "a_id string, b_id string")
    got = {
        (r.doc_id, r.canonical_id) for r in cluster_pairs(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }
