"""Unit tests for the LLM-pipeline operators: behaviors that the
oracle gate can't see (recall properties, stub decode values,
constructed duplicate handling)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parquet_to_sql_spark.catalog import load_table
from parquet_to_sql_spark.operators.dedup import (
    dedup_exact,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from parquet_to_sql_spark.operators.multimodal import (
    decode_image_features,
    pack_binary,
)
from parquet_to_sql_spark.operators.simsearch import cosine_topk, ivf_topk
from parquet_to_sql_spark.operators.text import lang_id, quality_score
from tests.conftest import SF_SMOKE


def test_dedup_exact_collapses_constructed_dups(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique text")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.n_copies for r in dedup_exact(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_ngram_jaccard_finds_near_identical_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).collect()
    assert [(p.doc1, p.doc2) for p in pairs] == [(1, 2)]
    assert 0.3 <= pairs[0].jaccard < 1.0


def test_connected_components_chain_and_singletons(spark):
    from parquet_to_sql_spark.operators.dedup import connected_components

    # a 6-node chain (needs several propagation rounds), a 2-clique,
    # and an isolated node with no pairs at all
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "doc1 long, doc2 long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 20]], "doc_id long"
    )
    out = {
        r.node: r.label
        for r in connected_components(pairs, nodes, "doc1", "doc2", "doc_id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 20: 20}


def test_cc_star_converges_on_long_chain_in_log_rounds(spark):
    """The adversarial case hash-min cannot handle in bounded rounds:
    a 200-node path has diameter 199, so label propagation needs ~199
    rounds — but alternating large-star/small-star must close it
    within max_iters=10 (O(log^2 n)).  Also checks singleton and
    reversed-id-order edges."""
    from parquet_to_sql_spark.operators.dedup import connected_components_star

    n = 200
    chain = [(i, i + 1) for i in range(1, n)]  # 1-2-...-200
    pairs = spark.createDataFrame(
        [(b, a) for a, b in chain],  # reversed orientation on purpose
        "doc1 long, doc2 long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, n + 1)] + [(999,)], "doc_id long"
    )
    out = {
        r.node: r.label
        for r in connected_components_star(
            pairs, nodes, "doc1", "doc2", "doc_id", max_iters=10
        ).collect()
    }
    want = {i: 1 for i in range(1, n + 1)}
    want[999] = 999
    assert out == want


def test_identical_docs_have_identical_minhash(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "h i j k l m n")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_ivf_recall_against_brute_force(spark):
    """IVF with nprobe=3 of 10 buckets should recover most of the
    exact top-5 (sanity floor; exact recall depends on data)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, "vec_id", "embedding", queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, "vec_id", "embedding", queries, centroids, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"
    assert len(approx) == len(exact) == 25


def test_lang_id_on_real_phrases(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "el perro y la casa de los gatos"),
            (3, "der Hund und die Katze ist ein Tier"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "unknown"}


def test_quality_score_orders_sensibly(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs to the hills " * 5),
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.q for r in df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert scores[1] > scores[2]
    assert 0.0 <= scores[2] < scores[1] <= 1.0


def test_multimodal_pack_and_decode_plumbing(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    packed = pack_binary(
        df,
        data=F.encode(F.col("text"), "utf-8"),
        uri=F.concat(F.lit("doc://"), F.col("doc_id").cast("string")),
        media_type="text/plain",
    )
    feats = {r.uri: r for r in decode_image_features(packed, fake=True).collect()}
    assert feats["doc://1"].n_bytes == 5
    assert feats["doc://1"].width == 16 + 5 and feats["doc://1"].channels == 3
    assert feats["doc://2"].n_bytes == 0 and feats["doc://2"].mean_luma == 0.0
    assert set(decode_image_features(packed).columns) == {
        "uri", "n_bytes", "width", "height", "channels", "mean_luma",
    }


def test_multimodal_real_png_decode_end_to_end(spark):
    """fake=False is REAL since round 9: the pure-stdlib PNG decoder
    (operators/png.py) runs inside mapInPandas and must recover exact
    dimensions, channel counts, and mean luma for encoder-synthesized
    PNGs across shapes and filter types (VERDICT r08 #2)."""
    import random

    from parquet_to_sql_spark.operators.png import png_encode

    rng = random.Random(41)
    rows = []
    expect = {}
    for i, (w, h, ch, ft) in enumerate(
        [(8, 8, 3, 0), (5, 9, 1, 1), (16, 4, 4, 2), (7, 7, 2, 3), (12, 3, 3, 4)]
    ):
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        rows.append((i, bytearray(png_encode(w, h, px, ch, filter_type=ft))))
        expect[f"img://{i}"] = (w, h, ch, sum(px) / len(px) / 255.0)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    packed = pack_binary(
        df,
        data=F.col("payload"),
        uri=F.concat(F.lit("img://"), F.col("doc_id").cast("string")),
        media_type="image/png",
    )
    feats = {r.uri: r for r in decode_image_features(packed, fake=False).collect()}
    assert len(feats) == len(expect)
    for uri, (w, h, ch, luma) in expect.items():
        r = feats[uri]
        assert (r.width, r.height, r.channels) == (w, h, ch), uri
        assert r.mean_luma == pytest.approx(luma, abs=1e-12), uri
    # the mapInArrow twin is bit-identical on the real path too
    from parquet_to_sql_spark.operators.multimodal import (
        decode_image_features_arrow,
    )

    arrow = {
        r.uri: r for r in decode_image_features_arrow(packed, fake=False).collect()
    }
    assert {u: tuple(r) for u, r in arrow.items()} == {
        u: tuple(r) for u, r in feats.items()
    }


def test_multimodal_real_decode_rejects_and_routes_non_png(spark):
    """Unrecognized payloads under fake=False (the decoder sniffs
    PNG, JPEG, GIF and lossless WebP since round 13): a clear raise
    by default (the format-error reason surfaces through Spark's
    executor exception), or NULL-feature quarantine rows under
    on_error='null' — one corrupt payload must not kill a 100 TB
    stage unless the caller asked it to.  JPEG/GIF/WebP rows prove
    the sniffer routes formats, not just accepts PNG; a MALFORMED
    GIF (valid signature, garbage body) quarantines through its
    typed error the same way."""
    from parquet_to_sql_spark.operators.gif import gif_encode
    from parquet_to_sql_spark.operators.jpeg import jpeg_encode
    from parquet_to_sql_spark.operators.png import png_encode
    from parquet_to_sql_spark.operators.vp8l import (
        vp8l_encode,
        webp_wrap_vp8l,
    )

    good = png_encode(2, 2, bytes(range(12)), 3)
    jp = jpeg_encode(8, 8, bytes([100] * 64), 1, quant=8)
    gf = gif_encode(3, 2, bytes([0, 1, 1, 0, 1, 0]),
                    [b"\x10\x20\x30", b"\x40\x50\x60"])
    wp = webp_wrap_vp8l(vp8l_encode(2, 3, bytes(range(24))))
    df = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"\x00\x01 not any image format")),
            (3, bytearray(jp)),
            (4, bytearray(gf)),
            (5, bytearray(wp)),
            (6, bytearray(b"GIF89a garbage body")),
        ],
        "doc_id long, payload binary",
    )
    packed = pack_binary(
        df,
        data=F.col("payload"),
        uri=F.concat(F.lit("img://"), F.col("doc_id").cast("string")),
        media_type="image/mixed",
    )
    with pytest.raises(Exception, match="unrecognized image payload"):
        decode_image_features(packed, fake=False).collect()
    routed = {
        r.uri: r
        for r in decode_image_features(
            packed, fake=False, on_error="null"
        ).collect()
    }
    assert routed["img://1"].width == 2
    assert routed["img://2"].width is None
    assert routed["img://2"].n_bytes == 23  # metadata survives quarantine
    assert routed["img://3"].width == 8 and routed["img://3"].channels == 1
    assert routed["img://4"].width == 3 and routed["img://4"].channels == 3
    assert routed["img://5"].width == 2 and routed["img://5"].channels == 4
    assert routed["img://6"].width is None  # typed GIF quarantine
    with pytest.raises(ValueError, match="on_error"):
        decode_image_features(packed, fake=False, on_error="quarantine")


def test_multimodal_real_wav_decode_end_to_end(spark):
    """fake=False audio is REAL since round 9: stdlib-`wave` PCM
    decode inside mapInPandas recovers exact rate/channels/duration
    and peak amplitude for synthesized 16-bit and 8-bit WAVs; non-WAV
    payloads raise with the reason or quarantine under
    on_error='null'."""
    import io
    import struct
    import wave

    from parquet_to_sql_spark.operators.multimodal import decode_audio_features

    def wav16(rate, nch, samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
        return buf.getvalue()

    def wav8(rate, nch, samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(1)
            w.setframerate(rate)
            w.writeframes(bytes(samples))
        return buf.getvalue()

    s16 = [((i * 173) % 32768) - 16384 for i in range(300)]  # 150 stereo frames
    s8 = [(i * 7) % 256 for i in range(200)]
    rows = [
        (1, bytearray(wav16(16000, 2, s16))),
        (2, bytearray(wav8(8000, 1, s8))),
        (3, bytearray(b"OggS this is not a wav")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    packed = pack_binary(
        df,
        data=F.col("payload"),
        uri=F.concat(F.lit("au://"), F.col("doc_id").cast("string")),
        media_type="audio/wav",
    )
    with pytest.raises(Exception, match="not a decodable PCM WAV"):
        decode_audio_features(packed, fake=False).collect()
    got = {
        r.uri: r
        for r in decode_audio_features(
            packed, fake=False, on_error="null"
        ).collect()
    }
    r1 = got["au://1"]
    assert (r1.sample_rate, r1.channels) == (16000, 2)
    assert r1.duration_ms == 150 * 1000 // 16000
    assert r1.peak_amp == max(abs(s) for s in s16)
    r2 = got["au://2"]
    assert (r2.sample_rate, r2.channels) == (8000, 1)
    assert r2.duration_ms == 200 * 1000 // 8000
    assert r2.peak_amp == max(abs(b - 128) for b in s8)
    assert got["au://3"].sample_rate is None  # quarantined, not fatal
    assert got["au://3"].n_bytes == 22


def test_multimodal_frame_sampling(spark):
    from parquet_to_sql_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "0123456789abcdef"), (2, "xy")], "doc_id long, text string"
    )
    packed = pack_binary(
        df,
        data=F.encode(F.col("text"), "utf-8"),
        uri=F.concat(F.lit("vid://"), F.col("doc_id").cast("string")),
        media_type="video/fake",
    )
    frames = sample_frames(packed, n_frames=4).collect()
    by_uri = {}
    for r in frames:
        by_uri.setdefault(r.uri, []).append(r)
    assert len(by_uri["vid://1"]) == 4
    assert [r.offset_bytes for r in sorted(by_uri["vid://1"], key=lambda r: r.frame_index)] == [0, 4, 8, 12]
    assert len(by_uri["vid://2"]) == 2  # payload shorter than n_frames
    import hashlib
    assert by_uri["vid://1"][0].frame_sha256 == hashlib.sha256(b"0123").hexdigest()


def test_salted_join_equals_plain_join(spark):
    from parquet_to_sql_spark.operators.relational import salted_join

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
    plain = li.join(part, li.l_partkey == part.p_partkey).count()
    salted = salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        key="p_partkey",
        salt_from="l_orderkey",
        buckets=8,
    )
    assert salted.count() == plain
    assert "_salt" not in salted.columns


def test_approx_sketches_self_verify(spark):
    """agg_approx_sketches carries its own error bounds; every row's
    hll_ok and median_ok flags must hold (sketch estimates within eps
    of the exact answers computed in the same query)."""
    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    rows = all_queries()["agg_approx_sketches"].build(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r.hll_ok, f"HLL estimate out of bounds: {r}"
        assert r.ds_hll_ok, f"DataSketches HLL estimate out of bounds: {r}"
        assert r.median_ok, f"approx median outside exact p45..p55: {r}"


def test_binaryfile_source_to_multimodal_pipeline(spark, tmp_path):
    """Ingestion edge for multimodal corpora: binaryFile scan -> asset
    struct -> Arrow-batched fake decode. The glob filter bounds the
    listing; metadata (n_bytes, sha256) matches the real file bytes."""
    import hashlib

    from parquet_to_sql_spark.operators.multimodal import decode_image_features
    from parquet_to_sql_spark.sources.files import binary_assets

    payloads = {
        f"img_{i}.bin": bytes(range(1, (i * 7) % 250 + 2)) * (i + 1) for i in range(5)
    }
    (tmp_path / "skip.txt").write_text("not matched by glob")
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    assets = binary_assets(spark, str(tmp_path), glob="*.bin")
    rows = assets.select(
        "asset.uri", "asset.media_type", "asset.meta.n_bytes", "asset.meta.sha256"
    ).collect()
    assert len(rows) == 5  # glob excluded skip.txt
    by_name = {r.uri.rsplit("/", 1)[-1]: r for r in rows}
    for name, data in payloads.items():
        assert by_name[name].n_bytes == len(data)
        assert by_name[name].sha256 == hashlib.sha256(data).hexdigest()
        assert by_name[name].media_type == "image"

    feats = decode_image_features(assets).collect()
    assert len(feats) == 5
    assert all(f.width >= 16 and f.channels == 3 for f in feats)


def test_simhash_hamming_banding_is_complete(spark):
    """Pigeonhole guarantee: the banded candidate join must find
    EVERY pair within the Hamming radius — compare against the
    brute-force all-pairs distance on a small corpus with seeded
    near-duplicates (docs differing by one word usually flip only a
    few sketch bits, so both radius hits and misses occur)."""
    import itertools

    from parquet_to_sql_spark.operators.dedup import simhash_hamming_pairs
    from parquet_to_sql_spark.operators.text import simhash_sketch

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base.replace("the", w)) for i, w in enumerate(
        ["the", "a", "an", "one", "that", "this", "some", "each"]
    )]
    rows += [(100 + i, f"totally different text number {i} with unrelated words")
             for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.doc1, r.doc2): r.hamming
        for r in simhash_hamming_pairs(df, "doc_id", "text", bits=24, radius=1).collect()
    }
    sk = {r.doc_id: r.simhash for r in simhash_sketch(df, "doc_id", "text", 24).collect()}
    want = {
        (a, b): bin(sk[a] ^ sk[b]).count("1")
        for a, b in itertools.combinations(sorted(sk), 2)
        if bin(sk[a] ^ sk[b]).count("1") <= 1
    }
    assert got == want
    assert len(want) > 0, "fixture produced no in-radius pairs; weaken the docs"


def test_pack_sequences_bins_are_contiguous_and_bounded(spark):
    """Every bin holds a contiguous doc_id run per source; a bin's
    total never exceeds budget + its last doc (a doc may straddle the
    boundary, nothing else)."""
    from parquet_to_sql_spark.queries.registry import all_queries

    out = all_queries()["pipeline_pack_sequences"].build(spark, SF_SMOKE).collect()
    by_src: dict = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        assert [r.bin for r in rs] == sorted(r.bin for r in rs), src
        prev_cum = 0
        for r in rs:
            n_chars = r.cum_chars - prev_cum
            assert r.bin == prev_cum // 2000, (src, r.doc_id)
            prev_cum = r.cum_chars


def test_sketch_rollup_union_self_verify(spark):
    """The merged-sketch global estimate must bound-match the exact
    global distinct count (union_ok flag on every row)."""
    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    rows = all_queries()["agg_sketch_rollup_union"].build(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r.union_ok, f"sketch union estimate out of bounds: {r}"


def test_mapinarrow_decode_matches_mapinpandas(spark):
    """The mapInArrow decoder (RecordBatch-level, no pandas
    conversion) must produce bit-identical output to the mapInPandas
    one — same fake decoder, different Python batch transport."""
    from parquet_to_sql_spark.operators.multimodal import (
        decode_image_features,
        decode_image_features_arrow,
        pack_binary,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "binary\tish\npayload")],
        "doc_id long, text string",
    )
    packed = pack_binary(
        df,
        data=F.encode(F.col("text"), "utf-8"),
        uri=F.concat(F.lit("doc://"), F.col("doc_id").cast("string")),
        media_type="image/fake",
    )
    via_pandas = sorted(decode_image_features(packed).collect())
    via_arrow = sorted(decode_image_features_arrow(packed).collect())
    assert via_pandas == via_arrow
    # fake=False is REAL since round 9 (stdlib PNG; +JPEG sniffing in
    # round 10); on unrecognized bytes it raises the format error
    # from inside the executor — the real-path twin equivalence is
    # covered in test_multimodal_real_png_decode_end_to_end
    with pytest.raises(Exception, match="unrecognized image payload"):
        decode_image_features_arrow(packed, fake=False).collect()


def test_simhash_col_matches_simhash_sketch(spark):
    """The row-local (streaming-safe) simhash expression must agree
    with the explode+groupBy sketch on every fixture document."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.catalog import load_table
    from parquet_to_sql_spark.operators.text import simhash_col, simhash_sketch
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents")
    local = docs.select("doc_id", simhash_col(F.col("text"), 24).alias("s_local"))
    grouped = simhash_sketch(docs, "doc_id", "text", bits=24).withColumnRenamed(
        "simhash", "s_grouped"
    )
    joined = local.join(grouped, "doc_id", "full_outer")
    assert joined.filter(
        ~F.col("s_local").eqNullSafe(F.col("s_grouped"))
    ).count() == 0
    assert joined.count() > 0


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Schleimer et al.'s core guarantee: two documents sharing a run
    of >= w+k-1 words (here 4+3-1 = 6) must share at least one selected
    fingerprint; and selection density is well below 1 (that's the
    point of winnowing vs keeping every shingle hash)."""
    from parquet_to_sql_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-word shared run
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight {shared} nine ten eleven twelve"),
            (3, "totally unrelated words with nothing in common at all"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # density: strictly fewer fingerprints than shingles (12-word docs
    # have 10 shingles; w=4 selects ~2 per 5)
    n_shingles_doc1 = 12 - 2
    assert len(by_doc[1]) < n_shingles_doc1


def test_winnowing_short_and_empty_docs(spark):
    """Docs shorter than k words emit nothing; docs with fewer than w
    shingles emit exactly one fingerprint (the global min, rightmost)."""
    from parquet_to_sql_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "exactly three words"), (4, "a b c d")],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
    got = {r.doc_id: r for r in fp.collect()}
    assert 1 not in got and 2 not in got  # < k words -> no shingles
    assert got[3].pos >= 1  # 1 shingle -> exactly one fingerprint
    rows = fp.filter(F.col("doc_id").isin(3, 4)).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in rows} == {3: 1, 4: 1}


def test_containment_detects_asymmetric_subset(spark):
    """A short doc pasted inside a long one: low Jaccard (invisible to
    the symmetric threshold) but near-total containment — the directed
    flags must say doc1_in_doc2 and not the reverse."""
    from parquet_to_sql_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, f"{filler} {short} {filler}")],
        "doc_id long, text string",
    )
    pairs = ngram_containment_pairs(
        df, "doc_id", "text", n=3, threshold_pct=80, hashed=True
    ).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc1, p.doc2) == (1, 2)
    assert p.doc1_in_doc2 and not p.doc2_in_doc1
    assert p.n1 < p.n2
    # and symmetric Jaccard at the usual 0.5 threshold misses it
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5, hashed=True
    ).collect()
    assert jac == []


def test_rrf_fusion_rewards_agreement(spark):
    """A candidate ranked #1 by both rankers must out-score one ranked
    #1 by a single ranker only; scores are exact integers."""
    from parquet_to_sql_spark.operators.simsearch import rrf_fuse_topk

    # query q=(1,0); c1 near-identical direction AND near-zero distance;
    # c2 same direction but far away (cosine #1-tier, l2 poor);
    # c3 close in l2 but orthogonal-ish direction
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.01]),     # both-ranker winner
        (2, [100.0, 0.0]),    # cosine-only winner (l2 terrible)
        (3, [0.6, 0.6]),      # middling
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = rrf_fuse_topk(
        df, "vec_id", "embedding", df.filter(F.col("vec_id") == 0), k=3
    ).collect()
    by_id = {r.neighbor_id: r for r in out}
    assert by_id[1].fused_rank == 1
    assert by_id[1].rrf_score > by_id[2].rrf_score
    # c2 is cosine rank 1 (exactly collinear), c1 is cosine rank 2 but
    # l2 rank 1 — agreement across rankers still wins the fusion
    assert by_id[1].rrf_score == (1_000_000 // 62) + (1_000_000 // 61)


def test_winnow_overlap_pairs_find_shared_passage(spark):
    """Two docs sharing a long passage must form an overlap pair; the
    unrelated doc must not appear in any pair."""
    from parquet_to_sql_spark.operators.dedup import winnow_overlap_pairs

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {passage} closing remarks"),
            (2, f"other beginning {passage} and a different tail part"),
            (3, "completely unrelated filler text goes right here today"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_overlap_pairs(df, "doc_id", "text", k=3, w=4, min_common=2).collect()
    assert [(p.doc1, p.doc2) for p in pairs] == [(1, 2)]
    p = pairs[0]
    assert p.common >= 2 and p.n1 >= p.common and p.n2 >= p.common


def test_multimodal_resize_real_and_fake_paths(spark):
    """fake=False REALLY resizes since round 9: the PNG payload is
    decoded and its reconstructed pixels nearest-neighbor-resampled
    across all channels; non-PNG bytes raise the format error.  The
    fake path still emits exactly out_w*out_h sampled bytes."""
    import hashlib

    from parquet_to_sql_spark.operators.multimodal import (
        _fake_resize,
        _real_resize,
        resize_image_features,
    )
    from parquet_to_sql_spark.operators.png import png_encode

    # real path, end to end through Spark
    px = bytes((i * 11) % 256 for i in range(12 * 5 * 3))
    payload = png_encode(12, 5, px, 3, filter_type=2)
    want_sw, want_sh, want_bytes = _real_resize(payload, 4, 4)
    assert (want_sw, want_sh) == (12, 5)
    rdf = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    rpacked = pack_binary(rdf, F.col("payload"), F.lit("img://r"), "image/png")
    rr = resize_image_features(rpacked, out_w=4, out_h=4, fake=False).collect()[0]
    assert (rr.src_width, rr.src_height) == (12, 5)
    assert rr.sampled_sum == sum(want_bytes)
    assert rr.sampled_sha256 == hashlib.sha256(want_bytes).hexdigest()

    # non-PNG payloads raise through the executor
    df = spark.createDataFrame([(1, "0123456789abcdef")], "doc_id long, text string")
    packed = pack_binary(
        df, F.encode(F.col("text"), "utf-8"), F.lit("img://1"), "image/png"
    )
    with pytest.raises(Exception, match="not a PNG"):
        resize_image_features(packed, fake=False).collect()

    # fake path unchanged
    assert len(_fake_resize(b"0123456789abcdef", 8, 8)) == 64
    assert _fake_resize(b"", 8, 8) == b""
    r = resize_image_features(packed, out_w=8, out_h=8, fake=True).collect()[0]
    assert (r.out_width, r.out_height) == (8, 8)
    assert r.sampled_sum == sum(_fake_resize(b"0123456789abcdef", 8, 8))


def test_pq_adc_structure_and_recall_floor(spark):
    """PQ-ADC returns a full ranked top-5 per query; approximate
    distances are non-decreasing within a query; and the compressed
    search still recovers part of the exact-L2 top-5 (fixtures are
    isotropic random — a modest floor, same caveat as IVF recall)."""
    from parquet_to_sql_spark.operators.simsearch import l2sq_expr, pq_adc_topk
    from pyspark.sql import Window

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codes = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        "vec_id", "embedding"
    )
    got = pq_adc_topk(emb, "vec_id", "embedding", queries, codes, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        dists = [r.approx_l2sq for r in rows]
        assert dists == sorted(dists)

    # exact L2 top-5 for recall
    q = queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    scored = (
        F.broadcast(q)
        .crossJoin(emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("d", l2sq_expr("qv", "cv"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d"), F.col("cid"))
    exact = {
        (r.qid, r.cid)
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.0, "PQ-ADC recovered nothing from the exact top-5"


def test_misra_gries_bounded_candidates_and_exact_recovery(spark):
    """Adversarial heavy-hitter input: 2,000 distinct keys (far above
    the 15-counter capacity) with 3 true heavy hitters, deliberately
    laid out so every partition also sees a long tail.  The candidate
    pass must stay within its per-partition bound and the recounted
    output must be EXACTLY the true heavy-hitter set."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.summaries import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    cap = 15
    rows = []
    # heavy: 3 keys at 1200 each; tail: 2000 keys at 1 each
    for h in ("alpha", "beta", "gamma"):
        rows += [(h,)] * 1200
    rows += [(f"tail{i}",) for i in range(2000)]
    # deterministic interleave so heavies and tail mix in every partition
    rows.sort(key=lambda r: hash(r[0]) % 97)
    df = spark.createDataFrame(rows, "k string").repartition(8).cache()
    n = df.count()  # 5600; threshold n/(cap+1) = 350

    cands = misra_gries_candidates(df, "k", cap)
    n_parts = df.rdd.getNumPartitions()
    assert cands.count() <= cap * n_parts

    got = {
        (r.k, r.cnt, r.n_total)
        for r in heavy_hitters_exact(df, "k", cap).collect()
    }
    df.unpersist()
    assert got == {("alpha", 1200, n), ("beta", 1200, n), ("gamma", 1200, n)}


def test_keyword_hits_rejects_bad_term_lists(spark):
    """Term validation fails fast with clear messages (ADVICE r03):
    empty list, non-\\w terms (would break tf_<term> column names),
    and duplicates (would create ambiguous identical columns)."""
    import pytest

    from parquet_to_sql_spark.operators.text import keyword_hits

    docs = spark.createDataFrame([(1, "spark join")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one term"):
        keyword_hits(docs, "doc_id", "text", ())
    with pytest.raises(ValueError, match="must match"):
        keyword_hits(docs, "doc_id", "text", ("spark", "a.b"))
    with pytest.raises(ValueError, match="duplicate"):
        keyword_hits(docs, "doc_id", "text", ("spark", "join", "spark"))


def test_bm25_rational_matches_fraction_reference(spark):
    """Exact-integer BM25 vs an independent fractions.Fraction
    reference on a hand-built corpus: per-term contribution =
    floor(1e6 * (2N-2df+1)/(2df+1) * 44*tf*L/(20*tf*L+6*L+18*dl*N)),
    summed over terms; docs with no query term are excluded."""
    from fractions import Fraction

    from parquet_to_sql_spark.operators.text import (
        bm25_corpus_stats,
        bm25_doc_features,
        bm25_rational_scores,
    )

    corpus = [
        (1, "spark join window spark"),
        (2, "join the window please"),
        (3, "nothing relevant here at all"),
        (4, "spark"),
        (5, "window window window window window join"),
    ]
    terms = ("spark", "join", "window")
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    feats = bm25_doc_features(docs, "doc_id", "text", terms)
    got = {
        r.doc_id: r.score_ppm
        for r in bm25_rational_scores(
            feats, terms, bm25_corpus_stats(feats, terms)
        ).collect()
    }

    toks = {d: t.split() for d, t in corpus}
    N = len(corpus)
    L = sum(len(w) for w in toks.values())
    want = {}
    for d, w in toks.items():
        dl = len(w)
        score = 0
        matched = False
        for t in terms:
            tf = w.count(t)
            matched = matched or tf > 0
            df = sum(1 for ww in toks.values() if t in ww)
            idf = Fraction(2 * N - 2 * df + 1, 2 * df + 1)
            tfp = Fraction(44 * tf * L, 20 * tf * L + 6 * L + 18 * dl * N)
            score += (1_000_000 * idf.numerator * tfp.numerator) // (
                idf.denominator * tfp.denominator
            )
        if matched:
            want[d] = score
    assert got == want
    # sanity on the reference itself: doc 3 excluded, doc 1 beats doc 2
    assert 3 not in want and want[1] > want[2]


def test_bm25_plan_is_broadcast_only(spark):
    """The scoring side must never shuffle the corpus: one-row stats
    broadcast in, top-k via TakeOrderedAndProject — no sort-merge or
    shuffled-hash join anywhere."""
    from parquet_to_sql_spark.queries.registry import get
    from tests.conftest import SF_SMOKE
    from tests.test_scale_features import _formatted_plan

    df = get("text_bm25_rational").build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats attach
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bloom_screen_no_false_negatives_and_exact_compose(spark):
    """Bloom membership screen: every true member survives the probe
    (the Bloom guarantee), the false-positive rate stays near the
    fpp=2% design point, and the bloom+semi-join composition returns
    EXACTLY the plain semi-join answer."""
    import pytest

    from parquet_to_sql_spark.operators.membership import (
        bloom_build,
        bloom_probe,
        bloom_screen_exact,
    )

    ref = spark.range(0, 1000).select(F.col("id").alias("k"))
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))

    bloom = bloom_build(ref, "k", expected_items=1000, fpp=0.02)
    survivors = {r.k for r in bloom_probe(probe, "k", bloom).collect()}
    members = set(range(1000))
    assert members <= survivors, "false negative — violates the Bloom guarantee"
    fp = len(survivors - members)
    assert fp / 1000 < 0.10, f"false-positive rate {fp/1000:.3f} way above design"

    exact = {
        r.k for r in bloom_screen_exact(
            probe, "k", ref, "k", expected_items=1000
        ).collect()
    }
    assert exact == members

    with pytest.raises(ValueError, match="expected_items"):
        bloom_build(ref, "k", expected_items=0)
    with pytest.raises(ValueError, match="fpp"):
        bloom_build(ref, "k", expected_items=10, fpp=1.5)


def test_bloom_numpy_probe_is_bit_exact_vs_jvm(spark):
    """The vectorized numpy mightContainLong must agree with the JVM
    BloomFilterImplV2 on EVERY probe — members and non-members, the
    full int64 range including negatives — so an upstream algorithm
    change breaks loudly here instead of silently diverging."""
    import numpy as np

    from parquet_to_sql_spark.operators.membership import (
        bloom_build,
        might_contain_longs,
    )

    ref = spark.range(0, 500).select(F.col("id").alias("k"))
    filter_bytes, k, seed, bit_size = bloom_build(ref, "k", 500, fpp=0.05)

    # the JVM filter holds xxhash64(k) values; probe raw hashed longs
    jfilter_df = ref.select(F.xxhash64("k").alias("h"))
    member_hashes = np.array([r.h for r in jfilter_df.collect()], dtype=np.int64)
    rng = np.random.RandomState(42)
    random_probes = rng.randint(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    probes = np.concatenate([member_hashes, random_probes])

    jf = (
        ref.filter(F.col("k").isNotNull())
        .select(F.xxhash64(F.col("k")).alias("_h"))
        ._jdf.stat()
        .bloomFilter("_h", 500, 0.05)
    )
    want = np.array([jf.mightContainLong(int(v)) for v in probes], dtype=bool)
    got = might_contain_longs(probes, filter_bytes, k, seed, bit_size)
    # NOTE: jf is an independent build over the same keys -> identical
    # deterministic filter; assert that too via the member prefix
    assert got[: len(member_hashes)].all()
    assert (got == want).all(), "numpy probe diverged from the JVM filter"


def test_bloom_probe_null_keys_never_match(spark):
    """NULL probe keys are dropped, mirroring semi-join null
    semantics; NULL reference keys are excluded from the build."""
    from parquet_to_sql_spark.operators.membership import bloom_build, bloom_probe

    ref = spark.createDataFrame([(1,), (None,)], "k int")
    bloom = bloom_build(ref, "k", expected_items=10)
    probe = spark.createDataFrame([(1,), (None,), (999999,)], "k int")
    got = {r.k for r in bloom_probe(probe, "k", bloom).collect()}
    assert 1 in got and None not in got


def test_bloom_probe_ships_bytes_via_broadcast_not_closure(spark, monkeypatch):
    """The filter bytes must ride SparkContext.broadcast (once per
    executor), never the pickled task closure (once per task) — at
    ~1.2 bytes/item a 1e9-key filter is ~1.2 GB, so closure capture is
    a scale-killer (VERDICT r04 #1).  Pin both halves: (a) broadcast()
    is called with exactly the filter bytes, (b) the function handed
    to mapInPandas pickles to a tiny closure (a Broadcast handle
    serializes as an id reference, not its value)."""
    from pyspark import cloudpickle

    from parquet_to_sql_spark.operators.membership import bloom_build, bloom_probe

    ref = spark.range(0, 200_000).select(F.col("id").alias("k"))
    bloom = bloom_build(ref, "k", expected_items=200_000, fpp=0.02)
    filter_bytes = bloom[0]
    assert len(filter_bytes) > 100_000  # big enough that capture would show

    bcasts = []
    orig_broadcast = spark.sparkContext.broadcast

    def spy_broadcast(value):
        bcasts.append(value)
        return orig_broadcast(value)

    monkeypatch.setattr(spark.sparkContext, "broadcast", spy_broadcast)

    probe_df = spark.range(0, 100).select(F.col("id").alias("k"))
    concrete_cls = type(probe_df)  # patch the concrete class, not the ABC
    captured = {}
    orig_mip = concrete_cls.mapInPandas

    def spy_mip(self, func, schema, *a, **kw):
        captured["func"] = func
        return orig_mip(self, func, schema, *a, **kw)

    monkeypatch.setattr(concrete_cls, "mapInPandas", spy_mip)
    out = bloom_probe(probe_df, "k", bloom)
    assert out.count() == 100  # all members survive

    assert any(b == filter_bytes for b in bcasts), "filter bytes not broadcast"
    closure_size = len(cloudpickle.dumps(captured["func"]))
    assert closure_size < len(filter_bytes) // 10, (
        f"probe closure pickles to {closure_size}B — the filter bytes "
        "are riding the task closure instead of the broadcast"
    )


def test_span_excision_merges_adjacent_and_overlapping_cuts(spark):
    """Keep-first policy: only the higher-id copy of a shared passage
    is cut; adjacent cuts from DIFFERENT source docs merge into one
    interval, and identical cuts from several sources dedup to one."""
    from parquet_to_sql_spark.operators.dedup import span_excision_offsets

    xs = " ".join(f"x{i}" for i in range(15))
    ys = " ".join(f"y{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (0, xs),              # canonical source of the x-passage
            (1, ys),              # canonical source of the y-passage
            (2, xs + " " + ys),   # shares [1,15] w/ 0 and [16,30] w/ 1
            (3, xs),              # shares [1,15] with BOTH 0 and 2
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc, r.cut_start, r.cut_end, r.cut_tokens)
        for r in span_excision_offsets(
            docs, "doc_id", "text", k=6, min_tokens=12
        ).collect()
    )
    spark.catalog.clearCache()
    # doc 2: adjacent x/y cuts merged into one [1,30]; doc 3: the two
    # identical [1,15] cuts (from 0 and from 2) collapse to one row;
    # docs 0 and 1 are first occurrences -> never cut
    assert got == [(2, 1, 30, 30), (3, 1, 15, 15)]


def test_exact_quantile_histogram_is_type1_lower(spark):
    """The histogram quantile picks the SMALLEST value whose cumulative
    count reaches ceil(p*n/100) — type-1 discrete, never interpolated:
    10 values 1..10 -> p25=3 (ceil(2.5)), p50=5, p99=10."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    vals = spark.range(1, 11).select(F.lit("g").alias("grp"), F.col("id").alias("v"))
    counts = vals.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    staged = counts.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("grp").orderBy("v"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("grp")))
    row = staged.groupBy("grp").agg(
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.lit(p) * F.col("n"), F.col("v"))
            ).alias(f"p{p}")
            for p in (25, 50, 99)
        ]
    ).collect()[0]
    assert (row.p25, row.p50, row.p99) == (3, 5, 10)


def test_apply_excisions_drops_cut_tokens_row_locally(spark):
    """detect -> offsets -> apply round trip: fully-shared documents
    empty out (tokens_removed = token count), partially-shared ones
    keep exactly their unique suffix, first occurrences and uncut
    docs pass through verbatim (original whitespace preserved)."""
    from parquet_to_sql_spark.operators.dedup import (
        apply_excisions,
        span_excision_offsets,
    )

    xs = " ".join(f"x{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (0, xs),
            (1, xs + " unique tail words here"),
            (2, "short  doc   with   odd spacing"),
        ],
        "doc_id long, text string",
    )
    cuts = span_excision_offsets(docs, "doc_id", "text", k=6, min_tokens=12)
    got = {
        r.doc_id: (r.clean_text, r.tokens_removed)
        for r in apply_excisions(docs, "doc_id", "text", cuts).collect()
    }
    spark.catalog.clearCache()
    assert got[0] == (xs, 0)                      # first occurrence kept
    assert got[1] == ("unique tail words here", 15)
    assert got[2] == ("short  doc   with   odd spacing", 0)  # verbatim


def test_decontamination_offsets_cut_corpus_side_only(spark):
    """A training doc embedding an eval passage gets a cut interval in
    ITS coordinates; the eval side is never reported; overlap shorter
    than min_tokens is ignored."""
    from parquet_to_sql_spark.operators.dedup import decontamination_offsets

    passage = " ".join(f"e{i}" for i in range(12))   # 12-token eval passage
    ref = spark.createDataFrame(
        [(100, passage)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (0, "intro words here " + passage + " outro"),  # cut [4,15]
            (1, " ".join(f"e{i}" for i in range(8))),  # 8 < 12: no cut
            (2, "entirely unrelated training text with many words"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc, r.cut_start, r.cut_end, r.cut_tokens)
        for r in decontamination_offsets(
            corpus, ref, "doc_id", "text", k=6, min_tokens=12
        ).collect()
    )
    assert got == [(0, 4, 15, 12)]


def test_bpe_symbols_after_merges_greedy_semantics(spark):
    """Pin the greedy BPE application against a sequential Python
    reference on adversarial words: merge chains ('aaaa' under (a,a)
    must give [aa][aa], 'aaa' gives [aa][a]), atomicity (a later merge
    must not match inside an earlier merged symbol), and merge
    priority order."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.text import bpe_symbols_after_merges

    merges = ["aa", "ab", "bc", "th", "he"]

    def ref_count(word: str) -> int:
        syms = list(word)
        for a, b in ((m[0], m[1]) for m in merges):
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    words = [
        "aaaa", "aaa", "aa", "a", "aab", "aabc", "abc", "babc",
        "the", "then", "thehe", "hehe", "tthhee", "xyz", "ababab",
        "aaab", "abab", "bcbc", "aabb", "cab",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string").withColumn(
        "ms", F.array(*[F.lit(m) for m in merges])
    )
    got = {
        r.word: r.n
        for r in df.select(
            "word",
            bpe_symbols_after_merges(F.col("word"), F.col("ms"), len(merges)).alias("n"),
        ).collect()
    }
    want = {w: ref_count(w) for w in words}
    assert got == want


def test_bpe_apply_merge_table_multisymbol_greedy_semantics(spark):
    """The GENERAL merge-table application (multi-symbol lefts/rights,
    the shape iterative training produces) pinned against a sequential
    Python reference on adversarial words: a round-2 merge pairing a
    round-1 merged symbol ('th'+'e'), chains through merged symbols
    ('es'+'s' on 'esss'), atomicity, and priority order."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.text import (
        bpe_apply_merge_table,
        bpe_symbol_count,
        bpe_word_to_sequence,
    )

    merges = [("t", "h"), ("th", "e"), ("e", "s"), ("es", "s"), ("the", "es")]

    def ref_count(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    words = [
        "the", "thes", "these", "theses", "esss", "essss", "tthe",
        "ethes", "thethe", "theess", "sss", "es", "e", "xyz",
        "thees", "esthes", "ssse", "thessss",
    ]
    df = (
        spark.createDataFrame([(w,) for w in words], "word string")
        .withColumn("ls", F.array(*[F.lit(a) for a, _ in merges]))
        .withColumn("rs", F.array(*[F.lit(b) for _, b in merges]))
    )
    got = {
        r.word: r.n
        for r in df.select(
            "word",
            bpe_symbol_count(
                bpe_apply_merge_table(
                    bpe_word_to_sequence(F.col("word")),
                    F.col("ls"),
                    F.col("rs"),
                    len(merges),
                )
            ).alias("n"),
        ).collect()
    }
    want = {w: ref_count(w) for w in words}
    assert got == want


def test_bpe_merge_depth_bound_enforced(spark):
    """Both the application chain and the training loop refuse depths
    past BPE_MAX_MERGES with guidance (expression-algebra cost model:
    O(n_merges * len) per row, n_merges-deep tree)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from parquet_to_sql_spark.operators.text import (
        BPE_MAX_MERGES,
        bpe_apply_merge_table,
        bpe_train_merges,
    )

    with _pytest.raises(ValueError, match="BPE_MAX_MERGES"):
        bpe_apply_merge_table(
            F.lit("x"), F.array(), F.array(), BPE_MAX_MERGES + 1
        )
    vocab = spark.createDataFrame([("ab", 1)], "word string, wc long")
    with _pytest.raises(ValueError, match="BPE_MAX_MERGES"):
        bpe_train_merges(vocab, BPE_MAX_MERGES + 1)


def test_bpe_train_merges_learns_known_table(spark):
    """Iterative training on a hand-computable weighted vocabulary:
    round 1 must fuse the globally most frequent character pair, and a
    later round must fuse a MERGED symbol with its neighbor — the
    multi-symbol capability single-round pair ranking lacks.  Counts
    verified by hand; ties impossible by construction."""
    from parquet_to_sql_spark.operators.text import (
        bpe_symbol_count,
        bpe_train_merges,
    )

    # 'abab' x10: pairs ab(x2 each => 20), ba(10); 'abc' x4: ab 4, bc 4
    # round 1: (a,b) mc=24 -> words become [ab,ab]x10, [ab,c]x4
    # round 2 pairs: (ab,ab)=10, (ab,c)=4 -> (ab,ab) mc=10
    # round 3 pairs: (ab,c)=4 -> (ab,c) mc=4; then nothing pairable
    vocab = spark.createDataFrame(
        [("abab", 10), ("abc", 4)], "word string, wc long"
    )
    merges, encoded = bpe_train_merges(vocab, 6)
    assert merges == [
        (1, "a", "b", 24),
        (2, "ab", "ab", 10),
        (3, "ab", "c", 4),
    ]  # early stop: fewer than 6 rounds available
    import pyspark.sql.functions as F

    final = {
        r.word: r.n
        for r in encoded.select(
            "word", bpe_symbol_count(F.col("_seq")).alias("n")
        ).collect()
    }
    assert final == {"abab": 1, "abc": 1}


def test_cap_per_domain_matches_bruteforce(spark):
    """The over-cap-only-shuffle quota screen vs a sequential
    reference on random skewed domain distributions: rows in under-cap
    domains pass untouched, over-cap domains keep exactly the first
    `cap` rows in order, deterministically — across cap values that
    put different domains on different sides of the split.  ~15% of
    rows carry a NULL domain (unparseable URLs): they are capped as
    their own group via the null-safe joins instead of bypassing the
    quota unbounded (ADVICE r07)."""
    import random

    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import cap_per_domain

    rng = random.Random(41)
    rows = []
    for i in range(400):
        if rng.random() < 0.15:
            dom = None  # the dirty-URL bucket
        else:
            dom = f"d{min(int(rng.expovariate(0.35)), 9)}.com"  # skewed
        rows.append((i, dom, rng.randrange(1000)))
    df = spark.createDataFrame(rows, "doc_id long, domain string, pri long")
    for cap in (1, 3, 7, 50, 1000):
        got = sorted(
            (
                (r.doc_id, r.domain)
                for r in cap_per_domain(
                    df, "domain", cap, [F.desc("pri"), F.asc("doc_id")]
                ).collect()
            ),
            key=lambda t: (t[0],),
        )
        want = []
        by_dom: dict[str | None, list[tuple[int, int]]] = {}
        for i, dom, pri in rows:
            by_dom.setdefault(dom, []).append((-pri, i))
        for dom, members in by_dom.items():
            for _, i in sorted(members)[:cap]:
                want.append((i, dom))
        assert got == sorted(want, key=lambda t: (t[0],)), f"cap={cap}"
        n_null = sum(1 for i, d in got if d is None)
        assert n_null == min(cap, len(by_dom.get(None, []))), f"cap={cap}"


def test_psl_registrable_domain_semantics(spark):
    """with_registrable_domain against the publicsuffix.org spec's
    own behavior classes, on the vendored real PSL (VERDICT r07 #4):
    multi-label ICANN eTLDs (co.uk, com.au), deep subdomains, plain
    TLDs, wildcard rules (*.ck), exception rules (!www.ck), private-
    section suffixes (github.io) with the icann_only contrast,
    unknown TLDs (default * rule), hosts that ARE public suffixes
    (NULL), IPv4 passthrough, and NULL hosts."""
    from parquet_to_sql_spark.operators.urls import with_registrable_domain

    cases = [
        # (host, expected_default, expected_icann_only)
        ("example.co.uk", "example.co.uk", "example.co.uk"),
        ("a.b.example.co.uk", "example.co.uk", "example.co.uk"),
        ("shop.example.com.au", "example.com.au", "example.com.au"),
        ("cdn.src3.com", "src3.com", "src3.com"),
        ("www.example-d7.com", "example-d7.com", "example-d7.com"),
        # wildcard *.ck: any.ck is a public suffix -> one more label
        ("foo.bar.ck", "foo.bar.ck", "foo.bar.ck"),
        ("bar.ck", None, None),  # IS a public suffix under *.ck
        # exception !www.ck: www.ck is registrable despite *.ck
        ("www.ck", "www.ck", "www.ck"),
        ("a.www.ck", "www.ck", "www.ck"),
        # exception !city.kawasaki.jp under *.kawasaki.jp
        ("city.kawasaki.jp", "city.kawasaki.jp", "city.kawasaki.jp"),
        ("x.city.kawasaki.jp", "city.kawasaki.jp", "city.kawasaki.jp"),
        ("other.kawasaki.jp", None, None),  # public suffix via *
        ("a.other.kawasaki.jp", "a.other.kawasaki.jp",
         "a.other.kawasaki.jp"),
        # private section: github.io is a suffix by default, a plain
        # registrable domain (io TLD) under icann_only
        ("user.github.io", "user.github.io", "github.io"),
        ("github.io", None, "github.io"),
        # unknown TLD -> default * rule
        ("foo.nonexistenttld", "foo.nonexistenttld", "foo.nonexistenttld"),
        ("nonexistenttld", None, None),
        ("com", None, None),  # a TLD is never registrable
        ("10.1.2.3", "10.1.2.3", "10.1.2.3"),  # IPv4 passthrough
        # IPv6 passthrough, bracketed and bare (ADVICE r08: parity
        # with IPv4 — an address is its own 'domain' for capping, not
        # a NULL landing in the dirty-URL quota bucket)
        ("[::1]", "[::1]", "[::1]"),
        ("::1", "::1", "::1"),
        ("[2001:db8::8a2e:370:7334]", "[2001:db8::8a2e:370:7334]",
         "[2001:db8::8a2e:370:7334]"),
        ("MiXeD.Example.CO.UK", "example.co.uk", "example.co.uk"),
        (None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _, _) in enumerate(cases)], "i long, host string"
    )
    got = {
        r.i: r.domain
        for r in with_registrable_domain(df, "host", "domain").collect()
    }
    for i, (h, want, _) in enumerate(cases):
        assert got[i] == want, f"{h}: got {got[i]!r}, want {want!r}"
    got_icann = {
        r.i: r.domain
        for r in with_registrable_domain(
            df, "host", "domain", icann_only=True
        ).collect()
    }
    for i, (h, _, want) in enumerate(cases):
        assert got_icann[i] == want, (
            f"icann_only {h}: got {got_icann[i]!r}, want {want!r}"
        )


def test_psl_lookup_agrees_with_naive_rule_on_simple_tlds(spark):
    """Property: for hosts under plain single-label public suffixes
    (com/org/net — the synthesized-fixture shapes every gate oracle
    reconstructs), the PSL lookup and the naive 2-label fallback are
    IDENTICAL — which is exactly why switching the URL-family queries
    to the PSL path leaves their DuckDB oracles value-exact."""
    import random

    from parquet_to_sql_spark.operators.urls import (
        registrable_domain,
        with_registrable_domain,
    )

    rng = random.Random(83)
    hosts = []
    for i in range(300):
        n = rng.randrange(1, 4)
        labs = [f"l{rng.randrange(20)}" for _ in range(n)]
        hosts.append((i, ".".join(labs + [rng.choice(["com", "org", "net"])])))
    df = spark.createDataFrame(hosts, "i long, host string")
    both = with_registrable_domain(df, "host", "psl_dom").withColumn(
        "naive_dom", registrable_domain(F.col("host"))
    )
    diff = both.filter(~F.col("psl_dom").eqNullSafe(F.col("naive_dom")))
    assert diff.count() == 0


def test_psl_fallback_lowercases_like_psl_path(spark, monkeypatch):
    """ADVICE r08: when the vendored PSL file is absent the fallback
    applies the naive rule to a LOWER-CASED host, so mixed-case hosts
    produce identically-cased domains on both paths (the PSL path
    always lowercases)."""
    from parquet_to_sql_spark.operators import urls

    monkeypatch.setattr(urls, "_psl_rules", lambda icann_only=False: None)
    df = spark.createDataFrame(
        [(1, "MiXeD.Example.COM"), (2, "WWW.GOOD.ORG"), (3, None)],
        "i long, host string",
    )
    got = {
        r.i: r.domain
        for r in urls.with_registrable_domain(df, "host", "domain").collect()
    }
    assert got == {1: "example.com", 2: "good.org", 3: None}


def test_psl_parse_fails_loudly_without_private_marker(tmp_path, monkeypatch):
    """ADVICE r08: the private section is detected via the
    '===BEGIN PRIVATE' comment marker; a refreshed snapshot without it
    must raise instead of silently classifying private rules as ICANN
    (which would change icann_only=True results with no error)."""
    import pytest

    from parquet_to_sql_spark.operators import urls

    bad = tmp_path / "psl.dat"
    bad.write_text("// no private marker here\ncom\norg\nco.uk\n")
    monkeypatch.setattr(urls, "_PSL_PATH", str(bad))
    urls._psl_rules.cache_clear()
    try:
        with pytest.raises(ValueError, match="BEGIN PRIVATE"):
            urls._psl_rules()
        # a missing file is still the documented soft fallback, not a raise
        monkeypatch.setattr(urls, "_PSL_PATH", str(tmp_path / "absent.dat"))
        urls._psl_rules.cache_clear()
        assert urls._psl_rules() is None
    finally:
        monkeypatch.undo()
        urls._psl_rules.cache_clear()
    # the real vendored file parses (and re-primes the cache)
    assert isinstance(urls._psl_rules(), dict)


def test_registrable_domain_and_blocklist(spark):
    """Host->registrable reduction (naive 2-label rule, documented)
    and the broadcast-anti blocklist, end to end over parse_url on
    literal URLs — including a single-label host (reduces to itself)
    and an unparseable URL (NULL host, dropped by neither helper)."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import (
        apply_domain_blocklist,
        registrable_domain,
        url_host,
    )

    urls = [
        (1, "https://www.good.com/a?x=1"),
        (2, "https://cdn.static.bad.net/b"),
        (3, "http://localhost/c"),
        (4, "https://Mixed.Case.GOOD.com/d"),
        (5, "not a url"),
    ]
    df = spark.createDataFrame(urls, "id long, url string").select(
        "id", registrable_domain(url_host(F.col("url"))).alias("domain")
    )
    got = {r.id: r.domain for r in df.collect()}
    assert got == {
        1: "good.com",
        2: "bad.net",
        3: "localhost",
        4: "good.com",
        5: None,
    }
    blocked = spark.createDataFrame([("bad.net",)], "domain string")
    kept = {r.id for r in apply_domain_blocklist(df, "domain", blocked).collect()}
    assert kept == {1, 3, 4, 5}


def test_canonical_url_normalization_cases(spark):
    """The URL canonicalizer's contract, case by case: tracking-param
    strip (utm_* prefix + click ids), query-param sort, fragment drop,
    case folding, trailing-slash strip on non-root paths only, root
    path preserved, bare-query '?' dropped, NULL for unparseable."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import canonical_url

    cases = [
        (1, "https://Ex.COM/a/b?utm_source=x&z=1&a=2#frag",
         "https://ex.com/a/b?a=2&z=1"),
        (2, "https://ex.com/a/b?a=2&z=1", "https://ex.com/a/b?a=2&z=1"),
        (3, "https://ex.com/a/b/", "https://ex.com/a/b"),
        (4, "https://ex.com/", "https://ex.com/"),
        (5, "https://ex.com/x?utm_campaign=c&fbclid=y&gclid=z", "https://ex.com/x"),
        (6, "HTTP://ex.com/x", "http://ex.com/x"),
        (7, "https://ex.com/x?ref=home&keep=1", "https://ex.com/x?keep=1"),
        (8, "totally not a url", None),
        (9, "https://ex.com", "https://ex.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "id long, url string")
    got = {
        r.id: r.c
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert got == {i: want for i, _, want in cases}


def test_incremental_line_dedup_two_batches_equal_from_scratch(spark):
    """VERDICT r08 #5 done-criterion: persist batch 1's line ledger as
    a BUCKETED parquet table, dedup batch 2 against the stored state
    only (base docs never touched), and prove the batch-2 verdicts
    equal a from-scratch sequential run over batch1+batch2 in
    (batch, doc_id, pos) order; the advanced ledger must equal the
    from-scratch distinct-line set."""
    import random

    from parquet_to_sql_spark.operators.dedup import (
        dedup_lines_against_ledger,
        line_ledger,
    )

    rng = random.Random(53)
    boiler = [f"shared boilerplate {i}" for i in range(6)]

    def make_batch(doc_ids):
        out = []
        for d in doc_ids:
            lines = []
            for _ in range(rng.randrange(1, 8)):
                r = rng.random()
                if r < 0.4:
                    lines.append(rng.choice(boiler))
                elif r < 0.5:
                    lines.append("")
                else:
                    lines.append(f"unique {d} {rng.randrange(50)}")
            out.append((d, "\n".join(lines)))
        return out

    batch1 = make_batch(range(0, 10))
    batch2 = make_batch(range(10, 22))

    # sequential from-scratch reference over batch1 then batch2
    seen: set[str] = set()
    for _, text in sorted(batch1):
        for line in text.split("\n"):
            if line.strip() != "":
                seen.add(line)
    ledger_after_b1 = set(seen)
    want = {}
    for d, text in sorted(batch2):
        kept = d_base = d_new = 0
        batch_seen_first: set[str] = set()
        for line in text.split("\n"):
            if line.strip() == "":
                kept += 1
            elif line in ledger_after_b1:
                d_base += 1
            elif line in batch_seen_first:
                d_new += 1
            else:
                batch_seen_first.add(line)
                kept += 1
        want[d] = (kept, d_base, d_new)
        seen |= batch_seen_first

    df1 = spark.createDataFrame(batch1, "doc_id long, text string")
    df2 = spark.createDataFrame(batch2, "doc_id long, text string")
    spark.sql("DROP TABLE IF EXISTS line_ledger_state")
    line_ledger(df1).write.bucketBy(8, "line_h").sortBy(
        "line_h"
    ).saveAsTable("line_ledger_state")
    try:
        stored = spark.table("line_ledger_state")
        verdicts, delta = dedup_lines_against_ledger(df2, stored)
        got = {}
        for r in verdicts.collect():
            k, b, n = got.get(r.doc_id, (0, 0, 0))
            got[r.doc_id] = (
                k + int(r.keep),
                b + int(r.dropped_base),
                n + int((not r.keep) and (not r.dropped_base)),
            )
        assert got == want
        # advancing the state: stored + delta == from-scratch ledger
        advanced = {
            r.line_h
            for r in stored.select("line_h").union(delta).distinct().collect()
        }
        import hashlib

        want_ledger = {
            hashlib.sha256(line.encode()).hexdigest() for line in seen
        }
        assert advanced == want_ledger
        # the stored side of the probe reads its buckets, not a shuffle:
        # the ledger table scan reports its bucket layout
        plan = verdicts._jdf.queryExecution().executedPlan().toString()
        assert "line_ledger_state" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS line_ledger_state")


def test_minhash_incremental_screen_with_stored_bucketed_index(spark):
    """The fuzzy twin of the line-ledger two-batch test: batch 1's
    MinHash band index materialized as a parquet table bucketed on
    (band, bucket), batch 2 screened reading ONLY the stored state —
    the candidate pairs must equal an in-plan probe of the same two
    batches, and appending batch 2's index rows must advance the state
    to exactly the from-scratch index over batch1+batch2."""
    import random

    from parquet_to_sql_spark.operators.dedup import (
        minhash_band_index,
        minhash_screen_against_index,
    )

    rng = random.Random(71)
    vocab = [f"tok{i}" for i in range(30)]

    def make(doc_ids, mutate_of=None):
        out = []
        for d in doc_ids:
            if mutate_of is not None and rng.random() < 0.5:
                # near-dup of an earlier doc: copy + one token swap
                src = rng.choice(mutate_of)
                toks = src[1].split()
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                out.append((d, " ".join(toks)))
            else:
                out.append(
                    (d, " ".join(rng.choice(vocab) for _ in range(20)))
                )
        return out

    batch1 = make(range(0, 15))
    batch2 = make(range(15, 30), mutate_of=batch1)
    df1 = spark.createDataFrame(batch1, "doc_id long, text string")
    df2 = spark.createDataFrame(batch2, "doc_id long, text string")

    spark.sql("DROP TABLE IF EXISTS mh_band_index")
    minhash_band_index(df1, "doc_id", "text", k=8, bands=4, n=3).write.bucketBy(
        8, "band", "bucket"
    ).sortBy("band", "bucket").saveAsTable("mh_band_index")
    try:
        stored = spark.table("mh_band_index")
        got = {
            (r.new_id, r.corpus_id)
            for r in minhash_screen_against_index(
                df2, stored, "doc_id", "text", k=8, bands=4, n=3
            ).collect()
        }
        inplan_idx = minhash_band_index(df1, "doc_id", "text", k=8, bands=4, n=3)
        want = {
            (r.new_id, r.corpus_id)
            for r in minhash_screen_against_index(
                df2, inplan_idx, "doc_id", "text", k=8, bands=4, n=3
            ).collect()
        }
        assert got == want
        assert len(got) > 0, "mutated batch-2 docs must collide with batch 1"
        # advancing the state: stored + batch2 index == from-scratch
        # index over the concatenated corpus
        b2_idx = minhash_band_index(df2, "doc_id", "text", k=8, bands=4, n=3)
        advanced = {
            tuple(r)
            for r in stored.unionByName(b2_idx).distinct().collect()
        }
        scratch = {
            tuple(r)
            for r in minhash_band_index(
                df1.unionByName(df2), "doc_id", "text", k=8, bands=4, n=3
            ).collect()
        }
        assert advanced == scratch
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_band_index")


def test_minhash_dedup_apply_closure_and_manifest(spark):
    """End-to-end apply on planted docs: a near-identical pair, a
    similarity CHAIN (a~b, b~c, a!~c at the verify threshold — the
    closure must still retire all three into one cluster), and a
    singleton.  Keep = min id per component; every doc appears once;
    n_chars matches the source text."""
    from parquet_to_sql_spark.operators.dedup import minhash_dedup_apply

    # chain: 20-word windows sliding by 4 over a 28-word vocabulary.
    # Adjacent windows share 16 words (3-gram shingle Jaccard 0.636,
    # verified); the endpoints share only 12 (Jaccard 0.385, below
    # tau AND not an LSH candidate under the repo's fixed hashes) —
    # so 10-11-12 only collapse through the closure.
    vocab = [f"w{i:02d}" for i in range(28)]
    base = " ".join(vocab[0:20])
    step1 = " ".join(vocab[4:24])
    step2 = " ".join(vocab[8:28])
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-identical to 1
            (10, base),
            (11, step1),
            (12, step2),
            (99, "totally unrelated words about something else entirely"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in minhash_dedup_apply(
            df, "doc_id", "text", k=8, bands=4, n=3, tau=0.5
        ).collect()
    }
    assert set(rows) == {1, 2, 10, 11, 12, 99}
    # pair collapses; 1 and 10 share identical text so they join too
    assert rows[1].component == rows[2].component == rows[10].component
    assert rows[1].is_keep and not rows[2].is_keep
    # the chain rides the closure into the same cluster as its head
    assert rows[11].component == rows[10].component
    assert rows[12].component == rows[10].component
    assert rows[1].cluster_size == 5
    # singleton keeps itself
    assert rows[99].component == 99 and rows[99].is_keep
    assert rows[99].cluster_size == 1
    texts = {r[0]: r[1] for r in df.collect()}
    for did, r in rows.items():
        assert r.n_chars == len(texts[did])


def test_ivf_incremental_assign_with_stored_cell_counts(spark):
    """The vector twin of the ledger/band-index two-batch tests: the
    coarse quantizer (centroid table) and batch 1's per-cell counts
    materialized as parquet state; batch 2 assigned reading ONLY the
    stored centroids; stored counts + the delta must equal the
    from-scratch per-cell counts over batch1+batch2."""
    import random

    from parquet_to_sql_spark.operators.simsearch import ivf_assign

    rng = random.Random(73)

    def vecs(ids):
        return [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in ids
        ]

    cent = spark.createDataFrame(
        vecs(range(4)), "vec_id long, embedding array<double>"
    )
    df1 = spark.createDataFrame(
        vecs(range(100, 140)), "vec_id long, embedding array<double>"
    )
    df2 = spark.createDataFrame(
        vecs(range(140, 170)), "vec_id long, embedding array<double>"
    )
    spark.sql("DROP TABLE IF EXISTS ivf_cell_counts")
    spark.sql("DROP TABLE IF EXISTS ivf_centroids")
    try:
        cent.write.saveAsTable("ivf_centroids")
        ivf_assign(df1, "vec_id", "embedding", cent).groupBy(
            "centroid_id"
        ).count().withColumnRenamed("count", "n").write.bucketBy(
            4, "centroid_id"
        ).saveAsTable("ivf_cell_counts")

        stored_cent = spark.table("ivf_centroids")
        stored = spark.table("ivf_cell_counts")
        delta = (
            ivf_assign(df2, "vec_id", "embedding", stored_cent)
            .groupBy("centroid_id")
            .count()
            .withColumnRenamed("count", "d")
        )
        advanced = {
            (r.centroid_id, r.total)
            for r in stored.join(delta, "centroid_id", "full_outer")
            .selectExpr(
                "centroid_id",
                "coalesce(n, 0) + coalesce(d, 0) AS total",
            )
            .collect()
        }
        scratch = {
            (r.centroid_id, r["count"])
            for r in ivf_assign(
                df1.unionByName(df2), "vec_id", "embedding", cent
            )
            .groupBy("centroid_id")
            .count()
            .collect()
        }
        assert advanced == scratch
        assert sum(t for _, t in advanced) == 70
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_cell_counts")
        spark.sql("DROP TABLE IF EXISTS ivf_centroids")


def test_bpe_hof_equals_chain_and_lowest_rank_reference(spark):
    """bpe_apply_merges_hof (merge table as DATA — VERDICT r09 #5):
    (1) bit-equal to the chain operator on the same table;
    (2) equal to the classic lowest-rank-first greedy loop (Sennrich
    reference) on VALID tables trained in-test — the generalized
    greedy-equivalence property: rank-ordered exhaustive passes ==
    repeated lowest-rank merge, because a rank-k side can only
    assemble after its constituent merges (< k) fired;
    (3) works past BPE_MAX_MERGES (300 merges — depth is data here,
    not codegen)."""
    import random

    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.text import (
        _BPE_RS,
        bpe_apply_merge_table,
        bpe_apply_merges_hof,
        bpe_pack_merge,
        bpe_symbol_count,
        bpe_word_to_sequence,
    )

    rng = random.Random(11)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randrange(1, 12)))
        for _ in range(60)
    ]

    # train a VALID multi-symbol table in pure Python (greedy pair
    # counting, ties (count desc, l, r) — same rule as bpe_train_merges)
    def train(corpus, n):
        seqs = [list(w) for w in corpus]
        table = []
        for _ in range(n):
            counts: dict = {}
            for s in seqs:
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + 1
            if not counts:
                break
            (a, b), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            table.append((a, b))
            for k, s in enumerate(seqs):
                out = []
                for sym in s:
                    if out and out[-1] == a and sym == b:
                        out[-1] = a + b
                    else:
                        out.append(sym)
                seqs[k] = out
        return table

    merges = train(words, 12)
    assert any(len(a) > 1 or len(b) > 1 for a, b in merges)  # multi-symbol

    def lowest_rank_first(word):
        rank = {m: i for i, m in enumerate(merges)}
        syms = list(word)
        while len(syms) > 1:
            pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
            best = min(
                (p for p in pairs if p in rank), key=rank.get, default=None
            )
            if best is None:
                break
            a, b = best
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    df = (
        spark.createDataFrame([(w,) for w in words], "word string")
        .withColumn("ls", F.array(*[F.lit(a) for a, _ in merges]))
        .withColumn("rs", F.array(*[F.lit(b) for _, b in merges]))
        .withColumn(
            "mt", F.array(*[F.lit(a + _BPE_RS + b) for a, b in merges])
        )
    )
    rows = df.select(
        "word",
        bpe_apply_merge_table(
            bpe_word_to_sequence(F.col("word")), F.col("ls"), F.col("rs"),
            len(merges),
        ).alias("chain"),
        bpe_apply_merges_hof(
            bpe_word_to_sequence(F.col("word")), F.col("mt")
        ).alias("hof"),
    ).collect()
    for r in rows:
        assert r.hof == r.chain, r.word
        n = (len(r.hof) - len(r.hof.replace("\x1f", ""))) // 2
        assert n == lowest_rank_first(r.word), r.word

    # (3) 300 merges — beyond the chain's codegen bound — run fine
    big = [("q", "q")] * 0 + [(chr(97 + i % 4), chr(97 + (i // 4) % 4))
                              for i in range(300)]
    df2 = spark.createDataFrame([("abcd",)], "word string").withColumn(
        "mt", F.array(*[F.lit(a + _BPE_RS + b) for a, b in big])
    )
    out = df2.select(
        bpe_symbol_count(
            bpe_apply_merges_hof(bpe_word_to_sequence(F.col("word")), F.col("mt"))
        ).alias("n")
    ).collect()[0].n
    assert out >= 1


def test_perceptron_train_batch_matches_python_reference(spark):
    """perceptron_train_batch against a dict-based sequential
    reference of the batch update rule (sum of y*x over misclassified
    docs per epoch, margin 0 counts as misclassified), including the
    partitioning-independence claim (same result at 1 and 7
    partitions)."""
    import random

    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.text import perceptron_train_batch

    rng = random.Random(5)
    buckets, epochs, n_docs = 8, 4, 30
    rows = []
    labels = []
    for d in range(n_docs):
        y = 1 if d % 3 else -1
        labels.append((d, y))
        for b in range(buckets):
            # positive docs lean on even buckets, negatives on odd
            lean = (b % 2 == 0) == (y == 1)
            c = rng.randrange(0, 4) + (2 if lean else 0)
            if c:
                rows.append((d, b, c))

    def ref():
        w = [0] * buckets
        bias = 0
        hist = []
        feats_by_doc: dict = {}
        for d, b, c in rows:
            feats_by_doc.setdefault(d, []).append((b, c))
        for epoch in range(1, epochs + 1):
            mis = []
            for d, y in labels:
                dot = sum(c * w[b] for b, c in feats_by_doc.get(d, []))
                if y * (dot + bias) <= 0:
                    mis.append((d, y))
            for d, y in mis:
                for b, c in feats_by_doc.get(d, []):
                    w[b] += y * c
                bias += y
            hist.append((epoch, len(mis)))
        return w, bias, hist

    want_w, want_b, want_h = ref()
    for parts in (1, 7):
        feats = spark.createDataFrame(
            rows, "doc_id long, bkt long, cnt long"
        ).repartition(parts)
        lab = spark.createDataFrame(labels, "doc_id long, y int")
        got_w, got_b, got_h = perceptron_train_batch(
            feats, lab, buckets, epochs
        )
        assert (got_w, got_b, got_h) == (want_w, want_b, want_h), parts


def test_robots_star_rules_group_binding(spark):
    """RFC 9309 parsing: rules bind to the nearest preceding
    User-agent line — other agents' groups are ignored, directive
    names are case-insensitive, empty Disallow (allow-all) and
    comments/blank lines contribute nothing, and values keep colons."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import robots_star_rules

    txt = (
        "# top comment\n"
        "User-agent: badbot\n"
        "Disallow: /\n"
        "\n"
        "USER-AGENT: *\n"
        "DISALLOW: /a\n"
        "allow: /a/b\n"
        "Disallow:\n"
        "disallow: /x:80/y\n"
        "\n"
        "User-agent: otherbot\n"
        "Allow: /never-mine\n"
    )
    df = spark.createDataFrame([(txt,)], "t string")
    rules = df.select(robots_star_rules(F.col("t")).alias("r")).collect()[0].r
    assert [(r.allow, r.prefix) for r in rules] == [
        (False, "/a"),
        (True, "/a/b"),
        (False, "/x:80/y"),
    ]
    # a file with no star group yields no rules (crawler default: allow)
    df2 = spark.createDataFrame(
        [("User-agent: badbot\nDisallow: /\n",)], "t string"
    )
    assert df2.select(robots_star_rules(F.col("t")).alias("r")).collect()[0].r == []


def test_robots_multi_ua_group_and_inline_comments(spark):
    """ADVICE r10 (urls.py): RFC 9309 grammar — CONSECUTIVE
    User-agent lines form ONE group sharing the rules that follow
    (so `*` then `googlebot` then rules ⇒ rules DO bind to `*`);
    blank lines between UA lines keep the run alive; inline `#`
    comments are stripped before parsing; multiple `*` groups in one
    file combine (§2.2.1); a UA line AFTER rules starts a fresh
    group."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import robots_star_rules

    txt = (
        "User-agent: *\n"
        "\n"                       # blank inside a UA run: run survives
        "User-agent: googlebot\n"  # consecutive UA -> same group
        "Disallow: /shared  # applies to * too\n"
        "\n"
        "User-agent: googlebot\n"  # rules above ENDED the run: new group
        "Disallow: /google-only\n"
        "\n"
        "User-agent: *   # star again: combines per 2.2.1\n"
        "Allow: /late\n"
    )
    df = spark.createDataFrame([(txt,)], "t string")
    rules = df.select(robots_star_rules(F.col("t")).alias("r")).collect()[0].r
    assert [(r.allow, r.prefix) for r in rules] == [
        (False, "/shared"),
        (True, "/late"),
    ]


def test_robots_decide_wildcard_and_anchor_matching(spark):
    """ADVICE r10 (urls.py medium): RFC 9309 §2.2.3 special
    characters — `*` matches any character sequence, trailing `$`
    anchors the end, regex metacharacters in patterns stay literal,
    and longest-PATTERN-text still picks the winner."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import robots_decide

    def decide(path, rule_tuples):
        rules = F.array(*[
            F.struct(F.lit(a).alias("allow"), F.lit(p).alias("prefix"))
            for a, p in rule_tuples
        ])
        row = (
            spark.range(1)
            .select(robots_decide(F.lit(path), rules).alias("d"))
            .collect()[0]
            .d
        )
        return row.allowed, row.winning_prefix

    # '*.php$' — matches any path ending in .php, nothing else
    assert decide("/x/page.php", [(False, "/*.php$")]) == (False, "/*.php$")
    assert decide("/x/page.php?a=1", [(False, "/*.php$")]) == (True, None)
    # unanchored wildcard matches mid-path
    assert decide("/a/tmp/file", [(False, "/a/*/file")]) == (False, "/a/*/file")
    assert decide("/a/file", [(False, "/a/*/file")]) == (True, None)
    # regex metachars in the pattern are LITERAL (the dot must not
    # match 'X')
    assert decide("/fileXphp", [(False, "/file.php")]) == (True, None)
    assert decide("/file.php", [(False, "/file.php")]) == (False, "/file.php")
    # longest pattern text wins: specific Allow under a wildcard ban
    assert decide(
        "/shop/cart.php",
        [(False, "/*.php$"), (True, "/shop/cart.php")],
    ) == (True, "/shop/cart.php")
    # '$' only anchors at the END of the pattern; elsewhere literal
    assert decide("/pa$th/x", [(False, "/pa$th")]) == (False, "/pa$th")
    # wildcard-free fast path unchanged: plain prefix semantics
    assert decide("/p1/sub", [(False, "/p1")]) == (False, "/p1")


def test_robots_sitemaps_and_crawl_delay(spark):
    """Sitemap records are HOST-WIDE (harvested from inside other
    agents' groups too, file order kept, URL colons survive the
    first-colon split, inline comments stripped); Crawl-delay binds
    to the `*` group only, parses fractional seconds exactly to ms,
    later star declarations override, unparseable values never
    clobber a good one, and a file with no star delay yields NULL."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import (
        robots_crawl_delay_ms,
        robots_sitemaps,
    )

    txt = (
        "Sitemap: https://h/top.xml\n"
        "User-agent: *\n"
        "Crawl-delay: 0.25  # a quarter second\n"
        "Disallow: /x\n"
        "\n"
        "User-agent: fastbot\n"
        "Crawl-delay: 9\n"
        "Sitemap: https://h/mid.xml  # still host-wide\n"
        "\n"
        "User-agent: *\n"
        "Crawl-delay: bogus\n"
        "Crawl-delay: 2\n"
    )
    df = spark.createDataFrame([(txt,)], "t string")
    row = df.select(
        robots_sitemaps(F.col("t")).alias("sm"),
        robots_crawl_delay_ms(F.col("t")).alias("ms"),
    ).collect()[0]
    assert row.sm == ["https://h/top.xml", "https://h/mid.xml"]
    assert row.ms == 2000  # last VALID star declaration wins
    df2 = spark.createDataFrame(
        [("User-agent: a\nCrawl-delay: 3\n",)], "t string"
    )
    row2 = df2.select(
        robots_sitemaps(F.col("t")).alias("sm"),
        robots_crawl_delay_ms(F.col("t")).alias("ms"),
    ).collect()[0]
    assert row2.sm == [] and row2.ms is None


def test_ledger_purge_equals_rebuild_from_kept(spark):
    """The delete-propagation invariant: purging the line ledger of
    hashes EXCLUSIVELY owned by deleted docs (anti-join on the
    purgeable set) yields exactly the ledger a from-scratch rebuild
    over the kept documents produces — shared hashes survive, nothing
    else does."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.dedup import line_ledger

    docs = spark.createDataFrame(
        [
            (1, "shared\nonly-in-1\ncommon"),
            (2, "shared\nonly-in-2"),
            (17, "shared\nonly-in-17\ncommon"),  # deleted
            (34, "only-in-34\nexclusive-pair"),  # deleted
            (51, "exclusive-pair"),              # deleted
        ],
        "doc_id long, text string",
    )
    deleted = docs.filter(F.col("doc_id") % 17 == 0)
    kept = docs.filter(F.col("doc_id") % 17 != 0)

    full = line_ledger(docs)
    kept_hashes = line_ledger(kept)
    purgeable = line_ledger(deleted).join(kept_hashes, "line_h", "left_anti")
    purged = full.join(purgeable, "line_h", "left_anti")

    got = sorted(r.line_h for r in purged.collect())
    want = sorted(r.line_h for r in kept_hashes.collect())
    assert got == want
    # and the purge actually removed something exclusive
    assert purgeable.count() >= 3  # only-in-17, only-in-34, exclusive-pair


def test_resolve_outlinks_rfc3986_semantics():
    """urljoin-based resolution: directory-relative vs root-relative,
    protocol-relative inherits the base scheme, fragments strip (a
    fragment-only href IS the page), non-http(s) schemes drop, order
    and duplicates preserved."""
    from parquet_to_sql_spark.operators.crawl import resolve_outlinks

    base = "https://a.example.com/dir/page.html"
    got = resolve_outlinks(base, [
        "/root", "sib.html", "../up.html", "//b.example.com/x",
        "http://c.example.com/y#frag", "#top", "mailto:x@y",
        "javascript:void(0)", "data:text/plain,hi", "sib.html",
    ])
    assert got == [
        "https://a.example.com/root",
        "https://a.example.com/dir/sib.html",
        "https://a.example.com/up.html",
        "https://b.example.com/x",          # inherits https
        "http://c.example.com/y",           # fragment stripped
        "https://a.example.com/dir/page.html",  # '#top' -> the page
        "https://a.example.com/dir/sib.html",   # duplicate preserved
    ]
