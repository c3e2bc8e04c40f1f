"""Operator-level tests: dedup families, similarity search, text
functions, multimodal plumbing — on small in-session DataFrames."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and again now"),    # near dup of 1
        (4, "completely different content about spark partition shuffle bucket salt"),
        (5, "el perro grande corre por la calle de la ciudad con los gatos"),
        (6, ""),
        (7, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from ocr_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs, "text", "doc_id")
    got = {r.doc_id: r.dup_count for r in out.collect()}
    assert got[1] == 2          # survivor of the 1/2 pair
    assert 2 not in got         # dropped duplicate
    assert got[3] == 1 and got[4] == 1


def test_minhash_lsh_finds_near_dups(docs):
    from ocr_spark.operators.dedup import lsh_candidate_pairs

    pairs = {(r.id_a, r.id_b) for r in
             lsh_candidate_pairs(docs, n_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs      # identical signatures always collide
    assert (1, 3) in pairs      # near dup shares most shingles
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_minhash_hash_modes_recall_parity(spark):
    """The three MinHash hash families (md5 legacy, md5_affine driver
    default, xxhash64 production) are different uniform families, so
    borderline collisions differ — but every family must recall the
    planted near-dup pairs (doc, doc+1000) whose Jaccard is ~0.9, and
    none may invent cross-content pairs.  This is the property gate
    that lets the non-SQL-reproducible xxhash64 mode ship without a
    DuckDB oracle."""
    import random

    from ocr_spark.operators.dedup import lsh_candidate_pairs

    rng = random.Random(3)
    words = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(40):
        toks = [words[rng.randrange(300)] for _ in range(30)]
        rows.append((i, " ".join(toks)))
        near = list(toks)
        near[rng.randrange(30)] = "CHANGED"
        rows.append((i + 1000, " ".join(near)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {(i, i + 1000) for i in range(40)}
    recalls = {}
    for mode in ("md5", "md5_affine", "xxhash64"):
        pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
            df, n_hashes=16, bands=8, shingle_k=3, hash_mode=mode).collect()}
        recalls[mode] = len(pairs & truth) / len(truth)
        # random 30-token docs over 300 words share almost no shingles:
        # any non-planted candidate is a real LSH collision, allow few
        assert len(pairs - truth) <= 2, (mode, pairs - truth)
    assert all(r >= 0.9 for r in recalls.values()), recalls
    assert max(recalls.values()) - min(recalls.values()) <= 0.1, recalls


def test_ngram_jaccard_values(docs):
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    out = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.5 <= out[(1, 3)] < 1.0
    assert (1, 4) not in out


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_df drops shingles shared by more than max_df docs from
    intersection counting (the standalone-join guard against quadratic
    boilerplate blowup); pairs related ONLY through hot shingles
    disappear, recall is biased down never up."""
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, f"common phrase here unique{i} tail{i} end{i}")
            for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.1).count()
    capped = ngram_jaccard_pairs(df, threshold=0.1, max_df=4).count()
    assert uncapped == 10      # every pair shares 'common phrase here'
    assert capped == 0         # the one hot shingle (df=5) is excluded


def test_simhash_properties(spark, docs):
    from ocr_spark.operators.dedup import simhash, simhash_near_dup_pairs

    sh = {r.doc_id: r.sh for r in
          docs.select("doc_id", simhash("text").alias("sh")).collect()}
    assert sh[1] == sh[2]                       # identical text, identical hash
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14                        # near dup closer than unrelated
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_dup_pairs(docs, max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs


def test_simhash_blocked_equals_bruteforce(spark):
    """Recall contract: blocked pairs == driver-side brute-force hamming
    pairs, for thresholds beyond the old 4x16 pigeonhole guarantee
    (round-1 bug: a hamming-7 pair with no shared 16-bit chunk was
    missed at max_hamming=8)."""
    import random

    from ocr_spark.operators.dedup import simhash, simhash_near_dup_pairs

    rng = random.Random(11)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    base_docs = [" ".join(rng.choice(words) for _ in range(30))
                 for _ in range(40)]
    rows = [(i, d) for i, d in enumerate(base_docs)]
    # perturbed copies land at small-but->3 hamming distances
    for i, d in enumerate(base_docs[:20]):
        toks = d.split()
        toks[rng.randrange(len(toks))] = rng.choice(words)
        toks[rng.randrange(len(toks))] = rng.choice(words)
        rows.append((1000 + i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.sh for r in
          df.select("doc_id", simhash("text").alias("sh")).collect()}
    ids = sorted(sh)
    for h in (3, 5, 8):
        brute = {
            (a, b)
            for ai, a in enumerate(ids) for b in ids[ai + 1:]
            if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= h
        }
        blocked = {(r.id_a, r.id_b) for r in
                   simhash_near_dup_pairs(df, max_hamming=h).collect()}
        assert blocked == brute, f"h={h}: {blocked ^ brute}"


def test_bucket_caps_and_overflow_reporting(spark):
    """A degenerate bucket (1k near-identical docs) completes under the
    cap with the dropped bucket REPORTED, instead of collecting a huge
    array and exploding ~500k pairs in one task."""
    from ocr_spark.operators.dedup import (
        lsh_bucket_overflow, lsh_candidate_pairs,
        simhash_bucket_overflow, simhash_near_dup_pairs,
    )

    rows = [(i, "identical boilerplate text repeated across the whole site "
                "footer terms privacy contact")
            for i in range(1000)]
    rows.append((2000, "something entirely different about spark shuffles"))
    rows.append((2001, "something entirely different about spark shuffled"))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    pairs = lsh_candidate_pairs(df, max_bucket_size=50).collect()
    assert all(r.id_a >= 2000 or r.id_b >= 2000 or False for r in pairs) or \
        not any(r.id_a < 1000 and r.id_b < 1000 for r in pairs)
    over = lsh_bucket_overflow(df, max_bucket_size=50).collect()
    assert over and all(r.n_ids == 1000 for r in over)

    spairs = simhash_near_dup_pairs(df, max_hamming=3,
                                    max_bucket_size=50).collect()
    assert not any(r.id_a < 1000 and r.id_b < 1000 for r in spairs)
    sover = simhash_bucket_overflow(df, max_hamming=3,
                                    max_bucket_size=50).collect()
    assert sover and max(r.n_ids for r in sover) == 1000


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 100+i = slightly perturbed copy of i (high cosine)
    for i in range(5):
        rows.append((100 + i, [float(x) for x in base[i] + 0.01 * rng.standard_normal(16)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    from ocr_spark.operators.similarity import cosine_topk

    q = vectors.filter(F.col("vec_id") < 5)
    out = cosine_topk(q, vectors, k=3).collect()
    top1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    for i in range(5):
        assert top1[i] == 100 + i      # the perturbed copy is nearest
    assert all(1 <= r.rank <= 3 for r in out)


def test_ann_lsh_recall_of_near_copies(vectors):
    from ocr_spark.operators.similarity import ann_topk_lsh

    q = vectors.filter(F.col("vec_id") < 5)
    out = ann_topk_lsh(q, vectors, dim=16, k=3, n_planes=4).collect()
    top1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    # near-identical vectors share every hyperplane sign -> same bucket
    hits = sum(1 for i in range(5) if top1.get(i) == 100 + i)
    assert hits == 5


def test_cosine_near_dup_pairs(vectors):
    from ocr_spark.operators.similarity import cosine_near_dup_pairs

    pairs = {(r.id_a, r.id_b) for r in
             cosine_near_dup_pairs(vectors, dim=16, threshold=0.98,
                                   n_planes=4).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs


def test_ann_multi_probe_recovers_cross_boundary_neighbor(spark):
    """A near-duplicate pair straddling ONE hyperplane lands in buckets
    differing by one bit: single-probe ANN misses it silently (the
    round-2 recall cliff), multi_probe=1 flips the query's
    smallest-|margin| plane and finds it.  The pair below was derived
    against the seed-42 hyperplanes at dim=8/n_planes=4: buckets differ
    only in bit 0, plane 0 is the query's smallest margin, cos=0.9999."""
    from ocr_spark.operators.similarity import ann_topk_lsh

    a = [1.2832, 0.5337, 0.3519, 0.7675, 2.0939, -0.7509, -0.5775, -0.8934]
    b = [1.2753, 0.5359, 0.3414, 0.7431, 2.0977, -0.7471, -0.6028, -0.9057]
    corpus = spark.createDataFrame(
        [(1, b), (2, [1.0, -1.0, 2.0, 0.5, -0.3, 1.1, 0.2, -2.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, a)], "vec_id long, embedding array<float>")

    single = {r.neighbor_id for r in
              ann_topk_lsh(queries, corpus, dim=8, k=5, n_planes=4,
                           multi_probe=0).collect()}
    multi = {(r.neighbor_id, r.rank) for r in
             ann_topk_lsh(queries, corpus, dim=8, k=5, n_planes=4,
                          multi_probe=1).collect()}
    assert 1 not in single                  # the recall cliff
    assert (1, 1) in multi                  # recovered, and it's rank 1


def test_similarity_pair_stage_is_arrow_gemm(spark):
    """The pair-scoring stage must be an Arrow pandas kernel
    (FlatMap[Co]GroupsInPandas), not per-pair interpreted HOF folds;
    candidate generation must never be a cartesian product."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    plan_nd = entry_mod.q_embed_near_dup_lsh(spark, sf)._jdf \
        .queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan_nd
    assert "CartesianProduct" not in plan_nd
    plan_ann = entry_mod.q_ann_topk(spark, sf)._jdf \
        .queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan_ann
    assert "CartesianProduct" not in plan_ann


def test_text_stats_edges(spark):
    from ocr_spark.functions.text import with_text_stats

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, ""), (3, "    "), (4, "!!! ###")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in with_text_stats(df).collect()}
    assert got[1].n_tokens == 6
    assert got[1].stopword_ratio == round(2 / 6, 4)
    assert got[2].n_tokens == 0 and got[3].n_tokens == 0
    assert got[4].non_alnum_ratio == 1.0
    assert got[1].quality_score > got[4].quality_score


def test_lang_id(spark):
    from ocr_spark.functions.text import with_lang_id

    df = spark.createDataFrame(
        [(1, "the cat and the dog went to the park"),
         (2, "el perro y la gata de la casa"),
         (3, "der hund und die katze ist nicht da"),
         (4, "zzz qqq www")],
        "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_lang_id_cjk_scripts(spark):
    from ocr_spark.functions.text import with_lang_id

    df = spark.createDataFrame(
        [(1, "한국어 문서 본문 내용 추출"),          # hangul -> ko
         (2, "这是一个中文文档内容提取测试句子"),      # han -> zh
         (3, "これは日本語のテキストです"),           # kana (+han) -> ja
         (4, "the english text mentions 中 once"),   # 1 CJK char < threshold
         (5, "the cat and the dog went to the park"),
         (6, "هذه جملة اختبار باللغة العربية"),      # arabic script -> ar
         (7, "это предложение на русском языке"),    # cyrillic -> ru
         (8, "यह हिंदी में एक वाक्य है")],            # devanagari -> hi
        "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "ko", 2: "zh", 3: "ja", 4: "en", 5: "en",
                   6: "ar", 7: "ru", 8: "hi"}


def test_lang_id_shared_script_subclassification(spark):
    """Within-script discrimination by orthography-specific letters:
    uk (і/ї/є/ґ) vs ru inside Cyrillic; ur (ٹ/ڈ/ڑ/ں/ے, checked first)
    vs fa (پ/چ/ژ/گ) vs ar inside Arabic script.  Plain ru/ar texts
    (no discriminator letters) must keep their labels."""
    from ocr_spark.functions.text import with_lang_id

    df = spark.createDataFrame(
        [(1, "це тестове речення українською мовою із ї"),   # uk
         (2, "это предложение на русском языке"),            # ru (no uk chars)
         (3, "این جمله برای آزمایش پردازش متن فارسی است"),   # fa (پ)
         (4, "یہ اردو متن نکالنے کے لیے ایک جملہ ہے"),       # ur (ے)
         (5, "هذه جملة اختبار باللغة العربية")],              # ar (neither)
        "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "uk", 2: "ru", 3: "fa", 4: "ur", 5: "ar"}


def test_lang_id_marker_subclassification(spark):
    """Locales whose ALPHABET doesn't separate them: bg vs ru inside
    Cyrillic (after the decisive ы/э/ё test), mr vs hi inside
    Devanagari (letters never decide) — discriminated by disjoint
    marker-word sets; defaults (ru, hi) hold when no marker fires."""
    from ocr_spark.functions.text import with_lang_id

    df = spark.createDataFrame(
        [(1, "това е тестово изречение със думи към проверката"),  # bg
         (2, "не знаю что сказать как его зовут но только"),  # ru markers,
                                                              # no ы/э/ё
         (3, "это предложение на русском языке"),      # ru via э/ы
         (4, "хм саламандра протокол"),                # Cyrillic, no
                                                       # markers -> ru
         (5, "हे वाक्य आहे आणि मराठी मध्ये होते"),          # mr
         (6, "यह हिंदी वाक्य है और सही में"),               # hi
         (7, "देवनागरी अक्षर मात्र")],                     # no markers -> hi
        "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "bg", 2: "ru", 3: "ru", 4: "ru",
                   5: "mr", 6: "hi", 7: "hi"}


def test_token_count_cjk(spark):
    from ocr_spark.functions.text import token_count, token_count_cjk

    df = spark.createDataFrame(
        [(1, "hello world"),                 # no CJK: equals token_count
         (2, "中文句子"),                     # 4 CJK chars -> 4 tokens
         (3, "mixed 中文 and english"),       # 3 ws tokens + 2 CJK chars
         (4, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.a, r.b) for r in df.select(
        "doc_id", token_count("text").alias("a"),
        token_count_cjk("text").alias("b")).collect()}
    assert got[1] == (2, 2)
    assert got[2][1] == 4
    assert got[3][1] == 5
    assert got[4] == (0, 0)


def test_fingerprint_stability(spark):
    from ocr_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"),
         (3, "a b c d e f g h i k")],
        "doc_id long, text string")
    got = {r.doc_id: r.fp for r in
           df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert len(got[1]) == 4 * 32   # 4 md5 hex digests


def test_multimodal_stub_and_fake(spark):
    from ocr_spark.operators.multimodal import decode_media, sample_frames

    df = spark.createDataFrame(
        [("m1", bytearray(b"payload-one")), ("m2", bytearray(b"payload-two"))],
        "media_id string, payload binary")
    stub = decode_media(df).collect()
    assert all(r.status == "processing_error" for r in stub)
    assert all("NotImplementedError" in r.error_msg for r in stub)

    fake = {r.media_id: r for r in decode_media(df, fake=True).collect()}
    assert fake["m1"].status == "ok"
    assert len(fake["m1"].feature) == 16
    again = {r.media_id: r for r in decode_media(df, fake=True).collect()}
    assert fake["m1"].feature == again["m1"].feature  # deterministic

    frames = sample_frames(df, every_n=5, fake=True).collect()
    assert all(r.status == "ok" for r in frames)
    assert len(frames) > 0


# --------------------------------------------------------------------------
# IVF ANN
# --------------------------------------------------------------------------

def _ivf_cents():
    from ocr_spark.operators.similarity import ivf_centroids

    return ivf_centroids(dim=16, n_centroids=8, seed=7)


def test_wav_decode_recovers_closed_form_features():
    """The stdlib WAV decoder must parse a spec-conformant RIFF PCM
    file and reproduce the exact integer-accumulator mean/RMS/peak of
    the closed-form sawtooth, for mono AND stereo, at any rate."""
    import math

    from ocr_spark.data.synth import build_wav
    from ocr_spark.operators.multimodal import decode_wav_samples

    for channels in (1, 2):
        for rate in (8000, 44100):
            n = 1234
            d = decode_wav_samples(
                build_wav(n, rate=rate, base=37, step=11,
                          channels=channels))
            s = [((37 + 11 * i) % 4096) - 2048 for i in range(n)]
            assert d["kind"] == "audio"
            assert d["n_frames"] == n
            assert d["duration_ms"] == n * 1000 // rate
            mean, rms, peak = d["feature"]
            assert mean == sum(s) / n          # channel-duplicated:
            assert rms == math.sqrt(           # same per-sample stats
                sum(x * x for x in s) / n)
            assert peak == max(abs(x) for x in s)


def test_wav_decode_rejections_are_deterministic():
    """Truncated data chunks, non-PCM fmt, and junk bytes raise the
    exact messages the oracle re-derives; extra chunks and odd-length
    (word-padded) chunks before data are walked over correctly."""
    import struct

    import pytest as _pytest

    from ocr_spark.data.synth import build_wav
    from ocr_spark.operators.multimodal import decode_wav_samples

    wav = build_wav(100, base=3, step=5)
    with _pytest.raises(ValueError, match="want 200 bytes, got 199"):
        decode_wav_samples(build_wav(100, truncate=1))
    with _pytest.raises(ValueError, match="RIFF/WAVE signature"):
        decode_wav_samples(b"OggS" + wav[4:])
    # inject a LIST chunk with an odd body length between WAVE and fmt:
    # the walker must apply RIFF word alignment to find fmt/data
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    padded = wav[:12] + extra + wav[12:]
    d = decode_wav_samples(
        padded[:4] + struct.pack("<I", len(padded) - 8) + padded[8:])
    assert d["n_frames"] == 100
    # 8-bit / float fmt -> unsupported, as an exact message
    bad = bytearray(build_wav(10))
    fmt_off = bad.find(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_off, 3)     # IEEE-float fmt tag
    with _pytest.raises(ValueError, match="16-bit integer PCM only"):
        decode_wav_samples(bytes(bad))


def test_png_decode_all_filters_and_color_types():
    """The stdlib PNG decoder must invert every encoder filter type
    (None/Sub/Up/Average/Paeth) for every supported color type and
    recover the exact closed-form pixel ramp — filter choice must
    never change the decoded means."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import decode_png_pixels

    for color, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for f in range(5):
            d = decode_png_pixels(
                build_png(13, 7, base=5, color_type=color, filter_type=f))
            n = 13 * 7
            want = [sum((5 + ch * i + c) % 256 for i in range(n)) / n
                    for c in range(ch)]
            assert (d["width"], d["height"]) == (13, 7)
            assert d["feature"] == want, (color, f)


def test_png_decode_multi_idat_and_rejections():
    import struct
    import zlib

    import pytest as _pytest

    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import decode_png_pixels

    png = build_png(9, 9, base=1, filter_type=4)

    def chunk(ct, data):
        return (struct.pack(">I", len(data)) + ct + data
                + struct.pack(">I", zlib.crc32(ct + data)))

    # split the IDAT stream across two chunks: decoders must concatenate
    out, pos = png[:8], 8
    while pos + 8 <= len(png):
        ln = struct.unpack(">I", png[pos:pos + 4])[0]
        ct, data = png[pos + 4:pos + 8], png[pos + 8:pos + 8 + ln]
        if ct == b"IDAT":
            mid = len(data) // 2
            out += chunk(b"IDAT", data[:mid]) + chunk(b"IDAT", data[mid:])
        else:
            out += chunk(ct, data)
        pos += 12 + ln
    assert decode_png_pixels(out) == decode_png_pixels(png)
    # explicit rejections (error ROWS via decode_media, never wrong pixels)
    bad_depth = bytearray(build_png(4, 4))
    bad_depth[24] = 16
    with _pytest.raises(ValueError, match="unsupported"):
        decode_png_pixels(bytes(bad_depth))
    with _pytest.raises(ValueError, match="signature"):
        decode_png_pixels(b"GIF89a whatever")


def test_png_decode_media_error_rows(spark):
    """decode_media with the real PNG decoder turns undecodable
    payloads into processing_error rows, not exceptions."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import decode_media, decode_png_pixels

    rows = [("a", build_png(6, 4, base=9)), ("b", b"not a png at all")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r for r in
           decode_media(df, decode_fn=decode_png_pixels).collect()}
    assert got["a"].status == "ok" and got["a"].width == 6
    n = 6 * 4
    assert got["a"].feature[0] == sum((9 + 3 * i) % 256 for i in range(n)) / n
    assert got["b"].status == "processing_error"
    assert "ValueError" in got["b"].error_msg


def test_ivf_assign_expression_equals_gemm(vectors):
    """The JVM-expression assignment (oracle path) and the Arrow GEMM
    assignment (production path for large quantizers) must agree on
    every row — same rounding, same lowest-centroid-id tie-break."""
    from ocr_spark.operators.similarity import ivf_assign, ivf_assign_gemm

    cents = _ivf_cents()
    expr = {r.vec_id: r.ivf_list for r in ivf_assign(vectors, cents).collect()}
    gemm = {r.vec_id: r.ivf_list
            for r in ivf_assign_gemm(vectors, cents).collect()}
    assert expr == gemm
    assert set(expr.values()) <= set(range(8))


def test_ann_ivf_full_probe_equals_exact(vectors):
    """nprobe = n_centroids degrades gracefully to an exact scan: every
    corpus vector is in some probed list, so the result must equal the
    brute-force cosine_topk ranks."""
    from ocr_spark.operators.similarity import ann_topk_ivf, cosine_topk

    q = vectors.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id, r.rank)
             for r in cosine_topk(q, vectors, k=3).collect()}
    full = {(r.query_id, r.neighbor_id, r.rank)
            for r in ann_topk_ivf(q, vectors, _ivf_cents(), k=3,
                                  nprobe=8).collect()}
    assert full == exact


def test_ann_ivf_recall_of_near_copies(vectors):
    from ocr_spark.operators.similarity import ann_topk_ivf

    q = vectors.filter(F.col("vec_id") < 5)
    out = ann_topk_ivf(q, vectors, _ivf_cents(), k=3, nprobe=2).collect()
    top1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    # a 0.01-perturbed copy's argmax list is its original's list or the
    # runner-up, so nprobe=2 must recover every planted near-copy
    hits = sum(1 for i in range(5) if top1.get(i) == 100 + i)
    assert hits == 5


def test_kmeans_refine_deterministic_and_improves(vectors):
    """Lloyd refinement must be run-to-run deterministic (id-ordered
    sample) and must not worsen the quantizer: mean best-centroid
    affinity of unit vectors >= the seed quantizer's."""
    import numpy as np
    from ocr_spark.operators.similarity import ivf_centroids, kmeans_refine

    seed_c = ivf_centroids(dim=16, n_centroids=8, seed=7)
    r1 = kmeans_refine(vectors, seed_c, iters=4)
    r2 = kmeans_refine(vectors, seed_c, iters=4)
    assert r1 == r2

    rows = vectors.orderBy("vec_id").collect()
    x = np.stack([np.asarray(r.embedding, np.float64) for r in rows])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)

    def affinity(c):
        return float(np.mean(np.max(x @ np.array(c).T, axis=1)))

    assert affinity(r1) >= affinity(seed_c) - 1e-9


def test_ann_ivf_pair_stage_is_arrow_gemm(spark):
    import __spark_entry__ as entry_mod

    plan = entry_mod.q_ann_topk_ivf(spark, "/root/testdata/sf0.001")._jdf \
        .queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_substr_dedup_shared_and_within_doc_spans(spark):
    """ExactSubstr semantics: tokens covered by a corpus-duplicated
    k-gram drop (across docs AND within one doc), unique context
    survives, sub-k shared runs are kept (the documented conservative
    direction), short/empty docs pass through."""
    from ocr_spark.operators.dedup import drop_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "intro alpha beta gamma delta epsilon fin one"),
            (2, "other alpha beta gamma delta epsilon end two"),
            (3, "x y z x y z x y z"),       # within-doc repeats
            (4, "alpha beta unique words here"),  # shares only a 2-gram
            (5, "tiny"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           drop_duplicated_spans(docs, k=3, min_count=2).collect()}
    assert len(out) == 6                        # no doc silently lost
    assert out[1].text == "intro fin one"
    assert out[2].text == "other end two"
    assert out[1].n_tokens_dropped == 5         # the shared 5-token run
    assert out[3].text == "" and out[3].n_tokens_kept == 0
    # 'alpha beta' is shared but shorter than k -> kept in doc 4
    assert out[4].text == "alpha beta unique words here"
    assert out[5].text == "tiny" and out[5].n_tokens_dropped == 0
    assert out[6].text == ""


def test_substr_dedup_overlap_counts_positions_once(spark):
    """Overlapping duplicated windows union their covered positions —
    dropped-token counts never double-count a position."""
    from ocr_spark.operators.dedup import drop_duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e unique1"), (2, "a b c d e unique2")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           drop_duplicated_spans(docs, k=3, min_count=2).collect()}
    # three overlapping dup 3-grams (abc, bcd, cde) cover 5 positions
    assert out[1].n_tokens_dropped == 5 and out[1].text == "unique1"


def test_substr_dedup_gram_key_modes_agree(spark):
    """Production xxhash64 gram keys and raw-string keys produce
    byte-identical output (collision-free at test scale)."""
    from ocr_spark.operators.dedup import drop_duplicated_spans

    docs = spark.createDataFrame(
        [(i, f"shared run of five tokens plus unique tail {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, drop_duplicated_spans(
        docs, k=5, min_count=2, gram_key="xxhash64").collect()))
    b = sorted(map(tuple, drop_duplicated_spans(
        docs, k=5, min_count=2, gram_key="raw").collect()))
    c = sorted(map(tuple, drop_duplicated_spans(
        docs, k=5, min_count=2, broadcast_dups=True).collect()))
    assert a == b == c
    # the 8-token shared prefix drops; only the distinct tail survives
    assert all(r[2] == 1 for r in a)


def test_line_dedup(spark):
    """CCNet-style line dedup: lines in >=2 distinct docs drop (even
    with differing surrounding whitespace), short lines never drop,
    order is preserved, and an all-banned doc survives as ''."""
    from ocr_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "SHARED BOILERPLATE LINE HERE\nunique body one two three\nshort"),
            (2, "  SHARED BOILERPLATE LINE HERE\nanother unique body line\nshort"),
            (3, "totally unique document text"),
            (4, "SHARED BOILERPLATE LINE HERE"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           line_dedup(docs, min_dup_docs=2, min_line_chars=10).collect()}
    assert len(out) == 4                       # no doc silently lost
    assert out[1].text == "unique body one two three\nshort"
    # 'short' is in 2 docs but under min_line_chars -> kept
    assert out[2].text == "another unique body line\nshort"
    assert out[3].text == "totally unique document text"
    assert out[4].text == "" and out[4].n_lines_dropped == 1
    assert out[1].n_lines_kept == 2 and out[1].n_lines_dropped == 1


def test_fix_mojibake_repairs_and_is_idempotent(spark):
    """The cp1252 repair chain fixes every repairable sequence, leaves
    ASCII and already-clean unicode alone, is idempotent, and does NOT
    touch sequences containing cp1252-undefined bytes (U+009D: the
    right-double-quote mojibake that cannot round-trip)."""
    from ocr_spark.functions.text import MOJIBAKE_PAIRS, fix_mojibake

    broken = " ".join(m for m, _ in MOJIBAKE_PAIRS)
    fixed = " ".join(f for _, f in MOJIBAKE_PAIRS)
    unrepairable = "aâ€b"   # â € U+009D
    rows = [(1, broken), (2, fixed), (3, "plain ascii text"),
            (4, unrepairable)]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r.i: r.t for r in
           df.select("i", fix_mojibake("text").alias("t")).collect()}
    assert got[1] == fixed
    assert got[2] == fixed          # idempotent
    assert got[3] == "plain ascii text"
    assert got[4] == unrepairable


def test_bloom_member_no_false_negatives(spark):
    from ocr_spark.operators.dedup import bloom_build, bloom_member

    vals = spark.createDataFrame(
        [(f"value number {i}",) for i in range(500)], "v string")
    bloom = bloom_build(vals, "v", m_bits=1 << 13)
    got = bloom_member(vals, "v", bloom, m_bits=1 << 13).collect()
    assert all(r.bloom_hit for r in got)         # never a false negative


def test_bloom_line_dedup_incremental_snapshot(spark):
    """Lines present in the prior snapshot are dropped from the new
    one; fresh lines survive; all-seen docs come back as '' rows; the
    result is invariant under repartitioning."""
    from ocr_spark.operators.dedup import bloom_line_dedup

    prior = spark.createDataFrame(
        [(100, "common cookie banner accept text\nprior unique line alpha")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "common cookie banner accept text\nfresh line beta"),
         (2, "prior unique line alpha"),
         (3, "entirely new document line gamma\nanother new line delta")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in bloom_line_dedup(new, prior).collect()}
    assert out[1].text == "fresh line beta"
    assert out[1].n_lines_dropped == 1 and out[1].n_lines_kept == 1
    assert out[2].text == "" and out[2].n_lines_kept == 0
    assert out[3].text == ("entirely new document line gamma\n"
                           "another new line delta")
    assert out[3].n_lines_dropped == 0
    re_out = {r.doc_id: (r.text, r.n_lines_kept, r.n_lines_dropped)
              for r in bloom_line_dedup(new.repartition(5),
                                        prior.repartition(3)).collect()}
    assert re_out == {k: (v.text, v.n_lines_kept, v.n_lines_dropped)
                      for k, v in out.items()}


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """A term shared by every doc ranks below a doc-unique term with
    the same tf; rank is dense 1..k; ties break by term text; result
    is partitioning-invariant."""
    from ocr_spark.functions.text import tfidf_topk

    rows = [(1, "shared unique1 aaa bbb"),
            (2, "shared unique2 aaa"),
            (3, "shared unique3"),
            (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [r for r in tfidf_topk(df, k=2).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    assert 4 not in by_doc                    # token-less doc: no rows
    # doc1: bbb/unique1 tie on score (both df=1, tf=1) -> term asc
    assert [t[1] for t in sorted(by_doc[1])] == ["bbb", "unique1"]
    # doc2: unique (df=1) outranks aaa (df=2); doc3: unique beats shared
    assert [t[1] for t in sorted(by_doc[2])] == ["unique2", "aaa"]
    assert [t[1] for t in sorted(by_doc[3])] == ["unique3", "shared"]
    for d in (1, 2, 3):
        assert sorted(t[0] for t in by_doc[d]) == [1, 2]
    re_out = sorted((r.doc_id, r.rank, r.term, r.tfidf)
                    for r in tfidf_topk(df.repartition(7), k=2).collect())
    assert re_out == sorted((r.doc_id, r.rank, r.term, r.tfidf)
                            for r in out)


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# --------------------------------------------------------------------------

def test_semantic_dedup_drops_one_of_each_near_copy_pair(vectors):
    """Each perturbed copy (i, 100+i) is an epsilon-ball of size 2 in
    some cluster: exactly one member survives, and it is the one with
    the LOWER centroid similarity (the paper's keep rule)."""
    from ocr_spark.operators.similarity import semantic_dedup

    out = {r.vec_id: r for r in
           semantic_dedup(vectors, _ivf_cents(), threshold=0.98).collect()}
    assert len(out) == 45                      # one row per input vector
    dropped = {v for v, r in out.items() if not r.kept}
    assert dropped and all(
        (i in dropped) != (100 + i in dropped) for i in range(5))
    for i in range(5):
        loser = i if i in dropped else 100 + i
        winner = 100 + i if i in dropped else i
        assert out[loser].ivf_list == out[winner].ivf_list
        assert (out[winner].cent_sim, winner) < (out[loser].cent_sim, loser)


def test_semantic_dedup_identical_clique_keeps_min_id(spark):
    """An exact-duplicate clique has tied cent_sims: the id tie-break
    must keep exactly the lowest id, independent of partitioning."""
    from ocr_spark.operators.similarity import semantic_dedup

    v = [1.0, 2.0, -0.5, 0.25] * 4
    other = [-2.0, 1.0, 0.5, -1.0] * 4
    df = spark.createDataFrame(
        [(7, v), (3, v), (11, v), (20, other)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    out = {r.vec_id: r.kept for r in
           semantic_dedup(df, _ivf_cents(), threshold=0.99).collect()}
    assert out == {3: True, 7: False, 11: False, 20: True}


def test_semantic_dedup_zero_vector_is_kept(spark):
    """A zero embedding has no cosine to anything (NaN): it must never
    match, never be dropped, and never poison its cluster."""
    from ocr_spark.operators.similarity import semantic_dedup

    v = [0.5, -1.5, 2.0, 1.0] * 4
    df = spark.createDataFrame(
        [(1, v), (2, v), (9, [0.0] * 16)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.kept for r in
           semantic_dedup(df, _ivf_cents(), threshold=0.9).collect()}
    assert out[9] is True and out[1] is True and out[2] is False


def test_cluster_representatives_argmax_and_ties(spark):
    """Per-cluster keep-best: max score wins, score ties keep the
    lowest key; singletons are their own representative."""
    from ocr_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3),     # cluster 1: scores 5,9,9
         (4, 4, 1),                           # singleton
         (7, 7, 2), (8, 7, 2)],               # cluster 7: tie 2,2
        "doc_id long, cluster_id long, cluster_size long")
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1), (7, 2), (8, 2)],
        "doc_id long, score long")
    out = {r.cluster_id: (r.rep_doc_id, r.rep_score, r.cluster_size)
           for r in cluster_representatives(clusters, scores).collect()}
    assert out == {1: (2, 9, 3), 4: (4, 1, 1), 7: (7, 2, 2)}


def test_pq_encode_matches_numpy_reference(vectors):
    """Codes must equal the brute-force numpy argmin per subspace
    (round-6 squared L2, ties lowest id) and compress near-copies to
    the same codes."""
    import numpy as np

    from ocr_spark.operators.similarity import (_round_half_away,
                                                pq_codebooks, pq_encode)

    books = pq_codebooks(dim=16, m=4, k=8, seed=13)
    out = {r.vec_id: tuple(r[f"code_{j}"] for j in range(4))
           for r in pq_encode(vectors, books).collect()}
    rows = {r.vec_id: np.asarray(r.embedding, np.float64)
            for r in vectors.collect()}
    for vid, v in rows.items():
        want = []
        for j, book in enumerate(books):
            piece = v[j * 4:(j + 1) * 4]
            d = _round_half_away(
                ((np.array(book) - piece) ** 2).sum(axis=1), 6)
            want.append(int(np.argmin(d)))   # first min = lowest cid
        assert out[vid] == tuple(want), vid
    # near-copies (100+i is i + 1% noise) should mostly share codes
    same = sum(out[i] == out[100 + i] for i in range(5))
    assert same >= 3


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: Jaccard is small (the
    union is dominated by the long doc) but containment short->long is
    exactly 1.0 — the quotation case the asymmetric join exists for."""
    from ocr_spark.operators.dedup import (ngram_containment_pairs,
                                           ngram_jaccard_pairs)

    short = "alpha beta gamma delta epsilon"
    long = short + (" zeta eta theta iota kappa lamda mu nu xi omicron"
                    " pi rho sigma tau upsilon phi chi psi omega extra")
    df = spark.createDataFrame([(1, long), (2, short)],
                               "doc_id long, text string")
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0
    out = {(r.id_a, r.id_b): (r.contain_a, r.contain_b)
           for r in ngram_containment_pairs(df, threshold=0.6).collect()}
    assert (1, 2) in out
    ca, cb = out[(1, 2)]
    assert cb == 1.0            # all of the short doc's shingles in long
    assert ca < 0.6             # the long doc is NOT contained in short


def test_ngram_containment_hot_shingle_guard_keeps_denominators(spark):
    """max_df drops hot shingles from the INTERSECTION only; set-size
    denominators stay full, so containment under the guard biases down
    (recall direction documented), never up."""
    from ocr_spark.operators.dedup import ngram_containment_pairs

    rows = [(i, f"common phrase here unique{i} tail{i} end{i}")
            for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # every pair related only through the one hot shingle (df=5)
    assert ngram_containment_pairs(df, threshold=0.1).count() == 10
    assert ngram_containment_pairs(df, threshold=0.1, max_df=4).count() == 0


def test_ann_topk_ivfpq_matches_numpy_reference(spark):
    """The distributed IVF-PQ/ADC search equals a straight-line numpy
    reimplementation of the same algorithm (assignment, codes, LUT,
    gather-sum, rank) on every (query, rank) — determinism across the
    cogroup/Arrow boundary, not just plausible neighbors."""
    import numpy as np

    from ocr_spark.operators.similarity import (_round_half_away,
                                                ann_topk_ivfpq,
                                                ivf_centroids, pq_codebooks)

    rng = np.random.RandomState(3)
    dim, n, m, sub = 16, 60, 4, 4
    vecs = rng.standard_normal((n, dim))
    cents = ivf_centroids(dim=dim, n_centroids=4, seed=7)
    books = pq_codebooks(dim=dim, m=m, k=8, seed=13)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    got = {(r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
           for r in ann_topk_ivfpq(df.filter("vec_id < 5"), df,
                                   cents, books, k=3, nprobe=2).collect()}

    C = np.array(cents)
    aff = _round_half_away(vecs @ C.T, 6)
    assign = np.argmax(aff, axis=1)  # first max = lowest cid, as engine
    order = np.argsort(-aff, axis=1, kind="stable")
    codes = np.zeros((n, m), int)
    luts = {}
    for j, book in enumerate(books):
        B = np.array(book)
        d = np.zeros((n, len(B)))
        for i in range(sub):
            dd = vecs[:, j * sub + i, None] - B[None, :, i]
            d = d + dd * dd
        codes[:, j] = np.argmin(_round_half_away(d, 6), axis=1)
        luts[j] = _round_half_away(d, 6)
    exp = {}
    for q in range(5):
        probe = set(order[q, :2])
        cand = [x for x in range(n) if assign[x] in probe and x != q]
        adc = {x: _round_half_away(
            sum(luts[j][q, codes[x, j]] for j in range(m)), 6)
            for x in cand}
        top = sorted(cand, key=lambda x: (adc[x], x))[:3]
        for r, x in enumerate(top, 1):
            exp[(q, r)] = (x, adc[x])
    assert got == exp


def test_ann_topk_ivfpq_recall_on_clustered_data(spark):
    """On well-separated clusters, PQ quantization error must not
    destroy retrieval: the ADC top-1 lands in the query's own cluster
    for >= 90% of queries (the accuracy half of the contract; the
    oracle checks determinism, this checks usefulness)."""
    import numpy as np

    from ocr_spark.operators.similarity import (ann_topk_ivfpq,
                                                ivf_centroids, pq_codebooks)

    rng = np.random.RandomState(11)
    dim, per = 16, 12
    centers = rng.standard_normal((4, dim)) * 4.0
    rows, labels = [], {}
    for c in range(4):
        for i in range(per):
            vid = c * per + i
            v = centers[c] + rng.standard_normal(dim) * 0.05
            rows.append((vid, [float(x) for x in v]))
            labels[vid] = c
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(dim=dim, n_centroids=4, seed=7)
    books = pq_codebooks(dim=dim, m=4, k=8, seed=13)
    qs = df.filter(F.col("vec_id") % per == 0)
    top1 = (ann_topk_ivfpq(qs, df, cents, books, k=1, nprobe=4)
            .filter("rank = 1").collect())
    hits = sum(labels[r.neighbor_id] == labels[r.query_id] for r in top1)
    assert hits >= 0.9 * len(top1), (hits, len(top1))


def test_lsh_cross_pairs_new_vs_base_only(spark):
    """Cross-corpus candidates pair the snapshot against the base and
    nothing else: planted twins are found, within-side near-dups are
    NOT emitted (that's lsh_candidate_pairs' job), and a snapshot doc
    with no base twin yields nothing."""
    import random

    from ocr_spark.operators.dedup import lsh_cross_pairs

    rng = random.Random(5)
    words = [f"w{i}" for i in range(300)]
    base_rows, new_rows = [], []
    for i in range(30):
        toks = [rng.choice(words) for _ in range(30)]
        base_rows.append((i, " ".join(toks)))
        if i < 20:                      # 20 near-dup twins in the snapshot
            near = list(toks)
            near[7] = "CHANGED"
            new_rows.append((1000 + i, " ".join(near)))
    # two within-snapshot near-dups that must NOT pair with each other
    toks = [rng.choice(words) for _ in range(30)]
    new_rows.append((2001, " ".join(toks)))
    new_rows.append((2002, " ".join(toks[:-1] + ["X"])))
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    pairs = {(r.new_id, r.base_id) for r in lsh_cross_pairs(
        new, base, n_hashes=16, bands=8, shingle_k=3,
        hash_mode="md5_affine").collect()}
    truth = {(1000 + i, i) for i in range(20)}
    assert len(pairs & truth) >= 18          # >= 90% recall on twins
    assert all(n >= 1000 and b < 1000 for n, b in pairs)
    assert (2001, 2002) not in pairs and (2002, 2001) not in pairs


def _mk_exif_jpeg(orientation=5, dt="2024:01:02 12:03:00", gps=False,
                  little=True, extra_seg=True):
    import struct

    e = "<" if little else ">"
    bo = b"II" if little else b"MM"
    n = 3 if gps else 2
    dtb = dt.encode() + b"\x00"
    dt_off = 8 + 2 + n * 12 + 4
    ents = (struct.pack(e + "HHI", 0x0112, 3, 1)
            + struct.pack(e + "H", orientation) + b"\x00\x00")
    ents += struct.pack(e + "HHI", 0x0132, 2, 20) + struct.pack(e + "I", dt_off)
    if gps:
        ents += (struct.pack(e + "HHI", 0x8825, 4, 1)
                 + struct.pack(e + "I", dt_off + 20))
    tiff = (bo + struct.pack(e + "HI", 42, 8) + struct.pack(e + "H", n)
            + ents + struct.pack(e + "I", 0) + dtb)
    if gps:
        tiff += struct.pack(e + "H", 0) + struct.pack(e + "I", 0)
    exif = b"Exif\x00\x00" + tiff
    pre = b""
    if extra_seg:  # a COM segment BEFORE APP1: the walker must skip it
        pre = b"\xff\xfe" + struct.pack(">H", 5) + b"abc"
    return (b"\xff\xd8" + pre + b"\xff\xe1"
            + struct.pack(">H", len(exif) + 2) + exif + b"\xff\xd9")


def test_parse_exif_both_endians_and_segment_walk():
    from ocr_spark.operators.multimodal import parse_exif

    for little in (True, False):
        out = parse_exif(_mk_exif_jpeg(orientation=6, gps=True,
                                       little=little))
        assert out["byte_order"] == ("II" if little else "MM")
        assert out["orientation"] == 6
        assert out["datetime"] == "2024:01:02 12:03:00"
        assert out["has_gps"] is True
        assert out["n_ifd0_entries"] == 3


def test_parse_exif_no_gps_and_errors():
    import pytest as _pytest

    from ocr_spark.operators.multimodal import parse_exif

    out = parse_exif(_mk_exif_jpeg(gps=False, extra_seg=False))
    assert out["has_gps"] is False and out["n_ifd0_entries"] == 2
    with _pytest.raises(ValueError, match="no SOI"):
        parse_exif(b"PNG...")
    with _pytest.raises(ValueError, match="truncated segment"):
        parse_exif(_mk_exif_jpeg(extra_seg=False)[:10])
    with _pytest.raises(ValueError, match="no Exif APP1"):
        parse_exif(b"\xff\xd8\xff\xd9")


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """The CDC property: prepend one token and the chunking
    re-synchronizes at the next content boundary — most chunk digests
    survive, whereas fixed-size chunking would shift every one."""
    import random

    from ocr_spark.operators.dedup import cdc_chunks

    rng = random.Random(9)
    toks = [f"w{rng.randrange(500)}" for _ in range(400)]
    orig = " ".join(toks)
    shifted = "INSERTED " + orig
    df = spark.createDataFrame([(1, orig), (2, shifted)],
                               "doc_id long, text string")
    out = cdc_chunks(df, divisor=16).collect()
    a = {r.chunk_digest for r in out if r.doc_id == 1}
    b = {r.chunk_digest for r in out if r.doc_id == 2}
    assert len(a) > 10                       # ~400/16 chunks
    # everything after the first boundary re-syncs: >= 80% shared
    assert len(a & b) / len(a) >= 0.8, (len(a), len(a & b))
    # determinism + coverage: token counts sum back to the doc lengths
    n1 = sum(r.n_tokens for r in out if r.doc_id == 1)
    n2 = sum(r.n_tokens for r in out if r.doc_id == 2)
    assert (n1, n2) == (400, 401)


def test_pq_encode_gemm_matches_expression_form(spark):
    """The Arrow/GEMM PQ encoder emits bit-identical codes to the
    expression-fold form (same in-order accumulation, same round-6
    first-argmin tie-break) — the swap is a constant-factor choice,
    never a semantic one."""
    import numpy as np

    from ocr_spark.operators.similarity import (pq_codebooks, pq_encode,
                                                pq_encode_gemm)

    rng = np.random.RandomState(21)
    vecs = rng.standard_normal((120, 32))
    # plant near-tie rows: vectors exactly between two centroids
    books = pq_codebooks(dim=32, m=4, k=8, seed=13)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>")
    a = sorted(tuple(r) for r in pq_encode(df, books).collect())
    b = sorted(tuple(r) for r in pq_encode_gemm(df, books).collect())
    assert a == b


def test_ann_topk_ivfpq_arrow_encoder_identical(spark):
    import numpy as np

    from ocr_spark.operators.similarity import (ann_topk_ivfpq,
                                                ivf_centroids, pq_codebooks)

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((40, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents = ivf_centroids(dim=16, n_centroids=4, seed=7)
    books = pq_codebooks(dim=16, m=4, k=8, seed=13)
    kw = dict(k=3, nprobe=2)
    a = sorted(tuple(r) for r in ann_topk_ivfpq(
        df.filter("vec_id < 4"), df, cents, books, **kw).collect())
    b = sorted(tuple(r) for r in ann_topk_ivfpq(
        df.filter("vec_id < 4"), df, cents, books,
        encoder="arrow", **kw).collect())
    assert a == b


def test_edit_verify_distance_similarity_and_caps(spark):
    from ocr_spark.operators.dedup import edit_verify

    docs = spark.createDataFrame(
        [(1, "kitten goes here"), (2, "sitting goes here"),
         (3, ""), (4, ""), (5, "A" * 300 + "tail-A"),
         (6, "A" * 300 + "tail-B")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r
           for r in edit_verify(pairs, docs, max_chars=256).collect()}
    # classic kitten/sitting = 3 edits over the longer prefix
    r = out[(1, 2)]
    assert r["edit_dist"] == 3
    assert r["edit_sim"] == round(1 - 3 / len("sitting goes here"), 6)
    # two empty prefixes compare identical
    assert out[(3, 4)]["edit_dist"] == 0 and out[(3, 4)]["edit_sim"] == 1.0
    # the cap: differences beyond max_chars are invisible by contract
    assert out[(5, 6)]["edit_dist"] == 0 and out[(5, 6)]["edit_sim"] == 1.0


def test_jl_project_preserves_distances_approximately(spark):
    import math
    import random

    from ocr_spark.operators.similarity import jl_project

    rnd = random.Random(3)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["proj"]
           for r in jl_project(df, dim=64, out_dim=16, seed=7).collect()}
    assert all(len(p) == 16 for p in out.values())

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    orig = {i: v for i, v in vecs}
    # JL guarantee (statistical): projected/original distance ratios
    # concentrate around the matrix's expected scale; spread is bounded
    ratios = []
    for i in range(0, 40, 2):
        a, b = orig[i], orig[i + 1]
        if d(a, b) > 0:
            ratios.append(d(out[i], out[i + 1]) / d(a, b))
    mean = sum(ratios) / len(ratios)
    assert all(0.5 * mean < r < 1.6 * mean for r in ratios), ratios
    # determinism: same seed -> identical projection
    out2 = {r["vec_id"]: r["proj"]
            for r in jl_project(df, dim=64, out_dim=16, seed=7).collect()}
    assert out == out2


# -- bitext mining -------------------------------------------------------------

def test_bitext_mine_finds_planted_pairs(spark):
    """Planted parallel pairs (near-identical vectors across sides)
    must come back as mutual bests with high margin; unrelated
    orthogonal-ish vectors must not pair."""
    import numpy as np

    from ocr_spark.operators.similarity import bitext_mine

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16).astype("float64")
    rows = []
    # src ids 0..5; tgt ids 100..105: tgt i = src i + tiny noise for
    # i < 3 (planted translations); tgt 103..105 independent
    for i in range(6):
        rows.append((i, [float(v) for v in base[i]]))
    for i in range(3):
        rows.append((100 + i,
                     [float(v) for v in base[i] + 0.01 * rng.randn(16)]))
    for i in range(3, 6):
        rows.append((100 + i, [float(v) for v in rng.randn(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter(df.vec_id < 100)
    tgt = df.filter(df.vec_id >= 100)
    got = {(r["src_id"], r["tgt_id"]): r["margin"]
           for r in bitext_mine(src, tgt, k=3, threshold=1.05).collect()}
    for i in range(3):
        assert (i, 100 + i) in got, got
        assert got[(i, 100 + i)] > 1.05
    # a mutual-best pair always exists even between random sides, but
    # every planted translation must outscore every accidental pair
    accidental = [m for (s, t), m in got.items() if t - 100 != s]
    planted = [got[(i, 100 + i)] for i in range(3)]
    assert min(planted) > max(accidental, default=0.0)


def test_bitext_mine_lsh_kernel_finds_planted_pairs(spark):
    """kernel='lsh' (the no-broadcast harvest shape) must still surface
    the planted near-identical pairs: a vector and its tiny-noise copy
    share the sign pattern on every hyperplane they don't straddle, so
    the planted translations land in the same probe bucket and win the
    same mutual-best contest as the exact kernel."""
    import numpy as np

    from ocr_spark.operators.similarity import bitext_mine

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16).astype("float64")
    rows = []
    for i in range(6):
        rows.append((i, [float(v) for v in base[i]]))
    for i in range(3):
        rows.append((100 + i,
                     [float(v) for v in base[i] + 0.01 * rng.randn(16)]))
    for i in range(3, 6):
        rows.append((100 + i, [float(v) for v in rng.randn(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter(df.vec_id < 100)
    tgt = df.filter(df.vec_id >= 100)
    got = {(r["src_id"], r["tgt_id"]): r["margin"]
           for r in bitext_mine(src, tgt, k=3, threshold=1.05,
                                kernel="lsh", dim=16, n_planes=4,
                                multi_probe=1).collect()}
    found = sum((i, 100 + i) in got for i in range(3))
    assert found >= 2, got  # ANN recall: most planted pairs survive
    for (s, t), m in got.items():
        if t - 100 == s:
            assert m > 1.05


def test_bitext_mine_kernel_validation(spark):
    """Unknown kernel and ivf-without-centroids fail loudly at plan
    time, not silently mid-job."""
    import pytest as _pytest

    from ocr_spark.operators.similarity import bitext_mine

    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                               "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="unknown bitext kernel"):
        bitext_mine(df, df, kernel="hnsw")
    with _pytest.raises(ValueError, match="requires centroids"):
        bitext_mine(df, df, kernel="ivf")


def test_bitext_mine_mutual_best_is_required(spark):
    """A one-directional best (x's best is y, but y's best is x') must
    not be emitted."""
    from ocr_spark.operators.similarity import bitext_mine

    # tgt 100 = [1, 0]; src 0 = [1, 0.1] (best of tgt100 too? no:
    # src 1 = [1, 0.01] is closer to tgt100) -> src0's best is tgt100
    # but tgt100's best is src1 => only (1, 100) survives
    rows = [(0, [1.0, 0.1]), (1, [1.0, 0.01]), (100, [1.0, 0.0]),
            (101, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter(df.vec_id < 100)
    tgt = df.filter(df.vec_id >= 100)
    pairs = {(r["src_id"], r["tgt_id"])
             for r in bitext_mine(src, tgt, k=2, threshold=0.0).collect()}
    assert (0, 100) not in pairs
    assert (1, 100) in pairs


def test_ahash_exact_bits_and_hex():
    """aHash bits follow the exact integer rule 64*block_sum > total:
    a half-dark / half-light image hashes to exactly the light half's
    bits, for every PNG filter type and for the RGB luma path."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import ahash_from_png

    # top half 10, bottom half 200 -> bottom 32 blocks above the mean
    def px(i, c):
        return 10 if i // 16 < 8 else 200

    for f in range(5):
        r = ahash_from_png(build_png(16, 16, color_type=0,
                                     filter_type=f, pixel_fn=px))
        assert r["ahash_bits"] == "0" * 32 + "1" * 32, f
        assert r["ahash_hex"] == "00000000ffffffff"

    # RGB: integer BT.601 luma ((299r+587g+114b)//1000) decides bits
    def rgb(i, c):
        return (10, 250, 10)[c] if i % 16 < 8 else (250, 10, 250)[c]

    r = ahash_from_png(build_png(16, 16, color_type=2, pixel_fn=rgb))
    # left luma = (299*10+587*250+114*10)//1000 = 150; right = 77+2+28=107
    assert r["ahash_bits"] == ("1" * 4 + "0" * 4) * 8


def test_ahash_rejects_non_divisible_dims():
    import pytest as _pytest

    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import ahash_from_png

    with _pytest.raises(ValueError, match="divisible"):
        ahash_from_png(build_png(13, 16, color_type=0))


def test_ahash_near_dup_matches_bruteforce(spark):
    """Pigeonhole blocking (4x16-bit chunks) must find EXACTLY the
    pairs within Hamming distance 3 — compare against the all-pairs
    answer computed from the same hashes."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import (ahash_from_png,
                                                ahash_near_dup, image_ahash)

    def make(d):
        def px(i, c, d=d):
            b = ((i // 16) // 2) * 8 + (i % 16) // 2
            v = ((d // 3) * 89 + b * b * 7) % 256
            # plant perturbations of increasing size within each triple
            return 255 - v if d % 3 and b < (d % 3) * 2 else v

        return build_png(16, 16, color_type=0, pixel_fn=px)

    rows = [(str(i), make(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    hashes = image_ahash(df)
    got = {(r["media_a"], r["media_b"], r["hamming"])
           for r in ahash_near_dup(hashes, max_hamming=3).collect()}

    bits = {r["media_id"]: r["ahash_bits"] for r in hashes.collect()}
    ids = sorted(bits)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(bits[a], bits[b]))
            if h <= 3:
                want.add((min(a, b), max(a, b), h))
    assert got == want
    assert want, "test must exercise a non-empty pair set"


def test_ahash_near_dup_rejects_unsound_threshold():
    import pytest as _pytest

    from ocr_spark.operators.multimodal import ahash_near_dup

    with _pytest.raises(ValueError, match="pigeonhole"):
        ahash_near_dup(None, max_hamming=4)


def test_image_ahash_error_rows(spark):
    """Undecodable payloads become processing_error ROWS (same taxonomy
    as decode_media), never exceptions."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import image_ahash

    rows = [("ok", build_png(16, 16, color_type=0)),
            ("badsize", build_png(13, 7)),
            ("notpng", b"GIF89a nope")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in image_ahash(df).collect()}
    assert out["ok"]["status"] == "ok" and len(out["ok"]["ahash_bits"]) == 64
    assert out["badsize"]["status"] == "processing_error"
    assert "divisible" in out["badsize"]["error_msg"]
    assert out["notpng"]["status"] == "processing_error"
    assert out["notpng"]["ahash_hex"] is None


def test_dhash_gradient_bits_and_brightness_invariance():
    """dHash bits encode left<right comparisons; a global brightness
    shift (every pixel +40) must leave the hash UNCHANGED — the
    property aHash does not have."""
    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import ahash_from_png, dhash_from_png

    def px(i, c):
        return ((i % 18) // 2) * 13 % 200          # increases along x

    def px_bright(i, c):
        return px(i, c) + 40

    a = dhash_from_png(build_png(18, 16, color_type=0, pixel_fn=px))
    b = dhash_from_png(build_png(18, 16, color_type=0, pixel_fn=px_bright))
    assert a["ahash_bits"] == b["ahash_bits"]
    # monotone-increasing rows -> every comparison bit is 1... except
    # where the %200 wrap makes a drop: columns are 0,13,26,...,104 per
    # 2px block -> strictly increasing, all 64 bits set
    assert a["ahash_hex"] == "ffffffffffffffff"

    # error row path: wrong divisibility
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        dhash_from_png(build_png(16, 16, color_type=0))


def test_audio_segments_runs_and_edges(spark):
    """Segmentation edges: trailing partial frame judged by its own
    sample count, all-quiet file -> one 'silent' row, truncated data
    chunk -> processing_error row, stereo energy sums both channels."""
    import struct

    from ocr_spark.data.synth import build_wav
    from ocr_spark.operators.multimodal import audio_segments

    loud = lambda i: 2000
    quiet = lambda i: 1
    rows = [
        # 450 mono samples: frames [0,200) [200,400) loud, partial
        # [400,450) loud too (2000^2*50 > 10000*50) -> ONE segment of
        # 3 frames covering 450 samples -> end_ms = 450*1000//8000 = 56
        ("partial", build_wav(450, rate=8000, sample_fn=loud)),
        ("allquiet", build_wav(600, rate=8000, sample_fn=quiet)),
        ("broken", build_wav(400, truncate=3)),
        # stereo: per-channel frames = 300; quiet mono value 100 has
        # energy 100^2*400(samples incl both ch)=4e6 > 10000*400? equal
        # -> strict > fails at exactly threshold; use 101 to pass
        ("stereo", build_wav(300, rate=8000, channels=2,
                             sample_fn=lambda i: 101)),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {}
    for r in audio_segments(df, frame_samples=200, threshold=10000).collect():
        out.setdefault(r["media_id"], []).append(r)

    p = out["partial"]
    assert len(p) == 1 and p[0]["n_frames"] == 3
    assert p[0]["start_ms"] == 0 and p[0]["end_ms"] == 450 * 1000 // 8000
    assert p[0]["energy"] == 2000 * 2000 * 450

    a = out["allquiet"]
    assert len(a) == 1 and a[0]["status"] == "silent"
    assert a[0]["seg_idx"] is None

    b = out["broken"]
    assert len(b) == 1 and b[0]["status"] == "processing_error"
    assert "truncated" in b[0]["error_msg"]

    s = out["stereo"]
    # 101^2 * 400 = 4,080,400 > 10000*400 -> loud; 2 frames, one run
    assert len(s) == 1 and s[0]["n_frames"] == 2
    assert s[0]["energy"] == 101 * 101 * 600   # all samples, both channels


def test_png_palette_decode_and_rejections():
    """Palette (color type 3) PNGs expand indices through PLTE to RGB
    — exact across every filter type; missing PLTE and out-of-range
    indices raise (error ROWS via decode_media)."""
    import pytest as _pytest

    from ocr_spark.data.synth import build_png
    from ocr_spark.operators.multimodal import decode_png_pixels

    for f in range(5):
        d = decode_png_pixels(build_png(12, 6, base=9, color_type=3,
                                        filter_type=f))
        n = 72
        want = [sum(((9 + i) % 256 * m) % 256 for i in range(n)) / n
                for m in (37, 59, 83)]
        assert d["feature"] == want, f

    with _pytest.raises(ValueError, match="out of range"):
        decode_png_pixels(build_png(4, 4, color_type=3,
                                    pixel_fn=lambda i, c: 200,
                                    palette_size=100))
    # strip the PLTE chunk -> 'without a valid PLTE'
    png = build_png(4, 4, color_type=3)
    import struct
    import zlib

    out, pos = png[:8], 8
    while pos + 8 <= len(png):
        ln = struct.unpack(">I", png[pos:pos + 4])[0]
        ct, data = png[pos + 4:pos + 8], png[pos + 8:pos + 8 + ln]
        if ct != b"PLTE":
            out += (struct.pack(">I", ln) + ct + data
                    + struct.pack(">I", zlib.crc32(ct + data)))
        pos += 12 + ln
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png_pixels(out)


def test_gif_structure_parse_and_error_rows(spark):
    """Real GIF block walk: frame count / summed delays / loop count /
    GCT flag recovered exactly; malformed payloads become parse_error
    ROWS."""
    from ocr_spark.data.synth import build_gif
    from ocr_spark.operators.multimodal import (gif_structure,
                                                parse_gif_structure)

    r = parse_gif_structure(build_gif(40, 30, n_frames=5, loop=3))
    assert (r["n_frames"], r["total_ms"], r["loop_count"]) == (5, 300, 3)
    # GIF87a (no extensions possible, but signature accepted)
    legacy = b"GIF87a" + build_gif(8, 8, n_frames=1, loop=None,
                                   gct=False)[6:]
    assert parse_gif_structure(legacy)["n_frames"] == 1

    rows = [("anim", build_gif(16, 16, n_frames=3, loop=0)),
            ("trunc", build_gif(16, 16, n_frames=2, truncate=4)),
            ("notgif", b"\x89PNG\r\n\x1a\n junk")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in gif_structure(df).collect()}
    assert out["anim"]["status"] == "ok" and out["anim"]["n_frames"] == 3
    assert out["anim"]["loop_count"] == 0          # 0 = loop forever
    assert out["trunc"]["status"] == "parse_error"
    assert "truncated" in out["trunc"]["error_msg"]
    assert out["notgif"]["status"] == "parse_error"


def test_content_type_router_precedence(spark):
    """Router precedence: code beats math beats data; indentation +
    symbol density reaches 'code' without any keyword; empty text is
    prose."""
    from ocr_spark.functions.quality import with_content_type

    rows = [
        ("both", "def f():\n    return 1\n$$ \\frac{a}{b} \\sum $$"),
        ("mathy", "see $$ \\frac{1}{2} $$"),
        ("indent", "    a = {x};\n    b = (y);\n    c = <z>;"),
        ("csv", "a,b,c,d\n1,2,3,4\n5,6,7,8"),
        ("empty", ""),
        ("prose", "Just a plain sentence about nothing much at all."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r["content_label"]
           for r in with_content_type(df).collect()}
    assert out == {"both": "code", "mathy": "math", "indent": "code",
                   "csv": "data", "empty": "prose", "prose": "prose"}


def test_fim_transform_reconstructs_and_mixes(spark):
    """FIM invariants: prefix+middle+suffix reassembles the original
    text, lengths are exact thirds, both PSM and SPM modes appear, and
    sub-3-char docs pass through raw."""
    from ocr_spark.operators.corpus import fim_transform

    rows = [(i, f"doc {i} " + "abcdefghij" * (1 + i % 4)) for i in range(40)]
    rows += [(100, "ab"), (101, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = {r["doc_id"]: r["text"] for r in df.collect()}
    out = fim_transform(df).collect()
    modes = set()
    for r in out:
        t = src[r["doc_id"]]
        assert r["prefix_len"] + r["middle_len"] + r["suffix_len"] == len(t)
        modes.add(r["fim_mode"])
        if r["fim_mode"] == "raw":
            assert r["fim_text"] == t and len(t) < 3
            continue
        ft = r["fim_text"]
        if r["fim_mode"] == "psm":
            assert ft.startswith("<fim_prefix>")
            pre = ft[len("<fim_prefix>"):ft.index("<fim_suffix>")]
            suf = ft[ft.index("<fim_suffix>") + len("<fim_suffix>"):
                     ft.index("<fim_middle>")]
        else:
            assert ft.startswith("<fim_suffix>")
            suf = ft[len("<fim_suffix>"):ft.index("<fim_prefix>")]
            pre = ft[ft.index("<fim_prefix>") + len("<fim_prefix>"):
                     ft.index("<fim_middle>")]
        mid = ft[ft.index("<fim_middle>") + len("<fim_middle>"):]
        assert pre + mid + suf == t, r["doc_id"]
    assert {"psm", "spm", "raw"} <= modes


def test_span_corrupt_roundtrip(spark):
    """Span-corruption invariants: replacing each input sentinel with
    its target span reconstructs the original token stream; span/
    sentinel numbering is consecutive; short docs yield empty
    targets."""
    import re

    from ocr_spark.operators.corpus import span_corrupt

    rows = [(k, " ".join(f"w{k}_{i}" for i in range(k))) for k in
            (0, 3, 8, 20, 45, 67)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = dict(rows)
    for r in span_corrupt(df).collect():
        orig = src[r["doc_id"]].split()
        if r["n_spans"] == 0:
            assert r["target_text"] == ""
            assert r["input_text"].split() == orig
            continue
        # parse target: <extra_id_k> toks ... <extra_id_{n_spans}>
        parts = re.split(r"<extra_id_(\d+)>", r["target_text"])
        spans = {}
        for k_str, toks in zip(parts[1::2], parts[2::2]):
            spans[int(k_str)] = toks.split()
        assert spans.pop(r["n_spans"]) == []      # closing sentinel
        rebuilt = []
        for tok in r["input_text"].split():
            m = re.fullmatch(r"<extra_id_(\d+)>", tok)
            rebuilt += spans[int(m.group(1))] if m else [tok]
        assert rebuilt == orig, r["doc_id"]


def test_label_centroids_match_numpy_and_plan(spark):
    """Centroids equal the numpy per-label mean (round 6); the plan is
    explode -> hash aggregate with map-side partials (two
    HashAggregates around one exchange), no Python in the plan."""
    import numpy as np

    from ocr_spark.operators.similarity import label_centroids

    rows = [(i % 3, [float(i), float(i * 2), 0.5 * i]) for i in range(30)]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = label_centroids(df)
    got = {(r["label"], r["dim"]): (r["centroid"], r["n_members"])
           for r in out.collect()}
    arr = {lab: np.array([e for l2, e in rows if l2 == lab])
           for lab in (0, 1, 2)}
    for lab, a in arr.items():
        for d in range(3):
            c, n = got[(lab, d)]
            assert n == len(a)
            assert c == round(float(a[:, d].mean()), 6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("HashAggregate") >= 2       # partial + final


def test_feature_hash_vector_exact(spark):
    """Hash-trick vectors equal a Python md5 reference: same bucket,
    same sign, exact integer counts; empty text -> all-zero vector."""
    import hashlib

    from ocr_spark.functions.model import feature_hash_vector

    def ref(text, dim=16):
        v = [0] * dim
        for t in text.split():
            b = int(hashlib.md5(f"fh|{t}".encode()).hexdigest()[:15],
                    16) % dim
            s = 1 if int(hashlib.md5(f"fs|{t}".encode()).hexdigest()[:15],
                         16) % 2 == 0 else -1
            v[b] += s
        return v

    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "spark table data spark spark"), (3, ""), (4, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", feature_hash_vector("text").alias("v")).collect()}
    for did, text in rows:
        assert out[did] == ref(text), did


def test_centroid_outliers_flags_the_planted_vector(spark):
    """A vector pointing away from its label's cluster must get
    outlier_rank 1; in-cluster members rank after it; the centroid
    join is broadcast."""
    from ocr_spark.operators.similarity import centroid_outliers

    rows = [(i, 0, [1.0, 0.01 * i, 0.0]) for i in range(10)]
    rows.append((99, 0, [-1.0, 0.0, 0.0]))          # planted outlier
    rows += [(100 + i, 1, [0.0, 1.0, 0.02 * i]) for i in range(5)]
    df = spark.createDataFrame(rows,
                               "vec_id long, label int, embedding "
                               "array<double>")
    out = centroid_outliers(df)
    got = {r["vec_id"]: (r["label"], r["outlier_rank"])
           for r in out.collect()}
    assert got[99] == (0, 1)
    assert len(got) == 16
    ranks0 = sorted(rank for vid, (lab, rank) in got.items() if lab == 0)
    assert ranks0 == list(range(1, 12))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_srt_cues_parse_and_errors(spark):
    """SRT parsing edges: multi-line cues joined with a space, WebVTT
    '.' milliseconds accepted, end<start / bad index / empty payload
    are single parse_error rows."""
    from ocr_spark.operators.captions import parse_srt, srt_cues

    ok = ("1\n00:00:01,000 --> 00:00:03,500\nHello\nworld\n\n"
          "2\n00:01:00.250 --> 01:00:00,000\ndots")
    cues = parse_srt(ok)
    assert cues[0]["text"] == "Hello world" and cues[0]["n_lines"] == 2
    assert cues[1]["start_ms"] == 60250 and cues[1]["end_ms"] == 3600000

    rows = [("good", ok),
            ("rev", "1\n00:00:05,000 --> 00:00:01,000\nbackwards"),
            ("noidx", "x\n00:00:01,000 --> 00:00:02,000\nhey"),
            ("empty", "")]
    df = spark.createDataFrame(rows, "media_id string, payload string")
    out = {}
    for r in srt_cues(df).collect():
        out.setdefault(r["media_id"], []).append(r)
    assert len(out["good"]) == 2
    assert out["rev"][0]["status"] == "parse_error"
    assert "ends before" in out["rev"][0]["error_msg"]
    assert "bad index" in out["noidx"][0]["error_msg"]
    assert "no cues" in out["empty"][0]["error_msg"]


def test_markdown_strip_unwraps_markup(spark):
    """Strip drops fences/headers/quote markers and unwraps
    links/images/emphasis/inline code."""
    from ocr_spark.operators.normalize import markdown_strip

    md = ("# Title\n\n**bold** *it* [anchor](http://x) ![alt](y.png) "
          "`code`\n```\nfence\n```\n> quote\n---\nplain")
    df = spark.createDataFrame([(1, md)], "id long, text string")
    got = df.select(markdown_strip("text").alias("p")).collect()[0]["p"]
    assert got == "Title\n\nbold it anchor alt code\n\nfence\n\nquote\n\nplain"


def test_dist_drift_psi_properties(spark):
    """PSI is ~0 for identical snapshots and grows when one snapshot
    shifts; empty buckets survive via Laplace smoothing."""
    import math

    from ocr_spark.operators.snapshot import dist_drift

    a = spark.createDataFrame([(i, 100 + i * 10) for i in range(200)],
                              "id long, v long")
    same = dist_drift(a, a, "v")
    rows = same.collect()
    assert len(rows) == 6
    assert all(abs(r["psi"]) < 1e-9 for r in rows)

    b = spark.createDataFrame([(i, 5000 + i * 10) for i in range(200)],
                              "id long, v long")
    shifted = dist_drift(a, b, "v").collect()
    total = sum(r["psi"] for r in shifted)
    assert total > 0.25          # the classic "distribution moved" bar
    assert all(math.isfinite(r["psi"]) for r in shifted)


def test_textrank_prefers_connected_sentences(spark):
    """The sentence sharing tokens with the most others must outrank
    an isolated one; single-sentence docs score the teleport constant;
    empty docs emit nothing."""
    from ocr_spark.operators.summarize import textrank_sentences

    doc = ("Spark processes data. Spark processes large data fast. "
           "Cats are unrelated animals! Processing data keeps spark busy. "
           "Ducks exist?")
    df = spark.createDataFrame(
        [(1, doc), (2, "One sentence only."), (3, "")],
        "doc_id long, text string")
    rows = textrank_sentences(df, top_k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top = sorted(by_doc[1], key=lambda r: r["sent_rank"])
    assert "spark" in top[0]["sentence"].lower()
    assert top[0]["score"] > top[1]["score"] or (
        top[0]["score"] == top[1]["score"]
        and top[0]["sent_idx"] < top[1]["sent_idx"])
    assert by_doc[2][0]["score"] == 0.15
    assert 3 not in by_doc


def test_label_propagation_path_graph(spark):
    """On a seeded path graph: labels flood from both ends, seeds stay
    clamped, the equidistant midpoint tie-breaks to the SMALLEST
    label, and unreachable nodes stay NULL."""
    from ocr_spark.operators.web import label_propagation

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0, 7), (5, 2)], "node long, label int")
    got = {r["node"]: (r["label"], r["is_seed"])
           for r in label_propagation(edges, seeds, n_iter=3).collect()}
    assert got[0] == (7, True) and got[5] == (2, True)
    assert got[1][0] == 7 and got[4][0] == 2
    # node 2: neighbors 1 (7) and 3; node 3 is equidistant -> after 3
    # rounds node 2 saw 7 first; node 3 ties between 7 and 2 -> min 2
    assert got[3][0] in (2, 7)
    assert got[10] == (None, False) and got[11] == (None, False)


def test_rrf_fuse_combines_rankings(spark):
    """RRF: a doc ranked well in BOTH lists beats a doc that tops only
    one; missing entries contribute nothing; tie-break by id."""
    from ocr_spark.operators.index import rrf_fuse

    ra = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                               "doc_id long, rank int")
    rb = spark.createDataFrame([(2, 1), (9, 2), (3, 3)],
                               "doc_id long, rank int")
    out = {r["doc_id"]: (r["rrf_score"], r["fused_rank"])
           for r in rrf_fuse([ra, rb]).collect()}
    # doc 2: 1/62 + 1/61 beats doc 1: 1/61 alone and doc 3: 2/63
    assert out[2][1] == 1
    assert out[2][0] == round(1 / 62 + 1 / 61, 9)
    assert out[1][0] == round(1 / 61, 9)
    assert out[3][0] == round(2 / 63, 9)
    assert len(out) == 4


def test_ndcg_eval_known_values(spark):
    """nDCG against hand-computed values: a perfect ranking scores 1.0
    at every cutoff; swapping the top two docs lowers it; docs missing
    from the relevance table gain nothing."""
    import math

    from ocr_spark.operators.index import ndcg_eval

    rel = spark.createDataFrame(
        [(1, 3), (2, 2), (3, 1)], "doc_id long, rel int")
    perfect = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    out = {r["cutoff"]: r["ndcg"]
           for r in ndcg_eval(perfect, rel, cutoffs=(2, 3)).collect()}
    assert out == {2: 1.0, 3: 1.0}

    swapped = spark.createDataFrame(
        [(2, 1), (1, 2), (99, 3)], "doc_id long, rank int")
    got = {r["cutoff"]: r for r in
           ndcg_eval(swapped, rel, cutoffs=(3,)).collect()}[3]
    dcg = 2 / math.log2(2) + 3 / math.log2(3)          # doc 99: rel 0
    idcg = 3 / math.log2(2) + 2 / math.log2(3) + 1 / math.log2(4)
    assert got["dcg"] == round(dcg, 6)
    assert got["ndcg"] == round(dcg / idcg, 6)
    assert got["ndcg"] < 1.0


def test_interval_join_exactly_once(spark):
    """The canonical-bin trick must emit each overlapping pair exactly
    ONCE even when intervals span many bins, and must include
    touching-at-zero-width cases correctly (half-open semantics)."""
    from ocr_spark.operators.temporal import interval_join

    left = spark.createDataFrame(
        [("m", 1, 0, 1000), ("m", 2, 950, 960), ("x", 3, 0, 100)],
        "media_id string, lid int, lo long, hi long")
    right = spark.createDataFrame(
        [("m", 10, 500, 2000), ("m", 11, 1000, 1100), ("x", 12, 100, 200)],
        "media_id string, rid int, rlo long, rhi long")
    got = sorted((r["lid"], r["rid"]) for r in interval_join(
        left, right, "lo", "hi", "rlo", "rhi", bin_width=7,
        keys=["media_id"]).collect())
    # (1,10) overlap 500-1000 spans many 7-wide bins -> exactly once;
    # (1,11): [0,1000) vs [1000,1100) half-open -> NO overlap;
    # (3,12): [0,100) vs [100,200) -> NO overlap
    assert got == [(1, 10), (2, 10)]


def test_hreflang_kernel_and_groups(spark):
    """Kernel: only <link rel~=alternate hreflang href> rows, rel
    token-set matched, hreflang lowercased, undecodable -> no rows.
    Grouping: well-formed 2-page cluster shares group_id; a page that
    omits a member fractures its own group only; x-default excluded
    from n_langs/group_id; edges to a silent page count
    non-reciprocal."""
    from ocr_spark.extractor.core import extract_hreflang
    from ocr_spark.operators.web import hreflang_groups

    html = (b'<html><head>'
            b'<link rel="alternate stylesheet" hreflang="EN-us" href="/a">'
            b'<link rel="alternate" href="/nolang">'
            b'<a rel="alternate" hreflang="de" href="/not-a-link">x</a>'
            b'<link rel="next" hreflang="fr" href="/not-alternate">'
            b'</head></html>')
    rows = extract_hreflang(html)
    assert rows == [{"link_idx": 0, "hreflang": "en-us", "href": "/a"}]
    assert extract_hreflang(b"\xff\xfe\x00\xd8 not html \x00") in ([], [
    ]) and extract_hreflang(b"") == []

    # A<->B well-formed (+x-default on A); C declares B but B doesn't
    # declare C; C also omits itself (page_lang NULL).
    links = spark.createDataFrame(
        [("A", "en", "A"), ("A", "de", "B"), ("A", "x-default", "A"),
         ("B", "en", "A"), ("B", "de", "B"),
         ("C", "de", "B")],
        "url string, hreflang string, href string")
    got = {r["url"]: r.asDict() for r in hreflang_groups(links).collect()}
    assert got["A"]["group_id"] == "A" and got["B"]["group_id"] == "A"
    assert got["A"]["n_langs"] == 2 and got["A"]["has_x_default"]
    assert got["A"]["page_lang"] == "en" and got["B"]["page_lang"] == "de"
    assert got["A"]["n_nonreciprocal"] == 0
    assert got["B"]["n_nonreciprocal"] == 0
    assert got["C"]["page_lang"] is None and not got["C"]["has_x_default"]
    assert got["C"]["group_id"] == "B" and got["C"]["n_nonreciprocal"] == 1


def test_publish_date_precedence(spark):
    """Kernel precedence jsonld > meta > time with invalid-date
    fall-through; @graph nesting honored; operator applies the
    url-path fallback ONLY when markup yields nothing, and an
    invalid url date (2018-02-30) yields all-NULL."""
    import datetime as dt

    from ocr_spark.extractor.core import extract_publish_date
    from ocr_spark.operators.extract import publish_date_pages

    meta = (b'<meta property="article:published_time" '
            b'content="2021-05-06T08:00:00Z">')
    jl = (b'<script type="application/ld+json">{"@graph":[{"@type":'
          b'"WebSite"},{"@type":"Article","datePublished":'
          b'"2020-02-03T10:00:00Z"}]}</script>')
    both = b"<html><head>" + jl + meta + b"</head></html>"
    r = extract_publish_date(both)
    assert (r["source"], str(r["published"])) == ("jsonld", "2020-02-03")
    bad_jl = both.replace(b"2020-02-03T10:00:00Z", b"Feb 3, 2020")
    r = extract_publish_date(bad_jl)
    assert (r["source"], str(r["published"])) == ("meta", "2021-05-06")
    t = b'<html><body><time datetime="2019-01-02">x</time></body></html>'
    assert extract_publish_date(t)["source"] == "time"
    assert extract_publish_date(b"<html></html>")["source"] is None

    df = spark.createDataFrame(
        [(1, "https://n.ex/2018/03/05/a1", bytearray(both)),
         (2, "https://n.ex/2018/03/05/a2", bytearray(b"<html></html>")),
         (3, "https://n.ex/2018/02/30/a3", bytearray(b"<html></html>")),
         (4, "https://n.ex/about", bytearray(b"<html></html>"))],
        "doc_id long, url string, html binary")
    got = {r["doc_id"]: r.asDict()
           for r in publish_date_pages(
               df, passthrough=("doc_id", "url")).collect()}
    assert got[1]["source"] == "jsonld"  # markup beats url path
    assert (got[2]["source"], str(got[2]["published"]),
            got[2]["published_raw"]) == ("url", "2018-03-05",
                                         "2018/03/05")
    assert got[3]["source"] is None and got[3]["published"] is None
    assert got[4]["source"] is None


def test_rake_keyphrases_hand_example(spark):
    """Hand-computed RAKE on a classic-style sentence: phrase scores
    follow deg/freq word scores in exact milli-units; duplicate
    phrases collapse with n_occ; stopwords delimit; punctuation
    delimits; top-k and tie-break by phrase string."""
    from ocr_spark.operators.index import rake_keyphrases

    # phrases: "red apples" x2, "green pears", "fruit"
    txt = ("Red apples, and green pears. red apples are fruit"
           .replace(" are ", " is "))  # 'is' is a stopword too
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    got = rake_keyphrases(df, k=10).collect()
    rows = {r["phrase"]: r for r in got}
    # freq: red 2, apples 2, green 1, pears 1, fruit 1
    # deg:  red 4, apples 4, green 2, pears 2, fruit 1
    # scores (milli): red 2000, apples 2000, green 2000, pears 2000,
    # fruit 1000 -> "red apples" 4000, "green pears" 4000, "fruit" 1000
    assert rows["red apples"]["score_milli"] == 4000
    assert rows["red apples"]["n_occ"] == 2
    assert rows["green pears"]["score_milli"] == 4000
    assert rows["fruit"]["score_milli"] == 1000
    # tie at 4000 breaks on phrase string: green < red
    by_rank = sorted(got, key=lambda r: r["rank"])
    assert [r["phrase"] for r in by_rank] == ["green pears",
                                              "red apples", "fruit"]


def test_meta_kv_and_social_cards(spark):
    """Kernel: property- and name-keyed tags both captured, prefix
    filter applied, document order kept; assembly: first-wins on
    duplicate og:title, twitter:card beats 'og' for card_type,
    no-card pages come back all-NULL via the population join."""
    from ocr_spark.extractor.core import extract_meta_kv
    from ocr_spark.operators.extract import social_cards

    html = (b'<html><head>'
            b'<meta property="og:title" content="first">'
            b'<meta property="og:title" content="second">'
            b'<meta name="twitter:card" content="summary">'
            b'<meta name="description" content="not-namespaced">'
            b'<meta property="og:image">'
            b'</head></html>')
    rows = extract_meta_kv(html)
    assert [(r["idx"], r["key"], r["content"]) for r in rows] == [
        (0, "og:title", "first"), (1, "og:title", "second"),
        (2, "twitter:card", "summary")]

    kv = spark.createDataFrame(
        [(1, 0, "og:title", "first"), (1, 1, "og:title", "second"),
         (1, 2, "twitter:card", "summary"),
         (2, 0, "og:description", "d2")],
        "doc_id long, idx int, key string, content string")
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    got = {r["doc_id"]: r.asDict()
           for r in social_cards(kv, ids).collect()}
    assert got[1]["og_title"] == "first"          # first wins
    assert got[1]["card_type"] == "summary"        # twitter beats og
    assert got[2]["card_type"] == "og" and got[2]["n_og_fields"] == 1
    assert got[3]["card_type"] is None and got[3]["n_og_fields"] == 0


def test_amp_collapse_mutuality(spark):
    """Only MUTUAL amphtml/canonical pairs classify; one-way
    declarations in either direction stay plain."""
    from ocr_spark.operators.web import amp_collapse

    pages = spark.createDataFrame(
        [("C1",), ("A1",), ("C2",), ("A2",), ("C3",), ("A3",), ("P",)],
        "url string")
    links = spark.createDataFrame(
        [("C1", "amphtml", "A1"), ("A1", "canonical", "C1"),  # mutual
         ("C2", "amphtml", "A2"),                             # one-way
         ("A3", "canonical", "C3")],                          # one-way
        "url string, rel string, href string")
    got = {r["url"]: (r["role"], r["partner"])
           for r in amp_collapse(pages, links).collect()}
    assert got["C1"] == ("canonical", "A1")
    assert got["A1"] == ("amp_variant", "C1")
    for u in ("C2", "A2", "C3", "A3", "P"):
        assert got[u] == ("plain", None)


def test_texttiling_hand_example(spark):
    """Hand-computed tiling: a doc whose vocabulary flips mid-stream
    ('x'-blocks then 'y'-blocks) puts the one boundary exactly at the
    topic shift; identical adjacent blocks score the cosine² ceiling
    (1e6 micro-units); a single-block doc emits no gap rows."""
    from ocr_spark.operators.chunk import texttiling

    df = spark.createDataFrame(
        [(1, "x x x x x x y y y"), (2, "short text only")],
        "doc_id long, text string")
    got = sorted(texttiling(df, block=3).collect(),
                 key=lambda r: (r["doc_id"], r["gap_idx"]))
    assert [r["doc_id"] for r in got] == [1, 1]  # doc 2: one block
    g0, g1 = got
    assert g0["score_micro"] == 1_000_000 and g1["score_micro"] == 0
    assert (g0["depth_micro"], g1["depth_micro"]) == (0, 1_000_000)
    assert (g0["is_boundary"], g1["is_boundary"]) == (False, True)


def test_cocitation_cap_and_counts(spark):
    """Pair support counts distinct co-citing sources; the unordered
    pair key is canonical (a < b); a hub source past max_out is
    excluded entirely (its pairs vanish — undercount, never
    fabricate); duplicate edges dedup before counting."""
    from ocr_spark.operators.web import cocitation_pairs

    edges = spark.createDataFrame(
        [("s1", "a"), ("s1", "b"), ("s1", "b"),   # dup edge
         ("s2", "b"), ("s2", "a"),                # reversed order
         ("s3", "a"), ("s3", "c"),
         ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d")],
        "src string, dst string")
    got = {(r["dst_a"], r["dst_b"]): r["n_cocite"]
           for r in cocitation_pairs(edges, max_out=3,
                                     min_count=2).collect()}
    assert got == {("a", "b"): 2}  # s1+s2; hub dropped; (a,c) only 1


def test_robots_directives_merge(spark):
    """Both channels union most-restrictive: meta 'none' implies
    both; a second meta tag adds nofollow; header-only noindex
    counts; plain 'follow' never matches nofollow; silent pages
    indexable."""
    from ocr_spark.operators.web import robots_directives

    kv = spark.createDataFrame(
        [(1, 0, "robots", "noindex, follow"),
         (1, 1, "robots", "nofollow"),
         (2, 0, "robots", "NONE"),
         (5, 0, "robots", "follow, archive")],
        "doc_id long, idx int, key string, content string")
    pages = spark.createDataFrame(
        [(1, "HTTP/1.1 200 OK"), (2, "HTTP/1.1 200 OK"),
         (3, "HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex"),
         (4, "HTTP/1.1 200 OK"), (5, "HTTP/1.1 200 OK")],
        "doc_id long, headers string")
    got = {r["doc_id"]: (r["noindex"], r["nofollow"], r["indexable"])
           for r in robots_directives(kv, pages).collect()}
    assert got[1] == (True, True, False)
    assert got[2] == (True, True, False)
    assert got[3] == (True, False, False)
    assert got[4] == (False, False, True)
    assert got[5] == (False, False, True)


def test_link_depth_bfs(spark):
    """Min hops wins over longer paths; cycles don't loop (bounded
    frontier BFS); unreachable nodes absent; max_hops truncates."""
    from ocr_spark.operators.web import link_depth

    #  0 -> 1 -> 2 -> 3 -> 0 (cycle), plus shortcut 0 -> 3, island 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 3), (8, 9)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"]
           for r in link_depth(edges, seeds, max_hops=8).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}  # 3 via shortcut, not 3 hops
    # truncation: only depth<=1 settles
    got1 = {r["node"]: r["depth"]
            for r in link_depth(edges, seeds, max_hops=1).collect()}
    assert got1 == {0: 0, 1: 1, 3: 1}


class TestTripletMine:
    def test_single_bucket_geometry(self, spark):
        from ocr_spark.operators.similarity import triplet_mine

        # n_planes=0 -> one bucket; cosines are hand-computable:
        # 1,2,5 colinear (cos 1.0), 3 orthogonal (0.0), 4 diagonal
        # (0.707107 to the colinear set -- neither pos nor neg)
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
             (4, [1.0, 1.0]), (5, [2.0, 0.0])],
            "vec_id long, embedding array<double>")
        got = {r.anchor: (r.positive, r.pos_sim, r.negative, r.neg_sim)
               for r in triplet_mine(df, dim=2, t_pos=0.9, t_neg=0.5,
                                     n_planes=0).collect()}
        # pos ties (2 vs 5 for anchor 1) fall to the smaller id
        assert got == {
            1: (2, 1.0, 3, 0.0),
            2: (1, 1.0, 3, 0.0),
            5: (1, 1.0, 3, 0.0),
        }

    def test_small_bucket_emits_nothing(self, spark):
        from ocr_spark.operators.similarity import triplet_mine

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.1])],
            "vec_id long, embedding array<double>")
        assert triplet_mine(df, dim=2, t_pos=0.9, t_neg=0.5,
                            n_planes=0).count() == 0


class TestGazetteerLink:
    def test_maximal_munch_and_case_fold(self, spark):
        from ocr_spark.operators.annotate import gazetteer_link

        df = spark.createDataFrame(
            [(1, "the Data Table holds a table of data"),
             (2, "spark data table spark"), (3, "nothing here")],
            "doc_id long, text string")
        gaz = {"data table": "E_DT", "table": "E_T",
               "data": "E_D", "spark": "E_S"}
        got = sorted(tuple(r) for r in gazetteer_link(df, gaz).collect())
        # 'Data Table' (pos 1, 2 words) suppresses its contained
        # unigrams; standalone 'table'@5 and 'data'@7 survive
        assert got == [
            (1, 1, 2, "data table", "E_DT"),
            (1, 5, 1, "table", "E_T"),
            (1, 7, 1, "data", "E_D"),
            (2, 0, 1, "spark", "E_S"),
            (2, 1, 2, "data table", "E_DT"),
            (2, 3, 1, "spark", "E_S"),
        ]

    def test_empty_gazetteer_rejected(self, spark):
        from ocr_spark.operators.annotate import gazetteer_link
        import pytest

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            gazetteer_link(df, {})


class TestMentionContexts:
    def test_window_clamps_at_edges(self, spark):
        from ocr_spark.operators.annotate import mention_contexts

        docs = spark.createDataFrame(
            [(1, "a b c d e f g")], "doc_id long, text string")
        mentions = spark.createDataFrame(
            [(1, 2, 2, "E_CD"), (1, 0, 1, "E_A"), (1, 6, 1, "E_G")],
            "doc_id long, pos int, n_words int, entity_id string")
        got = {r.entity_id: r.context
               for r in mention_contexts(docs, mentions,
                                         window=2).collect()}
        assert got == {
            "E_CD": "a b c d e f",   # 2 left + span + 2 right
            "E_A": "a b c",          # left edge clamps
            "E_G": "e f g",          # right edge clamps
        }


class TestEntityCooc:
    def test_window_and_marginals(self, spark):
        from ocr_spark.operators.annotate import entity_cooc

        m = spark.createDataFrame(
            [(1, 0, "E1"), (1, 2, "E2"), (1, 10, "E3"),
             (2, 0, "E1"), (2, 1, "E2")],
            "doc_id long, pos int, entity_id string")
        allp = {(r.entity_a, r.entity_b): (r.n_cooc, r.n_a, r.n_b)
                for r in entity_cooc(m).collect()}
        assert allp == {("E1", "E2"): (2, 2, 2),
                        ("E1", "E3"): (1, 2, 1),
                        ("E2", "E3"): (1, 2, 1)}
        near = {(r.entity_a, r.entity_b): r.n_cooc
                for r in entity_cooc(m, window=3).collect()}
        assert near == {("E1", "E2"): 2}


class TestRecordLinkage:
    def test_decisions_and_null_is_no_evidence(self, spark):
        from ocr_spark.operators.dedup import record_linkage

        left = spark.createDataFrame(
            [(1, "a", "x", 2000), (2, "a", "y", 2001),
             (3, "b", "z", None)],
            "doc_id long, blk string, title string, year int")
        right = spark.createDataFrame(
            [(10, "a", "x", 2000), (11, "a", "y", 2000),
             (12, "b", "z", 2005), (13, "c", "x", 2000)],
            "doc_id long, blk string, title string, year int")
        out = {(r.l_doc_id, r.r_doc_id):
               (r.agree_title, r.agree_year, r.score_milli, r.decision)
               for r in record_linkage(
                   left, right, "blk",
                   {"title": (4000, -2000), "year": (1000, -1500)},
                   t_match=4000, t_possible=2000).collect()}
        assert out == {
            (1, 10): (True, True, 5000, "match"),
            (2, 11): (True, False, 2500, "possible"),
            # NULL year contributes zero and surfaces as NULL agree
            (3, 12): (True, None, 4000, "match"),
        }
        # (1,11)/(2,10) score below t_possible and are dropped;
        # 13 shares no block and never becomes a candidate


# --- per-page field kernels vs. their extractor functions -----------------

_FIELD_PAGES = [
    b'<html lang="en"><head><title>Story</title>'
    b'<meta name="description" content="About &amp; more">'
    b'<link rel="canonical" href="https://a.ex/story">'
    b'<meta property="og:title" content="OG Story">'
    b'<meta property="og:image" content="https://a.ex/i.png">'
    b'<meta name="twitter:card" content="summary">'
    b'<meta property="article:published_time" content="2021-05-06T08:00:00Z">'
    b'<script type="application/ld+json">{"@type":"Article","headline":'
    b'"H","wordCount":120,"datePublished":"2020-02-03"}</script>'
    b'<script type="application/ld+json">{"@type": broken</script>'
    b'</head><body><h1>Story</h1><p>Body text.</p></body></html>',
    b'<html lang="de"><head><meta http-equiv="refresh" '
    b'content="5; url=https://a.ex/next">'
    b'<meta http-equiv="content-language" content="de-DE">'
    b'<link rel="alternate" hreflang="en" href="https://a.ex/en">'
    b'<link rel="alternate" hreflang="x-default" href="https://a.ex/">'
    b'<link rel="next" href="https://a.ex/p2"></head>'
    b'<body><a rel="prev nofollow" href="/p0">back</a>'
    b'<time datetime="2019-01-02">Jan 2</time></body></html>',
    b'<html><body><div itemscope itemtype="https://schema.org/Product">'
    b'<span itemprop="name">Anvil</span>'
    b'<div itemprop="offers" itemscope itemtype="https://schema.org/Offer">'
    b'<meta itemprop="price" content="7.00"></div></div>'
    b'<p itemprop="stray">orphan</p>'
    b'<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td></tr>'
    b'<tr><td>b</td></tr></table><ul><li>one</li><li><b>two</b></li></ul>'
    b'</body></html>',
    b"",
    None,
    b"\xef\xbb\xbf<html><body><p>bom caf\xc3\xa9</p></body></html>",
    b'<html><head><meta charset="windows-1252"></head>'
    b"<body><p>caf\xe9 \x93quoted\x94</p></body></html>",
    b"<html><body><p>latin-1 caf\xe9 na\xefve</p>"
    b"<table><tr><td>x</td><td>y</td></tr></table></body></html>",
    b"<p>no head, no fields</p>",
]


def _field_operator_cases():
    from pyspark.sql import types as T

    from ocr_spark.extractor import core
    from ocr_spark.operators import extract as ex
    from ocr_spark.operators import structure as st

    def one(fn):
        return lambda p: [fn(b"" if p is None else p)]

    def many(fn):
        return lambda p: fn(b"" if p is None else p)

    return {
        "meta": (ex.extract_meta_pages, ex.META_RESULT_FIELDS,
                 one(core.extract_meta)),
        "jsonld": (ex.extract_jsonld_pages, ex.JSONLD_RESULT_FIELDS,
                   many(core.extract_jsonld)),
        "http_equiv": (ex.http_equiv_pages, ex.HTTP_EQUIV_RESULT_FIELDS,
                       one(core.extract_http_equiv)),
        "rel_links": (ex.rel_links_pages, ex.REL_LINK_RESULT_FIELDS,
                      many(core.extract_rel_links)),
        "hreflang": (ex.hreflang_pages, ex.HREFLANG_RESULT_FIELDS,
                     many(core.extract_hreflang)),
        "publish_date": (ex.publish_date_pages,
                         ex.PUBLISH_DATE_RESULT_FIELDS,
                         one(core.extract_publish_date)),
        "meta_kv": (ex.meta_kv_pages, ex.META_KV_RESULT_FIELDS,
                    many(core.extract_meta_kv)),
        "microdata": (ex.extract_microdata_pages, ex.MICRODATA_RESULT_FIELDS,
                      many(core.extract_microdata)),
        "charsets": (ex.sniff_charsets,
                     [T.StructField("codec", T.StringType(), True),
                      T.StructField("text", T.StringType(), True)],
                     lambda p: [dict(zip(("text", "codec"), core.decode_html(
                         b"" if p is None else p)))]),
        "tables": (st.extract_tables,
                   [T.StructField("table_idx", T.IntegerType(), False),
                    T.StructField("row_idx", T.IntegerType(), False),
                    T.StructField("col_idx", T.IntegerType(), False),
                    T.StructField("is_header", T.BooleanType(), False),
                    T.StructField("cell", T.StringType(), False)],
                   lambda p: [] if p is None else [
                       dict(zip(("table_idx", "row_idx", "col_idx",
                                 "is_header", "cell"), c))
                       for c in st.parse_tables(p)]),
        "markdown": (st.html_markdown,
                     [T.StructField("markdown", T.StringType(), True)],
                     lambda p: [{"markdown": None if p is None
                                 else st.to_markdown(p)}]),
    }


@pytest.mark.parametrize("name", ["meta", "jsonld", "http_equiv", "rel_links",
                                  "hreflang", "publish_date", "meta_kv",
                                  "microdata", "charsets", "tables",
                                  "markdown"])
def test_field_operator_matches_extractor(spark, name):
    """Every per-page field operator returns the passthrough fields plus
    its declared fields, and exactly the rows its extractor function
    gives per page in plain Python.  One partition in batches of 2 rows
    puts the field-less pages 8 and 9 in one batch, so one-to-many
    operators see batches that emit no rows; NULL and empty payloads
    keep each operator's own policy."""
    from pyspark.sql import types as T

    op, fields, oracle = _field_operator_cases()[name]
    rows = [(f"https://f.ex/{i}", i, p) for i, p in enumerate(_FIELD_PAGES)]
    rows.append(("https://f.ex/2018/03/05/dated", len(rows), b"<p>x</p>"))
    df = spark.createDataFrame(
        rows, "url string, doc_id long, html binary").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = op(df, passthrough=("url", "doc_id"))
        got = [tuple(r) for r in out.collect()]
    finally:
        spark.conf.set(key, old)
    assert out.schema == T.StructType(
        [df.schema["url"], df.schema["doc_id"]] + list(fields))
    names = [f.name for f in fields]
    want = [(url, doc_id, *(d[k] for k in names))
            for url, doc_id, p in rows for d in oracle(p)]
    if name == "publish_date":
        # the /YYYY/MM/DD/ url fallback is JVM-side, not the kernel's
        by_url = {r[1] for r in got if r[2] == "url"}
        assert by_url == {len(rows) - 1}
        got = [r for r in got if r[1] not in by_url]
        want = [r for r in want if r[1] not in by_url]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert any(v is not None for r in want for v in r[2:])
