"""Tests for training-data pipeline operators: dedup, similarity,
textstats, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (1, "the quick brown fox jumps over the lazy cat", "en", "a"),  # near-dup of 0
        (2, "completely different content about spark shuffles", "en", "b"),
        (3, "the quick brown fox jumps over the lazy dog", "en", "b"),  # exact dup of 0
        (4, "el perro y el gato en la casa de la abuela", "es", "b"),
        (5, "zzz qqq xxx", "und", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["min_doc_id"] == 0
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 5
    assert kept.filter("doc_id = 3").count() == 0  # dup loses to min id


def test_jaccard_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0
    assert (1, 3) in pairs
    assert not any(2 in p or 4 in p or 5 in p for p in pairs)


def test_minhash_lsh_matches_exact(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.6).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(
            docs, num_hashes=32, bands=8, threshold=0.6
        ).collect()
    }
    # LSH output is a subset of exact pairs, and high-sim pairs are found
    assert approx <= exact
    assert (0, 3) in approx


def test_simhash(spark, docs):
    sig = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sig[0] == sig[3]  # identical docs → identical signature
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(docs, max_hamming=16).collect()
    }
    assert pairs[(0, 3)] == 0


def test_cosine_topk_and_variants(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(emb, [1.0, 0.0, 0.0], 2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["sim"] == pytest.approx(1.0)
    # the Arrow scorer is bit-identical to the Column-HOF fold
    q = [0.3, 0.5, -0.2]
    arrow = similarity.cosine_topk(emb, q, 4).collect()
    hof = emb.select(
        "vec_id",
        similarity.cosine(F.col("embedding"), similarity._lit_vec(q))
        .alias("sim"),
    ).orderBy(F.desc("sim"), "vec_id").collect()
    assert [(r["vec_id"], r["sim"]) for r in arrow] == \
        [(r["vec_id"], r["sim"]) for r in hof]
    # multi-query path
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "q_id long, q_vec array<float>",
    )
    multi = similarity.cosine_topk_multi(emb, qdf, k=1).collect()
    got = {r["q_id"]: r["vec_id"] for r in multi}
    assert got == {0: 0, 1: 2}


def test_cosine_topk_multi_pandas_matches_crossjoin(spark):
    """The Arrow batched multi-query scorer (per-batch top-k
    pre-reduction) returns exactly the crossJoin+window result —
    bit-identical sims (fold-exact) and identical ranks/tiebreaks —
    on random vectors at a non-default dim, k larger than some batches."""
    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(12)]) for i in range(200)
    ]
    # exact duplicates of vector 0 → sim ties exercise the (sim, id) order
    rows += [(500, list(rows[0][1])), (501, list(rows[0][1]))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(8)
    queries = [(7, rows[0][1]), (8, rows[5][1]), (9, [1.0] * 12)]
    qdf = spark.createDataFrame(queries, "q_id long, q_vec array<double>")
    ref = sorted(
        map(tuple, similarity.cosine_topk_multi(emb, qdf, k=13).collect())
    )
    got = sorted(
        map(
            tuple,
            similarity.cosine_topk_multi_pandas(emb, queries, k=13).collect(),
        )
    )
    assert ref == got  # exact tuple equality: ids, BIT-level sims, ranks

    # zero-norm vectors: the crossJoin form raises DIVIDE_BY_ZERO under
    # ANSI mode (the session default), so the batched scorer must raise
    # too — never silently score NaN
    import pytest

    bad = emb.union(
        spark.createDataFrame(
            [(502, [0.0] * 12)], "vec_id long, embedding array<float>"
        )
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
        similarity.cosine_topk_multi(bad, qdf, k=3).collect()
    with pytest.raises(Exception, match="zero-norm"):
        similarity.cosine_topk_multi_pandas(bad, queries, k=3).collect()

    # a NULL vector, or one wider than the queries, raises too: the wide
    # vector used to fold only its first 12 elements and score silently
    for odd_row, msg in (
        ((503, None), "null embedding vector"),
        ((503, [0.5] * 13), r"expected vectors of width 12, got widths \[12, 13\]"),
    ):
        odd = emb.union(
            spark.createDataFrame([odd_row], "vec_id long, embedding array<float>")
        ).coalesce(1)
        with pytest.raises(Exception, match=msg):
            similarity.cosine_topk_multi_pandas(odd, queries, k=3).collect()
        with pytest.raises(Exception, match=msg):
            similarity.cosine_topk(odd, queries[0][1], k=3).collect()


def test_ann_lsh_recovers_exact_neighbor(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    exact = similarity.cosine_topk(emb, q, 1).collect()[0]["vec_id"]
    approx = similarity.ann_lsh_topk(
        emb, q, 1, planes=6, probe_hamming=1
    ).collect()
    assert approx and approx[0]["vec_id"] == exact == 5


def test_quality_features(spark, docs):
    q = {r["doc_id"]: r for r in textstats.quality_features(docs).collect()}
    assert q[0]["n_words"] == 9
    assert q[0]["stopword_ratio"] > 0.2
    assert q[5]["stopword_ratio"] == 0.0
    assert q[5]["quality_score"] < q[0]["quality_score"]


def test_lang_id(spark, docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert pred[0] == "en" and pred[4] == "es" and pred[5] == "und"


def test_fingerprint_matches_python(spark, docs):
    got = {r["doc_id"]: r["fp"] for r in textstats.doc_fingerprints(docs).collect()}

    def py_fp(s, mod=1_000_000_007, base=31):
        h = 0
        for ch in s:
            h = (h * base + ord(ch)) % mod
        return h

    for r in docs.collect():
        assert got[r["doc_id"]] == py_fp(r["text"]), r["doc_id"]
    assert got[0] == got[3] and got[0] != got[1]


def test_token_counts(spark, docs):
    stats = {r["source"]: r for r in textstats.token_stats(docs).collect()}
    assert stats["a"]["n_docs"] == 2
    assert stats["a"]["ws_tokens"] == 18


def test_multimodal_plumbing(spark, docs):
    media = multimodal.media_from_documents(docs)
    stats = {r["media_id"]: r for r in multimodal.payload_stats(media).collect()}
    assert stats[0]["payload_bytes"] == len(docs.collect()[0]["text"])
    assert len(stats[0]["payload_sha256"]) == 64
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 6
    for r in feats:
        assert len(r["features"]) == multimodal.N_FEATURES
        assert sum(r["features"]) == pytest.approx(1.0)
    # identical payloads → identical features, deterministic
    by_id = {r["media_id"]: r["features"] for r in feats}
    assert by_id[0] == by_id[3]
    # decode stub is explicit
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"x", "image", "image/png")


def test_frame_sampling(spark, docs):
    media = multimodal.media_from_documents(docs)
    frames = multimodal.sample_frames(media, every_ms=1000)
    vids = media.filter("kind = 'video'").select(
        "media_id", F.col("meta.duration_ms").alias("d")
    ).collect()
    expect = sum(math.ceil(v["d"] / 1000) if v["d"] > 0 else 1 for v in vids)
    assert frames.count() == expect


def test_ivf_ann_recovers_neighbors(spark):
    """IVF (k-means inverted lists + probed exact rerank) finds the true
    nearest neighbors on clustered data."""
    import random

    rnd = random.Random(3)
    centers = [[5.0 * (i % 3), 5.0 * (i // 3), 0.0, 0.0] for i in range(6)]
    rows = []
    for i in range(300):
        c = centers[i % 6]
        rows.append(
            (i, [c[j] + rnd.gauss(0, 0.3) for j in range(4)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids, assigned = similarity.ivf_index(emb, n_lists=6, seed=1)
    assert len(centroids) == 6
    q = rows[10][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, 5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, centroids, q, k=5, n_probe=2
                                     ).collect()
    ]
    # probing the 2 nearest lists recovers the exact top-5
    assert approx == exact


def test_custom_validator_arrow_batched(spark):
    from data_contract_engine_spark.operators.custom import (
        run_custom_validators,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, -5.0), ("c", 3, 2.5)],
        "k string, n int, v double",
    )
    viol = run_custom_validators(
        df,
        {
            "v_nonneg": lambda pdf: pdf["v"] >= 0,
            "n_odd": lambda pdf: pdf["n"] % 2 == 1,
        },
        key_columns=["k"],
        contract_id="c1",
    ).collect()
    got = {(r["k"], r["field"]) for r in viol}
    assert got == {("b", "v_nonneg"), ("b", "n_odd")}
    assert all(r["error_type"] == "CUSTOM_VALIDATOR_FAILED" for r in viol)


def test_resize_plumbing(spark, docs):
    media = multimodal.media_from_documents(docs)
    out = multimodal.resize_images(media, width=64, height=64).collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(out) == n_images
    for r in out:
        assert r["width"] == 64 and r["height"] == 64
        assert isinstance(r["payload"], (bytes, bytearray)) and len(r["payload"]) > 0
    # deterministic: same payload → same resized bytes
    again = multimodal.resize_images(media, width=64, height=64).collect()
    assert {r["media_id"]: bytes(r["payload"]) for r in out} == \
           {r["media_id"]: bytes(r["payload"]) for r in again}


def test_lang_id_ngram_combined(spark):
    rows = [
        (0, "the weather should be nice though it might change"),
        (1, "la canción que escuchamos en los días de lluvia"),
        (2, "ich möchte schöne Bücher über die Geschichte lesen"),
        (3, "les chevaux est une belle créature des châteaux"),
        (4, "12345 67890 !!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pred = {r["doc_id"]: r["pred_lang"]
            for r in textstats.lang_id_ngram(df).collect()}
    assert pred == {0: "en", 1: "es", 2: "de", 3: "fr", 4: "und"}


def test_jaccard_stop_shingle_guard_consistent_universe(spark):
    """With a frequency cap, BOTH intersection and sizes use the filtered
    shingle universe — the reported jaccard is exact over retained
    shingles, never a mixed-universe under-estimate."""
    # every doc shares the stop-shingle "spark spark spark"; docs 0/1 are
    # otherwise identical, doc 2 unrelated
    stop = "spark " * 3
    rows = [
        (0, stop + "alpha beta gamma delta"),
        (1, stop + "alpha beta gamma delta"),
        (2, stop + "omega psi chi phi"),
        (3, stop + "one two three four"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # cap=3 drops shingles appearing in all 4 docs (the stop prefix)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(d, threshold=0.9, max_shingle_freq=3).collect()
    }
    # docs 0/1 identical → jaccard over the FILTERED universe must be 1.0
    # (the old mixed-universe math reported inter_filtered/size_unfiltered < 1)
    assert pairs[(0, 1)] == 1.0
    # the dropped stop-shingles are surfaced, not silent
    report = dedup.stop_shingle_report(d, max_shingle_freq=3).collect()
    assert len(report) > 0 and all(r["f"] == 4 for r in report)
    # explicit opt-out restores the full universe
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            d, threshold=0.9, max_shingle_freq=None
        ).collect()
    }
    assert full[(0, 1)] == 1.0


def test_materialized_stop_shingles_probe(spark):
    """The sampled probe skips the exact frequency pass on a clean corpus
    (returns None) and escalates to the exact, materialized over-cap list
    when a hot shingle exists — deterministically, since the probe sample
    is a pure function of doc ids."""
    # clean corpus: 300 distinct docs, cap=200 → probe rate 0.25, no
    # shingle is shared at all → probe must NOT fire
    clean = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(300)],
        "doc_id long, text string",
    )
    sh = dedup.shingle_table(clean, "doc_id", "text", 3)
    assert dedup.materialized_stop_shingles(sh, 200) is None

    # hot corpus: every one of 300 docs shares one boilerplate shingle;
    # cap=60 → probe rate 50/60, expected ~250 sampled hits ≫ 25 → fires,
    # and the exact pass returns exactly that shingle
    hot = spark.createDataFrame(
        [(i, f"spark spark spark alpha{i} beta{i}") for i in range(300)],
        "doc_id long, text string",
    )
    hsh = dedup.shingle_table(hot, "doc_id", "text", 3)
    stop = dedup.materialized_stop_shingles(hsh, 60)
    assert stop is not None
    vals = {r["shingle"] for r in stop.collect()}
    assert "spark spark spark" in vals
    # every over-cap shingle really is over the cap
    freqs = {
        r["shingle"]: r["f"]
        for r in hsh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f")).collect()
    }
    assert all(freqs[v] > 60 for v in vals)

    # borderline-but-under-cap corpus: hottest shingle f=40 < cap=60;
    # the probe may fire (mean ~33 sampled hits) but the EXACT pass finds
    # nothing over the cap → still None, never a spurious stop list
    under = spark.createDataFrame(
        [
            (i, ("spark spark spark " if i < 40 else "") + f"a{i} b{i}")
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    ush = dedup.shingle_table(under, "doc_id", "text", 3)
    assert dedup.materialized_stop_shingles(ush, 60) is None


def test_embedding_near_duplicates_banded_lsh(spark):
    """Banded hyperplane LSH finds near-dup embedding pairs without a
    cartesian product, at a non-default dimension (dim derived from data,
    not assumed 64)."""
    import random

    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(24)]
    jig = [v + rnd.uniform(-0.01, 0.01) for v in base]
    rows = [(0, base), (1, jig)] + [
        (i, [rnd.uniform(-1, 1) for _ in range(24)]) for i in range(2, 120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_duplicates(
        emb, threshold=0.99, planes=16, bands=8, dim=24
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in found
    for r in out:
        assert r["cosine"] >= 0.99  # exact verify: precision is 1.0
    # plan sanity: no cartesian product in the candidate generation
    plan = dedup.embedding_near_duplicates(
        emb, threshold=0.99, planes=16, bands=8, dim=24
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_arrow_vector_math_is_fold_exact(spark):
    """The Arrow numpy twins (band_buckets_pandas, pair_dot_pandas) must
    be BIT-IDENTICAL to the Column-HOF fold — the DuckDB oracles replay
    the sequential list_reduce fold, so any reassociation (np.dot /
    matmul pairwise summation) would silently break gate hashes. Pinned
    on random float32 vectors (exact-widening cast path) plus doubles
    with magnitude spread that makes association order visible."""
    import random

    from data_contract_engine_spark.operators.similarity import (
        band_buckets_pandas,
        cosine,
        dot,
        hyperplane_band_buckets,
        pair_dot_pandas,
    )

    rnd = random.Random(7)
    rows32 = [
        (i, [rnd.uniform(-1, 1) for _ in range(24)]) for i in range(60)
    ]
    # magnitude spread: big + tiny terms expose pairwise-summation drift
    rows64 = [
        (i, [rnd.uniform(-1, 1) * (10.0 ** rnd.randint(-8, 8))
             for _ in range(24)])
        for i in range(60)
    ]
    for typ, rows in (("float", rows32), ("double", rows64)):
        emb = spark.createDataFrame(
            rows, f"vec_id long, embedding array<{typ}>"
        )
        hof = emb.select(
            "vec_id",
            hyperplane_band_buckets(
                F.col("embedding"), planes=12, bands=3, seed=42, dim=24
            ).alias("bb"),
        )
        arrow = emb.select(
            "vec_id",
            band_buckets_pandas(planes=12, bands=3, seed=42, dim=24)(
                F.col("embedding")
            ).alias("bb"),
        )
        assert sorted(map(tuple, hof.collect())) == sorted(
            map(tuple, arrow.collect())
        )
        pairs = emb.alias("a").join(
            emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")
        ).select(
            F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb")
        )
        hof_cos = [
            r[0] for r in pairs.select(
                cosine(F.col("va"), F.col("vb"))
            ).collect()
        ]
        dot_udf = pair_dot_pandas(24)
        arrow_cos = [
            r[0] for r in pairs.select(
                dot_udf(F.col("va"), F.col("vb"))
                / (
                    F.sqrt(dot_udf(F.col("va"), F.col("va")))
                    * F.sqrt(dot_udf(F.col("vb"), F.col("vb")))
                )
            ).collect()
        ]
        # bit-identical, not approx: struct.pack equality
        import struct

        assert [struct.pack("d", x) for x in hof_cos] == [
            struct.pack("d", x) for x in arrow_cos
        ]


def test_stdlib_media_decoders_end_to_end(spark):
    """The decoder-injection seam with REAL decoders (stdlib BMP + WAV):
    extract_features and resize_images run genuine byte parsing through
    the Arrow-batched mapInPandas plumbing, no image libs needed."""
    import io
    import struct
    import wave

    # 4x2 solid-color BMP: B=10 G=20 R=30
    rows = [[(10, 20, 30)] * 4 for _ in range(2)]
    bmp = multimodal.encode_bmp(rows)
    # sanity: our encoder round-trips through our decoder
    assert multimodal.decode_bmp(bmp) == (4, 2, rows)

    # 1-channel 8kHz WAV with 4 constant samples of value 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1000, 1000, 1000, 1000))
    wav = buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, "image", "image/bmp", bytearray(bmp),
             (4, 2, 0, "bmp")),
            (2, "audio", "audio/wav", bytearray(wav),
             (0, 0, 1, "pcm")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            media, decoder=multimodal.stdlib_media_decoder
        ).collect()
    }
    assert feats[1][:5] == [4.0, 2.0, 10.0, 20.0, 30.0]
    assert feats[2][:4] == [1.0, 8000.0, 4.0, 1000.0]

    # real nearest-neighbor resize through the mapInPandas path
    resized = multimodal.resize_images(
        media, width=8, height=4, resizer=multimodal.bmp_resizer
    ).collect()
    assert len(resized) == 1 and resized[0]["width"] == 8
    w2, h2, rows2 = multimodal.decode_bmp(bytes(resized[0]["payload"]))
    assert (w2, h2) == (8, 4)
    assert all(px == (10, 20, 30) for row in rows2 for px in row)


def test_sample_format_validation(spark, tmp_path):
    """S4 parity: mislabeled files fail the cheap driver-side sample parse
    before any distributed read is attempted."""
    from data_contract_engine_spark.sources import readers

    good_csv = tmp_path / "good.csv"
    good_csv.write_text("a,b\n1,2\n3,4\n")
    bad_jsonl = tmp_path / "bad.jsonl"
    bad_jsonl.write_text('{"a": 1}\nnot json at all{{\n')
    fake_parquet = tmp_path / "fake.parquet"
    fake_parquet.write_bytes(b"definitely not parquet")
    bad_json = tmp_path / "bad.json"
    bad_json.write_text('{"data": [1, 2')  # truncated

    assert readers.validate_format(str(good_csv)) is True
    assert readers.validate_format(str(bad_jsonl)) is False
    assert readers.validate_format(str(fake_parquet)) is False
    assert readers.validate_format(str(bad_json)) is False

    df = readers.read_source(spark, str(good_csv))
    assert df.count() == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sample validation failed"):
        readers.read_source(spark, str(fake_parquet))
    # explicit opt-out skips the sample parse (PERMISSIVE readers handle it)
    got, n_corrupt = readers.read_jsonl(spark, str(bad_jsonl))
    assert got.count() == 1 and n_corrupt == 1


def test_repetition_features(spark):
    rows = [(0, "a b a b a b"), (1, "x y z w"), (2, "solo")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.repetition_features(d).collect()}
    # doc0 bigrams: "a b","b a","a b","b a","a b" -> n=5 distinct=2 top=3
    assert got[0]["n_grams"] == 5 and got[0]["distinct_grams"] == 2
    assert got[0]["dup_gram_fraction"] == 1.0
    assert got[0]["top_gram_fraction"] == 0.6
    assert got[1]["dup_gram_fraction"] == 0.0
    assert 2 not in got  # fewer than k words -> no grams -> absent


def test_redact_pii(spark):
    rows = [
        (0, "mail a.b+c@test.org or call (415) 555-0134 now"),
        (1, "ssn 123-45-6789 at 10.1.2.34"),
        (2, "clean text with no pii at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.redact_pii(d).collect()}
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 1
    assert "<EMAIL>" in got[0]["text_redacted"]
    assert "<PHONE>" in got[0]["text_redacted"]
    assert "a.b+c@test.org" not in got[0]["text_redacted"]
    assert got[1]["n_ssn"] == 1 and got[1]["n_ipv4"] == 1
    assert got[1]["text_redacted"] == "ssn <SSN> at <IP>"
    assert got[2]["text_redacted"] == rows[2][1]
    assert (
        got[2]["n_email"] == got[2]["n_ipv4"] == got[2]["n_ssn"]
        == got[2]["n_phone"] == 0
    )


def test_hash_sampling_deterministic_and_nested(spark):
    from data_contract_engine_spark.operators import sampling

    d = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(2000)], "doc_id long, src string"
    )
    s10 = {r["doc_id"] for r in sampling.hash_sample(d, 0.1, "doc_id").collect()}
    s10b = {r["doc_id"] for r in sampling.hash_sample(d, 0.1, "doc_id").collect()}
    s30 = {r["doc_id"] for r in sampling.hash_sample(d, 0.3, "doc_id").collect()}
    assert s10 == s10b                      # reproducible
    assert s10 <= s30                       # nested: lower rate ⊂ higher
    assert 0.05 < len(s10) / 2000 < 0.15    # near the target rate
    # repartition-stable (df.sample is not)
    s10c = {
        r["doc_id"]
        for r in sampling.hash_sample(d.repartition(7), 0.1, "doc_id").collect()
    }
    assert s10c == s10

    strat = sampling.stratified_hash_sample(
        d, {"s0": 0.0, "s1": 1.0}, "src", "doc_id", default_rate=0.5
    ).groupBy("src").count().collect()
    got = {r["src"]: r["count"] for r in strat}
    assert "s0" not in got
    assert got["s1"] == len([i for i in range(2000) if i % 3 == 1])
    assert 200 < got.get("s2", 0) < 500     # ~half of ~666


def test_pack_sequences_invariants(spark):
    import hashlib

    from data_contract_engine_spark.operators import sampling

    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]  # doc_id, n_tokens
    d = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    budget = 128
    out = sampling.pack_sequences(
        d, budget, "n_tokens", n_shards=8
    ).collect()
    assert len(out) == 300

    def key_hash(doc_id):
        hx = hashlib.md5(f"{doc_id}|42".encode()).hexdigest()
        return int(hx[:8], 16)

    # replicate the shard/order/cumsum logic driver-side and compare
    by_shard = {}
    for i, n in rows:
        by_shard.setdefault(key_hash(i) % 8, []).append(i)
    expected = {}
    for shard, ids in by_shard.items():
        cum = 0
        for i in sorted(ids, key=lambda x: (key_hash(x), x)):
            n = dict(rows)[i]
            expected[i] = (shard, cum // budget, cum % budget)
            cum += n
    got = {r["doc_id"]: (r["shard"], r["pack_id"], r["pack_offset"])
           for r in out}
    assert got == expected


def test_duplicate_clusters_transitive(spark):
    """Transitive chains collapse into one component labeled by min id;
    disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,          # chain 1-2-3-4
        10: 10, 11: 10,                   # isolated pair
        20: 20, 21: 20, 22: 20,           # triangle
    }


def test_duplicate_clusters_string_ids(spark):
    """Ids keep their native type — string keys must not be silently cast
    (a long cast would NULL every vertex and collapse all clusters)."""
    pairs = spark.createDataFrame(
        [("conv_a", "conv_b"), ("conv_b", "conv_c"), ("doc_x", "doc_y")],
        "id_a string, id_b string",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        "conv_a": "conv_a", "conv_b": "conv_a", "conv_c": "conv_a",
        "doc_x": "doc_x", "doc_y": "doc_x",
    }


def test_duplicate_clusters_long_chain_pointer_jumping(spark):
    """A 40-hop chain converges well inside max_iter thanks to pointer
    jumping (plain propagation would need diameter rounds and previously
    returned inconsistent labels silently)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs, max_iter=8).collect()
    }
    assert set(got.values()) == {0} and len(got) == 41


def test_hash_sample_null_key_policy(spark):
    from data_contract_engine_spark.operators import sampling

    d = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "doc_id long, text string"
    )
    # rate 1.0: 'drop' still excludes the null key (explicitly), 'keep'
    # retains it — never a silent hash-of-null drop
    assert sampling.hash_sample(d, 1.0, "doc_id").count() == 2
    assert sampling.hash_sample(d, 1.0, "doc_id", on_null="keep").count() == 3
    kept = sampling.stratified_hash_sample(
        d, {}, "text", "doc_id", default_rate=1.0, on_null="keep"
    )
    assert kept.count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="on_null"):
        sampling.hash_sample(d, 1.0, "doc_id", on_null="explode")


def test_pack_sequences_long_safe_and_collision_guard(spark):
    from data_contract_engine_spark.operators import sampling

    # cumulative counts past 2^31 must not wrap (pack_id/product stay long)
    big = spark.createDataFrame(
        [(i, 1_500_000_000) for i in range(4)], "doc_id long, n int"
    )
    out = sampling.pack_sequences(big, budget=1000, token_col="n", n_shards=1)
    rows = sorted(out.collect(), key=lambda r: r["pack_id"])
    assert all(r["pack_id"] >= 0 and 0 <= r["pack_offset"] < 1000 for r in rows)
    assert rows[-1]["pack_id"] == 4_500_000  # 3*1.5e9 / 1000

    import pytest as _pytest

    clash = spark.createDataFrame([(1, 2, 3)], "doc_id long, n int, shard int")
    with _pytest.raises(ValueError, match="collide"):
        sampling.pack_sequences(clash, budget=10, token_col="n")


def test_pack_sequences_null_token_policy(spark):
    """NULL token counts no longer poison the running sum silently:
    default 'error' raises at execution time; 'zero'/'drop' are the
    explicit lenient policies (mirrors hash_sample's _null_guard)."""
    import pytest as _pytest

    from data_contract_engine_spark.operators import sampling

    df = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", 3)], "doc_id string, n_tokens int"
    )
    with _pytest.raises(Exception, match="pack_sequences: NULL"):
        sampling.pack_sequences(df, 8, "n_tokens").collect()

    dropped = sampling.pack_sequences(
        df, 8, "n_tokens", on_null="drop"
    ).collect()
    assert {r["doc_id"] for r in dropped} == {"a", "c"}
    assert all(r["pack_id"] is not None for r in dropped)

    zeroed = sampling.pack_sequences(
        df, 8, "n_tokens", on_null="zero"
    ).collect()
    assert {r["doc_id"] for r in zeroed} == {"a", "b", "c"}
    assert all(
        r["pack_id"] is not None and r["pack_offset"] is not None
        for r in zeroed
    )

    with _pytest.raises(ValueError, match="on_null"):
        sampling.pack_sequences(df, 8, "n_tokens", on_null="nope")


def test_validate_format_memoized(tmp_path, monkeypatch):
    """Repeated reads of an unchanged file validate once (per path+size+
    mtime); editing the file invalidates the cache entry."""
    from data_contract_engine_spark.sources import readers

    p = tmp_path / "memo.json"
    p.write_text('{"a": 1}')
    readers._VALIDATE_CACHE.clear()
    calls = {"n": 0}
    real = readers._validate_format_uncached

    def spy(path, fmt):
        calls["n"] += 1
        return real(path, fmt)

    monkeypatch.setattr(readers, "_validate_format_uncached", spy)
    assert readers.validate_format(str(p)) is True
    assert readers.validate_format(str(p)) is True
    assert calls["n"] == 1
    p.write_text('{"a": 12345}')  # different size → new cache key
    assert readers.validate_format(str(p)) is True
    assert calls["n"] == 2


def test_png_codec_roundtrip_and_spec_vectors():
    """Stdlib PNG decoder: round-trip over every color type with the
    filter cycle (exercises all five unfilters), hand-built filter-0
    golden bytes, per-spec filter vectors written independently of the
    encoder, and CRC verification."""
    import struct
    import zlib

    from data_contract_engine_spark.operators.multimodal import (
        _paeth,
        decode_png,
        encode_png,
    )

    for ct in (0, 2, 4, 6):
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        rows = [
            [tuple((x * 7 + y * 13 + c * 31 + 5) % 256 for c in range(ch))
             for x in range(11)]
            for y in range(9)
        ]
        w, h, c2, back = decode_png(encode_png(rows, color_type=ct))
        assert (w, h, c2) == (11, 9, ch) and back == rows

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    def png_of(raw, w, h):
        return (sig
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # filter-0 golden: trivially spec-correct scanlines
    raw = bytes([0, 1, 2, 3, 4, 5, 6]) + bytes([0, 7, 8, 9, 10, 11, 12])
    assert decode_png(png_of(raw, 2, 2))[3] == [
        [(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]
    ]

    # per-spec filter vectors (filtering arithmetic re-derived here, not
    # via encode_png, so a symmetric encoder/decoder bug cannot hide)
    r0 = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])
    r1 = bytes([15, 25, 35, 45, 55, 65, 75, 85, 95])
    for ftype in (1, 2, 3, 4):
        filt = bytearray()
        for i in range(9):
            left = r1[i - 3] if i >= 3 else 0
            up = r0[i]
            ul = r0[i - 3] if i >= 3 else 0
            pred = {1: left, 2: up, 3: (left + up) >> 1,
                    4: _paeth(left, up, ul)}[ftype]
            filt.append((r1[i] - pred) & 0xFF)
        raw = bytes([0]) + r0 + bytes([ftype]) + bytes(filt)
        _, _, _, rows = decode_png(png_of(raw, 3, 2))
        assert bytes(v for px in rows[1] for v in px) == r1, ftype

    bad = bytearray(png_of(raw, 3, 2))
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))


def test_png_media_pipeline(spark):
    """png_media_from_ids → extract_features(stdlib_media_decoder):
    decoded dims and channel sums match the shared pixel formula."""
    from data_contract_engine_spark.operators import multimodal as mm

    ids = spark.createDataFrame([(i,) for i in (0, 5, 17)], ["doc_id"])
    media = mm.png_media_from_ids(ids)
    feats = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(
            media, decoder=mm.stdlib_media_decoder
        ).collect()
    }
    for mid in (0, 5, 17):
        w, h = 8 + mid % 16, 4 + mid % 8
        expect = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    expect[c] += mm.png_pixel_value(mid, x, y, c)
        got = feats[mid]
        assert got[:2] == [float(w), float(h)]
        assert got[2:5] == [float(v) for v in expect]


def test_contamination_scores_and_decontaminate(spark):
    from data_contract_engine_spark.operators import decontaminate as decon

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma epsilon"),      # shares 'alpha beta gamma'
            (1, "zeta eta theta iota kappa"),     # clean
            (2, "alpha beta gamma delta"),        # verbatim benchmark copy
            (3, "too short"),                     # < k words → no shingles
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in decon.contamination_scores(corpus, bench, k=3).collect()
    }
    assert len(got) == 4
    assert got[0]["n_shingles"] == 2 and got[0]["n_overlap"] == 1
    assert got[0]["overlap_frac"] == 0.5 and got[0]["contaminated"]
    assert got[1]["n_overlap"] == 0 and not got[1]["contaminated"]
    assert got[2]["n_overlap"] == 2 and got[2]["contaminated"]
    assert got[3]["n_shingles"] == 0 and not got[3]["contaminated"]

    # frac_threshold tightens the flag; min_overlap raises the bar
    frac = {
        r["doc_id"]: r["contaminated"]
        for r in decon.contamination_scores(
            corpus, bench, k=3, frac_threshold=0.6
        ).collect()
    }
    assert not frac[0] and frac[2]
    two = {
        r["doc_id"]: r["contaminated"]
        for r in decon.contamination_scores(
            corpus, bench, k=3, min_overlap=2
        ).collect()
    }
    assert not two[0] and two[2]

    # the shuffle-join fallback must agree with the broadcast plan
    no_bc = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"])
        for r in decon.contamination_scores(
            corpus, bench, k=3, broadcast_benchmark=False
        ).collect()
    }
    assert no_bc == {
        i: (r["n_shingles"], r["n_overlap"]) for i, r in got.items()
    }

    kept = decon.decontaminate(corpus, bench, k=3)
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    assert kept.columns == corpus.columns

    with pytest.raises(ValueError):
        decon.contamination_scores(corpus, bench, min_overlap=0)


def test_corpus_shuffle_deterministic_sharded(spark):
    from data_contract_engine_spark.operators import sampling

    d = spark.createDataFrame(
        [(i, "t%d" % i) for i in range(500)], "doc_id long, text string"
    )
    out = sampling.corpus_shuffle(d, n_shards=8).collect()
    assert len(out) == 500
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r)
    # positions are 1..n per shard, dense
    for rows in by_shard.values():
        assert sorted(r["shard_pos"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
    # repartition-stable (the point of the portable hash)
    again = sampling.corpus_shuffle(d.repartition(13), n_shards=8).collect()
    assert {(r["doc_id"], r["shard"], r["shard_pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["shard_pos"]) for r in out
    }
    # a different seed is a different permutation
    other = sampling.corpus_shuffle(d, n_shards=8, seed=7).collect()
    assert {(r["doc_id"], r["shard"], r["shard_pos"]) for r in other} != {
        (r["doc_id"], r["shard"], r["shard_pos"]) for r in out
    }
    # the order is shuffled, not the input order
    shard0 = sorted(by_shard[0], key=lambda r: r["shard_pos"])
    ids0 = [r["doc_id"] for r in shard0]
    assert ids0 != sorted(ids0)
    # reserved output names collide loudly
    with pytest.raises(ValueError):
        sampling.corpus_shuffle(d.withColumn("shard", F.lit(1)))


def test_curate_corpus_funnel(spark):
    from data_contract_engine_spark.operators import curation

    base = (
        "the quick brown fox jumps over the lazy dog and runs back to the "
        "barn for dinner with friends tonight"
    )
    bench = spark.createDataFrame(
        [(100, "benchmark question about the capital of france and spain")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, base),                                # survives
            (1, base),                                # exact dup of 0 → dropped
            (2, base + " extra tail words here"),     # survives (distinct)
            (3, "benchmark question about the capital of france and spain"
                " plus leakage"),                     # contaminated → dropped
            (4, "!!!! ???? ;;;; ::: ,,,, ....."),     # low quality → dropped
        ],
        "doc_id long, text string",
    )
    out = curation.curate_corpus(
        corpus, bench, k=3, frac_threshold=0.1,
        quality_threshold=0.8, budget=16, n_shards=2,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 2}
    assert rows[0]["n_tokens"] == 20
    for r in rows.values():
        assert 0 <= r["shard"] < 2
        assert r["pack_id"] >= 0 and 0 <= r["pack_offset"] < 16
    assert out.columns == [
        "doc_id", "n_tokens", "shard", "pack_id", "pack_offset"
    ]


def test_curate_corpus_near_dup_minhash(spark):
    from data_contract_engine_spark.operators import curation

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    bench = spark.createDataFrame(
        [(100, "unrelated benchmark text nothing overlaps at all here")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, base),                         # near-dup rep (min id) → kept
            (1, base + " phi"),                # jaccard 18/21 ≈ 0.857 → dropped
            (2, "totally different words entirely unrelated to the others "
                "about sailing ships across the wide open ocean at dawn"),
        ],
        "doc_id long, text string",
    )
    kw = dict(k=3, frac_threshold=0.1, quality_threshold=0.0,
              budget=64, n_shards=2)
    without = {r["doc_id"] for r in
               curation.curate_corpus(corpus, bench, **kw).collect()}
    assert without == {0, 1, 2}  # exact dedup alone keeps the near-dup
    with_nd = {r["doc_id"] for r in curation.curate_corpus(
        corpus, bench, near_dup="minhash", near_dup_threshold=0.8, **kw
    ).collect()}
    assert with_nd == {0, 2}  # min-id representative survives


def test_curate_corpus_near_dup_semantic_and_resumable_parity(
    spark, tmp_path
):
    """Semantic near-dup in the one-shot funnel AND byte-parity with the
    resumable variant's phase-2 placement; docs without an embedding row
    are never dropped."""
    from data_contract_engine_spark.checkpoint import CheckpointStore
    from data_contract_engine_spark.operators import curation

    corpus = spark.createDataFrame(
        [
            (0, "p0", "first document with enough normal words to pass "
                      "quality easily today"),
            (1, "p0", "second document also with enough normal words to "
                      "pass quality easily"),
            (2, "p1", "third document unrelated content about mountains "
                      "and rivers and valleys"),
            (3, "p1", "fourth document with no embedding row at all but "
                      "fine text content"),
        ],
        "doc_id long, part string, text string",
    )
    bench = spark.createDataFrame(
        [(99, "benchmark text that matches nothing in the corpus")],
        "doc_id long, text string",
    )
    # 0 and 1 are semantic near-dups (same cluster, cosine 1.0); 2 is far
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    kw = dict(k=3, frac_threshold=0.5, quality_threshold=0.0,
              budget=32, n_shards=2)
    oneshot = curation.curate_corpus(
        corpus.drop("part"), bench,
        near_dup="semantic", near_dup_threshold=0.95,
        embeddings=emb, centroids=cents, semantic_exact=True, **kw,
    )
    kept = {r["doc_id"] for r in oneshot.collect()}
    assert kept == {0, 2, 3}  # 1 collapsed into 0; 3 kept (no embedding)

    store = CheckpointStore(spark, str(tmp_path / "ck"))
    res, _ = curation.curate_corpus_resumable(
        corpus, bench, store, "r1", "part", str(tmp_path / "cand"),
        near_dup="semantic", near_dup_threshold=0.95,
        embeddings=emb, centroids=cents, semantic_exact=True, **kw,
    )
    assert (sorted(map(tuple, res.collect()))
            == sorted(map(tuple, oneshot.collect())))

    import pytest

    with pytest.raises(ValueError, match="minhash"):
        res2, _ = curation.curate_corpus_resumable(
            corpus, bench, store, "r2", "part", str(tmp_path / "cand2"),
            near_dup="minhash", **kw,
        )


def _gif_lzw_compress(indices, min_code=8):
    """A REAL LZW compressor (string table, variable code width) — used
    to prove decode_gif handles general compressed streams, not only the
    literal-code stream our fixture encoder emits."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, size):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    code_size = min_code + 1
    next_code = eoi + 1
    emit(clear, code_size)
    seq = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], code_size)
        table[cand] = next_code
        next_code += 1
        # the encoder's table runs one entry AHEAD of the decoder's, so
        # width grows at 2^cs + 1 here (the decoder grows at its 2^cs)
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        seq = (idx,)
    if seq:
        emit(table[seq], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    blocks = bytearray()
    for off in range(0, len(out), 255):
        chunk = out[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    return bytes(blocks) + b"\x00"


def test_gif_codec_roundtrip_and_real_lzw(spark):
    import struct

    from data_contract_engine_spark.operators import multimodal as mm

    palette = [mm.gif_palette_entry(i) for i in range(256)]

    # fixture encoder round-trip (crosses CLEAR and sub-block boundaries)
    for mid in (0, 17, 9999):
        w, h = 8 + mid % 16, 4 + mid % 8
        if mid == 9999:
            w, h = 120, 40
        rows = [[mm.gif_index_value(mid, x, y) for x in range(w)]
                for y in range(h)]
        dw, dh, drows = mm.decode_gif(mm.encode_gif(rows, palette))
        assert (dw, dh) == (w, h)
        assert drows == [[palette[i] for i in row] for row in rows]

    # general LZW: repetitive data compresses through the string table
    # (KwKwK patterns included); the decoder must read it identically
    w, h = 64, 32
    indices = [(x // 4 + y) % 7 for y in range(h) for x in range(w)]
    payload = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        + b"".join(bytes(p) for p in palette)
        + b"\x21\xfe\x05hello\x00"          # comment extension (skipped)
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([8]) + _gif_lzw_compress(indices)
        + b"\x3B"
    )
    dw, dh, drows = mm.decode_gif(payload)
    assert (dw, dh) == (w, h)
    flat = [px for row in drows for px in row]
    assert flat == [palette[i] for i in indices]

    # error paths are loud
    import pytest as _pt
    with _pt.raises(ValueError):
        mm.decode_gif(b"NOTGIF" + b"\x00" * 20)


def test_gif_media_pipeline(spark):
    from data_contract_engine_spark.operators import multimodal as mm

    ids = spark.createDataFrame([(i,) for i in (0, 5, 17)], ["doc_id"])
    feats = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(
            mm.gif_media_from_ids(ids), decoder=mm.stdlib_media_decoder
        ).collect()
    }
    for mid in (0, 5, 17):
        w, h = 8 + mid % 16, 4 + mid % 8
        expect = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                pal = mm.gif_palette_entry(mm.gif_index_value(mid, x, y))
                for c in range(3):
                    expect[c] += pal[c]
        assert feats[mid][:5] == [float(w), float(h)] + [
            float(v) for v in expect
        ]


# a real libjpeg-encoded 2x2 grayscale JPEG (standard quant + Annex K
# Huffman tables, JFIF header) — proves decode_jpeg reads tables and
# streams produced by a FOREIGN encoder, not only our fixture encoder
_LIBJPEG_2X2 = bytes.fromhex(
    "ffd8ffe000104a46494600010100000100010000ffdb0043000806060706"
    "05080707070909080a0c140d0c0b0b0c1912130f141d1a1f1e1d1a1c1c20"
    "242e2720222c231c1c2837292c30313434341f27393d38323c2e333432ff"
    "c0000b080002000201011100ffc4001f00000105010101010101000000000"
    "00000000102030405060708090a0bffc400b51000020103030204030505040"
    "40000017d01020300041105122131410613516107227114328191a1082342"
    "b1c11552d1f02433627282090a161718191a25262728292a3435363738393a"
    "434445464748494a535455565758595a636465666768696a73747576777879"
    "7a838485868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5"
    "b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8"
    "e9eaf1f2f3f4f5f6f7f8f9faffda0008010100003f002bffd9"
)


def test_jpeg_codec_exact_tiles_and_general(spark):
    import math

    from data_contract_engine_spark.operators import multimodal as mm

    # DC-only constant tiles decode bit-exactly (the oracle's premise)
    for mid in (0, 5, 17, 42):
        w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
        px = [[mm.jpeg_tile_value(mid, x // 8, y // 8) for x in range(w)]
              for y in range(h)]
        dw, dh, nc, rows = mm.decode_jpeg(mm.encode_jpeg_gray(px))
        assert (dw, dh, nc) == (w, h, 1)
        assert [[p[0] for p in row] for row in rows] == px

    # general AC-bearing content round-trips within ±1 at quant=1
    w, h = 24, 16
    px = [[(3 * x + 5 * y + int(20 * math.sin(x * 0.7) * math.cos(y * 0.5)))
           % 256 for x in range(w)] for y in range(h)]
    _, _, _, rows = mm.decode_jpeg(mm.encode_jpeg_gray(px))
    assert max(abs(rows[y][x][0] - px[y][x])
               for y in range(h) for x in range(w)) <= 1

    # non-multiple-of-8 dims (edge-replication padding, decoder crop)
    w, h = 13, 9
    px = [[(x * 7 + y * 11) % 256 for x in range(w)] for y in range(h)]
    dw, dh, _, rows = mm.decode_jpeg(mm.encode_jpeg_gray(px))
    assert (dw, dh) == (w, h)
    assert max(abs(rows[y][x][0] - px[y][x])
               for y in range(h) for x in range(w)) <= 1

    # FOREIGN encoder: libjpeg file with JFIF APP0 + Annex K tables
    dw, dh, nc, rows = mm.decode_jpeg(_LIBJPEG_2X2)
    assert (dw, dh, nc) == (2, 2, 1)
    assert sum(p[0] for row in rows for p in row) == 512  # uniform gray

    # documented limitations are loud
    import pytest as _pt
    with _pt.raises(ValueError):
        mm.decode_jpeg(b"nope")


def test_jpeg_media_pipeline(spark):
    from data_contract_engine_spark.operators import multimodal as mm

    ids = spark.createDataFrame([(i,) for i in (0, 5, 17)], ["doc_id"])
    feats = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(
            mm.jpeg_media_from_ids(ids), decoder=mm.stdlib_media_decoder
        ).collect()
    }
    for mid in (0, 5, 17):
        tw, th = 1 + mid % 3, 1 + mid % 2
        total = sum(
            64 * mm.jpeg_tile_value(mid, tx, ty)
            for tx in range(tw) for ty in range(th)
        )
        assert feats[mid][:3] == [float(tw * 8), float(th * 8), float(total)]


def test_jpeg_chroma_subsampling_420(spark):
    """4:2:0 MCU interleave + replicated chroma upsampling: a constant-
    color subsampled image decodes to the exact YCbCr→RGB conversion,
    and a luma gradient under constant chroma survives bit-near."""
    from data_contract_engine_spark.operators import multimodal as mm

    w, h = 24, 16
    Y0, CB0, CR0 = 120, 90, 160
    cb = [[CB0] * ((w + 1) // 2) for _ in range((h + 1) // 2)]
    cr = [[CR0] * ((w + 1) // 2) for _ in range((h + 1) // 2)]

    payload = mm.encode_jpeg_color420([[Y0] * w for _ in range(h)], cb, cr)
    dw, dh, nc, rows = mm.decode_jpeg(payload)
    assert (dw, dh, nc) == (w, h, 3)
    clamp = lambda v: max(0, min(255, round(v)))
    exp = (
        clamp(Y0 + 1.402 * (CR0 - 128)),
        clamp(Y0 - 0.344136 * (CB0 - 128) - 0.714136 * (CR0 - 128)),
        clamp(Y0 + 1.772 * (CB0 - 128)),
    )
    assert all(px == exp for row in rows for px in row)

    yp = [[(5 * x + 9 * y) % 256 for x in range(w)] for y in range(h)]
    _, _, _, rows = mm.decode_jpeg(mm.encode_jpeg_color420(yp, cb, cr))
    for y in range(h):
        for x in range(w):
            assert abs(rows[y][x][0]
                       - clamp(yp[y][x] + 1.402 * (CR0 - 128))) <= 3

    with pytest.raises(ValueError):
        mm.encode_jpeg_color420([[0] * 8] * 8, [[0] * 9] * 4, [[0] * 4] * 4)


def test_codec_property_roundtrips(spark):
    """Property: random images round-trip the stdlib codecs — GIF and
    PNG exactly, JPEG within ±1 (IDCT rounding at quant=1)."""
    from hypothesis import given, settings, strategies as st

    from data_contract_engine_spark.operators import multimodal as mm

    palette = [mm.gif_palette_entry(i) for i in range(256)]

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 40), st.integers(1, 24), st.randoms(use_true_random=False)
    )
    def check(w, h, rnd):
        idx = [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
        dw, dh, drows = mm.decode_gif(mm.encode_gif(idx, palette))
        assert (dw, dh) == (w, h)
        assert drows == [[palette[i] for i in row] for row in idx]

        px = [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
        pw, ph, ch, prow = mm.decode_png(mm.encode_png(
            [[(v, (v * 7) % 256, (v * 13) % 256) for v in row] for row in px]
        ))
        assert (pw, ph, ch) == (w, h, 3)
        assert [[p[0] for p in r] for r in prow] == px

        jw, jh, nc, jrows = mm.decode_jpeg(mm.encode_jpeg_gray(px))
        assert (jw, jh, nc) == (w, h, 1)
        assert max(
            abs(jrows[y][x][0] - px[y][x])
            for y in range(h) for x in range(w)
        ) <= 1

    check()


def test_mp4_container_parse(spark):
    from data_contract_engine_spark.operators import multimodal as mm

    sizes = [12, 34, 56]
    payload = mm.encode_mp4_stub(sizes, duration_ms=120, width=96, height=64)
    info = mm.parse_mp4(payload)
    assert info["brand"] == "isom" and info["duration_ms"] == 120
    t = info["tracks"][0]
    assert t["handler"] == "vide" and t["codec"] == "avc1"
    assert t["sample_sizes"] == sizes
    assert (t["width"], t["height"]) == (96, 64)
    # the chunk offset points INSIDE the payload at the real mdat bytes
    off = t["chunk_offsets"][0]
    assert payload[off : off + 3] == bytes((7 * 0 + j) % 256
                                           for j in range(3))
    with pytest.raises(ValueError):
        mm.parse_mp4(b"garbage!")
    with pytest.raises(ValueError):
        mm.parse_mp4(payload[:40])  # truncated box

    # Spark-side sample table
    ids = spark.createDataFrame([(i,) for i in (0, 7)], ["doc_id"])
    rows = mm.mp4_sample_table(mm.mp4_media_from_ids(ids)).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid in (0, 7):
        n = 3 + mid % 5
        got = sorted(by_id[mid], key=lambda r: r["sample_idx"])
        assert [r["sample_size"] for r in got] == [
            10 + (mid * 7 + i * 3) % 50 for i in range(n)
        ]
        assert got[0]["duration_ms"] == n * (40 + mid % 25)
        assert got[0]["codec"] == "avc1"


def test_mp3_frame_parsing(spark):
    from data_contract_engine_spark.operators import multimodal as mm

    # VBR stream with ID3v2 tag: offsets/lengths exact
    params = [(5, 0, 0), (14, 0, 1), (1, 0, 0)]
    payload = mm.encode_mp3_stub(params, tag_bytes=25)
    frames, dur = mm.parse_mp3_frames(payload)
    assert len(frames) == 3
    off = 25
    for fr, (bi, si, pad) in zip(frames, params):
        kbps = mm._MP3_BITRATES[bi - 1]
        flen = 144000 * kbps // 44100 + pad
        assert (fr["offset"], fr["bytes"], fr["bitrate_kbps"]) == (
            off, flen, kbps
        )
        off += flen
    assert dur == round(3 * 1152000 / 44100)

    for bad in (b"junk", payload[:-5]):
        with pytest.raises(ValueError):
            mm.parse_mp3_frames(bad)

    # Spark-side frame table matches the per-file parse
    ids = spark.createDataFrame([(i,) for i in (0, 13)], ["doc_id"])
    rows = mm.mp3_frame_table(mm.mp3_media_from_ids(ids)).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid in (0, 13):
        n = 4 + mid % 6
        got = sorted(by_id[mid], key=lambda r: r["frame_idx"])
        assert len(got) == n
        assert got[0]["byte_offset"] == 10 + mid % 20
        for i in range(1, n):
            assert got[i]["byte_offset"] == (
                got[i - 1]["byte_offset"] + got[i - 1]["frame_bytes"]
            )


def test_ks_drift(spark):
    from data_contract_engine_spark.operators import drift

    same = spark.createDataFrame([(float(i % 50),) for i in range(500)],
                                 "v double")
    shifted = spark.createDataFrame(
        [(float(i % 50 + 30),) for i in range(500)], "v double"
    )
    edges = [10.0, 20.0, 30.0, 40.0]
    assert drift.ks_drift(same, same, "v", edges=edges) == 0.0
    ks = drift.ks_drift(shifted, same, "v", edges=edges)
    assert 0.3 < ks <= 1.0
    # identical distribution in different row order → 0
    assert drift.ks_drift(same.orderBy(F.rand(7)), same, "v",
                          edges=edges) == 0.0


def test_ks_drift_empty_side_raises(spark):
    """KS has no CDF for a side without values: an empty current side
    raises instead of reading as "no drift", on given and on quantile
    edges."""
    from data_contract_engine_spark.operators import drift

    base = spark.createDataFrame([(float(i % 50),) for i in range(500)],
                                 "v double")
    empty = spark.createDataFrame([], "v double")
    with pytest.raises(ValueError, match="zero total count"):
        drift.ks_drift(empty, base, "v", edges=[10.0, 20.0])
    with pytest.raises(ValueError, match="current=0"):
        drift.ks_drift(empty, base, "v")


def test_chunk_documents(spark):
    d = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (1, "a b c"),                               # 3 toks, 1 chunk
            (2, ""),                                    # no chunks
        ],
        "doc_id long, text string",
    )
    out = textstats.chunk_documents(d, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: starts 0,3,6 → chunks of 4,4,4 tokens; a 4th chunk at 9
    # would only repeat t9 (already covered by chunk 2) and is NOT
    # emitted — every chunk must contribute at least one new token
    got = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert [r["n_tokens"] for r in got] == [4, 4, 4]
    assert got[0]["chunk_text"] == "t0 t1 t2 t3"
    assert got[1]["chunk_text"] == "t3 t4 t5 t6"   # 1-token overlap
    assert got[2]["chunk_text"] == "t6 t7 t8 t9"
    covered = set()
    for r in got:
        toks = set(r["chunk_text"].split())
        assert toks - covered                      # new tokens each chunk
        covered |= toks
    assert covered == {f"t{i}" for i in range(10)}  # nothing lost
    assert [r["chunk_text"] for r in by_doc[1]] == ["a b c"]
    assert 2 not in by_doc
    with pytest.raises(ValueError):
        textstats.chunk_documents(d, max_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        textstats.chunk_documents(d, max_tokens=0)


def test_unigram_perplexity_and_filter(spark):
    import math

    from data_contract_engine_spark.operators import lm

    d = spark.createDataFrame(
        [
            (0, "a a a a"),            # all head tokens → low perplexity
            (1, "a a q1 q2"),          # half rare tokens → higher
            (2, ""),                   # no tokens → no score
        ],
        "doc_id long, text string",
    )
    scores = {r["doc_id"]: r for r in
              lm.unigram_perplexity(d, top_k=None).collect()}
    assert set(scores) == {0, 1}
    assert scores[0]["perplexity"] < scores[1]["perplexity"]
    # closed-form check for doc 0: corpus N=8, V=3, p(a)=(6+.5)/(8+.5*4)
    expect = -math.log(6.5 / 10.0)
    assert scores[0]["mean_logprob"] == pytest.approx(-expect, abs=1e-9)

    # capped-vocab path: top_k=1 keeps only 'a'; OOV bucket carries the
    # exact tail mass (2 tokens over 2 tail types → avg 1.0 per type)
    capped = {r["doc_id"]: r for r in
              lm.unigram_perplexity(d, top_k=1).collect()}
    oov_logp = math.log((2 / 2 + 0.5) / 10.0)
    head_logp = math.log(6.5 / 10.0)
    assert capped[1]["mean_logprob"] == pytest.approx(
        (2 * head_logp + 2 * oov_logp) / 4, abs=1e-9
    )

    kept = lm.perplexity_filter(
        d, max_perplexity=scores[0]["perplexity"] + 1e-9, top_k=None
    )
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {0, 2}  # doc 1 cut; zero-token doc kept

    with pytest.raises(ValueError):
        lm.unigram_perplexity(d, alpha=0)


def test_cap_per_group(spark):
    from data_contract_engine_spark.operators import sampling

    d = spark.createDataFrame(
        [(i, "dom%d" % (i % 3)) for i in range(90)],
        "doc_id long, source string",
    )
    out = sampling.cap_per_group(d, 5, "source")
    rows = out.collect()
    counts = {}
    for r in rows:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    assert counts == {"dom0": 5, "dom1": 5, "dom2": 5}
    # deterministic + repartition-stable
    again = {r["doc_id"] for r in
             sampling.cap_per_group(d.repartition(7), 5, "source").collect()}
    assert again == {r["doc_id"] for r in rows}
    # cap above group size keeps everything; schema untouched
    assert sampling.cap_per_group(d, 100, "source").count() == 90
    assert out.columns == d.columns
    with pytest.raises(ValueError):
        sampling.cap_per_group(d, 0, "source")


def test_review_fixes_mp3_trailer_lm_schema_cap_nulls(spark):
    """Round-3 review findings: ID3v1 trailer tolerated; empty-corpus LM
    keeps the caller's id type; cap_per_group NULL/clash policies."""
    from data_contract_engine_spark.operators import lm, multimodal as mm
    from data_contract_engine_spark.operators import sampling

    # MP3 with a trailing 128-byte ID3v1 tag parses cleanly
    body = mm.encode_mp3_stub([(5, 0, 0), (9, 1, 1)])
    tagged = body + b"TAG" + bytes(125)
    frames, _ = mm.parse_mp3_frames(tagged)
    assert len(frames) == 2
    # ...but arbitrary trailing garbage still raises
    with pytest.raises(ValueError):
        mm.parse_mp3_frames(body + b"XXX" + bytes(125))

    # empty corpus with STRING ids: schema-faithful empty result
    d = spark.createDataFrame([("a", " "), ("b", "")],
                              "doc_id string, text string")
    out = lm.unigram_perplexity(d)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"
    # and the filter path keeps everything (nothing scored over limit)
    assert lm.perplexity_filter(d, 10.0).count() == 2

    # cap_per_group: NULL keys drop by default, rank last with 'keep'
    dn = spark.createDataFrame(
        [(None, "g"), (1, "g"), (2, "g"), (3, "g")],
        "doc_id long, source string",
    )
    assert sampling.cap_per_group(dn, 3, "source").count() == 3
    kept = sampling.cap_per_group(dn, 4, "source", on_null="keep")
    assert kept.count() == 4
    three = sampling.cap_per_group(dn, 3, "source", on_null="keep")
    assert all(r["doc_id"] is not None for r in three.collect())
    with pytest.raises(ValueError):
        sampling.cap_per_group(dn.withColumn("__rank", F.lit(1)), 1,
                               "source")
    with pytest.raises(ValueError):
        sampling.cap_per_group(dn, 1, "source", on_null="banana")

    # parser: non-numeric percentile bound is a clean ContractError
    from data_contract_engine_spark.contracts.model import ContractError
    from data_contract_engine_spark.contracts.parser import _parse_quality
    with pytest.raises(ContractError):
        _parse_quality(
            {"statistics": {"v": {"percentiles": {0.5: {"min": "seven"}}}}}
        )


def test_tfidf_top_terms(spark):
    import math

    d = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "cherry shared shared"),
            (2, "apple durian shared"),
        ],
        "doc_id long, text string",
    )
    out = textstats.tfidf_top_terms(d, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'shared' is in all 3 docs → idf ln(1) = 0: never rank 1, and
    # only present where a doc has fewer than k scoring terms
    for rs in by_doc.values():
        for r in rs:
            if r["term"] == "shared":
                assert r["rank"] > 1 and r["score"] == 0.0
    got0 = sorted(by_doc[0], key=lambda r: r["rank"])
    # banana: tf 1 · ln(3/1) = 1.099 beats apple: tf 2 · ln(3/2) = 0.811
    assert got0[0]["term"] == "banana"
    assert got0[0]["score"] == pytest.approx(math.log(3.0), abs=1e-9)
    assert got0[1]["term"] == "apple" and got0[1]["tf"] == 2
    assert got0[1]["score"] == pytest.approx(2 * math.log(3 / 2), abs=1e-9)
    with pytest.raises(ValueError):
        textstats.tfidf_top_terms(d, k=0)


def test_bigram_perplexity(spark):
    import math

    from data_contract_engine_spark.operators import lm

    d = spark.createDataFrame(
        [
            (0, "a b a b a b"),      # fully predictable bigrams
            (1, "a q b z a x"),      # novel transitions → higher ppl
            (2, "solo"),             # 1 token → no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           lm.bigram_perplexity(d, alpha=0.5, lam=0.75).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_bigrams"] == 5
    assert got[0]["perplexity"] < got[1]["perplexity"]

    # closed-form spot check: corpus unigrams N=13 V=6; the bigram
    # 'a b' occurs 3x, context 'a' starts 5 bigrams
    n, v = 13, 6
    p_bi = (3 + 0.5) / (5 + 0.5 * (v + 1))
    p_uni_b = (4 + 0.5) / (n + 0.5 * (v + 1))
    # doc 0 bigrams: 'a b' x3, 'b a' x2
    p_bi_ba = (2 + 0.5) / (3 + 0.5 * (v + 1))  # 'b' starts 3 bigrams
    p_uni_a = (5 + 0.5) / (n + 0.5 * (v + 1))
    lp = (
        3 * math.log(0.75 * p_bi + 0.25 * p_uni_b)
        + 2 * math.log(0.75 * p_bi_ba + 0.25 * p_uni_a)
    ) / 5
    assert got[0]["mean_logprob"] == pytest.approx(lp, abs=1e-9)

    with pytest.raises(ValueError):
        lm.bigram_perplexity(d, lam=1.5)


def test_chunk_documents_property(spark):
    """Property vs a Python reference: chunk starts/slices/coverage for
    random doc lengths and (max_tokens, overlap) combos."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(0, 40),                  # n tokens
        st.integers(1, 10),                  # max_tokens
        st.integers(0, 9),                   # overlap (clamped below)
    )
    def check(n, max_tokens, overlap):
        overlap = min(overlap, max_tokens - 1)
        step = max_tokens - overlap
        toks = [f"w{i}" for i in range(n)]
        d = spark.createDataFrame([(0, " ".join(toks))],
                                  "doc_id long, text string")
        got = sorted(
            textstats.chunk_documents(
                d, max_tokens=max_tokens, overlap=overlap
            ).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # python reference: starts while first chunk or new tokens exist
        expect = []
        s = 0
        while n and (s == 0 or s + overlap < n):
            if s < n:
                expect.append(toks[s : s + max_tokens])
            s += step
        assert [r["chunk_text"].split() for r in got] == expect
        assert [r["chunk_idx"] for r in got] == list(range(len(expect)))
        if n:
            covered = [t for c in expect for t in c]
            assert set(covered) == set(toks)      # nothing lost

    check()


def test_upsample_by_weight(spark):
    from data_contract_engine_spark.operators import sampling

    d = spark.createDataFrame(
        [(0, 2), (1, 0), (2, None), (3, -5), (4, 1000)],
        "doc_id long, w int",
    )
    out = sampling.upsample_by_weight(d, "w", max_weight=10).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["copy_idx"])
    assert sorted(by_id[0]) == [1, 2]
    assert 1 not in by_id and 2 not in by_id and 3 not in by_id  # 0/NULL/neg drop
    assert sorted(by_id[4]) == list(range(1, 11))  # clamped at max_weight
    with pytest.raises(ValueError):
        sampling.upsample_by_weight(d.withColumn("copy_idx", F.lit(1)), "w")
    with pytest.raises(ValueError):
        sampling.upsample_by_weight(d, "w", max_weight=0)


def test_semantic_dedup_exact_and_lsh(spark):
    """SemDeDup composition: deterministic IVF assignment + within-cluster
    near-dup pairs + component collapse -> min-id survivors. The LSH
    candidate path must agree with the exact all-pairs spec on this
    fixture, and cross-cluster near-identical vectors must NOT dedup
    (cluster-scoped by design)."""
    import random

    rnd = random.Random(23)
    cents = [
        [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    ]

    def near(c, eps):
        return [v + rnd.uniform(-eps, eps) for v in c]

    rows = []
    # cluster 0: a transitive chain 0~1~2 of near-dups + one loner
    rows += [(0, near(cents[0], 0.001)), (1, near(cents[0], 0.001)),
             (2, near(cents[0], 0.001)),
             (3, [0.9, 0.4, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0])]
    # cluster 1: one dup pair
    rows += [(4, near(cents[1], 0.001)), (5, near(cents[1], 0.001))]
    # cluster 2: singletons only
    rows += [(6, near(cents[2], 0.3)), (7, near(cents[2], 0.3))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = dedup.semantic_dedup(
        emb, threshold=0.999, centroids=cents, exact=True
    )
    survivors = {r["vec_id"]: r["list_id"] for r in out.collect()}
    assert set(survivors) == {0, 3, 4, 6, 7}
    assert survivors[0] == 0 and survivors[4] == 1 and survivors[6] == 2

    lsh = dedup.semantic_dedup(
        emb, threshold=0.999, centroids=cents, exact=False,
        planes=12, bands=6,
    )
    assert {r["vec_id"] for r in lsh.collect()} == set(survivors)

    # pairs stage: nothing pairs across clusters even at high cosine
    cross = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
         (11, [0.71, 0.7071, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    from data_contract_engine_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(cross, [[1.0, 0, 0, 0, 0, 0, 0, 0],
                                  [0.7, 0.72, 0, 0, 0, 0, 0, 0]])
    got = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert got[10] != got[11]
    pairs = dedup.semantic_dedup_pairs(assigned, threshold=0.5, exact=True)
    assert pairs.count() == 0

    # plan sanity: no cartesian product anywhere in the LSH pair stage
    plan = (
        dedup.semantic_dedup_pairs(
            ivf_assign(emb, cents), threshold=0.999, planes=12, bands=6,
            dim=8,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_semantic_dedup_plan_construction_is_lazy(spark, monkeypatch):
    """Building the semantic-dedup plan must run NO driver-side action:
    dim comes from the centroids, never a .first()/.collect() probe."""
    import pyspark.sql.dataframe as df_mod
    import pytest

    from data_contract_engine_spark.operators import dedup
    from data_contract_engine_spark.operators.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]

    def _boom(self, *a, **k):  # any eager action during plan build = bug
        raise AssertionError("driver action during plan construction")

    for action in ("first", "collect", "count", "take", "head"):
        monkeypatch.setattr(df_mod.DataFrame, action, _boom)
    plan = dedup.semantic_dedup(emb, threshold=0.9, centroids=cents)
    monkeypatch.undo()
    assert plan.count() >= 0  # acting on it afterwards still works

    # and the LSH pair stage refuses to guess dim rather than probing
    with pytest.raises(ValueError, match="dim"):
        dedup.semantic_dedup_pairs(ivf_assign(emb, cents), threshold=0.9)
    with pytest.raises(ValueError, match="dim"):
        dedup.embedding_near_duplicates(emb, threshold=0.9)
