"""Training-data pipeline operators: text analysis, dedup, similarity
search, multimodal plumbing — over the driver's documents/embeddings
tables plus controlled fixtures."""

import pytest
from pyspark.sql import functions as F

from hbase_spark.functions.dedup import (
    embedding_near_dups,
    exact_dedup,
    exact_dup_groups,
    hamming64,
    jaccard_pairs,
    minhash_candidates,
    minhash_dedup,
    shingles,
    simhash,
    simhash_candidates,
)
from hbase_spark.functions.multimodal import decode_images, make_fake_media, sample_frames
from hbase_spark.functions.similarity import (
    ann_index,
    ann_topk,
    cosine_topk,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
)
from hbase_spark.functions.text import analyze_documents, lang_id, token_count
from hbase_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_lang_id_on_real_language_samples(spark):
    # the synthetic documents table uses one shared vocabulary for every
    # lang label, so validate the classifier on real-language snippets
    samples = [
        ("the cat sat on the mat and it is a good day for a walk", "en"),
        ("der Hund ist nicht mit der Katze auf das Sofa gegangen", "de"),
        ("le chat est sur la table et les enfants sont pour une pomme", "fr"),
        ("el perro y la gata son un ejemplo que por las calles", "es"),
        ("xyzzy qwerty zzz", "unknown"),
    ]
    df = spark.createDataFrame(samples, ["text", "expected"])
    out = df.select("expected", lang_id("text").alias("pred")).collect()
    assert all(r.pred == r.expected for r in out)


def test_lang_id_runs_on_documents(docs):
    preds = docs.select(lang_id("text").alias("pred")).groupBy("pred").count()
    got = {r.pred for r in preds.collect()}
    assert got <= {"en", "de", "fr", "es", "it", "unknown"}
    assert "en" in got  # shared vocabulary contains 'the'


def test_analyze_documents_shape(docs):
    out = analyze_documents(docs)
    row = out.orderBy("doc_id").first()
    assert row.n_tokens > 0 and row.n_bpe_tokens >= row.n_tokens
    assert 0.0 <= row.quality <= 1.0
    assert out.count() == docs.count()
    assert token_count("text") is not None


def test_canonical_url_rules(spark):
    from hbase_spark.functions.text import canonical_url, url_host

    cases = [
        # case + default port + www + tracking params + fragment + trailing /
        ("HTTPS://WWW.Example.COM:443/art/5/?utm_campaign=x&fbclid=abc#s2",
         "https://example.com/art/5"),
        ("http://Site.org:80/a?id=3&utm_source=rss&q=2",
         "http://site.org/a?id=3&q=2"),
        # non-default port and path case survive
        ("https://example.com:8443/CaseSensitive/Path",
         "https://example.com:8443/CaseSensitive/Path"),
        # query that becomes empty is dropped entirely
        ("https://example.com?utm_source=x", "https://example.com"),
        ("https://example.com/", "https://example.com"),
    ]
    df = spark.createDataFrame(cases, ["url", "expected"])
    out = df.select(
        "expected", canonical_url("url").alias("got"),
        url_host(canonical_url("url")).alias("host"),
    ).collect()
    assert all(r.got == r.expected for r in out)
    assert {r.host for r in out} <= {"example.com", "site.org"}


def test_url_dedup_keeps_min_id_per_canonical(spark):
    from hbase_spark.functions.text import url_dedup

    rows = [
        (3, "https://a.com/x?utm_source=1"),
        (7, "HTTPS://A.COM/x"),
        (9, "https://a.com/y"),
    ]
    out = url_dedup(spark.createDataFrame(rows, ["doc_id", "url"]))
    got = {(r.doc_id, r.canonical_url, r.keep) for r in out.collect()}
    assert got == {
        (3, "https://a.com/x", True),
        (7, "https://a.com/x", False),
        (9, "https://a.com/y", True),
    }


def test_exact_dedup(spark, docs):
    # duplicate 10 docs verbatim with new ids
    dups = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100_000)
    corpus = docs.unionByName(dups)
    kept = exact_dedup(corpus)
    assert kept.count() == docs.count()
    # representative = min id -> originals survive
    assert kept.filter(F.col("doc_id") >= 100_000).count() == 0
    groups = exact_dup_groups(corpus)
    assert groups.count() == 10
    assert all(r.size == 2 for r in groups.collect())


def test_minhash_near_dedup(spark, docs):
    # near-duplicates: append one token to 8 docs
    near = (
        docs.orderBy("doc_id")
        .limit(8)
        .withColumn("doc_id", F.col("doc_id") + 200_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    corpus = docs.unionByName(near)
    cand = minhash_candidates(corpus, num_hashes=64, bands=16)
    verified = jaccard_pairs(corpus, cand).filter(F.col("jaccard") >= 0.8)
    found_pairs = {
        (r.id_a, r.id_b) for r in verified.collect()
    }
    expected = {(i, i + 200_000) for i in [r.doc_id for r in docs.orderBy("doc_id").limit(8).collect()]}
    assert expected <= found_pairs
    deduped = minhash_dedup(corpus, threshold=0.8, num_hashes=64, bands=16)
    assert deduped.filter(F.col("doc_id") >= 200_000).count() == 0
    # the synthetic corpus has genuine near-dups of its own; adding
    # clones (all dropped) must not change the surviving original set
    base = minhash_dedup(docs, threshold=0.8, num_hashes=64, bands=16)
    assert deduped.count() == base.count()


def test_minhash_dedup_hot_bucket_raises(spark, docs):
    """The fused minhash_dedup path must honor the cap+audit contract:
    a bucket over the skew cap with on_overflow='error' fails the job
    naming the bucket (no silent truncation — round-2 verdict item)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # 6 exact clones of one doc -> every band bucket holds 6 ids > cap 4
    one = docs.orderBy("doc_id").limit(1)
    clones = one
    for i in range(1, 6):
        clones = clones.unionByName(
            one.withColumn("doc_id", F.col("doc_id") + 400_000 + i)
        )
    # PySpark 4: localCheckpoint runs its job at call time even with
    # eager=False, so the raise surfaces as SparkRuntimeException at
    # BUILD (r8 pairs checkpoint) rather than Py4JJavaError at collect
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException),
        match="LSH bucket over skew cap",
    ):
        minhash_dedup(
            clones, threshold=0.8, num_hashes=64, bands=16,
            cap=4, on_overflow="error",
        ).collect()
    # truncate mode completes and still dedups within the capped prefix
    out = minhash_dedup(
        clones, threshold=0.8, num_hashes=64, bands=16,
        cap=4, on_overflow="truncate",
    )
    assert out.count() < 6


def test_minhash_signatures_rejects_reserved_extra_cols(spark):
    """An extra column named like one of minhash_signatures' internal
    aliases would collide with or shadow it: it must raise naming the
    column, and an ordinary extra column still passes through."""
    import pytest
    from hbase_spark.functions.dedup import minhash_signatures

    d = spark.createDataFrame([(1, "a b c d e", 7)], ["doc_id", "text", "x"])
    for name in ("_id", "_t", "_gh", "_harr", "_sig", "_SIG"):
        with pytest.raises(ValueError, match=rf"\['{name}'\]"):
            minhash_signatures(
                d.withColumnRenamed("x", name), extra_cols=(name,)
            ).collect()
    out = minhash_signatures(d, num_hashes=4, extra_cols=("x",))
    assert out.columns == ["_id", "x", "_sig"]
    assert out.first()["x"] == 7


def test_shingle_frame_non_ascii_doc_gets_empty_gram(spark):
    """A doc with unicode tokens but no ascii-alnum runs must yield the
    '' gram (same ascii tokenizer as the main path / shingle_arrays /
    the SQL oracle) — advisor round-2 item: with the unicode splitter
    it produced NO row and could never be a dedup candidate."""
    from hbase_spark.functions.dedup import shingle_arrays, shingle_frame

    d = spark.createDataFrame(
        [(1, "日本語のテキスト"), (2, "日本語のテキスト"), (3, "plain words here")],
        ["doc_id", "text"],
    )
    frame = {
        (r._id, r._s) for r in shingle_frame(d).collect()
    }
    assert (1, "") in frame and (2, "") in frame
    arrays = {r._id: r._g for r in shingle_arrays(d).collect()}
    assert arrays[1] == [""] and arrays[2] == [""]
    # and exact clones of such docs now dedup
    out = minhash_dedup(d, threshold=0.99, num_hashes=64, bands=16)
    assert out.count() == 2


def test_ann_recall_gate_raises_on_low_recall(spark):
    """The in-window ANN recall contract must actually fail the job
    when the approximate result misses the exact top-k (not silently
    emit the baseline rows)."""
    import sys

    import pytest

    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    bad = lambda spark, sf: e.q_embedding_cosine_topk(spark, sf).select(  # noqa: E731
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "score"
    )
    gated = e._recall_gated(e.q_embedding_cosine_topk, bad, 0.8, "test")
    # pyspark may surface raise_error as SparkRuntimeException or a raw
    # Py4J error depending on where it fires — match the message
    with pytest.raises(Exception, match="recall@10 below"):
        gated(spark, sf).collect()


def test_simhash_candidates(spark, docs):
    # identical texts -> hamming 0 -> must always be candidates
    near = docs.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 300_000
    )
    corpus = docs.unionByName(near)
    out = simhash_candidates(corpus, max_hamming=3, bands=4)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    expected = {
        (i, i + 300_000)
        for i in [r.doc_id for r in docs.orderBy("doc_id").limit(5).collect()]
    }
    assert expected <= pairs
    # pigeonhole recall: every true pair within max_hamming must be found
    # (verify against brute force on a small sample)
    sample = docs.filter(F.col("doc_id") < 60).select("doc_id", simhash("text").alias("sig"))
    a = sample.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sample.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("sa"), F.col("sb")) <= 3)
    )
    brute_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in simhash_candidates(
            docs.filter(F.col("doc_id") < 60), max_hamming=3, bands=4
        ).collect()
    }
    assert brute_pairs == got


def test_simhash_portable_variant_agrees_on_structure(spark, docs):
    """The md5-bit portable variant (round-9, the oracle-checked path)
    must behave like the xxhash64 production path: identical texts are
    hamming-0 candidates, and the banded output equals brute-force
    pairwise Hamming on the portable signatures (the pigeonhole
    exactness the DuckDB twin relies on).  A Python replay of one md5
    signature pins the bit layout (lo half = bits 0..31 = hex 9..16)."""
    import hashlib

    from hbase_spark.functions.dedup import (
        hamming64,
        simhash_candidates,
        simhash_signatures,
    )

    near = docs.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 300_000
    )
    corpus = docs.unionByName(near)
    out = simhash_candidates(corpus, max_hamming=3, bands=4, portable=True)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    expected = {
        (i, i + 300_000)
        for i in [r.doc_id for r in docs.orderBy("doc_id").limit(5).collect()]
    }
    assert expected <= pairs
    # banded == brute force on the portable signatures
    sample = simhash_signatures(
        docs.filter(F.col("doc_id") < 60), portable=True
    )
    a = sample.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sa"))
    b = sample.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("sa"), F.col("sb")) <= 3)
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_candidates(
            docs.filter(F.col("doc_id") < 60), max_hamming=3, bands=4,
            portable=True,
        ).collect()
    }
    assert brute == got
    # bit-layout replay: one known doc vs pure Python
    one = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id long, text string")
    sig = simhash_signatures(one, portable=True).collect()[0]["_sig"]
    exp_sig = 0
    toks = ["alpha", "beta", "gamma"]
    for bit in range(64):
        s = 0
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            half = int(hx[8:16], 16) if bit < 32 else int(hx[0:8], 16)
            s += 1 if (half >> (bit % 32)) & 1 else -1
        if s > 0:
            v = 1 << bit
            exp_sig |= v
    if exp_sig >= 1 << 63:
        exp_sig -= 1 << 64
    assert sig == exp_sig


def test_simhash_deterministic(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b c d e",)], ["text"])
    sigs = [r.s for r in df.select(simhash("text").alias("s")).collect()]
    assert sigs[0] == sigs[1]
    d = spark.range(1).select(
        hamming64(F.lit(0b1011).cast("long"), F.lit(0b0010).cast("long")).alias("h")
    )
    assert d.collect()[0].h == 2


def test_shingles(spark):
    df = spark.createDataFrame([("the quick brown fox",)], ["text"])
    out = df.select(shingles("text", 2).alias("s")).collect()[0].s
    assert set(out) == {"the quick", "quick brown", "brown fox"}


def test_cosine_topk_self_retrieval(vecs):
    target = vecs.orderBy("vec_id").first()
    out = cosine_topk(vecs, list(target.embedding), k=5).collect()
    assert out[0].vec_id == target.vec_id
    assert out[0].score == pytest.approx(1.0, abs=1e-5)
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_cosine_topk_batch_matches_per_query(vecs):
    """Batch retrieval == the per-query loop, and the two-stage
    sharded form == the single-stage form (the global top-k is
    contained in the union of per-shard top-ks)."""
    from hbase_spark.functions.similarity import cosine_topk_batch

    qs = [
        (int(r.vec_id), list(r.embedding))
        for r in vecs.orderBy("vec_id").limit(3).collect()
    ]
    batch = cosine_topk_batch(vecs, qs, k=5)
    got = {
        (r.query_id, r.rank): (r.vec_id, round(r.score, 9))
        for r in batch.collect()
    }
    for qid, qv in qs:
        per = cosine_topk(vecs, qv, k=5).collect()
        for rank, row in enumerate(per, start=1):
            assert got[(qid, rank)] == (row.vec_id, round(row.score, 9))
    sharded = {
        (r.query_id, r.rank): (r.vec_id, round(r.score, 9))
        for r in cosine_topk_batch(vecs, qs, k=5, shards=4).collect()
    }
    assert sharded == got

    # a zero vector scores 0 (not NaN, which would falsely take rank 1
    # in the descending order)
    dim = len(qs[0][1])
    base = vecs.select("vec_id", "embedding")
    with_zero = base.unionByName(
        vecs.sparkSession.createDataFrame(
            [(999_999, [0.0] * dim)], base.schema
        )
    )
    top = cosine_topk_batch(with_zero, qs[:1], k=3).collect()
    assert all(r.vec_id != 999_999 for r in top)


def test_seeded_shuffle_permutation_laws(spark):
    """seeded_shuffle: (shard, pos) is a permutation — pos is dense
    0..n_s-1 within each shard, every row appears once, the result is
    identical across runs and repartitionings, and a different seed
    produces a different order."""
    from hbase_spark.functions.text import seeded_shuffle

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = seeded_shuffle(df, seed=1, shards=8)
    rows = out.collect()
    assert len(rows) == 500 and len({r.doc_id for r in rows}) == 500
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # deterministic + repartition-stable
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in seeded_shuffle(df.repartition(13), seed=1, shards=8).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    # a different seed permutes differently
    other = {
        (r.doc_id, r.shard, r.pos)
        for r in seeded_shuffle(df, seed=2, shards=8).collect()
    }
    assert other != again


def test_fim_transform_reconstruction_law(spark):
    """FIM (Bavarian et al. 2022): reordering the PSM pieces back to
    prefix+middle+suffix reproduces the original text exactly; the
    apply decision and split points are deterministic per (id, seed);
    rate=0 passes everything through."""
    from hbase_spark.functions.text import fim_transform

    docs = spark.createDataFrame(
        [(i, f"doc {i} body with some longer text to split {i}")
         for i in range(50)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in fim_transform(docs, rate=1.0, seed=5).collect()}
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert all(r.fim_applied for r in out.values())
    for i, r in out.items():
        assert r.fim_text.startswith("<|fim_prefix|>")
        body = r.fim_text[len("<|fim_prefix|>"):]
        prefix, rest = body.split("<|fim_suffix|>", 1)
        suffix, middle = rest.split("<|fim_middle|>", 1)
        assert prefix + middle + suffix == orig[i]
    again = {
        r.doc_id: r.fim_text
        for r in fim_transform(docs, rate=1.0, seed=5).collect()
    }
    assert again == {i: r.fim_text for i, r in out.items()}
    noop = fim_transform(docs, rate=0.0, seed=5).collect()
    assert all(not r.fim_applied and r.fim_text == orig[r.doc_id]
               for r in noop)


def test_export_shuffled_shard_files_in_pos_order(spark, tmp_path):
    """export_shuffled writes one file per shard dir with rows
    physically in pos order — the byte layout a trainer streams."""
    import glob

    from hbase_spark.functions.text import export_shuffled, seeded_shuffle

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    out = str(tmp_path / "shards")
    export_shuffled(df, out, seed=3, shards=4)
    want = {
        (r.shard, r.pos): r.doc_id
        for r in seeded_shuffle(df, seed=3, shards=4).collect()
    }
    total = 0
    for s in range(4):
        files = glob.glob(f"{out}/shard={s}/*.parquet")
        assert len(files) == 1  # one file per shard dir
        import duckdb

        rows = duckdb.sql(
            f"SELECT doc_id, pos FROM read_parquet('{files[0]}')"
        ).fetchall()  # physical file order
        assert [p for _, p in rows] == list(range(len(rows)))
        for d, p in rows:
            assert want[(s, p)] == d
        total += len(rows)
    assert total == 300


def test_ann_matches_brute_force_top1(vecs):
    target = vecs.orderBy("vec_id").limit(5).collect()[3]
    q = list(target.embedding)
    idx = ann_index(vecs, dim=len(q), planes=12).cache()
    ann = ann_topk(idx, q, k=3, planes=12, max_hamming=2).collect()
    assert ann[0].vec_id == target.vec_id


def test_kmeans_refine_recovers_true_centers(spark):
    """Lloyd refinement: starting from two poorly-placed seeds over
    two tight direction-separated blobs, two iterations land each
    centroid on its blob's mean direction, empty clusters keep their
    previous centroid, and the result is deterministic."""
    from hbase_spark.functions.similarity import kmeans_refine

    rows = []
    for i in range(40):  # blob A ~ +x, blob B ~ +y (cosine-separated)
        rows.append((i, [10.0, float(i % 5) * 0.1, 0.0]))
        rows.append((100 + i, [float(i % 5) * 0.1, 10.0, 0.0]))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    seeds = [(0, [5.0, 4.0, 0.0]), (1, [4.0, 5.0, 0.0]),
             (2, [0.0, 0.0, 1.0])]  # third seed attracts nothing
    out = dict(kmeans_refine(vecs, seeds, iters=2))
    assert out[0][0] > 5 * out[0][1]  # centroid 0 -> +x blob mean
    assert out[1][1] > 5 * out[1][0]  # centroid 1 -> +y blob mean
    assert out[2] == [0.0, 0.0, 1.0]  # dead cluster keeps its seed
    again = dict(kmeans_refine(vecs, seeds, iters=2))
    assert again == out


def test_ivf_topk(vecs):
    target = vecs.orderBy("vec_id").first()
    q = list(target.embedding)
    cents = ivf_centroids(vecs, nlist=8)
    assigned = ivf_assign(vecs, cents).cache()
    assert assigned.select("list_id").distinct().count() > 1
    out = ivf_topk(assigned, cents, q, k=3, nprobe=4).collect()
    assert out[0].vec_id == target.vec_id


def test_embedding_near_dups(spark, vecs):
    # clone 5 vectors with new ids -> cosine 1.0 pairs must be found
    clones = vecs.orderBy("vec_id").limit(5).withColumn(
        "vec_id", F.col("vec_id") + 500_000
    )
    corpus = vecs.unionByName(clones)
    pairs = embedding_near_dups(corpus, threshold=0.999, planes=10)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {
        (i, i + 500_000)
        for i in [r.vec_id for r in vecs.orderBy("vec_id").limit(5).collect()]
    }
    assert expected <= found


def test_multimodal_plumbing(spark):
    media = make_fake_media(spark, 30)
    feats = decode_images(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 10  # a third are images
    assert all(len(r.feature) == 8 for r in rows)
    # determinism
    again = {r.media_id: r.mean_luma for r in decode_images(media, fake=True).collect()}
    assert {r.media_id: r.mean_luma for r in rows} == again
    # compressed formats still need a real codec: the seam raises
    # inside the decode job (fake payloads are neither BMP nor PPM)
    with pytest.raises(Exception, match="BMP/PPM"):
        decode_images(media).collect()
    frames = sample_frames(media, every_ms=1000)
    per_video = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 6 for r in per_video)  # 0..5000 step 1000


def test_multimodal_real_bmp_decode(spark):
    """End-to-end REAL pixel decode through the mapInPandas seam: a
    hand-built uncompressed BMP round-trips with exact pixel stats (no
    image library involved)."""
    from hbase_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
    )

    # 2x3 image: top row red, middle green, bottom blue+white mix
    pixels = [
        [(255, 0, 0), (255, 0, 0)],
        [(0, 255, 0), (0, 255, 0)],
        [(0, 0, 255), (255, 255, 255)],
    ]
    payload = encode_bmp(pixels)
    # decoder inverts the encoder exactly
    assert decode_bmp(payload).tolist() == [
        [list(p) for p in row] for row in pixels
    ]
    media = spark.createDataFrame(
        [(1, "image", payload, None), (2, "image", encode_bmp(pixels), None)],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in decode_images(media).collect()}
    r1 = got[1]
    assert (r1.width, r1.height) == (2, 3)
    # exact mean luma: mean of per-pixel 0.299r+0.587g+0.114b over 6 px
    lumas = [
        (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
        for row in pixels
        for (r, g, b) in row
    ]
    assert abs(r1.mean_luma - sum(lumas) / 6) < 1e-12
    assert len(r1.feature) == 8
    # channel means: 2 red px, 2 green px, 1 blue, 1 white
    assert abs(r1.feature[0] - (2 * 255 + 255) / (6 * 255)) < 1e-12  # R
    assert got[2].mean_luma == r1.mean_luma  # deterministic


def test_multimodal_real_ppm_decode(spark):
    from hbase_spark.functions.multimodal import MEDIA_SCHEMA, decode_ppm

    # P6 with a comment line; 2x2: black, white, mid-gray, mid-gray
    body = bytes([0, 0, 0, 255, 255, 255, 128, 128, 128, 128, 128, 128])
    payload = b"P6\n# test\n2 2\n255\n" + body
    arr = decode_ppm(payload)
    assert arr.shape == (2, 2, 3) and arr[0, 1].tolist() == [255, 255, 255]
    media = spark.createDataFrame([(7, "image", payload, None)], MEDIA_SCHEMA)
    r = decode_images(media).collect()[0]
    assert (r.width, r.height) == (2, 2)
    expected = (0.0 + 1.0 + 128 / 255 + 128 / 255) / 4
    assert abs(r.mean_luma - expected) < 1e-12


def test_assemble_rows_nested_map(spark):
    from hbase_spark.operators.mutations import make_cells
    from hbase_spark.sources.melt import assemble_rows

    cells = make_cells(
        spark,
        [
            ("r1", "f1", "a", 10, 4, "v10", 1),
            ("r1", "f1", "a", 20, 4, "v20", 2),
            ("r1", "f2", "b", 10, 4, "w", 3),
            ("r2", "f1", "a", 10, 4, "z", 4),
        ],
    )
    rows = {r.row: r.families for r in assemble_rows(cells).collect()}
    a_versions = rows["r1"]["f1"]["a"]
    assert [(v.ts, v.value) for v in a_versions] == [(20, "v20"), (10, "v10")]
    assert rows["r1"]["f2"]["b"][0].value == "w"
    assert rows["r2"]["f1"]["a"][0].value == "z"


def test_pivot_wide_latest_version(spark):
    from hbase_spark.operators.mutations import make_cells
    from hbase_spark.sources.melt import pivot_wide

    cells = make_cells(
        spark,
        [
            ("r1", "f", "a", 10, 4, "old", 1),
            ("r1", "f", "a", 20, 4, "new", 2),
            ("r1", "f", "b", 10, 4, "x", 3),
            ("r2", "f", "a", 10, 4, "y", 4),
        ],
    )
    got = {r.row: (r.a, r.b) for r in pivot_wide(cells, ["a", "b"]).collect()}
    assert got == {"r1": ("new", "x"), "r2": ("y", None)}


def test_ivf_recall_at_10_vs_brute_force(vecs):
    # query = perturbed member vector (not an exact match): IVF probing
    # half the lists must keep most of the true top-10
    base = vecs.orderBy("vec_id").limit(2).collect()
    q = [0.7 * a + 0.3 * b for a, b in zip(base[0].embedding, base[1].embedding)]
    truth = {r.vec_id for r in cosine_topk(vecs, q, k=10).collect()}
    cents = ivf_centroids(vecs, nlist=8)
    assigned = ivf_assign(vecs, cents).cache()
    got = {r.vec_id for r in ivf_topk(assigned, cents, q, k=10, nprobe=4).collect()}
    recall = len(truth & got) / 10
    assert recall >= 0.6, f"IVF recall@10 too low: {recall}"


def test_shingle_arrays_equal_shingle_frame_gram_sets(spark):
    """The zero-shuffle array gram path and the explode+window frame
    path must produce identical per-doc gram SETS for every edge class:
    normal docs, shorter-than-n docs, token-less docs, empty strings,
    repeated grams."""
    from hbase_spark.functions.dedup import shingle_arrays, shingle_frame

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "one two"),              # shorter than n -> whole-doc gram
            (3, "single"),               # one token
            (4, "!!! ???"),              # token-less -> empty gram
            (5, ""),                     # empty string
            (6, "a b c a b c a b c"),    # repeated grams
        ],
        "doc_id long, text string",
    )
    via_frame = {
        (r._id, r._s)
        for r in shingle_frame(docs).collect()
    }
    via_array = {
        (r._id, s)
        for r in shingle_arrays(docs).collect()
        for s in r._g
    }
    assert via_array == via_frame


def test_resize_and_feature_extract_plumbing(spark):
    from hbase_spark.functions.multimodal import (
        extract_features,
        make_fake_media,
        resize_images,
    )
    from hbase_spark.functions.similarity import cosine_topk

    media = make_fake_media(spark, 30)
    resized = resize_images(media, width=32, height=32, fake=True)
    rows = resized.collect()
    assert len(rows) == 10  # images only (every 3rd)
    assert all(r.width == 32 and r.height == 32 for r in rows)
    # deterministic: same input -> same resized payload
    again = {r.media_id: r.payload for r in resize_images(
        media, width=32, height=32, fake=True).collect()}
    assert all(again[r.media_id] == r.payload for r in rows)
    # the real path is a real decoder chain now: non-image payloads
    # still fail loudly at the codec seam (never a silent fake)
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="NotImplementedError"):
        resize_images(media, width=32, height=32).collect()
    # features bridge into the ANN operators
    feats = extract_features(media, dim=8, fake=True)
    assert feats.schema["embedding"].dataType.simpleString() == "array<float>"
    q = feats.filter("media_id = 0").first()["embedding"]
    vecs = feats.withColumnRenamed("media_id", "vec_id")
    top = cosine_topk(vecs, [float(x) for x in q], k=3)
    assert top.first()["vec_id"] == 0  # self is most similar
    with pytest.raises(NotImplementedError):
        extract_features(media)


def test_export_import_interchange_formats(spark, tmp_path):
    from hbase_spark.operators.mutations import make_cells, put_cells
    from hbase_spark.model import CellType
    from hbase_spark.sources.copy import export_table, import_table

    cells = put_cells(
        spark, [(f"r{i}", "f", "q", f"v{i}") for i in range(20)], ts=10, seq=1
    ).unionByName(
        make_cells(spark, [("r0", "f", "q", 20, CellType.DELETE_COLUMN, None, 2)])
    )
    want = {
        (r.row, r.qualifier, r.ts, r.type, r.value) for r in cells.collect()
    }
    for fmt in ("json", "csv", "orc"):
        path = str(tmp_path / f"exp_{fmt}")
        export_table(cells, path, format=fmt)  # raw: tombstones survive
        back = import_table(spark, path, format=fmt)
        # interchange re-applies types (nullability is reader-relaxed)
        assert [(f.name, f.dataType) for f in back.schema] == [
            (f.name, f.dataType) for f in cells.schema
        ]
        got = {(r.row, r.qualifier, r.ts, r.type, r.value) for r in back.collect()}
        assert got == want
    with pytest.raises(ValueError):
        export_table(cells, str(tmp_path / "x"), format="avro")


def test_multimodal_real_wav_decode(spark):
    """End-to-end REAL audio decode through the mapInPandas seam: a
    hand-built 16-bit PCM WAV yields exact sample stats (no audio
    library involved)."""
    import math

    import numpy as np

    from hbase_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_audio,
        decode_wav,
        encode_wav,
    )

    # 1 second of a 440 Hz sine at 8 kHz, mono
    sr, n = 8000, 8000
    sine = [0.5 * math.sin(2 * math.pi * 440 * i / sr) for i in range(n)]
    payload = encode_wav(sine, sample_rate=sr)
    samples, got_sr = decode_wav(payload)
    assert got_sr == sr and samples.shape == (n, 1)
    assert abs(float(samples[:, 0].max()) - 0.5) < 1e-3
    media = spark.createDataFrame(
        [(1, "audio", payload, None),
         (2, "audio", encode_wav([0.0] * 4000, sample_rate=8000), None)],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in decode_audio(media, windows=4).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.channels, r1.duration_ms) == (sr, 1, 1000)
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(r1.rms - 0.5 / math.sqrt(2)) < 1e-3
    # 440 crossings/sec * 2 zero-crossings per cycle over 8000 samples
    assert abs(r1.zero_crossing_rate - 880 / (n - 1)) < 0.01
    assert len(r1.energy) == 4 and all(
        abs(e - r1.rms) < 1e-3 for e in r1.energy
    )
    silent = got[2]
    assert silent.rms == 0.0 and silent.duration_ms == 500
    # 8-bit and float32 variants decode through the same parser
    pcm8 = b"RIFF" + (36 + 4).to_bytes(4, "little") + b"WAVE" + (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + b"data" + (4).to_bytes(4, "little") + bytes([128, 255, 0, 128])
    )
    s8, _ = decode_wav(pcm8)
    assert np.allclose(s8[:, 0], [0.0, 127 / 128, -1.0, 0.0])


def test_multimodal_real_png_decode(spark):
    """Real PNG decode via stdlib zlib: all five filter types, palette
    and alpha color types, verified against hand-filtered scanlines."""
    import zlib

    import numpy as np

    from hbase_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    pixels = [[tuple(int(v) for v in px) for px in row] for row in img]
    assert decode_png(encode_png(pixels)).tolist() == img.tolist()

    # re-build the same image using every filter type, one per row
    def forward_filter(f, line, prev, nch=3):
        line = line.astype(np.int16)
        prev = prev.astype(np.int16)
        out = line.copy()
        for x in range(len(line)):
            a = line[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if f == 1:
                out[x] = line[x] - a
            elif f == 2:
                out[x] = line[x] - b
            elif f == 3:
                out[x] = line[x] - ((a + b) >> 1)
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[x] = line[x] - pred
        return (out & 0xFF).astype(np.uint8)

    flat = img.reshape(5, -1)
    raw = b""
    for y, f in enumerate([0, 1, 2, 3, 4]):
        prev = flat[y - 1] if y else np.zeros(12, np.uint8)
        raw += bytes([f]) + forward_filter(f, flat[y], prev).tobytes()

    def chunk(cid, body):
        return (len(body).to_bytes(4, "big") + cid + body
                + zlib.crc32(cid + body).to_bytes(4, "big"))

    import struct
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert decode_png(png).tolist() == img.tolist()

    # palette color type (3): 2x1 image indexing a 2-entry PLTE
    plte = bytes((255, 0, 0, 0, 0, 255))
    praw = zlib.compress(b"\x00\x00\x01")
    png3 = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", plte) + chunk(b"IDAT", praw)
            + chunk(b"IEND", b""))
    assert decode_png(png3).tolist() == [[[255, 0, 0], [0, 0, 255]]]

    # RGBA (6): half-transparent black over white -> mid gray
    araw = zlib.compress(b"\x00" + bytes((0, 0, 0, 128)))
    png6 = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", araw) + chunk(b"IEND", b""))
    assert decode_png(png6).tolist() == [[[127, 127, 127]]]

    # through the mapInPandas seam, alongside BMP/PPM payloads
    media = spark.createDataFrame(
        [(31, "image", encode_png(pixels), None)], MEDIA_SCHEMA
    )
    r = decode_images(media).collect()[0]
    assert (r.width, r.height) == (4, 5)
    luma = (img.astype(np.float64) / 255.0) @ np.array([0.299, 0.587, 0.114])
    assert abs(r.mean_luma - luma.mean()) < 1e-12


def test_multimodal_real_jpeg_decode(spark):
    """Real baseline-JPEG decode (pure numpy: Huffman entropy decode,
    dequant, IDCT, 4:2:0 upsampling, YCbCr->RGB) through the same
    mapInPandas seam — no image library in the container."""
    import numpy as np

    from hbase_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from hbase_spark.functions.multimodal import MEDIA_SCHEMA

    xx, yy = np.meshgrid(np.arange(24), np.arange(17))
    img = np.stack(
        [(xx * 5 + yy * 3) % 256, (xx * 2) % 256, (yy * 7) % 256], axis=2
    ).astype(np.uint8)

    # near-lossless 4:4:4 roundtrip
    dec = decode_jpeg(encode_jpeg(img, quality_q=1))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2

    # 4:2:0 exercises the chroma upsampling path; luma stays tight
    dec420 = decode_jpeg(encode_jpeg(img, quality_q=1, subsample=True))
    luma = lambda a: a.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    assert np.abs(luma(dec420) - luma(img)).max() <= 3.0
    assert np.abs(dec420.astype(int) - img.astype(int)).mean() <= 3.0

    # grayscale single-component stream
    gray = np.full((8, 8, 3), 77, np.uint8)
    assert np.abs(
        decode_jpeg(encode_jpeg(gray)).astype(int) - 77
    ).max() <= 1

    # progressive (SOF2) is now supported; a scan-less SOF2 stream is a
    # malformed payload, and arithmetic coding (SOF9) stays the seam
    import pytest

    sof2 = (b"\xff\xd8" + b"\xff\xc2" + (11).to_bytes(2, "big")
            + bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    with pytest.raises(ValueError, match="missing SOS"):
        decode_jpeg(sof2)
    sof9 = (b"\xff\xd8" + b"\xff\xc9" + (11).to_bytes(2, "big")
            + bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        decode_jpeg(sof9)

    # through the Spark decode seam next to the other codecs
    media = spark.createDataFrame(
        [(41, "image", encode_jpeg(img, quality_q=1), None)], MEDIA_SCHEMA
    )
    r = decode_images(media).collect()[0]
    assert (r.width, r.height) == (24, 17)
    assert abs(r.mean_luma - luma(img).mean() / 255.0) < 0.01


def test_exif_parse_strip_roundtrip(spark):
    """EXIF (functions/exif.py): encode->parse roundtrips both byte
    orders; strip removes APPn/COM without touching pixels; the Spark
    seams surface the PII audit columns and the cleaned payloads."""
    import numpy as np

    from hbase_spark.functions.exif import (
        encode_exif,
        insert_app1,
        parse_exif,
        strip_metadata,
    )
    from hbase_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from hbase_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        exif_features,
        strip_image_metadata,
    )

    img = np.full((8, 8, 3), 120, np.uint8)
    plain = encode_jpeg(img, quality_q=1)
    for endian in (b"II", b"MM"):
        app1 = encode_exif(
            make="ACME", model="Cam 9", orientation=6,
            datetime_original="2023:01:01 12:00:00",
            lat=37.7749, lon=-122.4194, endian=endian,
        )
        tagged = insert_app1(plain, app1)
        x = parse_exif(tagged)
        assert (x["make"], x["model"], x["orientation"]) == ("ACME", "Cam 9", 6)
        assert x["datetime_original"] == "2023:01:01 12:00:00"
        assert x["lat"] == pytest.approx(37.7749, abs=1e-4)
        assert x["lon"] == pytest.approx(-122.4194, abs=1e-4)
        # stripping removes the block, leaves pixels byte-identical
        clean, n = strip_metadata(tagged)
        assert n == 1 and parse_exif(clean) is None
        assert np.array_equal(decode_jpeg(clean), decode_jpeg(tagged))
    assert parse_exif(plain) is None
    assert strip_metadata(plain) == (plain, 0)

    tagged = insert_app1(plain, encode_exif(make="ACME", lat=1.5, lon=2.5))
    nogps = insert_app1(plain, encode_exif(make="Other"))
    media = spark.createDataFrame(
        [(1, "image", tagged, None), (2, "image", nogps, None),
         (3, "image", plain, None)],
        MEDIA_SCHEMA,
    )
    feats = {r.media_id: r for r in exif_features(media).collect()}
    assert feats[1].make == "ACME" and feats[1].has_gps
    assert feats[1].lat == pytest.approx(1.5, abs=1e-4)
    assert feats[2].make == "Other" and not feats[2].has_gps
    assert feats[3].make is None and not feats[3].has_gps
    stripped = {r.media_id: r for r in strip_image_metadata(media).collect()}
    assert stripped[1].segments_removed == 1
    assert stripped[3].segments_removed == 0
    assert parse_exif(bytes(stripped[1].payload)) is None
    assert np.array_equal(
        decode_jpeg(bytes(stripped[1].payload)), decode_jpeg(tagged)
    )

    # T.81 fill bytes before a marker are legal — parse and strip both
    # handle an extra 0xFF of padding before the APP1 segment
    padded = tagged[:2] + b"\xff" + tagged[2:]
    assert parse_exif(padded)["make"] == "ACME"
    clean_p, n_p = strip_metadata(padded)
    assert n_p == 1 and parse_exif(clean_p) is None

    # color-carrying APP2 (ICC) survives the strip by default
    app2 = b"\xff\xe2" + (17).to_bytes(2, "big") + b"ICC_PROFILE\x00abc"
    with_icc = insert_app1(plain, app2)
    keep_icc, n_icc = strip_metadata(insert_app1(with_icc, encode_exif(
        make="ACME")))
    assert n_icc == 1 and b"ICC_PROFILE" in keep_icc

    # a partial GPS fix (lat only) is still PII — has_gps flags on
    # either coordinate, so redaction routing can't leak the lat
    lat_only = insert_app1(plain, encode_exif(make="Solo", lat=10.25))
    solo = spark.createDataFrame(
        [(9, "image", lat_only, None)], MEDIA_SCHEMA
    )
    f9 = exif_features(solo).collect()[0]
    assert f9.has_gps and f9.lat == pytest.approx(10.25, abs=1e-4)
    assert f9.lon is None

    # a declared segment length past EOF raises on BOTH seams — strip
    # shares parse's truncation contract instead of silently returning
    # the remainder as "clean"
    truncated = tagged[: len(tagged) - (len(plain) - 2) - 4]
    with pytest.raises(ValueError, match="past end"):
        strip_metadata(truncated)
    with pytest.raises(ValueError, match="past end"):
        parse_exif(truncated)

    # corrupt-payload policy on the strip seam: raise / skip / keep
    bad_media = spark.createDataFrame(
        [(1, "image", tagged, None), (2, "image", b"not a jpeg", None)],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="SOI"):
        strip_image_metadata(bad_media).collect()
    skipped = strip_image_metadata(bad_media, on_error="skip").collect()
    assert [r.media_id for r in skipped] == [1]
    kept = {r.media_id: r for r in
            strip_image_metadata(bad_media, on_error="keep").collect()}
    assert kept[2].segments_removed == -1
    assert bytes(kept[2].payload) == b"not a jpeg"


def test_jpeg_codec_property_roundtrip():
    """Property test: encode->decode roundtrip stays within the
    quantization error bound across shapes, content classes and both
    sampling modes (no Spark involved — pure codec law)."""
    import numpy as np

    from hbase_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    shapes = [(1, 1), (3, 5), (8, 8), (9, 7), (16, 24), (13, 30)]
    for h, w in shapes:
        for kind in ("random", "gradient", "flat"):
            if kind == "random":
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            elif kind == "gradient":
                xx, yy = np.meshgrid(np.arange(w), np.arange(h))
                img = np.stack(
                    [(xx * 7) % 256, (yy * 5) % 256, (xx + yy) % 256], axis=2
                ).astype(np.uint8)
            else:
                img = np.full((h, w, 3), int(rng.integers(0, 256)), np.uint8)
            dec = decode_jpeg(encode_jpeg(img, quality_q=1))
            assert dec.shape == (h, w, 3), (h, w, kind)
            err = np.abs(dec.astype(int) - img.astype(int)).max()
            assert err <= 2, (h, w, kind, err)
            # 4:2:0: luma bound stays tight; chroma averaged over 2x2
            dec420 = decode_jpeg(
                encode_jpeg(img, quality_q=1, subsample=True)
            )
            assert dec420.shape == (h, w, 3)
            luma_w = np.array([0.299, 0.587, 0.114])
            ldiff = np.abs(
                dec420.astype(np.float64) @ luma_w
                - img.astype(np.float64) @ luma_w
            )
            if kind == "random":
                # chroma averaging pushes random pixels out of gamut;
                # clipping breaks exact luma invariance, so bound the
                # mean, not the max
                assert ldiff.mean() <= 8.0, (h, w, kind, ldiff.mean())
            else:
                # smooth content: luma passes through 4:2:0 unharmed
                # (the YCbCr matrices cancel chroma error in luma)
                assert ldiff.max() <= 4.0, (h, w, kind, ldiff.max())


def test_chunk_documents_windows_and_overlap(spark):
    from hbase_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
         (2, "only two"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    got = {(r.doc_id, r.chunk_id): (r.chunk, r.n_tokens) for r in out}
    # doc 1: step 3 -> chunks at 0,3,6 cover t0..t9 with 1-token overlap
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in got
    assert got[(2, 0)] == ("only two", 2)
    assert got[(3, 0)] == ("", 0)  # empty docs still yield one chunk
    assert got[(4, 0)] == ("", 0)
    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pack_chunks_budget_and_determinism(spark):
    from pyspark.sql import functions as F

    from hbase_spark.functions.text import pack_chunks

    chunks = spark.createDataFrame(
        [(d, c, 100) for d in range(4) for c in range(5)],
        "doc_id long, chunk_id int, n_tokens int",
    )
    out = pack_chunks(
        chunks, budget=300, shards=2,
        shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.pack_key, []).append(r)
    # greedy rule: pre-sum < budget when a chunk is admitted, so a pack
    # holds at most budget + one chunk of tokens and >= 1 chunk
    for key, rs in by_key.items():
        total = sum(r.n_tokens for r in rs)
        assert total <= 300 + 100, (key, total)
        assert len(rs) >= 1
    # every shard packs independently and all chunks are assigned
    assert len(out) == 20
    assert {r.shard for r in out} == {0, 1}
    # pack ids are dense from 0 within each shard
    for s in (0, 1):
        ids = sorted({r.pack_id for r in out if r.shard == s})
        assert ids == list(range(len(ids)))


def test_repetition_features_counts(spark):
    from hbase_spark.functions.text import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),          # tokens [a,b,a,b,a]; 2grams: ab ba ab ba
            (2, "x x x x"),            # maximal repetition
            (3, "one two three four"),  # no repetition
            (4, ""),                   # empty doc
        ],
        "doc_id long, text string",
    )
    f = repetition_features("text")
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id", f["n_tokens"].alias("nt"), f["n_2grams"].alias("n2"),
            f["n_distinct_2grams"].alias("nd"), f["top_token_count"].alias("tc"),
        ).collect()
    }
    assert (rows[1].nt, rows[1].n2, rows[1].nd, rows[1].tc) == (5, 4, 2, 3)
    assert (rows[2].nt, rows[2].n2, rows[2].nd, rows[2].tc) == (4, 3, 1, 4)
    assert (rows[3].nt, rows[3].n2, rows[3].nd, rows[3].tc) == (4, 3, 3, 1)
    # empty doc: whole-doc '' gram, zero top-token run
    assert (rows[4].nt, rows[4].n2, rows[4].nd, rows[4].tc) == (0, 1, 1, 0)


def test_contamination_counts_shared_ngrams(spark):
    from hbase_spark.functions.text import contamination

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            # shares the 5-grams starting at alpha and beta
            (1, "alpha beta gamma delta epsilon zeta eta"),
            # no 5-gram overlap (different tail)
            (2, "alpha beta gamma delta other words here"),
            (3, "completely unrelated text goes right here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_contaminated for r in contamination(tr, ev, n=5).collect()}
    assert got == {1: 2, 2: 0, 3: 0}
    # every training doc gets a row even with zero hits
    assert len(got) == 3


def test_contamination_report_per_eval_item(spark):
    """The dual report: per eval item, how many training docs (and
    distinct grams) hit it — clean eval rows appear with zeros."""
    from hbase_spark.functions.text import contamination_report

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (200, "totally clean benchmark item with fresh words")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "alpha beta gamma delta epsilon extra tail"),
         (3, "completely unrelated text goes right here")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_hit_docs, r.n_hit_grams)
        for r in contamination_report(tr, ev, n=5).collect()
    }
    # eval 100: doc 1 shares 2 grams, doc 2 shares 1 -> 2 docs, 2 grams
    assert got[100] == (2, 2)
    assert got[200] == (0, 0)


def test_stratified_sample_deterministic_and_rate_scoped(spark):
    from hbase_spark.functions.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(400)],
        "doc_id long, lang string",
    )
    out1 = stratified_sample(docs, {"en": 0.0, "zh": 1.0})
    kept1 = {r.doc_id for r in out1.collect()}
    # rate 0 drops every en doc, rate 1 keeps every zh doc
    assert kept1 == {i for i in range(400) if i % 2 == 1}
    # default_rate applies to unknown groups; determinism across runs
    out2 = stratified_sample(docs, {}, default_rate=0.5)
    a = {r.doc_id for r in out2.collect()}
    b = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.5).collect()}
    assert a == b
    assert 100 < len(a) < 300  # ~50% of 400, generous band
    # changing the seed changes the sample
    c = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.5, seed=7).collect()}
    assert a != c


def test_text_op_laws_on_random_corpus(spark):
    """Cross-cutting laws for the curation ops over a seeded random
    corpus (one job): repetition count bounds, sampling monotonicity
    (nested thresholds => nested samples), and full self-contamination
    when the eval corpus contains the training corpus."""
    import random

    from hbase_spark.functions.text import (
        contamination,
        repetition_features,
        stratified_sample,
    )

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))),
         rng.choice(["en", "zh", "fr"]))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    f = repetition_features("text")
    checked = docs.select(
        "doc_id", f["n_tokens"].alias("nt"), f["n_2grams"].alias("n2"),
        f["n_distinct_2grams"].alias("nd"), f["top_token_count"].alias("tc"),
    ).collect()
    for r in checked:
        assert 0 <= r.nd <= r.n2
        assert 0 <= r.tc <= max(r.nt, 0) and (r.nt == 0) == (r.tc == 0)
        # gram-count arithmetic: len>=2 -> n-1 grams, else one whole-doc gram
        assert r.n2 == (r.nt - 1 if r.nt >= 2 else 1)

    # monotone sampling: lower rate keeps a subset of higher rate
    small = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.2).collect()}
    large = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.7).collect()}
    assert small <= large
    assert stratified_sample(docs, {}, default_rate=1.0).count() == 60

    # eval ⊇ train -> every training doc is fully contaminated
    out = contamination(docs, docs, n=3).collect()
    assert len(out) == 60 and all(r.n_contaminated >= 1 for r in out)


def test_g711_ulaw_alaw_wav_decode():
    """G.711 companded WAV (formats 7/6) decodes through the same seam:
    known silence code points, near-lossless roundtrip for a sine at
    companding tolerance, and monotone sign preservation."""
    import numpy as np

    from hbase_spark.functions.multimodal import (
        _alaw_compress,
        _ulaw_compress,
        decode_wav,
        encode_wav,
    )

    # canonical silence bytes: mu-law 0 -> 0xFF, A-law 0 -> 0xD5
    assert _ulaw_compress(np.array([0], "<i2"))[0] == 0xFF
    assert _alaw_compress(np.array([0], "<i2"))[0] == 0xD5

    t = np.arange(800) / 8000.0
    sig = 0.6 * np.sin(2 * np.pi * 440 * t)
    for codec, tol in (("ulaw", 0.02), ("alaw", 0.02)):
        wav = encode_wav(sig, sample_rate=8000, channels=1, codec=codec)
        samples, rate = decode_wav(wav)
        assert rate == 8000 and samples.shape == (800, 1)
        err = np.abs(samples[:, 0] - sig)
        assert err.max() < tol, (codec, err.max())
        # companding preserves sign everywhere the signal is non-tiny
        big = np.abs(sig) > 0.01
        assert (np.sign(samples[:, 0])[big] == np.sign(sig)[big]).all()
    # decoded mu-law and A-law agree with each other closely too
    u, _ = decode_wav(encode_wav(sig, codec="ulaw"))
    a, _ = decode_wav(encode_wav(sig, codec="alaw"))
    assert np.abs(u - a).max() < 0.03


def _gif_np():
    import numpy as np
    return np


def test_gif_roundtrip_lossless_and_interlaced():
    """GIF is a lossless indexed format: encode -> decode reproduces
    pixels exactly, interlaced or not; the first-frame helper feeds the
    image feature path."""
    np = _gif_np()

    from hbase_spark.functions.gif import (
        decode_gif,
        decode_gif_first_frame,
        encode_gif,
    )

    rng = np.random.RandomState(3)
    # 7 distinct colors over a 16x11 canvas
    palette = rng.randint(0, 256, (7, 3)).astype("u1")
    img = palette[rng.randint(0, 7, (11, 16))]
    for interlace in (False, True):
        data = encode_gif([img], interlace=interlace)
        frames, delays = decode_gif(data)
        assert len(frames) == 1
        assert (frames[0] == img).all(), f"interlace={interlace}"
    ff = decode_gif_first_frame(encode_gif([img]))
    assert tuple(ff[3][5]) == tuple(int(c) for c in img[3, 5])


def test_gif_animation_transparency_and_disposal():
    """Multi-frame compositing: transparent pixels show the prior
    frame under disposal 1 (leave) and the background under disposal 2
    (restore-to-background); delays carry through."""
    np = _gif_np()

    from hbase_spark.functions.gif import decode_gif, encode_gif

    red = np.zeros((8, 8, 3), "u1"); red[:, :] = (200, 10, 10)
    blue = np.zeros((8, 8, 3), "u1"); blue[:, :] = (10, 10, 200)
    # frame 2: blue with a transparent hole (palette slot of red? no —
    # transparent_index marks a slot; use the RED slot inside blue)
    holed = blue.copy(); holed[2:4, 2:4] = (200, 10, 10)
    data = encode_gif(
        [red, holed], delays_ms=[50, 70],
        transparent_index=0, disposal=1,
    )
    frames, delays = decode_gif(data)
    assert delays == [50, 70]
    # slot 0 is red's color (first color registered); in frame 2 the
    # red-colored pixels are transparent -> prior frame (red) shows
    assert (frames[1][2, 2] == (200, 10, 10)).all()
    assert (frames[1][0, 0] == (10, 10, 200)).all()

    # disposal 2: after frame 1, the canvas restores to background
    # before frame 2's transparent region -> hole shows background 0,0,0?
    data2 = encode_gif(
        [red, holed], delays_ms=[50, 70],
        transparent_index=0, disposal=2,
    )
    frames2, _ = decode_gif(data2)
    # background = palette slot 0 (red) per the logical screen bg index 0
    assert (frames2[1][2, 2] == (200, 10, 10)).all()
    assert (frames2[1][0, 0] == (10, 10, 200)).all()


def test_gif_frame_sampling_through_spark(spark):
    """sample_gif_frames: real animated payloads decoded once per
    payload in the Arrow seam; the frame visible at each tick is the
    one the delays dictate."""
    np = _gif_np()

    from hbase_spark.functions.gif import encode_gif
    from hbase_spark.functions.multimodal import sample_gif_frames

    dark = np.zeros((6, 6, 3), "u1")
    bright = np.full((6, 6, 3), 240, "u1")
    payload = encode_gif([dark, bright], delays_ms=[1000, 1000])
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "media_id long, payload binary",
    )
    out = sample_gif_frames(media, every_ms=500).collect()
    by = {(r.media_id, r.frame_ts): r for r in out}
    assert len(by) == 8  # 2 payloads x ticks 0,500,1000,1500
    assert by[(1, 0)].mean_luma < 1.0
    assert by[(1, 500)].mean_luma < 1.0
    assert by[(1, 1000)].mean_luma > 200.0
    assert by[(2, 1500)].mean_luma > 200.0
    assert by[(1, 0)].width == 6 and by[(1, 0)].height == 6


def test_gif_through_image_decode_query(spark):
    """A GIF payload flows through the generic decode_images seam with
    exact luma (lossless format, exact expectation like BMP/PPM)."""
    np = _gif_np()

    from hbase_spark.functions.gif import encode_gif
    from hbase_spark.functions.multimodal import decode_images

    img = np.zeros((4, 4, 3), "u1")
    img[:2] = (255, 255, 255)  # top half white, bottom black
    payload = encode_gif([img])
    media = spark.createDataFrame(
        [(7, "image", bytearray(payload), None)],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long,sample_rate:int>",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height) == (4, 4)
    # feature path normalizes to [0, 1]; half white half black -> 0.5
    assert abs(row.mean_luma - 0.5) < 1e-6


def test_progressive_jpeg_decodes_identical_to_baseline():
    """Progressive (SOF2) and baseline encodes share quantized
    coefficients, so their decodes must agree bit-for-bit — this
    exercises every progressive scan kind (DC first/refine, AC first
    with EOB runs + ZRL, AC refinement with correction bits)."""
    import numpy as np

    from hbase_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(5)
    cases = [
        rng.randint(0, 256, (16, 16, 3)).astype("u1"),       # noise
        np.tile(np.arange(24, dtype="u1") * 10, (18, 1))[
            :, :, None
        ].repeat(3, axis=2),                                  # gradient
        np.full((9, 13, 3), 77, "u1"),                        # flat (EOB heavy)
        rng.randint(0, 256, (33, 9, 3)).astype("u1"),         # odd dims
    ]
    for q in (1, 4, 16):
        for img in cases:
            base = decode_jpeg(encode_jpeg(img, quality_q=q))
            prog = decode_jpeg(encode_jpeg_progressive(img, quality_q=q))
            assert (base == prog).all(), (img.shape, q)
    # near-lossless at q=1 on smooth content
    g = cases[1]
    out = decode_jpeg(encode_jpeg_progressive(g, quality_q=1))
    assert np.abs(out.astype(int) - g.astype(int)).max() <= 2


def test_progressive_jpeg_through_image_seam(spark):
    """A progressive payload flows through decode_images like any
    other format (decode_jpeg dispatches on SOF2 internally)."""
    import numpy as np

    from hbase_spark.functions.jpeg import encode_jpeg_progressive
    from hbase_spark.functions.multimodal import decode_images

    img = np.zeros((8, 8, 3), "u1")
    img[:4] = 255
    media = spark.createDataFrame(
        [(9, "image", bytearray(encode_jpeg_progressive(img, quality_q=1)), None)],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long,sample_rate:int>",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height) == (8, 8)
    assert abs(row.mean_luma - 0.5) < 0.02


def test_bpe_learns_classic_merges_and_roundtrips(spark):
    """BPE on the classic corpus: the first merges are the expected
    (e,s)(es,t)(est,</w>) sequence, encode applies them exactly as
    trained, and detokenize(encode(text)) reproduces the normalized
    word stream."""
    from hbase_spark.functions.bpe import (
        bpe_detokenize,
        bpe_encode,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                      + ["widest"] * 3))],
        "doc_id long, text string",
    )
    # batch=1 is the exact sequential algorithm — the classic merge
    # sequence is pinned bit-for-bit
    merges = train_bpe(docs, num_merges=5, batch=1)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", "</w>")]
    enc = bpe_encode(docs, merges)
    row = enc.collect()[0]
    assert row.n_tokens == len(row.tokens) > 0
    got = enc.select(bpe_detokenize("tokens").alias("t")).collect()[0].t
    want = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    assert got == want
    # the batched default still starts at the sequential argmax (the
    # first pair of a round is always the true global argmax) and
    # roundtrips — the merge LIST may legally differ after that
    bm = train_bpe(docs, num_merges=5)
    assert bm[0] == ("e", "s")
    got_b = (
        bpe_encode(docs, bm)
        .select(bpe_detokenize("tokens").alias("t"))
        .collect()[0]
        .t
    )
    assert got_b == want


def test_bpe_on_documents_laws(spark, docs):
    """Corpus laws: deterministic training, roundtrip identity on every
    doc, and monotone compression (more merges never increase the
    token count)."""
    from hbase_spark.functions.bpe import (
        bpe_detokenize,
        bpe_encode,
        train_bpe,
    )
    from hbase_spark.functions.text import _ascii_tokens

    sample = docs.limit(60).select("doc_id", "text")
    m1 = train_bpe(sample, num_merges=12)
    m2 = train_bpe(sample, num_merges=12)
    assert m1 == m2 and len(m1) == 12

    enc = bpe_encode(sample, m1)
    joined = enc.join(sample, "doc_id").select(
        "doc_id",
        bpe_detokenize("tokens").alias("got"),
        F.concat_ws(" ", _ascii_tokens("text")).alias("want"),
        "n_tokens",
    )
    bad = joined.filter(F.col("got") != F.col("want")).count()
    assert bad == 0
    # zero merges = character-level: strictly more tokens
    n_char = bpe_encode(sample, []).agg(F.sum("n_tokens")).first()[0]
    n_bpe = enc.agg(F.sum("n_tokens")).first()[0]
    assert n_bpe < n_char
    # empty doc still yields a row with an empty stream
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    r = bpe_encode(empty, m1).collect()[0]
    assert r.n_tokens == 0 and r.tokens == []


def test_bpe_batched_training_scales_rounds(spark, docs):
    """The batched trainer at a real merge count: 512 merges on a
    corpus sample must take far fewer driver rounds than merges (the
    whole point of batching — a 32k vocab cannot be 32k sequential
    Spark jobs), stay deterministic, and keep the roundtrip law."""
    from hbase_spark.functions.bpe import (
        bpe_detokenize,
        bpe_encode,
        train_bpe,
    )
    from hbase_spark.functions.text import _ascii_tokens

    sample = docs.limit(120).select("doc_id", "text")
    stats: dict = {}
    merges = train_bpe(sample, num_merges=512, batch=8, _stats=stats)
    assert len(merges) > 64  # rich enough corpus to train on
    # avg >= 4 merges/round — batching actually batches
    assert stats["rounds"] <= -(-len(merges) // 8) * 2
    assert len(set(merges)) == len(merges)  # no rule learned twice
    stats2: dict = {}
    merges2 = train_bpe(sample, num_merges=512, batch=8, _stats=stats2)
    assert merges2 == merges and stats2 == stats  # deterministic
    enc = bpe_encode(sample, merges)
    joined = enc.join(sample, "doc_id").select(
        bpe_detokenize("tokens").alias("got"),
        F.concat_ws(" ", _ascii_tokens("text")).alias("want"),
    )
    assert joined.filter(F.col("got") != F.col("want")).count() == 0


def test_ima_adpcm_wav_decode():
    """IMA/DVI ADPCM WAV (format 0x11): block headers seed the
    predictor, the step index adapts, the fact chunk trims final-block
    padding — after the adaptation transient the error is within
    classic ADPCM tolerance."""
    import numpy as np

    from hbase_spark.functions.multimodal import decode_wav, encode_wav

    t = np.arange(2000) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 300 * t)
    wav = encode_wav(sig, sample_rate=8000, codec="ima_adpcm")
    samples, rate = decode_wav(wav)
    assert rate == 8000
    assert samples.shape == (2000, 1)  # fact chunk trims block padding
    err = np.abs(samples[:, 0] - sig)
    assert err[16:].max() < 0.03          # post-transient accuracy
    assert np.sqrt((err[16:] ** 2).mean()) < 0.01
    # multi-block stream: predictor/index carry across block headers
    # (2000 samples span 4 blocks of 505)
    assert len(wav) > 4 * 256
    # format marker honest: stereo remains an explicit seam
    import pytest

    with pytest.raises(NotImplementedError):
        encode_wav(sig, channels=2, codec="ima_adpcm")


def test_flac_roundtrip_lossless_and_crc():
    """FLAC decode: bit-exact roundtrip over multiple frames (fixed
    predictor + Rice residuals), and corruption anywhere flips a CRC
    and raises."""
    import numpy as np
    import pytest

    from hbase_spark.functions.flac import decode_flac, encode_flac

    t = np.arange(9000) / 16000.0
    sig = 0.4 * np.sin(2 * np.pi * 440 * t) + 0.1 * np.sin(2 * np.pi * 1330 * t)
    data = encode_flac(sig, sample_rate=16000)
    dec, rate = decode_flac(data)
    assert rate == 16000 and dec.shape == (9000, 1)
    pcm = (np.clip(sig, -1, 1) * 32767).astype("int64")
    got = (dec[:, 0] * 32768).round().astype("int64")
    assert np.array_equal(got, pcm)
    # smaller than raw PCM on tonal content
    assert len(data) < 2 * 9000

    corrupt = bytearray(data)
    corrupt[len(data) // 2] ^= 0x40
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(corrupt))


def test_flac_lpc_constant_and_stereo_side_frames():
    """Hand-built frames cover the paths the fixture encoder does not
    emit: an order-1 LPC subframe (coef 1, shift 0 == delta coding), a
    CONSTANT subframe, and left/side stereo decorrelation."""
    import numpy as np

    from hbase_spark.functions.flac import (
        _Bits,
        _BitsW,
        _crc8,
        _crc16,
        decode_flac,
    )

    def streaminfo(channels, total):
        si = _BitsW()
        si.write(16, 16); si.write(16, 16); si.write(0, 24); si.write(0, 24)
        si.write(8000, 20); si.write(channels - 1, 3); si.write(15, 5)
        si.write(total, 36); si.align()
        body = bytes(si.buf) + b"\x00" * 16
        return b"fLaC" + bytes((0x80,)) + len(body).to_bytes(3, "big") + body

    def frame_header(bs, ch_code):
        bw = _BitsW()
        bw.write(0x3FFE, 14); bw.write(0, 1); bw.write(0, 1)
        bw.write(7, 4); bw.write(0, 4); bw.write(ch_code, 4)
        bw.write(4, 3); bw.write(0, 1)
        bw.write(0, 8)          # frame 0
        bw.write(bs - 1, 16)
        bw.align()
        hdr = bytes(bw.buf)
        return hdr + bytes((_crc8(hdr),))

    # LPC order-1 (coef=1, shift=0): x[i] = res + x[i-1] -> cumulative
    vals = [100, 105, 103, 110, 90, 95, 95, 120]
    sb = _BitsW()
    sb.write(0, 1); sb.write(32 + 0, 6)  # LPC order 1 -> type 32
    sb.write(0, 1)
    sb.write(vals[0], 16)               # warmup
    sb.write(3, 4)                      # precision 4 -> coef bits
    sb.write(0, 5)                      # shift 0
    sb.write(1, 4)                      # coef = 1
    sb.write(0, 2); sb.write(0, 4)      # rice 4-bit, 1 partition
    sb.write(2, 4)                      # parameter
    from hbase_spark.functions.flac import _rice_write

    _rice_write(sb, [vals[i] - vals[i - 1] for i in range(1, len(vals))], 2)
    sb.align()
    frame = frame_header(len(vals), 0) + bytes(sb.buf)
    frame += _crc16(frame).to_bytes(2, "big")
    dec, rate = decode_flac(streaminfo(1, len(vals)) + frame)
    assert [int(round(v * 32768)) for v in dec[:, 0]] == vals

    # CONSTANT subframe
    cb = _BitsW()
    cb.write(0, 1); cb.write(0, 6); cb.write(0, 1); cb.write(-7, 16)
    cb.align()
    frame = frame_header(6, 0) + bytes(cb.buf)
    frame += _crc16(frame).to_bytes(2, "big")
    dec, _ = decode_flac(streaminfo(1, 6) + frame)
    assert [int(round(v * 32768)) for v in dec[:, 0]] == [-7] * 6

    # left/side stereo: right = left - side; side carries 17 bits
    left = [10, 20, 30, 40]
    right = [1, 25, -5, 40]
    side = [l - r for l, r in zip(left, right)]
    st = _BitsW()
    for seq, bits in ((left, 16), (side, 17)):
        st.write(0, 1); st.write(1, 6); st.write(0, 1)  # VERBATIM
        for v in seq:
            st.write(v, bits)
    st.align()
    frame = frame_header(4, 8) + bytes(st.buf)
    frame += _crc16(frame).to_bytes(2, "big")
    dec, _ = decode_flac(streaminfo(2, 4) + frame)
    out = (dec * 32768).round().astype(int)
    assert out[:, 0].tolist() == left and out[:, 1].tolist() == right


def test_flac_through_audio_seam(spark):
    """FLAC payloads flow through decode_audio next to WAV."""
    import numpy as np

    from hbase_spark.functions.flac import encode_flac
    from hbase_spark.functions.multimodal import decode_audio

    t = np.arange(1600) / 16000.0
    sig = 0.3 * np.sin(2 * np.pi * 440 * t)
    media = spark.createDataFrame(
        [(3, "audio", bytearray(encode_flac(sig, 16000)), None)],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long,sample_rate:int>",
    )
    row = decode_audio(media).collect()[0]
    assert row.sample_rate == 16000
    assert row.duration_ms == 100
    assert abs(row.rms - 0.3 / np.sqrt(2)) < 0.01


def test_decode_on_error_policies(spark):
    """Corrupt-corpus policy on the decode seams: 'raise' fails the
    task (default), 'skip' drops only the bad rows, 'tag' quarantines
    them with the error message — the 100 TB posture where one corrupt
    payload neither kills the job nor disappears silently."""
    import numpy as np
    import pytest

    from hbase_spark.functions.gif import encode_gif
    from hbase_spark.functions.multimodal import (
        decode_audio,
        decode_images,
        encode_wav,
    )

    good_img = encode_gif([np.full((4, 4, 3), 9, "u1")])
    schema = (
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long,sample_rate:int>"
    )
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(good_img), None),
            (2, "image", bytearray(b"not an image at all"), None),
            (3, "image", bytearray(good_img[:20]), None),  # truncated
        ],
        schema,
    )
    with pytest.raises(Exception, match="IndexError|NotImplementedError|ValueError"):
        decode_images(media).collect()
    kept = decode_images(media, on_error="skip").collect()
    assert [r.media_id for r in kept] == [1]
    tagged = {r.media_id: r for r in decode_images(media, on_error="tag").collect()}
    assert len(tagged) == 3
    assert tagged[1].error is None and tagged[1].width == 4
    assert "NotImplementedError" in tagged[2].error
    assert tagged[3].error is not None and tagged[3].width is None

    audio = spark.createDataFrame(
        [
            (1, "audio", bytearray(encode_wav([0.0] * 100)), None),
            (2, "audio", bytearray(b"garbage bytes"), None),
        ],
        schema,
    )
    with pytest.raises(Exception, match="ValueError|NotImplementedError"):
        decode_audio(audio).collect()
    assert [r.media_id for r in decode_audio(audio, on_error="skip").collect()] == [1]
    at = {r.media_id: r for r in decode_audio(audio, on_error="tag").collect()}
    assert at[1].error is None and at[2].rms is None and at[2].error
    with pytest.raises(ValueError):
        decode_images(media, on_error="bogus")


def test_avi_mjpeg_roundtrip_and_corrupt_policy():
    """encode_avi_mjpeg -> decode_avi_mjpeg: container roundtrip with
    frame-exact count/fps and near-exact pixels (JPEG q=1); corrupt
    payloads raise per the media-seam policy."""
    import numpy as np
    import pytest as _pytest

    from hbase_spark.functions.avi import decode_avi_mjpeg, encode_avi_mjpeg

    dark = np.full((8, 8, 3), 16, "u1")
    bright = np.full((8, 8, 3), 235, "u1")
    payload = encode_avi_mjpeg([dark, bright, dark], fps=2)
    frames, fps = decode_avi_mjpeg(payload)
    assert fps == 2.0 and len(frames) == 3
    assert frames[0].shape == (8, 8, 3)
    # solid-color frames survive JPEG q=1 within quantization error
    assert abs(float(frames[0].mean()) - 16) < 4
    assert abs(float(frames[1].mean()) - 235) < 4

    with _pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")  # wrong container
    with _pytest.raises(ValueError):
        decode_avi_mjpeg(payload[:40])  # truncated mid-chunk
    # a stream declaring a non-MJPG codec must refuse, not guess
    bad = bytearray(payload)
    i = bad.find(b"vids") + 4
    bad[i:i + 4] = b"H264"
    with _pytest.raises(ValueError):
        decode_avi_mjpeg(bytes(bad))


def test_avi_frame_sampling_through_spark(spark):
    """sample_avi_frames: the MJPEG-AVI arm honors the stream's fps
    timeline through the same Arrow seam as the GIF arm."""
    import numpy as np

    from hbase_spark.functions.avi import encode_avi_mjpeg
    from hbase_spark.functions.multimodal import sample_avi_frames

    dark = np.zeros((6, 6, 3), "u1")
    bright = np.full((6, 6, 3), 240, "u1")
    # 1 fps -> frame duration 1000 ms, mirroring the GIF test's delays
    payload = encode_avi_mjpeg([dark, bright], fps=1)
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "media_id long, payload binary",
    )
    out = sample_avi_frames(media, every_ms=500).collect()
    by = {(r.media_id, r.frame_ts): r for r in out}
    assert len(by) == 8  # 2 payloads x ticks 0,500,1000,1500
    assert by[(1, 0)].mean_luma < 10.0
    assert by[(1, 500)].mean_luma < 10.0
    assert by[(1, 1000)].mean_luma > 200.0
    assert by[(2, 1500)].mean_luma > 200.0
    assert by[(1, 0)].width == 6 and by[(1, 0)].height == 6


def test_pii_stats_and_redaction(spark):
    from hbase_spark.functions.text import pii_stats, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org now"),
            (2, "call +1-555-123-4567 or ssn 123-45-6789"),
            (3, "host 192.168.0.1 card 4111 1111 1111 1111"),
            (4, "clean text, no pii at all"),
        ],
        "doc_id long, text string",
    )
    st = {r.doc_id: r for r in pii_stats(docs).collect()}
    assert (st[1].pii_email, st[1].pii_total) == (2, 2)
    assert (st[2].pii_phone, st[2].pii_ssn, st[2].pii_total) == (1, 1, 2)
    assert (st[3].pii_ipv4, st[3].pii_credit_card) == (1, 1)
    assert st[4].pii_total == 0

    red = {r.doc_id: r.text for r in redact_pii(docs).collect()}
    assert red[1] == "mail [EMAIL] and [EMAIL] now"
    assert red[2] == "call [PHONE] or ssn [SSN]"
    assert red[3] == "host [IPV4] card [CREDIT_CARD]"
    assert red[4] == "clean text, no pii at all"


def test_mixture_sample_up_and_down(spark):
    from hbase_spark.functions.text import mixture_sample

    docs = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(400)],
        "doc_id long, source string",
    )
    out = mixture_sample(
        docs, {"src0": 0.0, "src1": 0.5, "src2": 2.0, "src3": 1.25},
        group_col="source",
    )
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # src0 fully dropped; src2 exactly doubled with epochs 0 and 1
    assert "src0" not in by_src
    assert len(by_src["src2"]) == 200
    assert {r.epoch for r in by_src["src2"]} == {0, 1}
    # src1 keeps roughly half (deterministic md5 bucket), epoch 0 only
    assert 25 <= len(by_src["src1"]) <= 75
    assert {r.epoch for r in by_src["src1"]} == {0}
    # src3: everyone at least once, ~quarter twice
    ids3 = [r.doc_id for r in by_src["src3"]]
    assert len(set(ids3)) == 100
    assert 100 + 10 <= len(ids3) <= 100 + 40
    # deterministic: identical second run
    again = sorted((r.doc_id, r.epoch) for r in mixture_sample(
        docs, {"src0": 0.0, "src1": 0.5, "src2": 2.0, "src3": 1.25},
        group_col="source",
    ).collect())
    assert again == sorted((r.doc_id, r.epoch) for r in rows)


def test_paragraph_dedup_keeps_first_global_occurrence(spark):
    from hbase_spark.functions.text import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "BOILER\n\nunique one\n\nBOILER"),  # in-doc repeat too
            (2, "BOILER\n\nunique two"),
            (3, "unique three\n\nBOILER"),
            (4, "BOILER"),                            # nothing survives
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in paragraph_dedup(docs).collect()}
    assert out[1] == "BOILER\n\nunique one"   # first occurrence kept,
    assert out[2] == "unique two"             # in-doc repeat stripped
    assert out[3] == "unique three"
    assert out[4] == ""                       # empty doc retained
    # idempotent: running again changes nothing
    red = spark.createDataFrame(
        [(k, v) for k, v in out.items()], "doc_id long, text string"
    )
    again = {r.doc_id: r.text for r in paragraph_dedup(red).collect()}
    assert again == out


def test_strip_html_and_extract_urls(spark):
    from hbase_spark.functions.text import extract_urls, strip_html

    docs = spark.createDataFrame(
        [
            (1, "<html><head><style>p{x}</style><script>if(a<b){}</script>"
                "</head><body><h1>Title</h1><p>hello   world</p>"
                '<a href="https://ex.com/a?q=1">link</a>'
                " &amp;lt; &quot;q&#39;&nbsp;end</body></html>"),
            (2, "plain text http://plain.org/x no markup"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_html(extract_urls(docs)).collect()}
    # tags gone, script/style content gone, entities decoded ONCE
    # (&amp;lt; -> &lt;, not <), whitespace collapsed
    assert out[1].text == 'Title hello world link &lt; "q\' end'
    assert out[1].urls == ["https://ex.com/a?q=1"]
    assert out[2].text == "plain text http://plain.org/x no markup"
    assert out[2].urls == ["http://plain.org/x"]


def test_mp4_mjpeg_roundtrip_and_corrupt_policy():
    """encode_mp4_mjpeg -> decode_mp4_mjpeg: ISO-BMFF roundtrip with
    frame-exact count/fps and near-exact pixels (JPEG q=1); corrupt
    payloads raise per the media-seam policy."""
    import numpy as np
    import pytest as _pytest

    from hbase_spark.functions.mp4 import decode_mp4_mjpeg, encode_mp4_mjpeg

    dark = np.full((8, 8, 3), 16, "u1")
    bright = np.full((8, 8, 3), 235, "u1")
    payload = encode_mp4_mjpeg([dark, bright, dark], fps=2)
    frames, fps = decode_mp4_mjpeg(payload)
    assert fps == 2.0 and len(frames) == 3
    assert frames[0].shape == (8, 8, 3)
    assert abs(float(frames[0].mean()) - 16) < 4
    assert abs(float(frames[1].mean()) - 235) < 4

    with _pytest.raises(ValueError):
        decode_mp4_mjpeg(b"RIFF\x00\x00\x00\x00AVI ")  # wrong container
    with _pytest.raises(ValueError):
        decode_mp4_mjpeg(payload[:40])  # truncated mid-box
    # a track declaring a non-MJPEG codec must refuse, not guess
    bad = bytearray(payload)
    i = bad.find(b"stsd")
    j = bad.find(b"jpeg", i)
    bad[j:j + 4] = b"avc1"
    with _pytest.raises(ValueError):
        decode_mp4_mjpeg(bytes(bad))
    # sample tables pointing past the file are an error, not a guess
    bad2 = bytearray(payload)
    k = bad2.find(b"stco")
    bad2[k + 12:k + 16] = (len(payload) + 100).to_bytes(4, "big")
    with _pytest.raises(ValueError):
        decode_mp4_mjpeg(bytes(bad2))


def test_mp4_frame_sampling_through_spark(spark):
    """sample_mp4_frames: the MJPEG-MP4 arm honors the stts/mdhd
    timeline through the same Arrow seam as the AVI and GIF arms."""
    import numpy as np

    from hbase_spark.functions.mp4 import encode_mp4_mjpeg
    from hbase_spark.functions.multimodal import sample_mp4_frames

    dark = np.zeros((6, 6, 3), "u1")
    bright = np.full((6, 6, 3), 240, "u1")
    payload = encode_mp4_mjpeg([dark, bright], fps=1)
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "media_id long, payload binary",
    )
    out = sample_mp4_frames(media, every_ms=500).collect()
    by = {(r.media_id, r.frame_ts): r for r in out}
    assert len(by) == 8  # 2 payloads x ticks 0,500,1000,1500
    assert by[(1, 0)].mean_luma < 10.0
    assert by[(1, 1000)].mean_luma > 200.0
    assert by[(2, 1500)].mean_luma > 200.0
    assert by[(1, 0)].width == 6 and by[(1, 0)].height == 6


def test_duplicate_ngram_stats(spark):
    """Cross-document duplicate 5-gram fraction: shared boilerplate is
    counted, unique text is not, short docs use the whole-doc gram."""
    from hbase_spark.functions.text import duplicate_ngram_stats

    boiler = "all rights reserved by the example corporation"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon unique one"),
            (2, boiler + " zeta eta theta iota kappa unique two"),
            (3, "completely unrelated text with no shared grams here"),
            (4, "tiny doc"),
            (5, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    st = {r.doc_id: r for r in duplicate_ngram_stats(docs).collect()}
    # docs 1 and 2 share exactly the grams inside the boilerplate run
    # (7 tokens -> 3 shared 5-grams); their unique tails are not dups
    assert st[1].n_dup_grams == 3 and st[2].n_dup_grams == 3
    assert 0 < st[1].dup_fraction < 1
    assert st[3].n_dup_grams == 0 and st[3].dup_fraction == 0.0
    # short docs fall back to the whole-doc gram; 4 and 5 are twins
    assert st[4].n_grams == 1 and st[4].n_dup_grams == 1
    assert st[5].dup_fraction == 1.0


def test_warc_roundtrip_and_corrupt_policy():
    """encode_warc -> parse_warc: spec-shaped records roundtrip (plain
    and gzip-member streams); corrupt payloads raise per the shared
    ingestion-seam policy."""
    import pytest as _pytest

    from hbase_spark.sources.warc import encode_warc, parse_warc

    recs = [
        {"warc_type": "warcinfo", "record_id": "<urn:uuid:0>",
         "content_type": "application/warc-fields",
         "content": b"software: test"},
        {"warc_type": "response", "record_id": "<urn:uuid:1>",
         "target_uri": "http://a.example/x",
         "warc_date": "2024-01-01T00:00:00Z",
         "content_type": "text/html",
         "content": b"<html>hello world</html>"},
        {"warc_type": "conversion", "record_id": "<urn:uuid:2>",
         "target_uri": "http://b.example/y", "content_type": "text/plain",
         "content": b"plain text\nwith newlines\r\nand crlf"},
    ]
    for compress in (False, True):
        rows = parse_warc(encode_warc(recs, compress=compress))
        assert [r[2] for r in rows] == ["warcinfo", "response", "conversion"]
        assert rows[1][3] == "http://a.example/x"
        assert rows[2][6] == recs[2]["content"]  # binary-exact body

    with _pytest.raises(ValueError):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")  # not a WARC stream
    with _pytest.raises(ValueError):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody")  # no length
    with _pytest.raises(ValueError):
        parse_warc(b"WARC/1.0\r\nContent-Length: 999\r\n\r\nshort")  # overrun


def test_warc_ingestion_through_spark(spark, tmp_path):
    """read_warc: one task per archive, records split task-side;
    warc_documents projects crawl records to the documents shape the
    curation operators consume."""
    from hbase_spark.functions.text import duplicate_ngram_stats
    from hbase_spark.sources.warc import encode_warc, read_warc, warc_documents

    def resp(i, text):
        return {
            "warc_type": "response", "record_id": f"<urn:uuid:{i}>",
            "target_uri": f"http://ex.org/{i}", "content_type": "text/html",
            "content": text.encode(),
        }

    boiler = "all rights reserved by example corp and partners inc"
    (tmp_path / "a.warc.gz").write_bytes(encode_warc(
        [{"warc_type": "warcinfo", "record_id": "<urn:uuid:w>",
          "content": b"x"},
         resp(1, boiler + " page one body"),
         resp(2, boiler + " page two body")], compress=True))
    (tmp_path / "b.warc").write_bytes(encode_warc(
        [resp(3, "a fully unique page about gardens and rivers here")]))

    warc = read_warc(spark, str(tmp_path))
    assert warc.count() == 4
    assert warc.filter("warc_type = 'warcinfo'").count() == 1

    docs = warc_documents(warc)
    got = {r.source: r for r in docs.collect()}
    assert set(got) == {f"http://ex.org/{i}" for i in (1, 2, 3)}
    assert got["http://ex.org/1"].text.startswith(boiler)
    assert got["http://ex.org/1"].n_chars == len(boiler + " page one body")
    # ids are deterministic -> re-ingesting is idempotent
    again = {r.source: r.doc_id for r in warc_documents(read_warc(
        spark, str(tmp_path))).collect()}
    assert again == {s: r.doc_id for s, r in got.items()}
    # and the projected frame feeds the curation operators directly
    st = {r.doc_id: r for r in duplicate_ngram_stats(docs).collect()}
    dup1 = st[got["http://ex.org/1"].doc_id]
    assert dup1.n_dup_grams > 0
    assert st[got["http://ex.org/3"].doc_id].n_dup_grams == 0


def test_warc_documents_date_parsing(spark, tmp_path):
    """warc_documents(with_date=True) must parse WARC 1.0
    second-precision dates, WARC 1.1 fractional-second dates, and
    yield NULL (not an ANSI throw) for malformed dates so the ingest
    pipeline's arrival-time fallback can take over."""
    from hbase_spark.sources.warc import encode_warc, read_warc, warc_documents

    def resp(i, date):
        return {
            "warc_type": "response", "record_id": f"<urn:uuid:{i}>",
            "target_uri": f"http://ex.org/{i}", "warc_date": date,
            "content": b"some body text",
        }

    (tmp_path / "d.warc").write_bytes(encode_warc([
        resp(1, "2023-01-01T12:00:00Z"),          # WARC 1.0
        resp(2, "2023-01-01T12:00:00.123Z"),      # WARC 1.1 millis
        resp(3, "2023-01-01T12:00:00.123456789Z"),  # WARC 1.1 nanos
        resp(4, "not-a-date"),                    # malformed -> NULL
    ]))
    docs = warc_documents(read_warc(spark, str(tmp_path)), with_date=True)
    got = {r.source: r.warc_ts for r in docs.collect()}
    base = 1672574400000  # 2023-01-01T12:00:00Z in epoch millis
    assert got["http://ex.org/1"] == base
    assert got["http://ex.org/2"] == base + 123
    assert got["http://ex.org/3"] == base  # truncated to seconds
    assert got["http://ex.org/4"] is None

    # the Z must parse as a UTC OFFSET, not a pattern literal: under a
    # non-UTC session timezone the instant is unchanged (a literal-Z
    # pattern would shift it by the zone offset)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        tz_got = {r.source: r.warc_ts for r in warc_documents(
            read_warc(spark, str(tmp_path)), with_date=True
        ).collect()}
        assert tz_got == got
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_semantic_dedup_verify_paths_agree(spark, vecs):
    """The cluster-matrix verify (one matmul per cluster, the scale
    default) and the Catalyst pair verify pick the same drops, the
    same representatives, and cosines equal to float tolerance."""
    from hbase_spark.functions.dedup import semantic_dedup

    clones = vecs.orderBy("vec_id").limit(8).withColumn(
        "vec_id", F.col("vec_id") + 500_000
    )
    corpus = vecs.unionByName(clones)
    a = {
        r.vec_id: (r.keep, r.dup_of, None if r.score is None
                   else round(r.score, 9))
        for r in semantic_dedup(corpus, threshold=0.999, nlist=4).collect()
    }
    b = {
        r.vec_id: (r.keep, r.dup_of, None if r.score is None
                   else round(r.score, 9))
        for r in semantic_dedup(
            corpus, threshold=0.999, nlist=4, verify="expr"
        ).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k][:2] == b[k][:2], (k, a[k], b[k])
        if a[k][2] is not None:
            assert a[k][2] == pytest.approx(b[k][2], abs=1e-9)
    assert sum(1 for v in a.values() if not v[0]) == 8  # the clones drop


def test_semantic_dedup_string_ids(spark):
    """The cluster-matrix verify must keep the expression path's id
    genericity: string keys work, clones drop to the lexicographically
    smallest representative."""
    from hbase_spark.functions.dedup import semantic_dedup

    rows = [
        ("a", [1.0, 0.0]), ("b", [1.0, 0.0]),  # clones
        ("c", [0.0, 1.0]),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    out = {r.vec_id: r for r in
           semantic_dedup(vecs, threshold=0.999, nlist=2).collect()}
    assert not out["b"].keep and out["b"].dup_of == "a"
    assert out["a"].keep and out["c"].keep


def test_semantic_dedup(spark):
    """SemDeDup: within-cluster cosine dups drop to one representative
    (smallest id); near-but-below-threshold and unrelated vectors are
    kept; duplicate chains keep exactly their head."""
    import math

    from hbase_spark.functions.dedup import semantic_dedup

    def unit(*xs):
        n = math.sqrt(sum(x * x for x in xs))
        return [x / n for x in xs]

    a = unit(1.0, 0.0, 0.0, 0.0)
    a2 = unit(1.0, 0.01, 0.0, 0.0)      # cosine ~0.99995 to a
    a3 = unit(1.0, 0.02, 0.0, 0.0)      # dup of a2 (and of a)
    b = unit(0.0, 1.0, 0.0, 0.0)        # orthogonal — never a dup
    c = unit(1.0, 1.0, 0.0, 0.0)        # cosine ~0.707 to a — below 0.95
    vecs = spark.createDataFrame(
        [(1, a), (2, a2), (3, a3), (10, b), (11, c)],
        "vec_id long, embedding array<double>",
    )
    # nlist=1: one cluster, so this scenario tests pure threshold +
    # representative semantics (near-dups straddling a cluster
    # boundary are an accepted SemDeDup miss by construction — the
    # clone contract below pins what clustering MUST preserve)
    out = {r.vec_id: r for r in semantic_dedup(
        vecs, threshold=0.95, nlist=1).collect()}
    assert len(out) == 5
    assert out[1].keep and out[10].keep and out[11].keep
    assert not out[2].keep and out[2].dup_of == 1 and out[2].score > 0.999
    assert not out[3].keep and out[3].dup_of in (1, 2)
    # identical clusters for identical vectors: clone contract
    clones = vecs.withColumn("vec_id", F.col("vec_id") + 100)
    both = vecs.unionByName(clones)
    out2 = {r.vec_id: r for r in semantic_dedup(
        both, threshold=1 - 1e-9, on_overflow="error").collect()}
    dropped = {k for k, r in out2.items() if not r.keep}
    assert dropped == {101, 102, 103, 110, 111}
    assert all(out2[k].dup_of == k - 100 for k in dropped)


def test_two_level_cluster_assignment(spark):
    """The hierarchical coarse quantizer (_assign_clusters_arrow
    two_level=True — the auto path at nlist >= _TWO_LEVEL_NLIST=128): on
    well-separated clusters it reproduces the flat argmax exactly;
    identical vectors always co-assign (the clone contract SemDeDup's
    oracle arm leans on); and the super-centroid build never routes a
    vector to a dead (childless) super-cluster."""
    import math

    import numpy as np

    from hbase_spark.functions.dedup import (
        _assign_clusters_arrow,
        _super_centroids,
    )

    # 12 well-separated centroids on coordinate axes of R^12
    centroids = []
    for i in range(12):
        v = [0.0] * 12
        v[i] = 1.0
        centroids.append((i, v))
    rows = []
    for i in range(12):
        for j in range(6):
            v = [0.01 * ((i + j) % 3) for _ in range(12)]
            v[i] = 1.0
            n = math.sqrt(sum(x * x for x in v))
            rows.append((i * 100 + j, [x / n for x in v]))
    # planted clone pair — must co-assign under every scheme
    rows.append((9001, rows[5][1]))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))

    flat = {r._id: r.list_id for r in
            _assign_clusters_arrow(vecs, centroids, two_level=False).collect()}
    two = {r._id: r.list_id for r in
           _assign_clusters_arrow(vecs, centroids, two_level=True).collect()}
    assert flat == two  # separated clusters: exact agreement
    assert two[9001] == two[rows[5][0]]  # clones co-assign
    assert set(two.values()) == set(range(12))

    # dead-super guard: more supers than distinct centroid directions
    # forces empty children lists, which must be filtered out
    Cn = np.asarray([c for _, c in centroids])
    S, children = _super_centroids(Cn, nsuper=10)
    assert len(S) == len(children)
    assert all(len(ch) for ch in children)
    assert sorted(int(i) for ch in children for i in ch) == list(range(12))


def test_webdataset_roundtrip_and_determinism(spark, tmp_path):
    """write_webdataset -> read_webdataset -> wds_samples roundtrips
    byte-exactly; output shards are a pure function of the data
    (zeroed tar metadata, sorted members, hash routing)."""
    import pytest as _pytest

    from hbase_spark.sources.webdataset import (
        parse_wds_shard,
        read_webdataset,
        wds_samples,
        write_webdataset,
    )

    rows = [
        (f"{i:06d}",
         {"jpg": bytes([i % 256] * 32),
          "txt": f"caption {i}".encode(),
          "json": b'{"id": %d}' % i})
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "key string, files map<string, binary>"
    )
    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    man = {r.shard: r for r in write_webdataset(df, out1, shards=4).collect()}
    assert sum(r.n_samples for r in man.values()) == 40
    assert sum(r.n_files for r in man.values()) == 120

    got = wds_samples(read_webdataset(spark, out1))
    back = {r.key: dict(r.files) for r in got.collect()}
    assert set(back) == {k for k, _ in rows}
    for k, files in rows:
        assert {e: bytes(b) for e, b in back[k].items()} == files

    # byte-determinism: a second write produces identical shard files
    write_webdataset(df, out2, shards=4)
    import os as _os
    for name in sorted(_os.listdir(out1)):
        if name.endswith(".tar"):
            a = open(f"{out1}/{name}", "rb").read()
            b = open(f"{out2}/{name}", "rb").read()
            assert a == b, name

    # corrupt policy: not-a-tar and non-WebDataset member names raise
    with _pytest.raises(ValueError):
        parse_wds_shard(b"definitely not a tar file")
    import io as _io
    import tarfile as _tarfile
    buf = _io.BytesIO()
    with _tarfile.open(fileobj=buf, mode="w") as t:
        info = _tarfile.TarInfo(name="no_extension")
        info.size = 1
        t.addfile(info, _io.BytesIO(b"x"))
    with _pytest.raises(ValueError):
        parse_wds_shard(buf.getvalue())


def _gray_bmp(pattern, k):
    """Gray BMP expanding each pattern cell to a k x k block."""
    from hbase_spark.functions.multimodal import encode_bmp

    rows = [
        [(v, v, v) for v in row for _ in range(k)]
        for row in pattern
        for _ in range(k)
    ]
    return encode_bmp(rows)


_DHASH_PATTERN = [
    [((r * 37 + c * 61) % 191) + 10 for c in range(9)] for r in range(8)
]


def test_box_resample_exact_means(spark):
    import numpy as np

    from hbase_spark.functions.multimodal import _box_resample

    src = np.arange(16, dtype="float64").reshape(4, 4)
    out = _box_resample(src, 2, 2)
    # 2x2 boxes: means of [[0,1,4,5]] etc.
    assert out.tolist() == [[2.5, 4.5], [10.5, 12.5]]
    # upscale duplicates nearest source pixels
    up = _box_resample(np.array([[1.0, 3.0]]), 4, 1)
    assert up.tolist() == [[1.0, 1.0, 3.0, 3.0]]


def test_resize_images_real_path(spark):
    from hbase_spark.functions.multimodal import (
        decode_bmp,
        resize_images,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(_gray_bmp(_DHASH_PATTERN, 2)))],
        "media_id long, kind string, payload binary",
    )
    out = resize_images(media, width=9, height=8).collect()[0]
    assert (out.width, out.height) == (9, 8)
    px = decode_bmp(bytes(out.payload))
    # 2x2 box means of a block-expanded pattern = the pattern itself
    assert [[int(px[r][c][0]) for c in range(9)] for r in range(8)] == (
        _DHASH_PATTERN
    )


def test_dhash_invariant_to_brightness_and_scale(spark):
    from hbase_spark.functions.multimodal import dhash_images

    base = _gray_bmp(_DHASH_PATTERN, 2)
    brighter = _gray_bmp([[v + 20 for v in row] for row in _DHASH_PATTERN], 2)
    rescaled = _gray_bmp(_DHASH_PATTERN, 4)
    distinct = _gray_bmp(
        [[((r * 53 + c * 17) % 191) + 10 for c in range(9)] for r in range(8)], 2
    )
    media = spark.createDataFrame(
        [(1, "image", bytearray(base)), (2, "image", bytearray(brighter)),
         (3, "image", bytearray(rescaled)), (4, "image", bytearray(distinct))],
        "media_id long, kind string, payload binary",
    )
    h = {r.media_id: r.dhash for r in dhash_images(media).collect()}
    assert h[1] == h[2] == h[3] != h[4]


def test_image_near_dups_pairs_and_corrupt_policy(spark):
    from hbase_spark.functions.multimodal import dhash_images, image_near_dups

    base = _gray_bmp(_DHASH_PATTERN, 2)
    brighter = _gray_bmp([[v + 20 for v in row] for row in _DHASH_PATTERN], 2)
    distinct = _gray_bmp(
        [[((r * 53 + c * 17) % 191) + 10 for c in range(9)] for r in range(8)], 2
    )
    media = spark.createDataFrame(
        [(1, "image", bytearray(base)), (2, "image", bytearray(brighter)),
         (4, "image", bytearray(distinct)),
         (9, "image", bytearray(b"not an image"))],
        "media_id long, kind string, payload binary",
    )
    tagged = dhash_images(media, on_error="tag").collect()
    assert {r.media_id for r in tagged if r.dhash is None} == {9}
    assert any("NotImplementedError" in (r.error or "") for r in tagged)
    pairs = image_near_dups(media, on_error="tag").collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(1, 2, 0)}


def test_gopher_rules_isolated_violations(spark):
    """Each Gopher rule (Rae et al. 2021 Table A1) trips on exactly the
    violation built for it, and the all-pass doc keeps."""
    from hbase_spark.functions.text import gopher_filter

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
        + "the of and that"
    )
    rows = [
        (0, base),
        (1, base + " " + "# " * 10),
        (2, base + "\n- x" * 19),
        (3, base + "\nso it goes..."),
        (4, "the of and that tiny"),
        (5, base + " 12345" * 20),
        (6, base + " pneumonoultramicroscopicsilico" * 60),
        (7, "alpha beta gamma delta " * 15),
    ]
    out = gopher_filter(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).orderBy("doc_id").collect()
    failing = {
        1: "symbol_ratio_ok", 2: "bullet_ratio_ok", 3: "ellipsis_ratio_ok",
        4: "word_count_ok", 5: "alpha_ratio_ok", 6: "mean_word_len_ok",
        7: "stop_words_ok",
    }
    rule_cols = [
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_ratio_ok",
        "stop_words_ok",
    ]
    assert out[0].keep and all(out[0][c] for c in rule_cols)
    for r in out[1:]:
        bad = failing[r.doc_id]
        assert not r.keep and not r[bad]
        assert all(r[c] for c in rule_cols if c != bad), r


def test_registered_domain_and_blocklist(spark):
    """registered_domain collapses subdomains to eTLD+1 (multi-part
    public suffixes included), passes IPv4 and bare hosts through;
    domain_stats groups per site; domain_filter drops or flags."""
    from hbase_spark.functions.text import (
        domain_filter,
        domain_stats,
        registered_domain,
    )

    rows = [
        (0, "https://blog.example.co.uk/p/1", "aaaa"),
        (1, "https://news.example.co.uk/q", "bb"),
        (2, "https://www.example.com/a", "c"),
        (3, "http://sub.site.org:8080/x", "dd"),
        (4, "http://192.168.0.1/y", "e"),
        (5, "http://localhost/z", "f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    doms = {
        r.doc_id: r.d
        for r in df.select(
            "doc_id", registered_domain("url").alias("d")
        ).collect()
    }
    assert doms[0] == "example.co.uk" == doms[1]
    assert doms[2] == "example.com"
    assert doms[3] == "site.org"
    assert doms[4] == "192.168.0.1"
    assert doms[5] == "localhost"
    stats = {r.domain: (r.n_docs, r.n_chars)
             for r in domain_stats(df).collect()}
    assert stats["example.co.uk"] == (2, 6)
    assert stats["site.org"] == (1, 2)
    kept = {r.doc_id for r in domain_filter(df, ("example.co.uk",)).collect()}
    assert kept == {2, 3, 4, 5}
    # frame-shaped blocklist + flag mode
    bl = spark.createDataFrame([("EXAMPLE.com",)], ["domain"])
    flagged = {
        r.doc_id: r.ok
        for r in domain_filter(df, bl, keep_col="ok").collect()
    }
    assert flagged[2] is False and all(
        flagged[i] for i in (0, 1, 3, 4, 5)
    )


def test_c4_clean_line_filter_and_page_rules(spark):
    """C4 (Raffel et al. 2020 §2.2): the line filter keeps only
    terminal-punct, >=3-word, non-javascript lines; each page rule
    trips on exactly the violation built for it."""
    from hbase_spark.functions.text import c4_clean

    good = (
        "first sentence here. second sentence there. third one too.\n"
        "a question appears now? yes it does!"
    )
    rows = [
        (0, good),
        (1, good + "\nthis line has a { brace inside it."),
        (2, good + "\nlorem ipsum dolor sit amet friends."),
        (3, good + "\nplease buy badstuff right now online."),
        (4, "one single sentence lives here."),
        (5, good + "\nplease enable javascript to view content."),
        (6, good + "\nthis line has no ending punct"),
        (7, good + "\ntwo words."),
    ]
    out = {
        r.doc_id: r
        for r in c4_clean(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            bad_words=("badstuff",),
        ).collect()
    }
    assert out[0].keep and out[0].c4_text == good
    assert out[0].n_lines == 2 == out[0].n_lines_kept
    assert out[0].n_sentences == 5
    failing = {1: "no_braces", 2: "no_lorem_ipsum", 3: "no_bad_words",
               4: "min_sentences_ok"}
    rule_cols = list(failing.values())
    for i, bad in failing.items():
        assert not out[i].keep and not out[i][bad]
        assert all(out[i][c] for c in rule_cols if c != bad)
    # line-retention legs: the offending line drops, the page keeps
    for i in (5, 6, 7):
        assert out[i].n_lines == 3 and out[i].n_lines_kept == 2
        assert out[i].c4_text == good and out[i].keep

    # phrase / hyphenated blocklist entries match as substrings (a
    # token split can never contain them — the real C4 list is mostly
    # phrases); unrelated docs stay clean
    ph = {
        r.doc_id: r.no_bad_words
        for r in c4_clean(
            spark.createDataFrame(
                [(0, good), (1, good + "\nsome bad stuff appears here."),
                 (2, good + "\na bad-word lurks right here.")],
                ["doc_id", "text"],
            ),
            bad_words=("bad stuff", "BAD-WORD"),
        ).collect()
    }
    assert ph == {0: True, 1: False, 2: False}


def test_image_curation_pipeline_end_to_end(spark, tmp_path):
    """The full multimodal curation chain, every stage real: decode ->
    dHash near-dup pairs -> transitive clusters -> keep representatives
    -> resize to thumbnails -> WebDataset shards -> read back."""
    from hbase_spark.functions.dedup import dedup_clusters
    from hbase_spark.functions.multimodal import (
        decode_bmp,
        image_near_dups,
        resize_images,
    )
    from hbase_spark.sources.webdataset import (
        read_webdataset,
        wds_samples,
        write_webdataset,
    )

    patterns = {
        0: _DHASH_PATTERN,
        1: [[v + 15 for v in row] for row in _DHASH_PATTERN],  # dup of 0
        2: [[((r * 53 + c * 17) % 191) + 10 for c in range(9)]
            for r in range(8)],
        3: [[((r * 11 + c * 7) % 191) + 10 for c in range(9)]
            for r in range(8)],
    }
    media = spark.createDataFrame(
        [(i, "image", bytearray(_gray_bmp(p, 2))) for i, p in patterns.items()],
        "media_id long, kind string, payload binary",
    )
    pairs = image_near_dups(media).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    clusters = dedup_clusters(
        media.withColumnRenamed("media_id", "doc_id"), pairs=pairs
    )
    kept_ids = {r.doc_id for r in clusters.filter("keep").collect()}
    assert kept_ids == {0, 2, 3}  # 1 is 0's brightness clone
    kept = media.join(
        clusters.filter("keep").select(F.col("doc_id").alias("media_id")),
        "media_id",
    )
    thumbs = resize_images(kept, width=9, height=8)
    wds = thumbs.select(
        F.concat(F.lit("img-"), F.col("media_id").cast("string")).alias("key"),
        F.create_map(F.lit("bmp"), F.col("payload")).alias("files"),
    )
    out = str(tmp_path / "wds")
    write_webdataset(wds, out, shards=2).collect()
    back = wds_samples(read_webdataset(spark, out))
    rows = {r.key: bytes(r.files["bmp"]) for r in back.collect()}
    assert set(rows) == {f"img-{i}" for i in kept_ids}
    # the representative's thumbnail decodes to the 9x8 pattern
    px = decode_bmp(rows["img-0"])
    assert [[int(px[r][c][0]) for c in range(9)] for r in range(8)] == (
        _DHASH_PATTERN
    )


def test_paragraph_ops_treat_sep_as_literal(spark):
    """Separators with regex metacharacters ('||', '.') split as
    literals (review finding: bare F.split treated them as patterns)."""
    from hbase_spark.functions.dedup import paragraph_link_pairs
    from hbase_spark.functions.text import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha||shared boiler"), (2, "beta||shared boiler")],
        ["doc_id", "text"],
    )
    pairs = paragraph_link_pairs(docs, sep="||")
    assert {(r.a, r.b) for r in pairs.collect()} == {(1, 2)}
    dd = paragraph_dedup(docs, sep="||").orderBy("doc_id").collect()
    assert dd[0].text == "alpha||shared boiler"
    assert dd[1].text == "beta"


def test_remove_duplicated_substrings_cross_and_intra_doc(spark):
    """ExactSubstr applied (Lee et al. 2022): a duplicated n-gram run
    is removed from EVERY occurrence — across documents and within
    one — while unique and too-short docs pass through untouched."""
    from hbase_spark.functions.text import remove_duplicated_substrings

    docs = spark.createDataFrame(
        [
            (0, "aa bb cc dd ee ff gg hh unique1 unique2"),
            (1, "xx aa bb cc dd ee ff gg hh yy"),
            (2, "one two three four five six seven eight"),
            (3, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8 tail"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_substrings(docs, n=8).collect()
    }
    assert out[0]["text"] == "unique1 unique2"
    assert out[0]["n_tokens"] == 10 and out[0]["n_removed"] == 8
    assert out[1]["text"] == "xx yy"
    assert out[2]["text"] == "one two three four five six seven eight"
    assert out[2]["n_removed"] == 0
    # intra-doc repeat: BOTH copies go (the paper's tool behavior)
    assert out[3]["text"] == "tail"
    assert out[3]["n_removed"] == 16
    assert out[4]["text"] == "short doc"  # < n tokens: untouched


def test_remove_duplicated_substrings_maximal_run_coverage(spark):
    """A duplicated run LONGER than n removes the whole run: every
    token covered by any duplicated n-gram start goes, so an n+2-token
    shared run disappears entirely from both docs."""
    from hbase_spark.functions.text import remove_duplicated_substrings

    run = "s1 s2 s3 s4 s5"  # n=4 -> 5-token run = 2 overlapping 4-grams
    docs = spark.createDataFrame(
        [(0, f"head1 {run} mid1"), (1, f"head2 {run} mid2")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_substrings(docs, n=4).collect()
    }
    assert out[0]["text"] == "head1 mid1"
    assert out[1]["text"] == "head2 mid2"
    assert out[0]["n_removed"] == 5


def test_remove_duplicated_substrings_can_empty_a_doc(spark):
    from hbase_spark.functions.text import remove_duplicated_substrings

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d")], "doc_id long, text string"
    )
    out = remove_duplicated_substrings(docs, n=4).collect()
    assert all(r["text"] == "" and r["n_removed"] == 4 for r in out)


def test_remove_duplicated_substrings_wide_gram_fallback_agrees(spark):
    """The two gram-hash paths — the O(tokens) cyclic-polynomial
    scheme (n <= 64) and the hashed-slice fallback (n > 64) — must
    make identical removal decisions on the same corpus.  A planted
    70-token shared run is removed by both at n=70 (fallback) and at
    n=64 (rolling), and the rolling path handles a gram width at the
    64-rotation boundary exactly."""
    from hbase_spark.functions.text import remove_duplicated_substrings

    run = " ".join(f"tok{i}" for i in range(70))
    docs = spark.createDataFrame(
        [(0, f"alpha {run} beta"), (1, f"gamma {run} delta"),
         (2, "entirely unrelated short text")],
        "doc_id long, text string",
    )
    for n in (64, 70):
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_substrings(docs, n=n).collect()
        }
        assert out[0]["text"] == "alpha beta", f"n={n}"
        assert out[1]["text"] == "gamma delta", f"n={n}"
        assert out[0]["n_removed"] == 70, f"n={n}"
        assert out[2]["n_removed"] == 0, f"n={n}"


def test_remove_duplicated_substrings_matches_brute_force_spec(spark):
    """Property test for the round-9 cyclic-polynomial gram hash: on
    randomized corpora from a tiny vocabulary (forcing heavy duplicate
    structure), the Spark output must equal a direct single-threaded
    model of the Lee et al. rule — token position t removed iff some
    corpus-duplicated n-gram starts in [t-n+1, t], all copies removed.
    Exercises rolling-hash boundary cases (position rotations crossing
    64, docs shorter than n, intra-doc repeats) across several n."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hbase_spark.functions.text import remove_duplicated_substrings

    vocab = ["aa", "bb", "cc", "dd"]

    def spec(token_docs, n):
        from collections import Counter

        grams = Counter()
        for toks in token_docs:
            for i in range(len(toks) - n + 1):
                grams[tuple(toks[i : i + n])] += 1
        out = []
        for toks in token_docs:
            starts = {
                i
                for i in range(len(toks) - n + 1)
                if grams[tuple(toks[i : i + n])] >= 2
            }
            kept = [
                w
                for t, w in enumerate(toks)
                if not any(s in starts for s in range(max(0, t - n + 1), t + 1))
            ]
            removed = len(toks) - len(kept)
            out.append((" ".join(kept), len(toks), removed))
        return out

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=90),
            min_size=1,
            max_size=8,
        ),
        st.sampled_from([2, 3, 8]),
    )
    def check(token_docs, n):
        docs = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(token_docs)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
            for r in remove_duplicated_substrings(docs, n=n).collect()
        }
        exp = spec(token_docs, n)
        for i, e in enumerate(exp):
            assert got[i] == e, f"doc {i} n={n}: {got[i]} != {e}"

    check()


def test_lsh_params_optimizes_banding_near_threshold():
    from hbase_spark.functions.dedup import lsh_params

    for t in (0.3, 0.5, 0.8, 0.9):
        b, r = lsh_params(t, 128)
        assert b * r <= 128 and b >= 1 and r >= 1
        # the banding S-curve midpoint ~ (1/b)^(1/r) lands near t
        assert abs((1 / b) ** (1 / r) - t) < 0.15
    # recall-biased weighting pushes the curve midpoint DOWN (catch
    # more below-threshold pairs), precision-biased pushes it up
    br = lsh_params(0.7, 128, fp_weight=0.1, fn_weight=0.9)
    bp = lsh_params(0.7, 128, fp_weight=0.9, fn_weight=0.1)
    assert (1 / br[0]) ** (1 / br[1]) < (1 / bp[0]) ** (1 / bp[1])


def test_lsh_params_validates_inputs():
    import pytest as _pytest

    from hbase_spark.functions.dedup import lsh_params

    with _pytest.raises(ValueError):
        lsh_params(0.0)
    with _pytest.raises(ValueError):
        lsh_params(0.5, 1)


def test_semantic_decontaminate_flags_planted_near_dups(spark, vecs):
    """Embedding-space decontamination: items whose exact clone sits
    in the eval set are contaminated at threshold ~1; everything else
    keeps its natural (sub-threshold) max and survives; an empty eval
    set contaminates nothing (NULL max)."""
    from pyspark.sql import functions as F

    from hbase_spark.functions.similarity import semantic_decontaminate

    corpus = vecs.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    ev = corpus.filter("vec_id % 10 = 4")  # clones of these leak into eval
    out = semantic_decontaminate(corpus, ev, threshold=0.999)
    got = {r["vec_id"]: r for r in out.collect()}
    for vid, r in got.items():
        assert r["contaminated"] == (vid % 10 == 4)
        if vid % 10 == 4:
            assert r["max_eval_cos"] == pytest.approx(1.0, abs=1e-9)

    empty = semantic_decontaminate(
        corpus, ev.filter("vec_id < 0"), threshold=0.5
    )
    rows = empty.collect()
    assert all(not r["contaminated"] for r in rows)
    assert all(r["max_eval_cos"] is None for r in rows)


def test_temperature_weights_tempered_masses():
    import math

    from hbase_spark.functions.text import temperature_weights

    sizes = {"en": 900, "de": 90, "zh": 10}
    w = temperature_weights(sizes, alpha=0.3)
    # realized mass per group follows size^alpha, total preserved
    masses = {k: w[k] * sizes[k] for k in sizes}
    assert sum(masses.values()) == pytest.approx(1000.0)
    for a, b in (("en", "de"), ("de", "zh")):
        assert masses[a] / masses[b] == pytest.approx(
            (sizes[a] / sizes[b]) ** 0.3, rel=1e-12
        )
    # alpha=1 is the identity mixture; alpha=0 is uniform mass
    w1 = temperature_weights(sizes, alpha=1.0)
    assert all(v == pytest.approx(1.0) for v in w1.values())
    w0 = temperature_weights(sizes, alpha=0.0)
    m0 = {k: w0[k] * sizes[k] for k in sizes}
    assert max(m0.values()) == pytest.approx(min(m0.values()))
    # total scales the budget; empty/invalid inputs behave
    wt = temperature_weights(sizes, alpha=0.3, total=0.5)
    assert sum(wt[k] * sizes[k] for k in sizes) == pytest.approx(500.0)
    assert temperature_weights({}) == {}
    with pytest.raises(ValueError):
        temperature_weights(sizes, alpha=-1)
    with pytest.raises(ValueError):
        temperature_weights({"a": 0})
    assert math.isfinite(sum(temperature_weights({"a": 5, "b": 0},
                                                 alpha=0.5).values()))


def test_product_quantization_contracts(spark, tmp_path):
    """IVF-PQ (similarity.py pq_train/pq_encode/pq_adc_score/pq_topk/
    ivfpq_topk): deterministic codebooks, m-byte codes in range, ADC
    approximates cosine well enough that exact rerank of the top-50
    recovers the exact top-10, the probe path composes with IVF lists,
    and the ADC scoring stage over persisted codes is pure Catalyst
    (no Python at query time — the 100 TB read path touches only the
    code column)."""
    from hbase_spark.functions.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        ivfpq_topk,
        pq_adc_score,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from hbase_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = [float(x) for x in vecs.filter("vec_id = 0").first()["embedding"]]

    b1 = pq_train(vecs, m=8, nbits=8)
    b2 = pq_train(vecs, m=8, nbits=8)
    assert b1 == b2  # deterministic: same corpus -> same codebooks
    assert len(b1) == 8 and all(len(rowv) == 8 for rowv in b1[0])

    codes = pq_encode(vecs, b1)
    rows = codes.collect()
    assert all(len(r.code) == 8 for r in rows)
    assert all(0 <= c < 256 for r in rows for c in r.code)
    # codes are 8 smallints vs 64 doubles — the 32x-at-float32 story

    exact = [r.vec_id for r in cosine_topk(vecs, q, k=10).collect()]
    rr = [r.vec_id for r in
          pq_topk(codes, b1, q, k=10, rerank=50, vecs=vecs).collect()]
    assert len(set(exact) & set(rr)) >= 9  # measured 10/10; 9 = margin

    # rerank without the vecs frame is a usage error
    with pytest.raises(ValueError, match="rerank"):
        pq_topk(codes, b1, q, k=10, rerank=50)

    # IVF composition: extra_cols carries list_id through the encoder,
    # probing all lists must reproduce the flat result
    cents = ivf_centroids(vecs, nlist=4)
    coded = pq_encode(ivf_assign(vecs, cents), b1, extra_cols=("list_id",))
    ivf_all = [r.vec_id for r in
               ivfpq_topk(coded, cents, b1, q, k=10, nprobe=4,
                          rerank=50, vecs=vecs).collect()]
    assert ivf_all == rr

    # the ADC pass over PERSISTED codes is JVM-only: no Python eval
    # node anywhere in the scoring plan
    path = str(tmp_path / "codes.parquet")
    codes.write.parquet(path)
    persisted = spark.read.parquet(path)
    adc = persisted.select(
        "vec_id", pq_adc_score(b1, q).alias("score")
    ).orderBy(F.col("score").desc(), "vec_id").limit(10)
    adc.collect()
    plan = adc._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # neither Batch- nor ArrowEvalPython


def test_byte_level_bpe_apply(spark):
    """Byte-level BPE apply path (functions/bpe.py bbpe_*, the GPT-2
    published algorithm): the byte remap is a bijection, segmentation
    follows the MIN-RANK loop (re-examining pairs a merge creates —
    not the trainer's one-pass fold), ids line up with the rank
    vocabulary, and decode(encode(x)) is byte-exact for every input
    including unicode, emoji, tabs/newlines and trailing spaces."""
    from hbase_spark.functions.bpe import (
        _bbpe_segment,
        bbpe_detokenize,
        bbpe_encode,
        bbpe_vocab,
        bytes_to_unicode,
    )

    m = bytes_to_unicode()
    assert len(m) == 256 and len(set(m.values())) == 256

    # min-rank semantics: with ranks {(a,b):0, (x,ab):1}, merging (a,b)
    # CREATES the (x,ab) pair and the loop must then apply it — the
    # trainer's sequential fold would stop at [x, ab]
    ranks = {("a", "b"): 0, ("x", "ab"): 1}
    assert _bbpe_segment("xab", ranks) == ["xab"]

    merges = [("Ġ", "t"), ("Ġt", "h"), ("h", "e"), ("i", "n"), ("a", "n")]
    vocab = bbpe_vocab(merges)
    assert len(vocab) == 256 + len(merges)
    assert vocab["Ġt"] == 256 + 0 and vocab["an"] == 256 + 4

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog"),
         (2, "привет мир — emoji 😀, tabs\tand\nnewlines  double  spaces"),
         (3, ""), (4, "trailing spaces   "), (5, "{code} & <tags>!")],
        "doc_id long, text string",
    )
    enc = bbpe_encode(docs, merges)
    out = {r.doc_id: r for r in enc.join(docs, "doc_id").select(
        "doc_id", bbpe_detokenize("tokens").alias("got"),
        "text", "tokens", "ids", "n_tokens").collect()}
    for i, r in out.items():
        assert r.got == r.text, (i, r.got, r.text)  # byte-exact roundtrip
        assert r.n_tokens == len(r.tokens) == len(r.ids)
        assert r.ids == [vocab[t] for t in r.tokens]  # rank-vocab ids
    assert out[3].tokens == []


def test_pack_token_sequences_laws(spark):
    """pack_token_sequences (text.py): the tensor-shaped export hop.
    Laws: per shard, the packed rows (in seq_id order) concatenate to
    exactly the shard's documents' ids (+eos) in the seeded md5 order,
    truncated at the last full sequence; every kept row is seq_len
    long; drop_last=False pads the tail with pad_id; the whole thing
    is deterministic and composes with bbpe_encode end-to-end."""
    import hashlib

    from hbase_spark.functions.bpe import bbpe_encode
    from hbase_spark.functions.text import pack_token_sequences

    rows = [(i, list(range(i * 100, i * 100 + 5 + (i % 7)))) for i in range(40)]
    enc = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    seq_len, shards, seed, eos = 16, 4, 7, 99999
    out = pack_token_sequences(
        enc, seq_len=seq_len, shards=shards, seed=seed, eos_id=eos
    ).collect()
    assert all(r.n_tokens == seq_len == len(r.ids) for r in out)

    # reference stream per shard, straight from the definition
    def shard_and_key(i):
        h = hashlib.md5(f"{i}:{seed}".encode()).hexdigest()
        return int(h[:8], 16) % shards, h

    streams = {s: [] for s in range(shards)}
    for i, ids in sorted(rows, key=lambda r: (shard_and_key(r[0])[1], r[0])):
        s = shard_and_key(i)[0]
        streams[s].extend(ids + [eos])
    for s in range(shards):
        want = streams[s]
        got = [t for r in sorted((r for r in out if r.shard == s),
                                 key=lambda r: r.seq_id) for t in r.ids]
        assert got == want[: len(want) - len(want) % seq_len], s

    # padded form keeps the tail
    padded = pack_token_sequences(
        enc, seq_len=seq_len, shards=shards, seed=seed, eos_id=eos,
        drop_last=False, pad_id=-1,
    ).collect()
    assert all(len(r.ids) == seq_len for r in padded)
    total = sum(len(ids) + 1 for _, ids in rows)
    kept = sum(r.ids.count(-1) == 0 and seq_len or
               (seq_len - r.ids.count(-1)) for r in padded)
    assert kept == total  # nothing lost when padding

    # determinism + end-to-end with the byte-level tokenizer
    out2 = pack_token_sequences(
        enc, seq_len=seq_len, shards=shards, seed=seed, eos_id=eos
    ).collect()
    assert sorted(map(tuple, ((r.shard, r.seq_id, tuple(r.ids)) for r in out))) \
        == sorted(map(tuple, ((r.shard, r.seq_id, tuple(r.ids)) for r in out2)))

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "pack me into sequences please"),
         (3, "and me too")],
        "doc_id long, text string",
    )
    coded = bbpe_encode(docs, [("Ġ", "t"), ("h", "e")])
    seqs = pack_token_sequences(
        coded, seq_len=8, shards=2, seed=1, drop_last=False, pad_id=0
    ).collect()
    assert seqs and all(len(r.ids) == 8 for r in seqs)


def test_bbpe_segment_roundtrip_property():
    """Property law (driver-side, no Spark needed): for ANY unicode
    string and ANY merge list over its byte units, joining the
    segments and reversing the byte remap reproduces the input
    byte-for-byte — the invariant the Spark bbpe arm hash-checks on
    the corpus, here fuzzed over adversarial inputs (surrogpairs,
    control bytes, long runs)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hbase_spark.functions.bpe import _U2B, _bbpe_segment

    merges = [("Ġ", "t"), ("h", "e"), ("e", "r"), ("he", "r"),
              ("ĠĠ", "ĠĠ"), ("Ċ", "Ċ")]
    ranks = {p: i for i, p in enumerate(merges)}

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=0, max_size=80))
    def law(s):
        parts = _bbpe_segment(s, ranks)
        back = bytes(_U2B[ch] for tok in parts for ch in tok)
        assert back.decode("utf-8") == s

    law()


def test_pii_credit_card_luhn_validation(spark):
    """pii_stats counts only Luhn-valid card-shaped matches by default
    (a 16-digit number with a failing check digit is an order id, not
    a card); validate_luhn=False restores the raw shape count;
    redact_pii stays shape-based and removes both."""
    from hbase_spark.functions.text import luhn_valid, pii_stats, redact_pii

    docs = spark.createDataFrame(
        [(1, "pay 4532 0151 1283 0366 or 4111-1111-1111-1111 "
             "but not 1234 5678 9012 3456 nor order 9999 8888 7777 6666")],
        "doc_id long, text string",
    )
    r = pii_stats(docs).collect()[0]
    assert r.pii_credit_card == 2  # the two valid ones (space + hyphen)
    raw = pii_stats(docs, validate_luhn=False).collect()[0]
    assert raw.pii_credit_card == 4  # every card-shaped match
    red = redact_pii(docs).collect()[0].text
    assert red.count("[CREDIT_CARD]") == 4  # redaction errs toward removal

    lv = spark.createDataFrame(
        [("4532 0151 1283 0366",), ("1234 5678 9012 3456",), ("",)], ["s"]
    ).select(luhn_valid("s").alias("v")).collect()
    assert [r.v for r in lv] == [True, False, False]


def test_train_bbpe_end_to_end(spark, docs):
    """Byte-level BPE TRAINER (bpe.py train_bbpe — the GPT-2
    arrangement's training half): deterministic, learns space-prefixed
    (Ġ) merges from the published pretokenization, compresses, and its
    merge list feeds the apply path with the lossless roundtrip law
    intact on every doc."""
    from hbase_spark.functions.bpe import (
        bbpe_detokenize,
        bbpe_encode,
        train_bbpe,
    )

    sample = docs.limit(60).select("doc_id", "text")
    m1 = train_bbpe(sample, num_merges=40)
    m2 = train_bbpe(sample, num_merges=40)
    assert m1 == m2 and len(m1) == 40
    assert any(a.startswith("Ġ") for a, _ in m1)  # leading-space units

    enc = bbpe_encode(sample, m1)
    joined = enc.join(sample, "doc_id").select(
        bbpe_detokenize("tokens").alias("got"), "text", "n_tokens"
    )
    assert joined.filter(F.col("got") != F.col("text")).count() == 0
    n_unit = bbpe_encode(sample, []).agg(F.sum("n_tokens")).first()[0]
    n_bpe = enc.agg(F.sum("n_tokens")).first()[0]
    assert n_bpe < n_unit  # merges actually compress


def test_training_pipeline_end_to_end(spark, docs, tmp_path):
    """Capstone composition: the full batch training-data pipeline —
    audit -> quality gate -> exact dedup -> near-dup dedup -> byte-BPE
    tokenize -> fixed-length packing -> sharded parquet export — runs
    as one lazy composition and lands tensor-shaped rows with the
    conservation laws intact.  Every stage is individually
    oracle-checked elsewhere; this pins that they COMPOSE (schemas,
    column contracts, determinism through seven operators)."""
    from hbase_spark.functions.bpe import bbpe_encode, train_bbpe
    from hbase_spark.functions.dedup import exact_dedup, minhash_dedup
    from hbase_spark.functions.text import (
        curation_report,
        pack_token_sequences,
        token_count,
    )

    corpus = docs.limit(120).select("doc_id", "text")
    # clone a slice so both dedup stages have real work
    clones = corpus.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = corpus.unionByName(clones)

    audit = {r.lang: r for r in curation_report(corpus).collect()}
    assert sum(r.n_docs for r in audit.values()) == 140
    assert any(r.n_unique_docs < r.n_docs for r in audit.values())

    # minimum-length gate (the synthetic corpus fails the full Gopher
    # battery by design — curation_report above already audits it)
    gated = corpus.filter(token_count("text") >= 20)
    deduped = exact_dedup(gated)
    assert deduped.count() <= gated.count()
    near = minhash_dedup(deduped)
    n_docs = near.count()
    assert 0 < n_docs <= deduped.count()

    merges = train_bbpe(near, num_merges=24)
    enc = bbpe_encode(near, merges)
    total_tokens = enc.agg(F.sum("n_tokens")).first()[0]

    seqs = pack_token_sequences(
        enc, seq_len=64, shards=4, seed=11, eos_id=0, drop_last=False
    )
    out_dir = str(tmp_path / "train_export")
    seqs.write.partitionBy("shard").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    rows = back.collect()
    assert all(len(r.ids) == 64 for r in rows)
    # token conservation: every (doc tokens + one eos per doc) lands in
    # the export; padding fills only the per-shard tails
    exported = sum(64 - r.ids[::-1].index(0) if 0 in r.ids and r.ids[-1] == 0
                   else 64 for r in rows)
    n_pad = sum(r.ids.count(0) for r in rows) - n_docs  # eos are 0 too
    assert sum(len(r.ids) for r in rows) - n_pad == total_tokens + n_docs

    # rerunning the whole chain reproduces the export bit-for-bit
    seqs2 = pack_token_sequences(
        bbpe_encode(near, train_bbpe(near, num_merges=24)),
        seq_len=64, shards=4, seed=11, eos_id=0, drop_last=False,
    ).collect()
    assert sorted((r.shard, r.seq_id, tuple(r.ids)) for r in rows) == \
        sorted((r.shard, r.seq_id, tuple(r.ids)) for r in seqs2)


def test_semantic_dedup_skewed_cluster_beyond_bucket_cap(spark):
    """Round-8 64x sweep finding: k-means cluster sizes are skewed, so
    a cluster can exceed the pair-join _BUCKET_CAP (1024) while the
    matmul verify handles it fine — its scoring is row-blocked, memory
    ~32 MB at any cluster size, and the default cap now reflects the
    flops budget (_CLUSTER_CAP).  A 3000-member near-identical cluster
    must dedup to ONE representative; explicit cap + on_overflow
    'error' still fences degenerate clusterings."""
    import math

    from hbase_spark.functions.dedup import semantic_dedup

    n = 3000
    # all vectors nearly parallel (one giant natural cluster) plus a
    # far-away second direction so nlist=2 has something to split
    rows = [
        (i, [1.0, 1e-9 * i, 0.0, 0.0]) for i in range(n)
    ] + [(10_000 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(4)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rows_out = semantic_dedup(vecs, threshold=1 - 1e-9, nlist=2).collect()
    kept = sorted(r.vec_id for r in rows_out if r.keep)
    dropped = {r.vec_id: r.dup_of for r in rows_out if not r.keep}
    # the near-identical mass dedups to one representative PER CLUSTER
    # it was assigned to (k-means may split the dominant direction);
    # what matters: a >1024-member cluster verified without error,
    # every drop names a smaller same-mass id, nothing far got dropped
    kept_giant = [k for k in kept if k < 10_000]
    assert 0 in kept_giant and len(kept_giant) <= 2
    assert len(dropped) >= n - 2
    assert all(d < i < 10_000 for i, d in dropped.items())
    assert math.isclose(
        max(r.score for r in rows_out if not r.keep), 1.0, rel_tol=1e-9
    )
    # the explicit-cap contract still fences flops-degenerate clusters
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import PythonException

    with _pytest.raises(PythonException, match="skew cap"):
        semantic_dedup(
            vecs, threshold=0.999, nlist=2, cap=256, on_overflow="error"
        ).collect()


def test_frame_cache_drops_stopped_sessions(spark, sf_dir):
    # the memo keeps one session's frames: an insert drops the entries
    # of every other applicationId
    from hbase_spark.sources import tables

    stale = ("app-stopped", sf_dir, "orders", False)
    tables._FRAME_CACHE[stale] = object()
    tables._FRAME_CACHE.pop(
        (spark.sparkContext.applicationId, sf_dir, "customer", False), None
    )
    load_table(spark, sf_dir, "customer")
    assert stale not in tables._FRAME_CACHE
    assert {k[0] for k in tables._FRAME_CACHE} == {spark.sparkContext.applicationId}


def test_tools_import_their_own_checkout():
    # a tool run from another clone must import that clone's code: no
    # tool may name an absolute checkout path
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    for tool in sorted((root / "tools").glob("*.py")):
        src = tool.read_text()
        assert str(root) not in src, tool.name
        assert not re.search(r"sys\.path\.insert\(\s*0\s*,\s*['\"]/", src), tool.name
