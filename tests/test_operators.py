"""Tests for the LLM-pipeline operators: text stats, dedup, similarity,
as-of join, multimodal plumbing."""

import pytest
from pyspark.sql import Row, functions as F

from pdtable_spark.operators import dedup, multimodal, similarity, text
from pdtable_spark.operators.asof import asof_join


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "src0"),
        (1, "the quick brown fox jumps over the lazy dog", "src0"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "src0"),  # near dup
        (3, "completely different content about spark engines here", "src1"),
        (4, "le chat est sur la table et le chien dort", "src1"),
        (5, "", "src1"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_token_count_and_quality(spark, docs):
    out = docs.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()
    got = {r["doc_id"]: r["n"] for r in out}
    assert got[0] == 9 and got[3] == 7
    q = docs.select("doc_id", text.quality_score(F.col("text")).alias("q")).collect()
    qm = {r["doc_id"]: r["q"] for r in q}
    assert 0.0 <= qm[5] <= 0.5 < qm[0] <= 1.0


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["l"] for r in docs.select("doc_id", text.lang_id(F.col("text")).alias("l")).collect()}
    assert out[0] == "en"
    assert out[4] == "fr"
    assert out[5] == "und"


def test_fingerprint_matches_for_identical_docs(spark, docs):
    fp = {r["doc_id"]: r["f"] for r in docs.select("doc_id", text.fingerprint("text").alias("f")).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup(docs).collect()
    dup_group = [g for g in groups if g["n_dups"] == 2]
    assert len(dup_group) == 1 and dup_group[0]["keep_id"] == 0
    survivors = dedup.exact_dedup_keep_first(docs)
    assert survivors.count() == 5
    assert survivors.filter(F.col("doc_id") == 1).count() == 0


def test_minhash_dedup_finds_near_dup(spark, docs):
    pairs = dedup.minhash_dedup(
        docs, num_hashes=16, bands=8, shingle_n=3, jaccard_threshold=0.3
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near dup found
    assert all(p[0] < 4 and p[1] < 4 for p in got)  # unrelated docs not paired


def test_simhash_near_dups(spark, docs):
    pairs = dedup.simhash_near_dups(docs, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((0, 1)) == 0  # identical docs: distance 0


def test_simhash_near_dups_exact_recall(spark, docs):
    """Pigeonhole blocking must equal the brute-force all-pairs result —
    including pairs whose simhashes differ only in the TOP byte (the case
    single-block top-bits LSH misses)."""
    s = dedup.simhash(docs)
    rows = {r["doc_id"]: r["simhash"] for r in s.collect()}
    want = set()
    for a in rows:
        for b in rows:
            if a < b and bin((rows[a] ^ rows[b]) & (2**64 - 1)).count("1") <= 12:
                want.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dups(docs, max_hamming=12).collect()
    }
    assert got == want


def test_bucket_pairs_hot_bucket_fallback(spark):
    """A pathological all-duplicate bucket must route through the join
    fallback (no single collect_list row holding the k² expansion) and still
    produce every pair; small buckets keep the in-row expansion path."""
    n_hot = 1200
    rows = [(i, "hot") for i in range(n_hot)] + [(10_000, "cold"), (10_001, "cold")]
    df = spark.createDataFrame(rows, ["id", "key"])
    pairs = dedup.bucket_pairs(df, ["key"], F.col("id"), max_bucket=100)
    assert pairs.count() == n_hot * (n_hot - 1) // 2 + 1
    # physical plan: the aggregate path must never see the hot bucket
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_max_bucket_equivalence(spark, docs):
    """Guarded and unguarded pair emission agree on the same corpus."""
    kw = dict(num_hashes=16, bands=8, shingle_n=3, jaccard_threshold=0.3)
    a = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup(docs, max_bucket=1, **kw).collect()}
    b = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup(docs, max_bucket=None, **kw).collect()}
    assert a == b and a


def test_embedding_near_dups_hot_bucket(spark):
    """Identical vectors all share one LSH bucket — the guard must still
    return every pair, exact-verified."""
    n = 80
    df = spark.createDataFrame([(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)], ["vec_id", "embedding"])
    out = similarity.embedding_near_dups(df, threshold=0.99, dim=4, bits=4, max_bucket=10)
    assert out.count() == n * (n - 1) // 2


def test_chunk_documents_covers_all_tokens(spark):
    rows = [(0, " ".join(f"t{i}" for i in range(95))), (1, "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.chunk_documents(df, chunk_tokens=50, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 95 tokens, stride 40 -> chunks at 0, 40, 80 (3 chunks)
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c0] == [0, 1, 2]
    assert c0[0]["chunk_text"].split()[:2] == ["t0", "t1"]
    assert c0[1]["chunk_text"].split()[0] == "t40"  # overlap: starts 10 back from 50
    assert c0[2]["chunk_n_tokens"] == 15  # tail chunk: tokens 80..94
    covered = set()
    for r in c0:
        covered.update(r["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(95)}  # no token dropped
    # short doc: exactly one chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "a b c"


def test_hash_split_deterministic_ratio(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = text.hash_split(df, train_pct=90)
    frac = out.filter(F.col("split") == "train").count() / 2000
    assert 0.85 < frac < 0.95
    # content-stable: same ids -> same split on re-run
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in text.hash_split(df, train_pct=90).collect()}
    assert a == b


def test_contamination_report_finds_containment(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, bench_text, "bench"),
        (1, "intro words " + bench_text + " trailing words here", "train"),  # contains bench
        (2, "totally unrelated content about engines and shuffles", "train"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = dedup.contamination_report(
        df, F.col("source") == "bench", shingle_n=3, min_containment=0.9
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["train_id"], r["bench_id"]) == (1, 0) and r["containment"] == 1.0


def test_bucket_pairs_guarded_equals_unguarded_random(spark):
    """Property check over a random-ish key distribution: the guarded
    (max_bucket routes some buckets to the join fallback) and unguarded
    paths must produce identical pair sets."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.choice("abcdefg")) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "key"])
    a = {(r["ea"], r["eb"]) for r in dedup.bucket_pairs(df, ["key"], F.col("id"), max_bucket=20).collect()}
    b = {(r["ea"], r["eb"]) for r in dedup.bucket_pairs(df, ["key"], F.col("id"), max_bucket=None).collect()}
    assert a == b and len(a) > 1000


def test_connected_components_chain_and_isolated(spark):
    """A diameter-3 chain needs several propagation rounds; isolated
    vertices keep their own label."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["id"])
    got = {r["id"]: r["component"] for r in dedup.connected_components(edges, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got


@pytest.fixture()
def vectors(spark):
    import math

    rows = []
    for i in range(50):
        angle = i * 0.1
        rows.append((i, [math.cos(angle), math.sin(angle)] + [0.0] * 6))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(vectors, queries, k=3).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [0, 1, 2]
    assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_rhp_lsh_topk_recalls_self(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.rhp_lsh_topk(vectors, queries, k=3, dim=8, bits_per_table=4, num_tables=4)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in [0, 1, 2]:
        top1 = min(by_q[q], key=lambda r: r["rank"])
        assert top1["vec_id"] == q  # a vector's nearest neighbor is itself
        assert top1["cosine_sim"] == pytest.approx(1.0)


def test_embedding_near_dups(spark, vectors):
    pairs = similarity.embedding_near_dups(
        vectors, threshold=0.995, bits=4, dim=8
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # only vectors 0.1 rad apart clear the 0.995 threshold (cos 0.1 ~ 0.9950,
    # cos 0.2 ~ 0.980): every reported pair must be adjacent ids...
    assert got and all(b - a == 1 for a, b in got)
    # ...and bucketing must find most of them (recall loss at bucket borders
    # is inherent to single-table LSH)
    assert len(got) >= 25


def test_asof_join(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    quotes = spark.createDataFrame(
        [
            (1, t0, 100.0),
            (1, t0 + dt.timedelta(minutes=10), 101.0),
            (2, t0 + dt.timedelta(minutes=5), 50.0),
        ],
        ["sym", "ts", "price"],
    )
    trades = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=1), 10),
            (1, t0 + dt.timedelta(minutes=10), 20),  # equal ts -> matches (<=)
            (1, t0 + dt.timedelta(minutes=30), 30),
            (2, t0, 40),  # before any quote -> null
        ],
        ["sym", "ts", "qty"],
    )
    out = asof_join(trades, quotes, on="ts", by="sym")
    got = {r["qty"]: r["price"] for r in out.collect()}
    assert got[10] == 100.0
    assert got[20] == 101.0
    assert got[30] == 101.0
    assert got[40] is None
    # strict: equal-timestamp quote no longer matches
    strict = asof_join(trades, quotes, on="ts", by="sym", strict=True)
    got_s = {r["qty"]: r["price"] for r in strict.collect()}
    assert got_s[20] == 100.0


def test_multimodal_plumbing(spark):
    from pdtable_spark.operators import multimodal as mm

    rows = [
        (0, "image", "image/fake", b"imgbytes0", None, 4, 4, None),
        (1, "image", "image/fake", b"imgbytes1", None, 4, 4, None),
        (2, "video", "video/fake", b"vidbytes", None, None, None, 3.0),
    ]
    assets = spark.createDataFrame(rows, schema=mm.ASSET_SCHEMA)
    feats = mm.extract_features(assets.filter(F.col("modality") == "image"), dim=8, fake=True)
    out = feats.collect()
    assert {r["asset_id"] for r in out} == {0, 1}
    assert all(len(r["feature"]) == 8 for r in out)
    # deterministic fake: same payload -> same features
    again = mm.extract_features(assets.filter(F.col("modality") == "image"), dim=8, fake=True)
    assert again.collect() == out
    frames = mm.sample_frames(assets.filter(F.col("modality") == "video"), fake=True).collect()
    assert len(frames) == 3
    # real decode path raises cleanly
    with pytest.raises(Exception):
        mm.extract_features(assets, dim=8, fake=False).collect()
    stats = mm.asset_stats(assets).collect()
    assert {r["modality"]: r["n_assets"] for r in stats} == {"image": 2, "video": 1}


def test_load_assets_from_binary_files(spark, tmp_path):
    """binaryFile ingest: extension-typed modality/mime, path-stable ids,
    size pushdown, glob filter, and composition with the downstream
    operators (stats need no payload read; features run on the loaded
    payloads)."""
    from pdtable_spark.operators import multimodal as mm

    (tmp_path / "a.png").write_bytes(b"png-bytes-a")
    (tmp_path / "b.jpg").write_bytes(b"jpeg-bytes-b")
    (tmp_path / "c.wav").write_bytes(b"wav-bytes-c" * 10)
    (tmp_path / "d.xyz").write_bytes(b"???")
    assets = mm.load_assets(spark, str(tmp_path))
    rows = {r["uri"].rsplit("/", 1)[-1]: r for r in assets.collect()}
    assert rows["a.png"]["modality"] == "image" and rows["a.png"]["mime_type"] == "image/png"
    assert rows["c.wav"]["modality"] == "audio"
    assert rows["d.xyz"]["modality"] == "binary" and rows["d.xyz"]["mime_type"] is None
    assert bytes(rows["b.jpg"]["payload"]) == b"jpeg-bytes-b"
    assert all(r["asset_id"] >= 0 for r in rows.values())
    # ids are pure functions of the path → stable across re-ingests
    again = {r["uri"].rsplit("/", 1)[-1]: r["asset_id"] for r in mm.load_assets(spark, str(tmp_path)).collect()}
    assert again == {k: v["asset_id"] for k, v in rows.items()}
    # size pushdown and glob filter
    small = mm.load_assets(spark, str(tmp_path), max_bytes=20)
    assert small.count() == 3  # the repeated wav payload is excluded
    imgs = mm.load_assets(spark, str(tmp_path), glob="*.{png,jpg}")
    assert imgs.count() == 2
    # composes with the existing pipeline
    stats = {r["modality"]: r["n_assets"] for r in mm.asset_stats(assets).collect()}
    assert stats == {"image": 2, "audio": 1, "binary": 1}
    feats = mm.extract_features(imgs, dim=8, fake=True).collect()
    assert len(feats) == 2 and all(len(r["feature"]) == 8 for r in feats)


def _tiny_png(w: int = 8, h: int = 8) -> bytes:
    """A minimal valid 8-bit grayscale PNG, stdlib-only (no imaging lib
    needed to PRODUCE the fixture — only the optional decoder reads it)."""
    import struct
    import zlib

    def chunk(typ, data):
        body = struct.pack(">I", len(data)) + typ + data
        return body + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    raw = b"".join(
        b"\x00" + bytes((x * 31 + y * 17) % 256 for x in range(w)) for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_png_decode(spark):
    """Extras-gated real decoder: with pillow installed, extract_features
    (fake=False) decodes an actual PNG payload into the same 4x4-grid
    feature contract as the fake path.  Skips where pillow is absent."""
    pytest.importorskip("PIL")
    from pdtable_spark.operators import multimodal as mm

    rows = [(0, "image", "image/png", _tiny_png(), None, 8, 8, None)]
    assets = spark.createDataFrame(rows, schema=mm.ASSET_SCHEMA)
    out = mm.extract_features(assets, dim=16, fake=False).collect()
    assert len(out) == 1 and out[0]["feat_dim"] == 16
    vec = out[0]["feature"]
    assert len(vec) == 16
    assert all(0.0 <= v <= 255.0 for v in vec)
    # a real gradient image decodes to non-constant pixels, deterministically
    assert len(set(vec)) > 1
    assert mm.extract_features(assets, dim=16, fake=False).collect() == out


def test_multimodal_real_decode_unavailable_raises_helpfully(spark):
    """Without pillow, fake=False must fail with the install hint, not an
    opaque error (skips where pillow IS installed)."""
    try:
        import PIL  # noqa: F401

        pytest.skip("pillow installed — covered by the decode test above")
    except ImportError:
        pass
    from pdtable_spark.operators import multimodal as mm

    with pytest.raises(Exception, match="pillow"):
        mm._decode_image(b"not-an-image", fake=False)


# ---------------------------------------------------------------------------
# interval (range) join
# ---------------------------------------------------------------------------


def test_interval_join_matches_naive(spark):
    from pdtable_spark.operators.range_join import interval_join

    points = spark.createDataFrame(
        [(i, float(i * 37 % 1000)) for i in range(200)], "pid int, t double"
    )
    intervals = spark.createDataFrame(
        [(j, float(j * 100), float(j * 100 + 150)) for j in range(12)],
        "iid int, start double, end double",
    )
    got = interval_join(points, intervals, "t", grain_seconds=100).select("pid", "iid")
    naive = points.crossJoin(intervals).filter(
        (F.col("start") <= F.col("t")) & (F.col("t") < F.col("end"))
    ).select("pid", "iid")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    assert got.count() > 0


def test_interval_join_fractional_and_negative(spark):
    """Fractional endpoints and negative values: floor-based bucketing must
    not drop matches (trunc-based bucketing placed point 7200.2 in a bucket
    the interval [7199.5, 7200.5) never exploded into)."""
    from pdtable_spark.operators.range_join import interval_join

    points = spark.createDataFrame(
        [(0, 7200.2), (1, -0.5), (2, 0.25), (3, 3599.999)], "pid int, t double"
    )
    intervals = spark.createDataFrame(
        [(0, 7199.5, 7200.5), (1, -1.0, 0.5), (2, 3599.5, 3600.0)],
        "iid int, start double, end double",
    )
    got = interval_join(points, intervals, "t", grain_seconds=3600).select("pid", "iid")
    naive = points.crossJoin(intervals).filter(
        (F.col("start") <= F.col("t")) & (F.col("t") < F.col("end"))
    ).select("pid", "iid")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    assert got.count() == 4  # pids 0,1 (x2 via overlap set),2,3 all matched


def test_interval_join_left_keeps_unmatched(spark):
    from pdtable_spark.operators.range_join import interval_join

    points = spark.createDataFrame([(1, 5.0), (2, 500.0)], "pid int, t double")
    intervals = spark.createDataFrame([(7, 0.0, 10.0)], "iid int, start double, end double")
    out = interval_join(points, intervals, "t", grain_seconds=10, how="left").collect()
    by_pid = {r.pid: r.iid for r in out}
    assert by_pid == {1: 7, 2: None}


def test_interval_join_timestamps(spark):
    from pdtable_spark.operators.range_join import interval_join
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=30 * i)) for i in range(10)], "pid int, t timestamp"
    )
    intervals = spark.createDataFrame(
        [(0, base, base + dt.timedelta(hours=2))], "iid int, start timestamp, end timestamp"
    )
    got = interval_join(points, intervals, "t", grain_seconds=3600)
    assert got.count() == 4  # minutes 0, 30, 60, 90 (end exclusive)


# ---------------------------------------------------------------------------
# IVF / embedding near-dup
# ---------------------------------------------------------------------------


def test_ivf_topk_recall(spark):
    from pdtable_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4)
    exact_ids = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_ids = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.5  # nprobe=half the cells: high recall expected
    # every query returns k results and the self-match ranks first
    rows = approx.filter(F.col("rank") == 1).collect()
    assert all(r.query_id == r.vec_id for r in rows)


def test_embedding_near_dups_pairs_verified(spark):
    from pdtable_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.embedding_near_dups(emb, threshold=0.5, bits=4, dim=64)
    rows = out.collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.cosine_sim >= 0.5 for r in rows)
    # verify a sample pair against a directly-computed cosine
    if rows:
        import math
        vecs = {r.vec_id: r.embedding for r in emb.filter(
            F.col("vec_id").isin([rows[0].id_a, rows[0].id_b])).collect()}
        a, b = vecs[rows[0].id_a], vecs[rows[0].id_b]
        d = sum(x*y for x, y in zip(a, b))
        n = math.sqrt(sum(x*x for x in a) * sum(y*y for y in b))
        assert abs(d / n - rows[0].cosine_sim) < 1e-9


# ---------------------------------------------------------------------------
# as-of join directions / tolerance
# ---------------------------------------------------------------------------


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 10.0), (1, 25.0), (2, 5.0)], "k int, t double"
    )
    right = spark.createDataFrame(
        [(1, 8.0, "a"), (1, 20.0, "b"), (1, 26.0, "c"), (2, 50.0, "z")],
        "k int, t double, v string",
    )
    return left, right


def test_asof_directions(spark):
    from pdtable_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    back = {(r.k, r.t): r.v for r in asof_join(left, right, "t", by="k").collect()}
    assert back == {(1, 10.0): "a", (1, 25.0): "b", (2, 5.0): None}
    fwd = {
        (r.k, r.t): r.v
        for r in asof_join(left, right, "t", by="k", direction="forward").collect()
    }
    assert fwd == {(1, 10.0): "b", (1, 25.0): "c", (2, 5.0): "z"}
    near = {
        (r.k, r.t): r.v
        for r in asof_join(left, right, "t", by="k", direction="nearest").collect()
    }
    # t=10: back a (d=2) vs fwd b (d=10) -> a; t=25: b (d=5) vs c (d=1) -> c
    assert near == {(1, 10.0): "a", (1, 25.0): "c", (2, 5.0): "z"}


def test_asof_tolerance_and_strict(spark):
    from pdtable_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    tol = {
        (r.k, r.t): r.v
        for r in asof_join(left, right, "t", by="k", tolerance=3.0).collect()
    }
    assert tol == {(1, 10.0): "a", (1, 25.0): None, (2, 5.0): None}
    # strict excludes equal timestamps
    eq_left = spark.createDataFrame([(1, 8.0)], "k int, t double")
    non_strict = asof_join(eq_left, right, "t", by="k").collect()[0]
    assert non_strict.v == "a"
    strict = asof_join(eq_left, right, "t", by="k", strict=True).collect()[0]
    assert strict.v is None


def test_asof_matches_duckdb_oracle(spark):
    import duckdb

    from pdtable_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    got = sorted(
        (r.k, r.t, r.v) for r in asof_join(left, right, "t", by="k").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE l AS SELECT * FROM (VALUES (1,10.0),(1,25.0),(2,5.0)) t(k,t)")
    con.execute(
        "CREATE TABLE r AS SELECT * FROM (VALUES (1,8.0,'a'),(1,20.0,'b'),(1,26.0,'c'),(2,50.0,'z')) t(k,t,v)"
    )
    want = sorted(
        con.execute(
            "SELECT l.k, l.t, r.v FROM l ASOF LEFT JOIN r ON l.k = r.k AND r.t <= l.t"
        ).fetchall()
    )
    assert got == want


def test_ngram_jaccard_df_cut(spark):
    from pdtable_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "common common common common common filler"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, boiler),
            (4, boiler),
            (5, boiler),
        ],
        "doc_id long, text string",
    )
    # without the cut: the boilerplate triple yields all 3 pairs
    full = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in full.collect()} >= {(3, 4), (3, 5), (4, 5), (1, 2)}
    # df-cut at 2: boilerplate shingles (df=3) dropped -> those pairs gone;
    # the 1/2 pair's shared shingles (df=2) survive
    cut = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5, max_doc_freq=2)
    pairs = {(r.id_a, r.id_b) for r in cut.collect()}
    assert not pairs & {(3, 4), (3, 5), (4, 5)}
    assert (1, 2) in pairs


def test_tfidf_keywords(spark, docs):
    out = text.tfidf_keywords(docs.filter(F.col("text") != ""), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every doc gets ≤ k rows, ranks are 1..k, scores non-increasing
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
    # doc 0: 'the' (tf=2, df=3) outscores 'dog' (tf=1, df=2): 2·ln(5/3) > ln(5/2)
    d0 = sorted((r for r in out if r["doc_id"] == 0), key=lambda r: r["rank"])
    assert d0[0]["term"] == "the" and d0[0]["tf"] == 2 and d0[0]["df"] == 3
    assert d0[1]["term"] == "dog" and d0[1]["df"] == 2


def test_ngram_doc_freq(spark, docs):
    top = text.ngram_doc_freq(docs.filter(F.col("text") != ""), n=2, top=5).collect()
    counts = {r["ngram"]: r["doc_freq"] for r in top}
    # "the quick" occurs in docs 0,1,2 → doc_freq 3, the max
    assert counts[top[0]["ngram"]] == 3
    assert top[0]["doc_freq"] >= top[-1]["doc_freq"]


def test_hash_sample_deterministic_and_stratified(spark, docs):
    from pdtable_spark.operators import sampling

    full = docs.withColumn("lang", F.lit("en"))
    a = sorted(r["doc_id"] for r in sampling.hash_sample(full, 0.5, salt="s").collect())
    b = sorted(r["doc_id"] for r in sampling.hash_sample(full, 0.5, salt="s").collect())
    assert a == b  # re-run identical
    c = sorted(r["doc_id"] for r in sampling.hash_sample(full.repartition(7), 0.5, salt="s").collect())
    assert a == c  # partitioning-independent
    # rate=1 keeps everything, rate=0 keeps nothing
    assert sampling.hash_sample(full, 1.0).count() == full.count()
    assert sampling.hash_sample(full, 0.0).count() == 0
    # stratified: per-stratum thresholds honored
    strat = docs.withColumn("lang", F.when(F.col("doc_id") < 3, "en").otherwise("fr"))
    out = sampling.stratified_hash_sample(
        strat, "lang", rates={"en": 1.0}, default_rate=0.0
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 1, 2]
    assert "sample_bucket" in out.columns


def test_pack_budget(spark):
    rows = [(i, 0, 60) for i in range(10)]  # 10 chunks x 60 tokens
    df = spark.createDataFrame(rows, ["doc_id", "chunk_idx", "chunk_n_tokens"])
    out = text.pack_budget(df, capacity=100, order_cols=("doc_id", "chunk_idx")).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in out}
    # running totals 60,120,... → pack = floor((total-60)/100): 0,0,1,1,2,3,3,4,4,5
    assert [packs[i] for i in range(10)] == [0, 0, 1, 1, 2, 3, 3, 4, 4, 5]
    # pack ids are non-decreasing in order and every row is assigned
    assert len(out) == 10


def test_fuzzy_join_blocking_is_complete(spark):
    """Length-band blocking must find every pair the brute-force cross join
    finds (the necessary-condition guarantee), across band boundaries."""
    from pdtable_spark.operators import fuzzy

    words = ["cat", "cart", "carts", "dog", "dig", "dug", "elephant", "elephants", ""]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], ["id", "w"])
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy.fuzzy_self_pairs(df, "w", "id", max_dist=2).collect()
    }
    import itertools

    def lev(a, b):
        d = [[max(i, j) if 0 in (i, j) else 0 for j in range(len(b) + 1)] for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                d[i][j] = min(d[i-1][j] + 1, d[i][j-1] + 1, d[i-1][j-1] + (a[i-1] != b[j-1]))
        return d[len(a)][len(b)]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(words), 2)
        if lev(a, b) <= 2
    }
    assert got == want


def test_interpolate_at(spark):
    from datetime import datetime

    from pdtable_spark.operators.interpolate import interpolate_at

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    pts = spark.createDataFrame(
        [(1, t(10), 10.0), (1, t(20), 30.0), (2, t(5), 1.0)],
        ["user_id", "ts", "value"],
    )
    qs = spark.createDataFrame(
        [(100, 1, t(15)), (101, 1, t(10)), (102, 1, t(25)), (103, 1, t(3)),
         (104, 2, t(5)), (105, 3, t(9))],
        ["event_id", "user_id", "ts"],
    )
    out = {r["event_id"]: r["interp_value"] for r in interpolate_at(pts, qs).collect()}
    assert out[100] == 20.0      # midpoint of 10..30
    assert out[101] == 10.0      # exact hit -> frac 0
    assert out[102] == 30.0      # after last point -> flat-forward
    assert out[103] == 10.0      # before first point -> flat-backward
    assert out[104] == 1.0       # exact single-point hit
    assert out[105] is None      # unknown key -> null


def test_weighted_hash_sample(spark):
    from pdtable_spark.operators import sampling

    df = spark.createDataFrame([(i, i % 2) for i in range(2000)], ["doc_id", "grp"])
    # weight 1 keeps all, weight 0 keeps none
    assert sampling.weighted_hash_sample(df, F.lit(1.0)).count() == 2000
    assert sampling.weighted_hash_sample(df, F.lit(0.0)).count() == 0
    # weight 0.3 keeps ~30%, deterministically
    a = sorted(r["doc_id"] for r in sampling.weighted_hash_sample(df, F.lit(0.3)).collect())
    b = sorted(r["doc_id"] for r in sampling.weighted_hash_sample(df, F.lit(0.3)).collect())
    assert a == b and 0.25 < len(a) / 2000 < 0.35
    # per-row weights: grp 1 at weight 1.0, grp 0 at 0.0
    out = sampling.weighted_hash_sample(df, F.col("grp").cast("double"))
    assert out.count() == 1000 and out.filter(F.col("grp") == 0).count() == 0


def test_connected_components_raises_on_non_convergence(spark):
    """A chain longer than the round budget must raise, not silently ship
    partial cluster labels into keep-one-per-cluster."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame([(i,) for i in range(13)], ["id"])
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(edges, verts, max_iterations=2)


def test_corpus_shuffle_deterministic_total_order(spark, docs):
    from pdtable_spark.operators import sampling

    a = [r["doc_id"] for r in sampling.corpus_shuffle(docs, num_partitions=3).collect()]
    b = [r["doc_id"] for r in sampling.corpus_shuffle(docs, num_partitions=5).collect()]
    # identical permutation at any parallelism (content-stable)
    assert a == b
    assert sorted(a) == sorted(r["doc_id"] for r in docs.collect())
    # a different salt gives a different permutation (independence)
    c = [r["doc_id"] for r in sampling.corpus_shuffle(docs, salt="other").collect()]
    assert c != a and sorted(c) == sorted(a)
    # rows are globally ordered by the shuffle key across partitions
    keys = [r["shuffle_key"] for r in sampling.corpus_shuffle(docs, num_partitions=3).collect()]
    assert keys == sorted(keys)


def test_length_bucket_boundaries(spark):
    from pdtable_spark.operators import text as t

    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (7,), (8,), (100,)], "n long"
    ).select(t.length_bucket(F.col("n")).alias("b"), "n")
    got = {r["n"]: r["b"] for r in df.collect()}
    # floor(log2(n+1)): doubling bucket widths, exact at power boundaries
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 7: 3, 8: 3, 100: 6}


def test_incremental_dedup_against_persisted_index(spark, docs, tmp_path):
    """Continuous-ingestion shape: index the corpus once, persist it, then
    dedup a new batch against the reloaded index — survivors are exactly
    the new docs colliding in no LSH band."""
    corpus = docs.filter(F.col("doc_id").isin(0, 3))   # fox sentence + spark doc
    new = docs.filter(F.col("doc_id").isin(1, 2, 4))   # exact dup, near dup, french

    idx_path = str(tmp_path / "lsh_index")
    dedup.band_buckets(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    survivors = {
        r["doc_id"] for r in dedup.incremental_dedup(new, index).collect()
    }
    # doc 1 (exact dup of corpus doc 0) always collides; doc 4 (unrelated
    # french) never does; doc 2 (near dup) may or may not band-collide
    assert 1 not in survivors
    assert 4 in survivors
    assert survivors <= {2, 4}
    # appending survivors + their index rows keeps the loop closed
    new_index_rows = dedup.band_buckets(new.join(
        spark.createDataFrame([(i,) for i in survivors], ["doc_id"]), "doc_id"
    ))
    assert set(new_index_rows.columns) == {"doc_id", "band", "bucket"}


def test_keep_best_per_cluster(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (7, 5.0)], ["doc_id", "quality"]
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], ["id", "component"]
    )
    kept = {
        (r["doc_id"], r["component"])
        for r in dedup.keep_best_per_cluster(df, clusters, "quality").collect()
    }
    # cluster 1: max quality ties (2, 3) -> smallest id wins; singleton kept
    assert kept == {(2, 1), (7, 7)}


def test_ann_index_persists_and_answers_queries(spark, tmp_path):
    """Index/query split: a persisted ann_index answers ann_query with
    exactly the one-shot rhp_lsh_topk result (same hyperplane family)."""
    from pdtable_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    p = str(tmp_path / "ann_idx")
    sim.ann_index(emb, dim=16).write.partitionBy("tbl", "bkt").parquet(p)
    idx = spark.read.parquet(p)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.ann_query(idx, queries, k=5, dim=16).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.rhp_lsh_topk(emb, queries, k=5, dim=16).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_index_persists_and_answers_queries(spark, tmp_path):
    """IVF index/query split round-trips: persisted (cell-partitioned)
    index + stored centroids reproduce the one-shot ivf_topk exactly."""
    import json

    from pdtable_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    cents = sim.ivf_train_centroids(emb, n_cells=4, seed=7)
    p = str(tmp_path / "ivf_idx")
    sim.ivf_index(emb, cents).write.partitionBy("cell").parquet(p)
    (tmp_path / "centroids.json").write_text(json.dumps(cents))

    reloaded = json.loads((tmp_path / "centroids.json").read_text())
    idx = spark.read.parquet(p)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.ivf_query(idx, queries, reloaded, k=5, nprobe=2).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.ivf_topk(emb, queries, k=5, nprobe=2, centroids=cents).collect()
    }
    assert got == want and len(got) > 0


def test_source_overlap_matrix(spark):
    """Known-overlap corpus: sources a and b share every shingle, c shares
    none → exactly one matrix row (a, b) with jaccard 1.0."""
    from pdtable_spark.operators import dedup

    shared = "w1 w2 w3 w4 w5 w6"
    rows = [
        (1, "a", shared),
        (2, "b", shared),
        (3, "c", "x1 x2 x3 x4 x5 x6 x7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = dedup.source_overlap(df, shingle_n=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source_a, r.source_b) == ("a", "b")
    assert r.n_common == 2 and r.n_a == 2 and r.n_b == 2
    assert r.jaccard == 1.0


def test_apply_mixture_binding_source_kept_full(spark):
    """The binding source (smallest n/share) survives in full; other
    sources downsample toward share*T/n; sources outside targets drop."""
    from pdtable_spark.operators import sampling

    rows = [(i, "a" if i < 40 else ("b" if i < 240 else "c"), "t") for i in range(340)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # n_a=40 share .5 -> T=80 binds on a; keep_b = .5*80=40 of 200; c dropped
    out = sampling.apply_mixture(df, {"a": 0.5, "b": 0.5})
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.get("a") == 40
    assert "c" not in got
    assert 25 <= got.get("b", 0) <= 55  # ~40 within hash-binomial jitter
    # deterministic: identical row set on re-run
    again = sampling.apply_mixture(df, {"a": 0.5, "b": 0.5})
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())


def test_leakage_safe_split_clusters_agree(spark):
    """Every member of a component lands on the same split side; docs
    absent from the clusters frame fall back to singleton components."""
    from pdtable_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "s") for i in range(60)], "doc_id long, source string"
    )
    # components: {0..9}->0, {10..19}->10, rest absent (singletons)
    clusters = spark.createDataFrame(
        [(i, 0 if i < 10 else 10) for i in range(20)], "id long, component long"
    )
    out = sampling.leakage_safe_split(df, clusters, train_pct=50).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(v) == 1 for v in by_comp.values())
    assert len(out) == 60
    sides = {r.split for r in out}
    assert sides == {"train", "val"}


def test_classifier_score_dict_and_frame_paths_agree(spark):
    """Map-literal fold and broadcast-join paths produce identical scores
    for binary-fraction weights (exact sums on both paths); unmatched docs
    score exactly the bias."""
    w = {"good": 3 / 64, "bad": -5 / 64}
    df = spark.createDataFrame(
        [
            (1, "good good bad"),
            (2, "GOOD neutral"),
            (3, "nothing matches here"),
        ],
        "doc_id long, text string",
    )
    d1 = {r.doc_id: (r.clf_score, r.clf_prob) for r in
          text.classifier_score(df, w, bias=-1 / 64).collect()}
    wdf = spark.createDataFrame(list(w.items()), "term string, weight double")
    d2 = {r.doc_id: (r.clf_score, r.clf_prob) for r in
          text.classifier_score(df, wdf, bias=-1 / 64).collect()}
    assert d1 == d2
    assert d1[1][0] == 3 / 64 + 3 / 64 - 5 / 64 - 1 / 64
    assert d1[2][0] == 3 / 64 - 1 / 64  # lowercased match
    assert d1[3][0] == -1 / 64  # bias only
    assert all(0.0 < p < 1.0 for _, p in d1.values())


def test_semantic_dedup_drops_higher_id_within_cell(spark):
    """Two near-identical vectors in one cell: the higher id drops; a
    far vector in another cell survives."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid/cell 0
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid/cell 1
        (10, [0.9, 0.1, 0.0, 0.0]),  # cell 0, ~ id 0
        (11, [0.95, 0.05, 0.0, 0.0]),  # cell 0, near-dup of 0/10 -> drops
        (20, [0.0, 0.6, 0.8, 0.0]),  # cell 1, survives (cos vs id 1 = 0.6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = {r.vec_id: r.cell for r in
           similarity.semantic_dedup(df, cents, threshold=0.95).collect()}
    assert 0 in out and 1 in out
    assert 20 in out and out[20] == 1
    # 10 vs 0 cosine ~0.994 >= .95 -> 10 drops; 11 likewise
    assert 10 not in out and 11 not in out


def test_train_quality_classifier_learns_separable_tokens(spark):
    """Distributed logreg over a separable corpus: 'spam' weight negative,
    'useful' positive, and end-to-end scoring via classifier_score
    separates the classes."""
    rows = []
    for i in range(40):
        rows.append((i, "useful prose with real content", 1))
        rows.append((100 + i, "spam spam click here", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    weights, bias = text.train_quality_classifier(df, "label", max_iter=20)
    w = {r.term: r.weight for r in weights.collect()}
    assert w["spam"] < 0 < w["useful"]
    scored = text.classifier_score(df, weights, bias=bias)
    probs = {r.doc_id: r.clf_prob for r in scored.collect()}
    assert all(probs[i] > 0.5 for i in range(40))
    assert all(probs[100 + i] < 0.5 for i in range(40))


def test_binary_dedup_groups_identical_payloads(spark):
    from pdtable_spark.operators import multimodal

    rows = [
        (1, bytearray(b"\x00\x01payload-a")),
        (2, bytearray(b"\x00\x01payload-a")),  # byte-identical to 1
        (3, bytearray(b"\x00\x01payload-b")),
        (7, bytearray(b"\x00\x01payload-a")),  # third copy
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = multimodal.binary_dedup(df).collect()
    assert len(out) == 1
    assert out[0].n_copies == 3 and out[0].keep_id == 1


def test_ivf_query_where_filters_candidates(spark):
    """Filtered IVF: candidates failing the metadata predicate never rank."""
    rows = [
        (0, [1.0, 0.0], "keep"),
        (1, [0.9, 0.1], "drop"),
        (2, [0.8, 0.2], "keep"),
        (3, [0.0, 1.0], "keep"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, tag string")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    idx = similarity.ivf_index(df, cents)
    idx = idx.join(df.select("vec_id", "tag"), "vec_id")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_query(
        idx, q, cents, k=10, nprobe=2, where=F.col("tag") == "keep"
    ).collect()
    ids = {r.vec_id for r in out}
    assert 1 not in ids and {0, 2, 3} <= ids


def test_classifier_score_empty_weights_scores_bias(spark):
    df = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
    r = text.classifier_score(df, {}, bias=0.25).collect()[0]
    assert r.clf_score == 0.25


def test_semantic_dedup_single_vector_survives(spark):
    df = spark.createDataFrame([(5, [0.5, 0.5])], "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.9).collect()
    assert len(out) == 1 and out[0].vec_id == 5


def test_incremental_dedup_empty_new_batch(spark, docs):
    """An empty ingest batch drops nothing and returns an empty frame with
    the new-batch schema (the between-arrivals steady state)."""
    corpus = docs
    idx = dedup.band_buckets(corpus)
    new = docs.filter(F.col("doc_id") < 0)
    out = dedup.incremental_dedup(new, idx)
    assert out.count() == 0
    assert "doc_id" in out.columns


def test_curation_pipeline_composes(spark):
    """The demo curation recipe runs end-to-end on the testdata and emits
    packed, split rows with every upstream filter honored."""
    from pdtable_spark.demo import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curate(
        docs,
        clf_weights={"the": 1 / 64},
        bench_pred=F.col("source") == "src0",
        train_pct=80,
    ).cache()
    rows = out.collect()
    assert rows
    assert {r.split for r in rows} <= {"train", "val"}
    assert all(r.pack_id >= 0 for r in rows)
    # decontamination removed the benchmark source entirely
    assert not [r for r in rows if r.source == "src0"]
    out.unpersist()


def test_incremental_embedding_dedup_drops_only_verified(spark, tmp_path):
    """Bucket collisions alone must not drop; only cosine-verified
    near-dups do — and the partition-pruned serving path over a persisted
    index returns identical survivors."""
    import math

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [
            (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0 -> dropped
            (3, [0.0, 0.0, 1.0, 0.0]),     # unrelated -> survives
        ],
        "vec_id long, embedding array<double>",
    )
    kw = dict(dim=4, bits_per_table=4, num_tables=2, seed=9)
    idx = similarity.ann_index(corpus, **kw)
    out = {r.vec_id for r in
           similarity.incremental_embedding_dedup(new, idx, threshold=0.95, **kw).collect()}
    assert out == {3}
    path = str(tmp_path / "inc_idx")
    idx.write.partitionBy("tbl", "bkt").parquet(path)
    loaded = spark.read.parquet(path)
    pruned = {r.vec_id for r in
              similarity.incremental_embedding_dedup(
                  new, loaded, threshold=0.95, prune_partitions=True, **kw).collect()}
    assert pruned == out


# ---------------------------------------------------------------------------
# Round-5 additions: normalized dedup, span dedup, temperature mix, PQ ANN
# ---------------------------------------------------------------------------


def test_normalized_dedup_collapses_soft_duplicates(spark):
    rows = [
        (0, "Hello, World!"),
        (1, "hello   world"),  # same after normalization
        (2, "HELLO WORLD."),   # same after normalization
        (3, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["keep_id"]: r["n_dups"] for r in dedup.normalized_dedup(df).collect()}
    assert out == {0: 3, 3: 1}


def test_span_dedup_removes_repeated_spans(spark):
    # span_words=2 → doc 0 spans: "a b", "c d"; doc 1 repeats "a b" then
    # adds fresh text; doc 2 is entirely spans seen before.
    rows = [
        (0, "a b c d"),
        (1, "a b x y"),
        (2, "c d a b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["removed_spans"])
        for r in dedup.span_dedup(df, span_words=2).collect()
    }
    assert out[0] == ("a b c d", 2, 0)
    assert out[1] == ("x y", 2, 1)
    assert out[2] == ("", 2, 2)


def test_span_dedup_keeps_globally_first_occurrence(spark):
    # the same span in two docs → kept only in the smaller (doc_id, span_no)
    rows = [(7, "dup span words here"), (3, "other text dup span")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in dedup.span_dedup(df, span_words=2).collect()}
    assert out[3] == "other text dup span"
    assert out[7] == "words here"


def test_mixture_temperature_weights_sum_to_one(spark):
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    rows = [(i, "s%d" % (i % 3)) for i in range(60)] + [(100, "rare")]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_temperature_weights(df, alpha=0.5).collect()
    assert abs(sum(r["mix_share"] for r in out) - 1.0) < 1e-9
    by_src = {r["source"]: r for r in out}
    # alpha<1 upsamples the rare source relative to its raw share
    assert by_src["rare"]["mix_share"] > by_src["rare"]["share"]
    assert by_src["s0"]["mix_share"] < by_src["s0"]["share"]


def test_pq_encode_shape_and_determinism(spark):
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.pq_codebooks(emb, n_codes=4, num_subspaces=4)
    assert len(books) == 4 and len(books[0]) == 4 and len(books[0][0]) == 4
    idx = similarity.pq_encode(emb, books)
    got = {r["vec_id"]: r["codes"] for r in idx.collect()}
    assert len(got) == 40 and all(len(c) == 4 for c in got.values())
    assert all(0 <= code < 4 for c in got.values() for code in c)
    # a codebook member encodes to itself in every subspace
    assert got[2] == [2, 2, 2, 2]
    # deterministic across re-runs
    again = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(emb, books).collect()}
    assert got == again


def test_pq_topk_approximates_exact_neighbors(spark):
    import random

    rnd = random.Random(5)
    # clustered data so PQ cells are meaningful: 3 centers in 16-dim
    centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(3)]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [x + rnd.uniform(-0.05, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.pq_topk(emb, queries, k=5, n_codes=8, num_subspaces=4)
    rows_out = out.collect()
    assert len(rows_out) == 10  # 2 queries × k
    by_q = {}
    for r in rows_out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, 6))
        # ADC distance of the top hit is near zero (query is in the corpus)
        top = min(rs, key=lambda r: r["rank"])
        assert top["approx_dist2"] < 0.2
        # neighbors come from the query's own cluster (same residue mod 3)
        same = sum(1 for r in rs if r["vec_id"] % 3 == qid % 3)
        assert same >= 4


def test_skew_report_ranks_hot_keys(spark):
    from pdtable_spark.operators.skew import skew_report

    rows = [(i, "hot") for i in range(80)] + [(100 + i, "k%d" % i) for i in range(20)]
    df = spark.createDataFrame(rows, ["row_id", "k"])
    out = skew_report(df, "k", n=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    top = out[0]
    assert top["k"] == "hot" and top["n_rows"] == 80
    assert abs(top["share"] - 0.8) < 1e-12
    # 100 rows over 21 keys → mean ≈ 4.76; hot key factor = 80/mean
    assert abs(top["skew_factor"] - 80 / (100 / 21)) < 1e-9


def test_ngram_novelty_scores_fresh_vs_restated(spark):
    rows = [
        (0, "a b c d e"),        # all 3 trigrams novel (first doc)
        (1, "a b c d e"),        # exact restatement → novelty 0
        (2, "a b c x y z"),      # 4 trigrams, only "a b c" seen before
        (3, "q r"),              # too short → excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.ngram_novelty(df, n=3).collect()}
    assert 3 not in out
    assert out[0]["n_ngrams"] == 3 and out[0]["novelty"] == 1.0
    assert out[1]["n_novel"] == 0 and out[1]["novelty"] == 0.0
    assert out[2]["n_ngrams"] == 4 and out[2]["n_novel"] == 3


def test_pq_refined_recovers_exact_neighbors(spark):
    import random

    rnd = random.Random(9)
    centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(4)]
    rows = [
        (i, [x + rnd.uniform(-0.08, 0.08) for x in centers[i % 4]])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.pq_codebooks(emb, n_codes=8, num_subspaces=4)
    idx = similarity.pq_encode(emb, books)
    refined = similarity.pq_query_refined(idx, queries, books, emb, k=5, refine_factor=6)
    exact = similarity.cosine_topk(emb, queries, k=5)
    r = {(x["query_id"], x["rank"]): x["vec_id"] for x in refined.collect()}
    e = {(x["query_id"], x["rank"]): x["vec_id"] for x in exact.collect()}
    # exact re-rank over a generous candidate pool recovers most of the
    # true top-5 (ADC coarse recall can drop a near-boundary neighbor)
    agree = sum(1 for key in e if r.get(key) == e[key])
    assert agree >= 12  # ≥80% of 15 (3 queries × 5)
    # and every refined hit carries the TRUE cosine (spot check one)
    qid, vid = 0, r[(0, 1)]
    assert r[(0, 1)] == e[(0, 1)]


def test_gopher_quality_flags(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog ran off to the hills"),  # passes
        (1, "x y z"),                                    # too short, no stopwords
        (2, "1 2 3 4 5 6 7 8 9 10 11 12"),               # numeric: alpha ratio 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in text.gopher_quality_flags(df, min_words=5, min_stopwords=2).collect()
    }
    assert out[0]["pass_all"] == 1
    assert out[1]["pass_word_count"] == 0 and out[1]["pass_all"] == 0
    assert out[2]["pass_alpha_ratio"] == 0 and out[2]["pass_stopwords"] == 0
    assert out[0]["n_stopwords"] >= 4


def test_gopher_line_and_symbol_rules(spark):
    """The round-6 rule completions (arXiv:2112.11446 §A1.1): symbol-to-word
    ratio, bullet/ellipsis line fractions, duplicate-line fraction."""
    good = "the cat and the dog walked off to a very large hill for fun"
    rows = [
        (0, good),                                         # clean: all pass
        (1, "the # cat # and # the # dog # sat # on # a # mat for tea"),  # hash-heavy
        (2, "- the cat\n- the dog\n- a big hill\n- the end of it all"),   # all bullets
        (3, "the cat sat...\nthe dog ran...\nthe end came for all..."),   # ellipsis lines
        (4, "the cat sat on a mat\nthe cat sat on a mat\nthe cat sat on a mat\nthe dog is here"),  # dup lines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in text.gopher_quality_flags(df, min_words=3, min_stopwords=1).collect()
    }
    assert out[0]["pass_all"] == 1
    assert out[0]["symbol_word_ratio"] == 0.0 and out[0]["dup_line_frac"] == 0.0
    # 8 hashes over 20 words = 0.4 > 0.1
    assert out[1]["symbol_word_ratio"] > 0.1
    assert out[1]["pass_symbol_ratio"] == 0 and out[1]["pass_all"] == 0
    # 4/4 bullet lines > 0.9
    assert out[2]["bullet_line_frac"] == 1.0
    assert out[2]["pass_bullet_lines"] == 0 and out[2]["pass_all"] == 0
    # 3/3 ellipsis-terminated lines > 0.3; '...' also trips the symbol rule
    assert out[3]["ellipsis_line_frac"] == 1.0
    assert out[3]["pass_ellipsis_lines"] == 0
    # 2 of 4 normalized lines are repeats → 0.5 > 0.3
    assert out[4]["dup_line_frac"] == 0.5
    assert out[4]["pass_dup_lines"] == 0 and out[4]["pass_all"] == 0
    # unicode ellipsis counts toward the symbol ratio
    one = spark.createDataFrame([(0, "a cat … ate … the … fish now")], ["doc_id", "text"])
    g = text.gopher_quality_flags(one, min_words=1).collect()[0]
    assert g["symbol_word_ratio"] == 3.0 / 9.0


def test_corpus_drift_report_and_tvd(spark):
    """Drift accounting: NULL categories merge into one row (null-safe
    join), vanished/new values get zero counts, identical snapshots give
    tvd 0 and disjoint ones tvd 1."""
    from pdtable_spark.operators.monitor import corpus_drift_report, corpus_drift_tvd

    old = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, None)], "doc_id long, src string"
    )
    new = spark.createDataFrame(
        [(4, "a"), (5, "c"), (6, None), (7, None)], "doc_id long, src string"
    )
    rep = {r["value"]: r for r in corpus_drift_report(old, new, ["src"]).collect()}
    assert set(rep) == {"a", "b", "c", None}
    assert rep[None]["n_old"] == 1 and rep[None]["n_new"] == 2  # merged, not split
    assert rep["b"]["n_new"] == 0 and rep["c"]["n_old"] == 0
    assert rep["a"]["share_old"] == 0.5 and rep["a"]["share_new"] == 0.25
    assert rep["a"]["delta"] == -0.25 and rep["a"]["abs_delta"] == 0.25
    # tvd: |a|=.25, |b|=.25, |c|=.25, |null|=.25 → half-sum = 0.5
    tvd = corpus_drift_tvd(old, new, ["src"]).collect()[0]
    assert tvd["dim"] == "src" and tvd["n_values"] == 4 and tvd["tvd"] == 0.5
    same = corpus_drift_tvd(old, old, ["src"]).collect()[0]
    assert same["tvd"] == 0.0
    disjoint = corpus_drift_tvd(
        old.filter(F.col("src") == "a"), new.filter(F.col("src") == "c"), ["src"]
    ).collect()[0]
    assert disjoint["tvd"] == 1.0
    # quantized spelling agrees here (shares are exact quarters)
    tvd_q = corpus_drift_tvd(old, new, ["src"], quantize=1e9).collect()[0]
    assert tvd_q["tvd"] == 0.5


def test_blocklist_filter(spark):
    rows = [
        (0, "the Quick brown fox"),        # 'quick' hit, case-insensitive
        (1, "clean text with no issues"),
        (2, "quick quick spam spam spam"),  # repeats count ONCE per term
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in text.blocklist_filter(df, ["spam", "quick"]).collect()
    }
    assert out[0]["n_blocked_terms"] == 1 and out[0]["blocked_sample"] == "quick"
    assert out[0]["pass_blocklist"] == 0
    assert out[1]["n_blocked_terms"] == 0 and out[1]["blocked_sample"] is None
    assert out[1]["pass_blocklist"] == 1
    # distinct terms, lexicographically-first audit sample
    assert out[2]["n_blocked_terms"] == 2 and out[2]["blocked_sample"] == "quick"
    # case-variant duplicates collapse to ONE term; sort is over the
    # lowercased forms (so 'Zebra' cannot jump ahead of 'apple')
    dup = {
        r["doc_id"]: r
        for r in text.blocklist_filter(df, ["Quick", "quick"], max_hits=1).collect()
    }
    assert dup[0]["n_blocked_terms"] == 1 and dup[0]["pass_blocklist"] == 1
    zs = spark.createDataFrame([(0, "the zebra ate an apple")], ["doc_id", "text"])
    z = text.blocklist_filter(zs, ["Zebra", "apple"]).collect()[0]
    assert z["n_blocked_terms"] == 2 and z["blocked_sample"] == "apple"


def test_c4_quality_rules(spark):
    """C4 line cleaning against hand-built pages: line keep rule (terminal
    punctuation AND ≥5 words), sentence minimum, brace and lorem flags."""
    rows = [
        (0, "the cat sat on the mat.\nthe dog ran to the hill!\nwhere is my red hat?\nshort line."),
        (1, "no punctuation here at all\nanother bare line of words"),
        (2, "a page full of code { int x = 1; }\nthe cat sat on the mat.\nthe dog ran very far away.\nthe end came at last today."),
        (3, "lorem ipsum dolor sit amet etc.\nthe cat sat on the mat.\nthe dog ran very far away.\nthe end came at last today."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.c4_quality(df).collect()}
    # doc 0: 3 qualifying lines; "short line." has <5 words → dropped
    assert out[0]["n_lines"] == 4 and out[0]["n_kept_lines"] == 3
    assert out[0]["n_sentences"] == 3 and out[0]["pass_c4"] == 1
    assert "short line." not in out[0]["clean_text"]
    # doc 1: nothing kept → empty clean text, fails the sentence minimum
    assert out[1]["n_kept_lines"] == 0 and out[1]["clean_text"] == ""
    assert out[1]["pass_c4"] == 0
    # doc 2: enough sentences but a brace kills it
    assert out[2]["has_brace"] == 1 and out[2]["pass_c4"] == 0
    # doc 3: lorem ipsum kills it even with enough sentences
    assert out[3]["has_lorem"] == 1 and out[3]["pass_c4"] == 0


def test_curate_recipe_operator(spark):
    """The one-call recipe: C4 cleaning gates pages, Gopher judges the
    CLEANED text, the blocklist screens survivors; passthrough columns
    ride along without re-joins."""
    good = "the cat sat on the mat.\nthe dog ran to the hill.\nwhere is my red hat today?"
    rows = [
        (0, "web", good),                                   # survives
        (1, "web", "no terminal punctuation lines here\nanother bare line"),  # C4 kills
        (2, "web", good.replace("dog", "zebra")),           # blocklist kills
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = text.curate_recipe(
        df, passthrough=["source"], min_words=5, min_stopwords=1, blocklist=["zebra"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 0 and r["source"] == "web" and r["n_kept_lines"] == 3
    assert "red hat" in r["clean_text"]
    # no blocklist → doc 2 survives too
    ids = {
        r["doc_id"]
        for r in text.curate_recipe(
            df, passthrough=["source"], min_words=5, min_stopwords=1
        ).collect()
    }
    assert ids == {0, 2}


def test_repetition_signals_hand_computed(spark):
    """Gopher word-level repetition rules against hand-computed values,
    including the overlap-aware duplicate-gram coverage."""
    rows = [
        (0, "a b c d e f g h"),            # no repeats at all
        (1, "x y x y x y"),                # dominant 2-gram, no dup 5-gram
        (2, "p q r s t p q r s t"),        # exact duplicated 5-gram block
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    # doc 0: top 2-gram "a b" ×1 → 2 chars of 8; nothing duplicated
    assert out[0]["top_ngram"] == "a b" and out[0]["top_ngram_count"] == 1
    assert out[0]["top_ngram_char_frac"] == 0.25
    assert out[0]["dup_ngram_char_frac"] == 0.0
    assert out[0]["pass_dup_ngram"] == 1 and out[0]["pass_top_ngram"] == 0
    # doc 1: "x y" ×3 → 6 chars of 6; every 5-gram is unique
    assert out[1]["top_ngram"] == "x y" and out[1]["top_ngram_count"] == 3
    assert out[1]["top_ngram_char_frac"] == 1.0
    assert out[1]["dup_ngram_char_frac"] == 0.0
    # doc 2: "p q r s t" occurs at positions 1 and 6 → all 10 words covered
    assert out[2]["dup_ngram_char_frac"] == 1.0
    assert out[2]["pass_dup_ngram"] == 0

    # overlap-awareness at dup_n=2: "a a a" holds two overlapping "a a"
    # grams; their union covers 3 positions, never 4
    one = spark.createDataFrame(
        [(0, "a a a b c d e f g h i j")], ["doc_id", "text"]
    )
    g = text.repetition_signals(one, dup_n=2).collect()[0]
    assert g["n_word_chars"] == 12
    assert g["dup_ngram_char_frac"] == 3.0 / 12.0


def test_minhash_estimate_report_exact_on_identical_docs(spark, docs):
    out = dedup.minhash_estimate_report(docs, num_hashes=16, bands=4).collect()
    by_pair = {(r["id_a"], r["id_b"]): r for r in out}
    # docs 0 and 1 are byte-identical → estimate and truth both 1.0
    assert (0, 1) in by_pair
    r = by_pair[(0, 1)]
    assert r["est_jaccard"] == 1.0 and r["true_jaccard"] == 1.0 and r["abs_err"] == 0.0
    # every estimate is a multiple of 1/16 in [0, 1] and error is bounded
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert abs(r["est_jaccard"] * 16 - round(r["est_jaccard"] * 16)) < 1e-12
        assert 0.0 <= r["abs_err"] <= 1.0


def test_pq_index_incremental_append(spark, tmp_path):
    """The PQ index append contract: a new ingest batch encoded with the
    SAME codebooks appends to a persisted index, and queries over the
    reloaded union rank exactly as a fresh full encode — no rebuild."""
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    old = emb.filter(F.col("vec_id") < 40)
    new = emb.filter(F.col("vec_id") >= 40)
    books = similarity.pq_codebooks(old, n_codes=8, num_subspaces=4)

    path = str(tmp_path / "pq_index")
    similarity.pq_encode(old, books).write.parquet(path)
    similarity.pq_encode(new, books).write.mode("append").parquet(path)

    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = similarity.pq_query(spark.read.parquet(path), q, books, k=8)
    fresh = similarity.pq_query(similarity.pq_encode(emb, books), q, books, k=8)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, fresh.collect()))


def test_cdc_chunks_resync_under_offset(spark):
    """Content-defined boundaries re-synchronize after an insertion: a long
    repeated block embedded at DIFFERENT offsets in two documents yields
    shared interior chunk digests (fixed-width spans would share none)."""
    boiler = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
        "one two three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (0, "intro words " + boiler + " closing remarks"),
        (1, "a very different and much longer lead-in sentence here " + boiler + " other tail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.cdc_chunks(df).collect()
    h = {0: set(), 1: set()}
    for r in out:
        h[r["doc_id"]].add(r["chunk_md5"])
    shared = h[0] & h[1]
    assert len(shared) >= 2  # interior chunks of the repeated block line up
    # chunk accounting: words partition exactly into chunks
    n = {i: sum(r["n_words"] for r in out if r["doc_id"] == i) for i in (0, 1)}
    assert n[0] == len(rows[0][1].split()) and n[1] == len(rows[1][1].split())
    # chunk_nos are contiguous from 0 per doc
    for i in (0, 1):
        nos = sorted(r["chunk_no"] for r in out if r["doc_id"] == i)
        assert nos == list(range(len(nos)))


def test_mixture_temperature_empty_corpus(spark):
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    df = spark.createDataFrame([], "doc_id long, source string")
    out = mixture_temperature_weights(df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "source", "n_docs", "share", "temp_weight", "mix_share"
    ]


def test_mixture_temperature_nonstring_source(spark):
    """Integer domain ids (any non-string source column) keep their own
    type in the returned weights frame instead of crashing createDataFrame."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "doc_id long, source int"
    )
    out = mixture_temperature_weights(df)
    assert out.schema["source"].dataType.simpleString() == "int"
    rows = out.collect()
    assert sorted(r["source"] for r in rows) == [0, 1, 2]
    assert abs(sum(r["mix_share"] for r in rows) - 1.0) < 1e-9


def test_mixture_temperature_token_weighted(spark):
    """weight_col switches the share basis to per-source weight sums: a
    source of few huge documents outweighs a many-small-docs source."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    rows = [(0, "a", 1000), (1, "a", 1000), (2, "b", 10)] + [
        (3 + i, "b", 10) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_toks long")
    out = {r["source"]: r for r in mixture_temperature_weights(df, weight_col="n_toks").collect()}
    assert out["a"]["n_docs"] == 2 and out["a"]["total_weight"] == 2000
    assert out["b"]["n_docs"] == 9 and out["b"]["total_weight"] == 90
    # doc-count mixing would put 'b' first; token mixing puts 'a' first
    assert out["a"]["share"] > out["b"]["share"]
    assert abs(out["a"]["share"] - 2000 / 2090) < 1e-12
    assert abs(sum(r["mix_share"] for r in out.values()) - 1.0) < 1e-9
    # alpha < 1 pulls the mixture toward the small source vs raw shares
    assert out["b"]["mix_share"] > out["b"]["share"]


def test_per_source_percentile_calibration(spark):
    """Percentile calibration is per-source (same raw score → different
    percentile in different domains), deterministic under ties, and a
    top-q filter keeps ~q of EVERY source."""
    from pdtable_spark.operators.sampling import per_source_percentile

    rows = (
        [(i, "a", float(i)) for i in range(10)]
        + [(100 + i, "b", float(i) / 10.0) for i in range(5)]
        + [(200, "c", -3.0)]  # single-document niche source
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r["doc_id"]: r for r in per_source_percentile(df, "score").collect()}
    # source a: scores 0..9 → cume_dist (i+1)/10
    assert out[0]["score_pct"] == 0.1 and out[9]["score_pct"] == 1.0
    assert out[5]["score_pct"] == 0.6
    # source b is calibrated within ITSELF: its top score (0.4, far below
    # a's top) still gets percentile 1.0
    assert out[104]["score_pct"] == 1.0
    # a keep-top-40% cut keeps some of EVERY source — including the
    # single-document one (its only row scores exactly 1.0)
    kept = per_source_percentile(df, "score").filter(F.col("score_pct") > 0.6)
    srcs = {r["source"] for r in kept.collect()}
    assert srcs == {"a", "b", "c"}
    # ties break on id: equal scores get distinct, id-ordered positions
    tied = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0), (3, "a", 1.0)],
        "doc_id long, source string, score double",
    )
    got = [
        r["score_pct"]
        for r in per_source_percentile(tied, "score").orderBy("doc_id").collect()
    ]
    assert got == [1.0 / 3.0, 2.0 / 3.0, 1.0]
    # NULL scores fail loudly instead of silently ranking worst
    with_null = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "doc_id long, source string, score double"
    )
    with pytest.raises(Exception, match="NULL in score column"):
        per_source_percentile(with_null, "score").collect()


def test_per_source_percentile_approx_agrees_with_exact(spark):
    """The crawl-scale aggregate spelling tracks the exact cume_dist within
    bucket granularity, scores every source's best row 1.0 (singletons
    included), and fails loudly on NULL scores."""
    from pdtable_spark.operators.sampling import (
        per_source_percentile,
        per_source_percentile_approx,
    )

    rows = (
        [(i, "a", float(i)) for i in range(50)]
        + [(100 + i, "b", float(i) / 10.0) for i in range(5)]
        + [(200, "c", -3.0)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    exact = {r["doc_id"]: r["score_pct"] for r in per_source_percentile(df, "score").collect()}
    approx = {
        r["doc_id"]: r["score_pct"]
        for r in per_source_percentile_approx(df, "score", buckets=50).collect()
    }
    assert set(approx) == set(exact)
    # agreement within bucket granularity everywhere
    assert all(abs(approx[k] - exact[k]) <= 1.0 / 50 + 1e-9 for k in exact)
    # every source's best row scores exactly 1.0 — singleton included
    assert approx[49] == 1.0 and approx[104] == 1.0 and approx[200] == 1.0
    # the top-q filter keeps every source
    kept = per_source_percentile_approx(df, "score", buckets=50).filter(
        F.col("score_pct") > 0.6
    )
    assert {r["source"] for r in kept.collect()} == {"a", "b", "c"}
    with_null = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "doc_id long, source string, score double"
    )
    with pytest.raises(Exception, match="NULL in score column"):
        per_source_percentile_approx(with_null, "score").collect()
    # NULL source is a legitimate group — calibrated, never silently dropped
    null_src = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "a", 5.0)],
        "doc_id long, source string, score double",
    )
    ns = {
        r["doc_id"]: r["score_pct"]
        for r in per_source_percentile_approx(null_src, "score", buckets=10).collect()
    }
    assert set(ns) == {1, 2, 3} and ns[2] == 1.0 and ns[3] == 1.0
    # tied scores move as a BLOCK: every tie-block row gets the block's top
    # percentile (equivalence-class semantics — unlike the exact spelling's
    # id tie-break, a cut keeps or drops the whole block)
    tied2 = spark.createDataFrame(
        [(i, "a", 3.0) for i in range(6)] + [(10 + i, "a", 5.0) for i in range(4)],
        "doc_id long, source string, score double",
    )
    tp = {
        r["doc_id"]: r["score_pct"]
        for r in per_source_percentile_approx(tied2, "score", buckets=10).collect()
    }
    assert all(tp[i] == 0.6 for i in range(6))
    assert all(tp[10 + i] == 1.0 for i in range(4))


def test_mixture_temperature_zero_weight_sum_raises(spark):
    """A non-empty corpus whose weight column sums to 0 must fail loudly —
    an empty weights frame would make a downstream mixture silently sample
    nothing."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    df = spark.createDataFrame(
        [(0, "a", 0), (1, "b", 0)], "doc_id long, source string, n_toks long"
    )
    with pytest.raises(ValueError, match="sums to 0"):
        mixture_temperature_weights(df, weight_col="n_toks")


def test_mixture_temperature_null_weight_raises(spark):
    """A NULL weight (failed scorer) must fail loudly, not be coalesced to
    0 — the silent path would skew shares with no error."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    df = spark.createDataFrame(
        [(0, "a", None), (1, "b", 10)], "doc_id long, source string, n_toks long"
    )
    with pytest.raises(ValueError, match="NULL or non-integral"):
        mixture_temperature_weights(df, weight_col="n_toks")


def test_mixture_temperature_fractional_weight_raises(spark):
    """A double-typed fractional weight must fail loudly, not be silently
    truncated by cast('long'); integral-valued doubles are fine."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    bad = spark.createDataFrame(
        [(0, "a", 1.5), (1, "b", 10.0)], "doc_id long, source string, w double"
    )
    with pytest.raises(ValueError, match="NULL or non-integral"):
        mixture_temperature_weights(bad, weight_col="w")
    ok = spark.createDataFrame(
        [(0, "a", 2.0), (1, "b", 8.0)], "doc_id long, source string, w double"
    )
    out = {r["source"]: r for r in mixture_temperature_weights(ok, weight_col="w").collect()}
    assert out["a"]["total_weight"] == 2 and out["b"]["total_weight"] == 8


def test_pq_refined_codebooks_improve_recall(spark):
    """Lloyd refinement (per-subspace pyspark.ml KMeans) must beat the
    sampled init when the smallest-id vectors are unrepresentative — here
    ids 0..29 all sit in ONE cluster, so the id-ordered init collapses the
    codebook while KMeans recovers the true cluster structure."""
    import random

    from pdtable_spark.operators import similarity

    rng = random.Random(7)
    dim, nsub, ncodes, k = 16, 4, 8, 30
    centers = [[rng.uniform(-5.0, 5.0) for _ in range(dim)] for _ in range(8)]
    rows = [
        (i, [centers[i // 30][j] + rng.gauss(0.0, 0.05) for j in range(dim)])
        for i in range(240)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 40 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from pyspark.sql import Window

    qd = queries.select("query_id", F.col("embedding").alias("qa"))
    cd = emb.select("vec_id", F.col("embedding").alias("ca"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cd.crossJoin(F.broadcast(qd))
        .select(
            "query_id", "vec_id",
            similarity._dist2(F.col("qa"), F.col("ca")).alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id")
        .collect()
    }

    def recall(books):
        got = {
            (r["query_id"], r["vec_id"])
            for r in similarity.pq_topk(
                emb, queries, k=k, num_subspaces=nsub, codebooks=books
            )
            .select("query_id", "vec_id")
            .collect()
        }
        return len(got & exact) / len(exact)

    init = similarity.pq_codebooks(emb, n_codes=ncodes, num_subspaces=nsub)
    refined = similarity.pq_codebooks(
        emb, n_codes=ncodes, num_subspaces=nsub, refine_iters=10
    )
    r_init, r_refined = recall(init), recall(refined)
    # k = cluster size, so exact top-k IS the query's cluster: refined books
    # give every cluster its own code per subspace (ADC distance ~0 inside,
    # large outside) and essentially solve the geometry; the collapsed init
    # cannot tell clusters apart
    assert r_refined > r_init
    assert r_refined >= 0.95
    assert r_init <= 0.9  # the collapsed init leaves a real gap
    # shape contract holds in both modes
    assert len(refined) == nsub and all(len(b) == ncodes for b in refined)
    assert all(len(c) == dim // nsub for b in refined for c in b)


def test_pq_codebooks_empty_corpus_raises(spark):
    import pytest as _pytest

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="empty"):
        similarity.pq_codebooks(emb)


def test_mixture_temperature_null_source_group(spark):
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    rows = [(1, "a"), (2, "a"), (3, None), (4, "b")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in mixture_temperature_weights(df).collect()}
    assert set(out) == {"a", "b", None}
    assert out[None]["n_docs"] == 1
    assert abs(sum(r["mix_share"] for r in out.values()) - 1.0) < 1e-9


def test_tokenization_whitespace_runs(spark):
    """All word-based operators tokenize on \\s+ (tabs, newlines, runs), the
    convention the DuckDB oracles mirror with regexp_split_to_array —
    'foo\\tbar baz' is 3 words, never 2."""
    df = spark.createDataFrame([(0, "foo\tbar  baz\nqux")], ["doc_id", "text"])
    g = text.gopher_quality_flags(df, min_words=1).collect()[0]
    assert g["n_words"] == 4
    s = dedup.span_dedup(df, span_words=2).collect()[0]
    assert s["n_spans"] == 2 and s["clean_text"] == "foo bar baz qux"
    c = text.cdc_chunks(df).collect()
    assert sum(r["n_words"] for r in c) == 4


def test_semantic_dedup_caller_owns_index_cache(spark):
    """persist_index=True hands the cached assignment index to the caller
    (result.semantic_dedup_index) so repeated calls in one session don't
    accumulate cached partitions with no release handle."""
    rows = [(i, [1.0, 0.0]) for i in range(3)] + [(10, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = similarity.semantic_dedup(df, cents, threshold=0.95)
    idx = out.semantic_dedup_index
    assert idx.storageLevel.useMemory or idx.storageLevel.useDisk
    assert out.count() == 2  # one survivor per duplicate cell + singleton
    idx.unpersist()
    assert not (idx.storageLevel.useMemory or idx.storageLevel.useDisk)
    plain = similarity.semantic_dedup(df, cents, threshold=0.95, persist_index=False)
    assert not hasattr(plain, "semantic_dedup_index")


def test_extract_features_real_wav(spark):
    """The REAL audio path: a synthesized RIFF WAV (stdlib wave — no
    extras) decodes through extract_features via modality dispatch; a
    sine's mean |amplitude| lands where the math says, silence at 0, and
    the default (no modality_col) image contract is untouched."""
    import io
    import math
    import struct
    import wave as wavemod

    def make_wav(amplitude, n=1600, rate=8000):
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(
                b"".join(
                    struct.pack(
                        "<h",
                        int(amplitude * 32767 * math.sin(2 * math.pi * 440 * i / rate)),
                    )
                    for i in range(n)
                )
            )
        return buf.getvalue()

    rows = [
        (1, "audio", make_wav(0.9)),
        (2, "audio", make_wav(0.0)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, modality string, payload binary")
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_features(df, dim=16, modality_col="modality").collect()
    }
    sine, silence = out[1]["feature"], out[2]["feature"]
    assert len(sine) == 16 and out[1]["feat_dim"] == 16
    # mean |sin| = 2/pi, so a 0.9 sine's buckets sit near 0.9*(2/pi)*255 ~ 146
    assert all(120 < v < 175 for v in sine), sine
    assert all(v == 0.0 for v in silence)


def test_extract_features_modality_dispatch(spark):
    """Per-row codec dispatch: audio and image fakes differ for identical
    bytes (modality is a signal), video raises without fake=True, and a
    non-WAV audio payload raises the clear codec error."""
    import pytest as _pytest

    payload = b"same-bytes"
    df = spark.createDataFrame(
        [(1, "image", payload), (2, "audio", payload)],
        "asset_id long, modality string, payload binary",
    )
    out = {
        r["asset_id"]: list(r["feature"])
        for r in multimodal.extract_features(
            df, fake=True, modality_col="modality"
        ).collect()
    }
    assert out[1] != out[2]
    vid = spark.createDataFrame(
        [(3, "video", payload)], "asset_id long, modality string, payload binary"
    )
    with _pytest.raises(Exception, match="video decode"):
        multimodal.extract_features(vid, modality_col="modality").collect()
    bad = spark.createDataFrame(
        [(4, "audio", b"not a wav")], "asset_id long, modality string, payload binary"
    )
    with _pytest.raises(Exception, match="RIFF WAV"):
        multimodal.extract_features(bad, modality_col="modality").collect()


def _make_avi(frames_px, fps=2, compression=0, topdown=False):
    """Synthesize an uncompressed 24-bpp RIFF AVI from (h, w, rgb) nested
    lists — pure stdlib, the video sibling of the WAV fixture above.
    ``topdown=True`` stores rows in natural order with negative biHeight
    (the top-down DIB convention)."""
    import struct

    h, w = len(frames_px[0]), len(frames_px[0][0])
    stride = ((w * 3 + 3) // 4) * 4

    def chunk(fcc, data):
        return fcc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(ltype, payload):
        return chunk(b"LIST", ltype + payload)

    def dib(frame):
        rows = []
        for r in frame if topdown else reversed(frame):  # DIB default: bottom-up
            row = b"".join(bytes([px[2], px[1], px[0]]) for px in r)  # BGR
            rows.append(row + b"\x00" * (stride - len(row)))
        return b"".join(rows)

    avih = struct.pack(
        "<14I", int(1e6 / fps), 0, 0, 0, len(frames_px), 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIII", 0, 0, 0, 0, 1, fps)
        + struct.pack("<IIII", 0, len(frames_px), 0, 0) + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if topdown else h, 1, 24, compression, stride * h, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames_px))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def test_extract_features_and_sample_frames_real_avi(spark):
    """The REAL video path: a synthesized uncompressed RIFF AVI (pure
    stdlib — no extras) decodes through extract_features (first-frame 4x4
    block-mean grid) and sample_frames (raw DIB frame payloads at every_s
    intervals, source frame indices); a compressed AVI raises the 'av'
    extra hint."""
    half = [[(0, 0, 0)] * 8 for _ in range(4)] + [[(255, 255, 255)] * 8 for _ in range(4)]
    gray = [[(100, 100, 100)] * 8 for _ in range(8)]
    avi = _make_avi([half, gray], fps=2)

    df = spark.createDataFrame(
        [(1, "video", avi, 1.0)],
        "asset_id long, modality string, payload binary, duration_s double",
    )
    out = multimodal.extract_features(df, dim=16, modality_col="modality").collect()
    assert len(out) == 1
    # first frame: top half black, bottom half white -> grid rows 0/0/255/255
    assert list(out[0]["feature"]) == [0.0] * 8 + [255.0] * 8

    frames = {
        r["frame_idx"]: bytes(r["frame_payload"])
        for r in multimodal.sample_frames(df, every_s=0.5).collect()
    }
    assert sorted(frames) == [0, 1]  # fps=2, every 0.5s -> both source frames
    # the sampled payload is the raw DIB block: frame 1 is constant 100s
    assert set(frames[1][:24]) == {100}
    one = multimodal.sample_frames(df, every_s=1.0).collect()
    assert [r["frame_idx"] for r in one] == [0]  # step = round(1.0 * 2fps)

    # a sub-4x4 frame upsamples instead of producing NaN blocks
    tiny = spark.createDataFrame(
        [(9, "video", _make_avi([[[(7, 7, 7)] * 2 for _ in range(2)]]), 0.5)],
        "asset_id long, modality string, payload binary, duration_s double",
    )
    tvec = multimodal.extract_features(tiny, dim=16, modality_col="modality").collect()
    assert list(tvec[0]["feature"]) == [7.0] * 16

    comp = spark.createDataFrame(
        [(2, "video", _make_avi([gray], compression=1), 1.0)],
        "asset_id long, modality string, payload binary, duration_s double",
    )
    with pytest.raises(Exception, match="'av' extra"):
        multimodal.extract_features(comp, modality_col="modality").collect()
    # a non-AVI payload still fails with the clear container message
    bad = spark.createDataFrame(
        [(3, "video", b"not a video", 1.0)],
        "asset_id long, modality string, payload binary, duration_s double",
    )
    with pytest.raises(Exception, match="RIFF AVI"):
        multimodal.sample_frames(bad).collect()


def test_extract_features_topdown_avi_not_mirrored(spark):
    """A top-down DIB AVI (negative biHeight, rows stored in natural
    order) must decode to the SAME grid as its bottom-up twin — the
    unconditional row flip vertically mirrored it (ADVICE r8)."""
    half = [[(0, 0, 0)] * 8 for _ in range(4)] + [
        [(255, 255, 255)] * 8 for _ in range(4)
    ]
    rows = {}
    for name, td in (("up", False), ("down", True)):
        df = spark.createDataFrame(
            [(1, "video", _make_avi([half], topdown=td), 1.0)],
            "asset_id long, modality string, payload binary, duration_s double",
        )
        out = multimodal.extract_features(df, dim=16, modality_col="modality")
        rows[name] = list(out.collect()[0]["feature"])
    # top half black, bottom half white — in BOTH storage conventions
    assert rows["up"] == [0.0] * 8 + [255.0] * 8
    assert rows["down"] == rows["up"]


def test_compressed_video_via_av_extra(spark):
    """Extras-gated real path for a COMPRESSED container: with the av
    extra installed, an mpeg4 clip decodes through extract_features
    (first-frame 4x4 block-mean grid, lossy-codec tolerance) and
    sample_frames (fps-stepped SOURCE frame indices, grayscale plane
    payloads).  Skips where av is absent — the stdlib ships no codecs
    (the pillow PNG gate's pattern)."""
    av = pytest.importorskip("av")
    import io as _io

    import numpy as np

    buf = _io.BytesIO()
    with av.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=2)
        stream.width, stream.height, stream.pix_fmt = 64, 64, "yuv420p"
        img = np.zeros((64, 64, 3), dtype=np.uint8)
        img[32:, :, :] = 255  # top half black, bottom half white
        for _ in range(4):
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for pkt in stream.encode(frame):
                container.mux(pkt)
        for pkt in stream.encode():
            container.mux(pkt)
    payload = buf.getvalue()

    df = spark.createDataFrame(
        [(1, "video", payload, 2.0)],
        "asset_id long, modality string, payload binary, duration_s double",
    )
    feat = list(
        multimodal.extract_features(df, dim=16, modality_col="modality")
        .collect()[0]["feature"]
    )
    # mpeg4 is lossy (and yuv420 rounds) — gate the halves, not the bytes
    assert all(v < 64.0 for v in feat[:8]), feat
    assert all(v > 191.0 for v in feat[8:]), feat

    frames = multimodal.sample_frames(df, every_s=1.0).collect()
    idxs = sorted(r["frame_idx"] for r in frames)
    assert idxs == [0, 2]  # fps=2 → step 2 over 4 source frames
    gray = np.frombuffer(bytes(frames[0]["frame_payload"]), dtype=np.uint8)
    assert gray.size == 64 * 64
    assert gray.reshape(64, 64)[:16].mean() < 64.0  # top-down plane


def test_bm25_topk_hand_computed(spark):
    """BM25 against hand-computed Okapi scores (Lucene idf variant),
    including the n_hits>0 cut and the id tie-break."""
    import math

    rows = [
        (0, "apple banana apple"),
        (1, "apple cherry"),
        (2, "dog cat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.bm25_topk(df, ["apple", "banana"], k=10).collect()}
    assert set(out) == {0, 1}  # doc 2 matches no term

    def idf(n, dfx):
        return math.log(1.0 + (n - dfx + 0.5) / (dfx + 0.5))

    def w(tf, dl, avgdl, k1=1.2, b=0.75):
        return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    n, avgdl = 3, 7 / 3
    exp0 = idf(n, 2) * w(2, 3, avgdl) + idf(n, 1) * w(1, 3, avgdl)
    exp1 = idf(n, 2) * w(1, 2, avgdl)
    assert abs(out[0]["score"] - exp0) < 1e-12
    assert abs(out[1]["score"] - exp1) < 1e-12
    assert out[0]["rank"] == 1 and out[0]["n_hits"] == 2 and out[0]["dl"] == 3
    assert out[1]["rank"] == 2 and out[1]["n_hits"] == 1
    # k truncates; ties break on id (identical docs → identical scores)
    tie = spark.createDataFrame([(i, "apple pie") for i in range(5)], ["doc_id", "text"])
    got = [r["doc_id"] for r in text.bm25_topk(tie, ["apple"], k=3).collect()]
    assert got == [0, 1, 2]
    with pytest.raises(ValueError, match="non-empty"):
        text.bm25_topk(df, [])


def test_corpus_psi_hand_computed(spark):
    """PSI against the hand-computed Σ(p_new−p_old)·ln(p_new/p_old) with
    epsilon smoothing for the emptied category."""
    import math

    from pdtable_spark.operators.monitor import corpus_psi

    old = spark.createDataFrame([("a",), ("a",), ("b",), ("b",)], ["src"])
    new = spark.createDataFrame([("a",), ("a",), ("a",), ("a",)], ["src"])
    got = corpus_psi(old, new, ["src"]).collect()[0]
    eps = 1e-6
    exp = (1.0 - 0.5) * math.log(1.0 / 0.5) + (eps - 0.5) * math.log(eps / 0.5)
    assert got["n_values"] == 2
    assert abs(got["psi"] - exp) < 1e-6
    # identical snapshots → PSI exactly 0
    same = corpus_psi(old, old, ["src"]).collect()[0]
    assert same["psi"] == 0.0


def test_bucketize_and_numeric_drift(spark):
    """Fixed-width bucketize clamps outliers to edge bins, keeps NULL, and
    the numeric drift report's shares follow the bin counts."""
    from pdtable_spark.operators.monitor import bucketize, numeric_drift_report

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (49.0,), (50.0,), (99.0,), (250.0,), (None,)],
        "x double",
    )
    got = [r["b"] for r in df.select(bucketize(F.col("x"), 0, 100, 2).alias("b")).collect()]
    assert got == [0, 0, 0, 1, 1, 1, None]
    old = spark.createDataFrame([(10.0,), (20.0,), (60.0,)], "x double")
    new = spark.createDataFrame([(70.0,), (80.0,)], "x double")
    rep = {r["value"]: r for r in numeric_drift_report(old, new, "x", 0, 100, 2).collect()}
    assert rep["0"]["n_old"] == 2 and rep["0"]["n_new"] == 0
    assert rep["1"]["share_new"] == 1.0 and abs(rep["1"]["share_old"] - 1 / 3) < 1e-15
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins > 0"):
        bucketize(F.col("x"), 0, 100, 0)


def test_rrf_fuse_hand_computed(spark):
    """Reciprocal Rank Fusion against hand-computed 1/(k+rank) sums: a doc
    ranked mid-list in BOTH inputs outscores each list's sole leader."""
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(9, 1), (2, 2), (3, 4)], ["doc_id", "rank"])
    got = {r["doc_id"]: r for r in similarity.rrf_fuse([a, b], k=60).collect()}
    assert got[2]["n_lists"] == 2 and got[1]["n_lists"] == 1
    q = 1e12
    exp2 = (int(q // 62) + int(q // 62)) / q
    assert abs(got[2]["rrf_score"] - exp2) < 1e-12
    # fused order: 2 (two mid ranks) beats 1 and 9 (single first places)
    order = [d for d, r in sorted(got.items(), key=lambda kv: kv[1]["rank"])]
    assert order[0] == 2
    assert got[1]["rank"] < got[9]["rank"]  # equal scores -> id tie-break
    with pytest.raises(ValueError, match="non-empty"):
        similarity.rrf_fuse([])


def test_dsir_log_importance_hand_computed(spark):
    """DSIR importance log-weights against a full Python reimplementation
    (md5_60 buckets, Laplace bucket models, floored quantized log-ratios) —
    and the sign sanity: a doc matching the target scores higher than one
    that doesn't."""
    import hashlib
    import math

    from pdtable_spark.operators.sampling import dsir_log_importance

    raw_rows = [(0, "a b"), (1, "c"), (2, "a b a")]
    tgt_rows = [(10, "a b")]
    raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    tgt = spark.createDataFrame(tgt_rows, ["doc_id", "text"])
    B, Q = 16, 1e9

    def grams(text):
        t = text.strip().split()
        bi = [" ".join(t[i : i + 2]) for i in range(len(t) - 1)] if len(t) >= 2 else [" ".join(t)]
        return t + bi

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    def counts(rows):
        c = {}
        for _, text in rows:
            for g in grams(text):
                c[bucket(g)] = c.get(bucket(g), 0) + 1
        return c

    cs, ct = counts(raw_rows), counts(tgt_rows)
    ts, tt = float(sum(cs.values())), float(sum(ct.values()))
    lut = {}
    for b in range(B):
        lr = math.log(((ct.get(b, 0) + 1.0) / (tt + B)) / ((cs.get(b, 0) + 1.0) / (ts + B)))
        lut[b] = math.floor(lr * Q + 0.5)

    def expect(text):
        gs = grams(text)
        return len(gs), sum(lut[bucket(g)] for g in gs) / Q

    got = {
        r["doc_id"]: r
        for r in dsir_log_importance(raw, tgt, buckets=B, hash_fn="md5_60").collect()
    }
    for doc_id, text in raw_rows:
        n, li = expect(text)
        assert got[doc_id]["n_grams"] == n, doc_id
        assert abs(got[doc_id]["log_importance"] - li) < 1e-12, doc_id
    # the target-like doc outranks the out-of-target doc per gram
    assert (got[0]["log_importance"] / got[0]["n_grams"]) > (
        got[1]["log_importance"] / got[1]["n_grams"]
    )
    # production hash mode (xxhash64, the default): same gram counts, same
    # ordering property — only the bucket assignment differs
    fast = {r["doc_id"]: r for r in dsir_log_importance(raw, tgt, buckets=B).collect()}
    assert {d: r["n_grams"] for d, r in fast.items()} == {
        d: r["n_grams"] for d, r in got.items()
    }
    assert (fast[0]["log_importance"] / fast[0]["n_grams"]) > (
        fast[1]["log_importance"] / fast[1]["n_grams"]
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_fn"):
        dsir_log_importance(raw, tgt, hash_fn="crc32")


def test_char_entropy_hand_computed(spark):
    """Character entropy against hand-computed values: uniform two-char
    text = ln 2, single-char text = 0, empty text = 0 with zero counts."""
    import math

    rows = [(0, "aaaa"), (1, "abab"), (2, ""), (3, "abcd")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.char_entropy(df).collect()}
    assert got[0]["entropy"] == 0.0 and got[0]["n_distinct_chars"] == 1
    q = lambda x: math.floor(round(x, 9) * 1e9) / 1e9  # noqa: E731

    def H(ps):
        return sum(q(-(p * math.log(p))) for p in ps)

    assert abs(got[1]["entropy"] - H([0.5, 0.5])) < 1e-12
    assert abs(got[3]["entropy"] - H([0.25] * 4)) < 1e-12
    assert got[2]["n_chars"] == 0 and got[2]["entropy"] == 0.0
    assert got[3]["n_chars"] == 4 and got[3]["n_distinct_chars"] == 4


def test_rrf_fuse_weighted(spark):
    """Weighted RRF: per-list weights scale the reciprocal terms inside the
    quantized floor, and a weights/rankings length mismatch fails loudly."""
    a = spark.createDataFrame([(1, 1)], ["doc_id", "rank"])
    b = spark.createDataFrame([(2, 1)], ["doc_id", "rank"])
    got = {
        r["doc_id"]: r
        for r in similarity.rrf_fuse([a, b], k=60, weights=[0.5, 1.0]).collect()
    }
    q = 1e12
    import math

    assert got[1]["rrf_score"] == math.floor(0.5 * q / 61.0) / q
    assert got[2]["rrf_score"] == math.floor(1.0 * q / 61.0) / q
    assert got[2]["rank"] == 1  # heavier list wins
    with pytest.raises(ValueError, match="weights for"):
        similarity.rrf_fuse([a, b], weights=[1.0])


def test_line_dedup_spellings_and_edges(spark):
    """CCNet-style line-level boilerplate removal: the broadcast and join
    spellings agree row-for-row, case/padding variants of one line collapse
    to one key, whitespace-only lines are structure (never removed), and
    all-boilerplate / empty docs survive with empty text_clean."""
    rows = [
        (1, "Cookie Banner\nreal prose one\n", "a"),
        (2, "cookie banner\nreal prose two", "a"),
        (3, "COOKIE BANNER", "b"),   # whole doc is boilerplate
        (4, "", "b"),                 # empty doc
        (5, "   \n  ", "b"),          # whitespace-only lines
        (6, "unique only", "c"),
        (7, None, "c"),               # NULL text: zero lines, both spellings
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    a = sorted(
        map(
            tuple,
            text.line_dedup(df, min_docs=2, via="broadcast", passthrough=("source",)).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            text.line_dedup(df, min_docs=2, via="join", passthrough=("source",)).collect(),
        )
    )
    assert a == b
    got = {r[0]: r for r in a}
    # case variants removed everywhere; survivors keep ORIGINAL spelling/order
    assert got[1] == (1, "real prose one\n", 3, 1, "a")
    assert got[2] == (2, "real prose two", 2, 1, "a")
    assert got[3] == (3, "", 1, 1, "b")          # all-boilerplate doc restored
    assert got[4] == (4, "", 1, 0, "b")
    assert got[5] == (5, "   \n  ", 2, 0, "b")   # whitespace lines untouched
    assert got[6] == (6, "unique only", 1, 0, "c")
    assert got[7] == (7, "", 0, 0, "c")          # NULL text: zero lines

    # the audit: normalized keys with distinct-doc counts
    cl = {r["line"]: r["n_docs"] for r in text.common_lines(df, min_docs=2).collect()}
    assert cl == {"cookie banner": 3}

    # fraction threshold == absolute threshold at the equivalent setting
    # (denominator counts all 7 docs — the NULL-text doc is still a doc)
    fa = sorted(map(tuple, text.line_dedup(df, min_docs=None, min_doc_frac=2 / 7, via="broadcast").collect()))
    ab = sorted(map(tuple, text.line_dedup(df, min_docs=2, via="broadcast").collect()))
    assert fa == ab

    # loud guard: boilerplate set larger than max_boilerplate raises at run
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_boilerplate"):
        text.line_dedup(df, min_docs=1, max_boilerplate=1).collect()
    with _pytest.raises(ValueError, match="exactly one"):
        text.common_lines(df, min_docs=2, min_doc_frac=0.5)
    with _pytest.raises(ValueError, match="via"):
        text.line_dedup(df, via="nope")


def test_threshold_sweep(spark):
    """The filter-tuning curve: hand-checked counts/shares, token
    weighting, NULL scores kept by no threshold, empty-corpus zeros, and
    the no-text spelling."""
    from pdtable_spark.operators.monitor import threshold_sweep

    rows = [
        (1, 0.9, "a b c d"),   # 4 tokens
        (2, 0.5, "a b"),       # 2 tokens
        (3, 0.1, "a"),         # 1 token
        (4, None, "a b c"),    # NULL score: counted in totals, kept never
    ]
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"])
    got = {r["threshold"]: r for r in threshold_sweep(df, "score", [0.5, 0.8]).collect()}
    assert got[0.5]["n_kept"] == 2 and got[0.5]["share_kept"] == 0.5
    assert got[0.5]["tokens_kept"] == 6 and got[0.5]["token_share"] == 0.6
    assert got[0.8]["n_kept"] == 1 and got[0.8]["tokens_kept"] == 4
    # duplicate thresholds collapse; output is one row per distinct t
    assert threshold_sweep(df, "score", [0.5, 0.5]).count() == 1
    # empty corpus: zero counts, zero (not NULL) shares
    empty = df.filter(F.col("doc_id") < 0)
    e = threshold_sweep(empty, "score", [0.5]).collect()[0]
    assert tuple(e) == (0.5, 0, 0.0, 0, 0.0)
    # text_col=None skips the token columns entirely
    nt = threshold_sweep(df, "score", [0.5], text_col=None)
    assert [f.name for f in nt.schema.fields] == ["threshold", "n_kept", "share_kept"]
    with pytest.raises(ValueError, match="non-empty"):
        threshold_sweep(df, "score", [])


def test_cluster_profile_and_balanced_sample(spark):
    """Cluster composition + balanced sampling under hand-placed centroids:
    exact counts/shares, empty cells surfaced with zero share, the per-cell
    cap, deterministic hash order, and partition invariance."""
    from pdtable_spark.operators.similarity import (
        cluster_balanced_sample,
        cluster_profile,
    )

    # two tight clusters around (0,0) and (10,10); centroid 2 is far away
    # and must come back EMPTY
    cents = [[0.0, 0.0], [10.0, 10.0], [100.0, 100.0]]
    rows = [(i, [0.0 + i * 0.1, 0.0]) for i in range(4)] + [
        (10 + i, [10.0, 10.0 + i * 0.1]) for i in range(2)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    prof = {r["cell"]: r for r in cluster_profile(emb, cents).collect()}
    assert len(prof) == 3
    assert prof[0]["n_vectors"] == 4 and abs(prof[0]["share"] - 4 / 6) < 1e-15
    assert prof[1]["n_vectors"] == 2
    assert prof[2]["n_vectors"] == 0 and prof[2]["share"] == 0.0
    assert prof[2]["avg_dist2"] == 0.0
    # avg_dist2 hand-check for cell 1: d2 = 0.0 and 0.01
    assert abs(prof[1]["avg_dist2"] - 0.005) < 1e-9

    samp = cluster_balanced_sample(emb, cents, per_cell=3)
    got = samp.collect()
    by_cell = {}
    for r in got:
        by_cell.setdefault(r["cell"], []).append(r)
    assert len(by_cell[0]) == 3          # capped
    assert len(by_cell[1]) == 2          # tail cluster survives whole
    assert sorted(r["sample_rank"] for r in by_cell[0]) == [1, 2, 3]
    # content-stable: same rows regardless of partitioning / salt-sensitivity
    shuffled = emb.repartition(7).sortWithinPartitions(F.desc("vec_id"))
    assert sorted(map(tuple, cluster_balanced_sample(shuffled, cents, per_cell=3).collect())) == sorted(
        map(tuple, got)
    )
    salted = cluster_balanced_sample(emb, cents, per_cell=3, salt="other")
    assert {r["vec_id"] for r in salted.collect() if r["cell"] == 0} != set() 
    with pytest.raises(ValueError, match="per_cell"):
        cluster_balanced_sample(emb, cents, per_cell=0)


def test_threshold_sweep_grouped(spark):
    """by=['source']: one curve per group with WITHIN-group shares, same
    single-scan shape — cross-checked against per-group ungrouped sweeps."""
    from pdtable_spark.operators.monitor import threshold_sweep

    rows = [
        (1, 10.0, "a a a", "web"),
        (2, 20.0, "b b", "web"),
        (3, 5.0, "c", "books"),
        (4, 30.0, "d d d d", "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "score", "text", "source"])
    got = {
        (r["source"], r["threshold"]): r
        for r in threshold_sweep(df, "score", [15.0], by=["source"]).collect()
    }
    assert len(got) == 2
    assert got[("web", 15.0)]["n_kept"] == 1 and got[("web", 15.0)]["share_kept"] == 0.5
    assert got[("web", 15.0)]["tokens_kept"] == 2 and got[("web", 15.0)]["token_share"] == 0.4
    assert got[("books", 15.0)]["n_kept"] == 1 and got[("books", 15.0)]["token_share"] == 0.8
    # per-group rows equal an ungrouped sweep over that group's slice
    web_only = threshold_sweep(
        df.filter(F.col("source") == "web"), "score", [15.0]
    ).collect()[0]
    assert (
        web_only["n_kept"],
        web_only["share_kept"],
        web_only["tokens_kept"],
        web_only["token_share"],
    ) == tuple(got[("web", 15.0)])[2:]


def test_dsir_fused_slice_spelling(spark):
    """target_pred (the fused one-gram-pass spelling) produces BIT-IDENTICAL
    weights to the two-frame spelling when the target is a slice of the
    raw corpus; exactly one of target/target_pred must be given."""
    from pdtable_spark.operators.sampling import dsir_log_importance

    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "le chat est noir", "fr"),
        (2, "the dog ate the cat", "en"),
        (3, "un deux trois quatre", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    pred = F.col("lang") == "en"
    a = sorted(map(tuple, dsir_log_importance(df, df.filter(pred), buckets=64).collect()))
    b = sorted(map(tuple, dsir_log_importance(df, target_pred=pred, buckets=64).collect()))
    assert a == b
    # and in md5 verification mode too
    am = sorted(
        map(tuple, dsir_log_importance(df, df.filter(pred), buckets=64, hash_fn="md5_60").collect())
    )
    bm = sorted(
        map(tuple, dsir_log_importance(df, target_pred=pred, buckets=64, hash_fn="md5_60").collect())
    )
    assert am == bm
    with pytest.raises(ValueError, match="exactly one"):
        dsir_log_importance(df)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_log_importance(df, df.filter(pred), target_pred=pred)


def test_cluster_drift(spark):
    """Embedding-space drift: identical snapshots → zero deltas; moving a
    cluster's mass shows up as paired ±delta rows; the output composes
    with the report-level TVD gate."""
    from pdtable_spark.operators.monitor import cluster_drift, drift_tvd_from_report

    cents = [[0.0, 0.0], [10.0, 10.0]]
    near0 = [(i, [0.1 * i, 0.0]) for i in range(4)]
    near1 = [(10 + i, [10.0, 10.0 + 0.1 * i]) for i in range(4)]
    old = spark.createDataFrame(near0 + near1, "vec_id: long, embedding: array<double>")
    same = {r["value"]: r for r in cluster_drift(old, old, cents).collect()}
    assert all(r["delta"] == 0.0 and r["abs_delta"] == 0.0 for r in same.values())
    # new snapshot: cell-0 mass doubles, cell-1 halves
    new = spark.createDataFrame(
        near0 + [(100 + i, [0.0, 0.1 * i]) for i in range(4)] + near1[:2],
        "vec_id: long, embedding: array<double>",
    )
    rep = cluster_drift(old, new, cents)
    got = {r["value"]: r for r in rep.collect()}
    assert got["0"]["n_old"] == 4 and got["0"]["n_new"] == 8
    assert got["1"]["n_old"] == 4 and got["1"]["n_new"] == 2
    assert abs(got["0"]["delta"] - (0.8 - 0.5)) < 1e-15
    assert abs(got["1"]["delta"] + 0.3) < 1e-15
    tvd = drift_tvd_from_report(rep).collect()[0]
    assert abs(tvd["tvd"] - 0.3) < 1e-9


def test_curation_funnel(spark):
    """Per-rule kill counts over a hand-built flags frame: n_failed
    double-counts multi-rule failures by design, n_failed_alone is the
    marginal kill (what dropping the rule would recover), pass_all is
    excluded from auto-detection, empty frame yields zero rows' worth of
    zeros."""
    rows = [
        (1, 1, 1, 1),  # passes everything
        (2, 0, 1, 1),  # fails A alone
        (3, 0, 0, 1),  # fails A and B
        (4, 1, 0, 0),  # fails B and C
    ]
    df = spark.createDataFrame(rows, ["doc_id", "pass_a", "pass_b", "pass_c"]).withColumn(
        "pass_all",
        (F.col("pass_a") * F.col("pass_b") * F.col("pass_c")).cast("int"),
    )
    got = {r["rule"]: r for r in text.curation_funnel(df).collect()}
    assert set(got) == {"pass_a", "pass_b", "pass_c"}  # pass_all excluded
    assert got["pass_a"]["n_failed"] == 2 and got["pass_a"]["n_failed_alone"] == 1
    assert got["pass_b"]["n_failed"] == 2 and got["pass_b"]["n_failed_alone"] == 0
    assert got["pass_c"]["n_failed"] == 1 and got["pass_c"]["n_failed_alone"] == 0
    assert got["pass_b"]["share_failed"] == 0.5
    # explicit subset of rules
    sub = {r["rule"] for r in text.curation_funnel(df, pass_cols=["pass_a"]).collect()}
    assert sub == {"pass_a"}
    empty = df.filter(F.col("doc_id") < 0)
    e = {r["rule"]: r for r in text.curation_funnel(empty).collect()}
    assert e["pass_a"]["n_failed"] == 0 and e["pass_a"]["share_failed"] == 0.0
    with pytest.raises(ValueError, match="pass_"):
        text.curation_funnel(df.select("doc_id"))


def test_bloom_decontaminate_flags_containing_doc(spark):
    """A train doc that CONTAINS the benchmark text has hit_rate 1.0 on its
    shared shingles (Bloom has no false negatives); an unrelated doc's hit
    rate stays below the flag threshold at 2^16 bits."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, bench_text, "bench"),
        (1, bench_text + " and a tail", "train"),
        (2, "totally unrelated content about engines and shuffles ok", "train"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["train_id"]: r
        for r in dedup.bloom_decontaminate(
            df, F.col("source") == "bench", shingle_n=3, min_hit_rate=0.5
        ).collect()
    }
    assert set(out) == {1, 2}
    # doc 1 shares all 6 bench 3-gram shingles out of its own 8
    assert out[1]["n_hits"] >= 6 and out[1]["flagged"] == 1
    assert out[2]["n_hits"] == 0 and out[2]["flagged"] == 0
    assert out[2]["hit_rate"] == 0.0


def test_bloom_decontaminate_prebuilt_filter_reused(spark):
    """bloom= accepts a pre-built bloom_build frame: screening a second
    batch against the same filter gives identical verdicts to the inline
    path (the persisted-filter production shape)."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta plus tail", "t"),
            (11, "nothing in common with anything here at all", "t"),
        ],
        ["doc_id", "text", "source"],
    )
    filt = dedup.bloom_build(bench, shingle_n=3)
    both = bench.select("doc_id", "text", F.lit("bench").alias("source")).unionByName(
        batch
    )
    inline = {
        r["train_id"]: (r["n_hits"], r["flagged"])
        for r in dedup.bloom_decontaminate(
            both, F.col("source") == "bench", shingle_n=3
        ).collect()
    }
    reused = {
        r["train_id"]: (r["n_hits"], r["flagged"])
        for r in dedup.bloom_decontaminate(
            batch, F.lit(False), shingle_n=3, bloom=filt
        ).collect()
    }
    assert inline == reused and reused[10][1] == 1 and reused[11][1] == 0


def test_hard_negatives_label_filter_and_ceiling(spark):
    """Negatives never share the anchor's label; the ceiling drops the
    cross-label exact duplicate (cosine 1.0); ranks are dense from 1."""
    from pdtable_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0),  # anchor
        (1, [1.0, 0.0], 1),  # cross-label DUPLICATE of the anchor
        (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1),
        (4, [0.95, 0.05], 0),  # same label: never a negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.hard_negatives(
        df, F.col("vec_id") == 0, k=3, ceiling=0.9999
    ).collect()
    assert [(r["neg_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (2, 1),
        (3, 2),
    ]
    assert all(r["neg_label"] == 1 and r["anchor_id"] == 0 for r in out)


def test_knn_label_propagation_majority_and_ties(spark):
    """Majority of the k nearest labeled neighbors wins; a vote tie breaks
    toward the smaller label; confidence is votes/k."""
    from pdtable_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 9),  # query (label hidden by the predicate)
        (1, [1.0, 0.01], 2),
        (2, [1.0, 0.02], 2),
        (3, [1.0, 0.03], 1),
        (4, [0.9, 0.1], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.knn_label_propagation(df, F.col("vec_id") == 0, k=4).collect()
    assert len(out) == 1
    r = out[0]
    # 2 votes for label 2, 2 for label 1 → tie → smaller label wins
    assert r["predicted_label"] == 1 and r["votes"] == 2 and r["confidence"] == 0.5


def test_truncated_topk_prefix_semantics(spark):
    """truncated_topk ranks by the first `dim` components only: a vector
    whose similarity lives entirely in the tail drops out of the
    truncated ranking; dim >= vector length degrades to exact."""
    from pdtable_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0, 0.0]),    # close in the prefix
        (2, [-1.0, 0.0, 8.0, 8.0]),   # anti-correlated prefix, similar tail
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    t2 = {r["vec_id"]: r["rank"] for r in similarity.truncated_topk(df, q, dim=2, k=3).collect()}
    # under dim=2 vector 2's prefix is anti-correlated -> last
    assert t2 == {0: 1, 1: 2, 2: 3}
    full = similarity.truncated_topk(df, q, dim=4, k=3)
    exact = similarity.cosine_topk(df, q, k=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dim"):
        similarity.truncated_topk(df, q, dim=0)


def test_hard_negatives_ivf_matches_exact_when_probing_all_cells(spark):
    """With nprobe = n_cells the IVF miner probes everything, so its
    output equals the exact miner's (same ordering, same ceiling); the
    index carries the label via metadata_cols."""
    from pdtable_spark.operators import similarity

    rows = [
        (i, [float(i % 4 == 0), float(i % 3), 0.25 * i, 1.0], i % 2)
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = [r["embedding"] for r in df.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()]
    idx = similarity.ivf_index(df, cents, metadata_cols=["label"])
    anchors = df.filter(F.col("vec_id") % 8 == 0).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    ivf = similarity.hard_negatives_ivf(idx, anchors, cents, k=4, nprobe=3)
    exact = similarity.hard_negatives(df, F.col("vec_id") % 8 == 0, k=4)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_knn_label_propagation_ivf_matches_exact_when_probing_all_cells(spark):
    """With nprobe = n_cells the IVF label propagator probes everything,
    so its votes and predictions equal the exact spelling's on the same
    query/labeled split; the labeled pool is the label-carrying index."""
    from pdtable_spark.operators import similarity

    rows = [
        (i, [float(i % 4 == 0), float(i % 3), 0.25 * i, 1.0], i % 3)
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = [
        r["embedding"]
        for r in df.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    pred = F.col("vec_id") % 8 == 0
    idx = similarity.ivf_index(df.filter(~pred), cents, metadata_cols=["label"])
    queries = df.filter(pred).select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = similarity.knn_label_propagation_ivf(idx, queries, cents, k=4, nprobe=3)
    exact = similarity.knn_label_propagation(df, pred, k=4)
    got, want = sorted(map(tuple, ivf.collect())), sorted(map(tuple, exact.collect()))
    assert got == want and len(got) == 3


def test_broadcast_miner_bounds_fail_loudly(spark):
    """An unbounded anchor/query predicate raises a clear error BEFORE
    the broadcast (early-terminating limit+count probe); None disables
    the bound; an in-limit side passes through unchanged."""
    from pdtable_spark.operators import similarity

    rows = [(i, [float(i), 1.0], i % 2) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    with pytest.raises(ValueError, match="more than 4 rows"):
        similarity.hard_negatives(df, F.lit(True), k=2, max_anchors=4)
    with pytest.raises(ValueError, match="more than 4 rows"):
        similarity.knn_label_propagation(df, F.col("vec_id") < 10, k=2, max_queries=4)
    with pytest.raises(ValueError, match=">= 1 or None"):
        similarity.hard_negatives(df, F.lit(True), k=2, max_anchors=0)
    # cosine_topk / truncated_topk guard their broadcast query side too
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="more than 4 rows"):
        similarity.cosine_topk(df, queries, k=2, max_queries=4)
    with pytest.raises(ValueError, match="more than 4 rows"):
        similarity.truncated_topk(df, queries, dim=1, k=2, max_queries=4)
    # disabled bound and in-limit side both build + run
    assert similarity.hard_negatives(df, F.lit(True), k=1, max_anchors=None).count() > 0
    assert (
        similarity.knn_label_propagation(df, F.col("vec_id") == 0, k=3).count() == 1
    )
    assert similarity.cosine_topk(df, queries, k=1, max_queries=None).count() == 12
    assert similarity.cosine_topk(df, queries.limit(2), k=1).count() == 2


def test_perceptual_hash_brightness_invariant_and_near_dups(spark):
    """dHash depends only on neighbor ORDER: a uniformly re-leveled copy
    hashes identically (hamming 0); flipping one neighbor order moves
    exactly one bit; phash_near_dups recovers both pairs at max_hamming=1
    and excludes the scrambled image."""
    from pdtable_spark.operators import multimodal

    base = [float(v) for v in [10, 20, 30, 40, 50, 60, 70, 80,
                               90, 100, 110, 120, 130, 140, 150, 160]]
    brighter = [v + 55.0 for v in base]
    one_flip = list(base)
    one_flip[0], one_flip[1] = one_flip[1], one_flip[0]  # flips bit 0 only
    scrambled = [float(v) for v in [160, 10, 150, 20, 140, 30, 130, 40,
                                    120, 50, 110, 60, 100, 70, 90, 80]]
    feats = spark.createDataFrame(
        [(0, base), (1, brighter), (2, one_flip), (3, scrambled)],
        "asset_id long, feature array<double>",
    )
    ph = {r["asset_id"]: r["phash"] for r in multimodal.perceptual_hash(feats).collect()}
    assert ph[0] == ph[1]
    assert bin(ph[0] ^ ph[2]).count("1") == 1
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.phash_near_dups(feats, max_hamming=1).collect()
    }
    assert (0, 1, 0) in got and (1, 2, 1) in got and (0, 2, 1) in got
    assert not any(3 in (a, b) for a, b, _ in got)


def test_epochs_plan_flags_and_missing_source(spark):
    """Epoch arithmetic: target tokens = floor(share*budget), epochs =
    target/total; over-max flags; a targeted source absent from the
    corpus raises loudly instead of planning an unservable mixture."""
    from pdtable_spark.operators import sampling

    rows = [(i, "w " * 9 + "w", "a" if i < 2 else "b") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # a: 2 docs x 10 tokens = 20; b: 4 x 10 = 40
    out = {
        r["source"]: r
        for r in sampling.epochs_plan(
            df, {"a": 0.5, "b": 0.5}, token_budget=100, max_epochs=2.0
        ).collect()
    }
    assert out["a"]["total_tokens"] == 20 and out["a"]["target_tokens"] == 50
    assert out["a"]["epochs"] == 2.5 and out["a"]["repeat_risk"] == 1
    assert out["b"]["epochs"] == 1.25 and out["b"]["repeat_risk"] == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="absent"):
        sampling.epochs_plan(df, {"a": 0.5, "zz": 0.5}, token_budget=100)


def test_perceptual_hash_short_feature_raises(spark):
    """A feature shorter than grid*grid raises loudly instead of silently
    zeroing the missing-neighbor bits."""
    from pdtable_spark.operators import multimodal

    feats = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "asset_id long, feature array<double>"
    )
    with pytest.raises(Exception, match="shorter than grid"):
        multimodal.perceptual_hash(feats).collect()


def test_uncertainty_sample_margin_order(spark):
    """Rows nearest the threshold come first; ties break on id; k bounds
    the batch."""
    from pdtable_spark.operators import sampling

    rows = [(0, -0.5), (1, 0.1), (2, -0.1), (3, 2.0), (4, 0.1)]
    df = spark.createDataFrame(rows, "doc_id long, clf_score double")
    out = [
        (r["doc_id"], r["rank"])
        for r in sampling.uncertainty_sample(df, k=3).orderBy("rank").collect()
    ]
    assert out == [(1, 1), (2, 2), (4, 3)]
    # a NULL score would sort FIRST ascending and silently eat the budget —
    # it must raise instead (module fail-loudly idiom)
    with_null = spark.createDataFrame(
        [(0, 0.5), (1, None)], "doc_id long, clf_score double"
    )
    with pytest.raises(Exception, match="NULL in score column"):
        sampling.uncertainty_sample(with_null, k=1).collect()


def test_bloom_decontaminate_null_text_raises(spark):
    """A NULL text (or NULL predicate) raises loudly instead of silently
    dropping the doc from the screen."""
    df = spark.createDataFrame(
        [(0, "alpha beta gamma", "bench"), (1, None, "train")],
        "doc_id long, text string, source string",
    )
    with pytest.raises(Exception, match="NULL 'text'"):
        dedup.bloom_decontaminate(df, F.col("source") == "bench", shingle_n=3).collect()
    df2 = spark.createDataFrame(
        [(0, "alpha beta gamma", "bench"), (1, "ok words here", None)],
        "doc_id long, text string, source string",
    )
    with pytest.raises(Exception, match="bench_pred is NULL"):
        dedup.bloom_decontaminate(df2, F.col("source") == "bench", shingle_n=3).collect()


def test_winnow_fingerprints_coverage_and_density(spark):
    """Winnowing guarantees: two docs sharing a long run share a print;
    selections match a brute-force reference (rightmost-min per window,
    deduped); selection count is well below the gram count."""
    import hashlib

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, "intro words here " + shared),
        (1, shared + " totally different tail content follows now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in dedup.winnow_fingerprints(
            df, gram_n=3, window=4, hash_fn="md5_60"
        ).collect()
    }

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = set()
    for doc_id, text in rows:
        toks = text.split()
        h = [md5_60(" ".join(toks[i:i + 3])) for i in range(len(toks) - 2)]
        for i in range(len(h) - 3):
            s = h[i:i + 4]
            mn = min(s)
            j = max(k for k in range(4) if s[k] == mn)
            want.add((doc_id, i + j + 1, mn))
    assert got == want
    # coverage: the shared 12-token run must contribute a common print
    fps0 = {fp for d, _, fp in got if d == 0}
    fps1 = {fp for d, _, fp in got if d == 1}
    assert fps0 & fps1
    # density: far fewer prints than grams
    assert len(got) < sum(len(t[1].split()) - 2 for t in rows)
    pairs = dedup.winnow_overlap_pairs(
        df, gram_n=3, window=4, min_common=1, hash_fn="md5_60"
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["n_common"] == len(fps0 & fps1)


def test_cap_per_source_window_spelling(spark):
    """Per-source cap keeps the top-``cap`` rows per source under the
    (score DESC, id ASC) total order, caps NULL sources as a group, and
    fails loudly on NULL scores."""
    from pdtable_spark.operators.sampling import cap_per_source

    rows = (
        [(i, "a", float(i)) for i in range(10)]      # keep 7,8,9 at cap=3
        + [(100, "b", 5.0), (101, "b", 5.0)]          # tie → ids 100,101
        + [(200, "c", -1.0)]                          # under-cap source
        + [(300, None, 9.0), (301, None, 1.0)]        # NULL-source group
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    kept = sorted(
        r["doc_id"] for r in cap_per_source(df, 3, score_col="score").collect()
    )
    assert kept == [7, 8, 9, 100, 101, 200, 300, 301]
    # cap=1 takes each source's single best; the tie breaks toward id 100
    kept1 = sorted(
        r["doc_id"] for r in cap_per_source(df, 1, score_col="score").collect()
    )
    assert kept1 == [9, 100, 200, 300]
    # hash mode: deterministic, exactly cap rows of the 10-row source
    h = cap_per_source(df, 4, score_col=None)
    by_src = {}
    for r in h.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["a"]) == 4 and sorted(by_src["c"]) == [200]
    again = cap_per_source(df, 4, score_col=None)
    assert sorted(r["doc_id"] for r in h.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    with_null = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "doc_id long, source string, score double"
    )
    with pytest.raises(Exception, match="NULL in score column"):
        cap_per_source(with_null, 1, score_col="score").collect()


def test_cap_per_source_threshold_matches_window(spark):
    """The screen-then-trim crawl-scale spelling returns the IDENTICAL
    kept set as the window spelling — score mode, hash mode, tie-heavy
    constant scores, under-cap sources, NULL sources — and fails loudly
    on NULL scores."""
    from pdtable_spark.operators.sampling import (
        cap_per_source,
        cap_per_source_threshold,
    )

    rows = (
        [(i, "a", float(i % 7)) for i in range(60)]   # heavy score ties
        + [(100 + i, "b", float(i)) for i in range(5)]
        + [(200, "c", -3.0)]
        + [(300 + i, None, 1.0) for i in range(4)]    # constant-score NULL src
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    for cap in (1, 3, 10, 100):
        for score in ("score", None):
            e = sorted(
                r["doc_id"]
                for r in cap_per_source(df, cap, score_col=score).collect()
            )
            t = sorted(
                r["doc_id"]
                for r in cap_per_source_threshold(
                    df, cap, score_col=score, buckets=20, accuracy=1000
                ).collect()
            )
            assert t == e, (cap, score)
    with_null = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "doc_id long, source string, score double"
    )
    with pytest.raises(Exception, match="NULL in score column"):
        cap_per_source_threshold(with_null, 1, score_col="score").collect()
    # UNDER-CAP source (cap >= n): __thr is NULL, the screening filter's OR
    # short-circuits past the guarded key, and only the final window's
    # per-row guard stands between a NULL score and a silent nulls-last cap
    with pytest.raises(Exception, match="NULL in score column"):
        cap_per_source_threshold(with_null, 2, score_col="score").collect()


def test_vocab_coverage(spark):
    """top_vocab picks the most frequent tokens with a deterministic
    token-text tie-break; vocab_coverage counts OOV occurrences per doc,
    accepts a frozen external vocabulary, and guards empty docs."""
    from pdtable_spark.operators.text import top_vocab, vocab_coverage

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zebra xylophone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # frequencies: the=3, sat=2, rest=1 → vocab_size=3 takes the, sat,
    # then the tie at tf=1 breaks to 'cat' (smallest token text)
    v = [r["token"] for r in top_vocab(df, 3).orderBy(F.desc("tf"), F.asc("token")).collect()]
    assert v == ["the", "sat", "cat"]
    out = {r["doc_id"]: r for r in vocab_coverage(df, vocab_size=3).collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["n_oov"] == 2  # on, mat
    assert out[2]["n_tokens"] == 3 and out[2]["n_oov"] == 1  # dog
    assert out[3]["n_oov"] == 2 and out[3]["oov_share"] == 1.0
    assert abs(out[1]["oov_share"] - 2.0 / 6.0) < 1e-12
    # frozen external vocabulary: measure against it, not the corpus
    frozen = spark.createDataFrame([("zebra",), ("the",)], "token string")
    out_f = {r["doc_id"]: r for r in vocab_coverage(df, vocab=frozen).collect()}
    assert out_f[3]["n_oov"] == 1  # xylophone
    assert out_f[2]["n_oov"] == 2  # dog, sat


def test_k_anonymize_suppression(spark):
    """k-anonymity suppression keeps exactly the rows whose quasi-id
    combination reaches k, treats NULL quasi values as legitimate group
    keys (null-safe join), and rejects nonsense k."""
    from pdtable_spark.operators.privacy import k_anonymize

    rows = [
        (1, "US", "A"), (2, "US", "A"), (3, "US", "A"),
        (4, "US", "B"),
        (5, None, "A"), (6, None, "A"),
        (7, "FR", None),
    ]
    df = spark.createDataFrame(rows, "id long, region string, seg string")
    assert sorted(
        r["id"] for r in k_anonymize(df, ["region", "seg"], 2).collect()
    ) == [1, 2, 3, 5, 6]
    assert sorted(
        r["id"] for r in k_anonymize(df, ["region", "seg"], 3).collect()
    ) == [1, 2, 3]
    # k=1 suppresses nothing
    assert k_anonymize(df, ["region", "seg"], 1).count() == 7
    with pytest.raises(ValueError, match="k must be >= 1"):
        k_anonymize(df, ["region", "seg"], 0)


def test_anonymity_report(spark):
    """The risk report counts groups/rows below each threshold, carries
    the corpus facts, and min_l_diversity flags a sensitive-homogeneous
    group that plain k-anonymity would pass."""
    from pdtable_spark.operators.privacy import anonymity_report

    rows = [
        (1, "US", "A", "d1"), (2, "US", "A", "d1"), (3, "US", "A", "d2"),
        (4, "US", "B", "d1"),
        (5, None, "A", "d3"), (6, None, "A", "d3"),  # 2-anonymous, l=1
        (7, "FR", None, "d4"),
    ]
    df = spark.createDataFrame(rows, "id long, region string, seg string, diag string")
    rep = {
        r["k"]: r
        for r in anonymity_report(
            df, ["region", "seg"], ks=(2, 3), sensitive_col="diag"
        ).collect()
    }
    assert rep[2]["n_groups_below"] == 2 and rep[2]["n_rows_below"] == 2
    assert abs(rep[2]["share_rows_below"] - 2.0 / 7.0) < 1e-12
    assert rep[2]["n_groups"] == 4 and rep[2]["min_group_size"] == 1
    # the NULL-region group is 2-anonymous but sensitive-homogeneous
    assert rep[2]["min_l_diversity"] == 1
    assert rep[3]["n_groups_below"] == 3 and rep[3]["n_rows_below"] == 4
    # without a sensitive column the l column is absent
    cols = anonymity_report(df, ["region"], ks=(2,)).columns
    assert "min_l_diversity" not in cols
    with pytest.raises(ValueError, match="thresholds must be >= 1"):
        anonymity_report(df, ["region"], ks=(0, 2))


def test_containment_pairs_asymmetric(spark):
    """Containment fires on doc-inside-doc duplication that a Jaccard
    threshold never reaches, reports both directions, and the df-cut
    guard drops ultra-common shingles like ngram_jaccard_pairs."""
    from pdtable_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    long = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    short = "zeta eta theta iota kappa lam mu nu"
    rows = [(0, long), (1, short), (2, "totally different content words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = containment_pairs(df, shingle_n=5, threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]
    r = got[0]
    # the short doc is fully contained; the long one only fractionally
    assert r["containment"] == 1.0 and r["contain_b_in_a"] == 1.0
    assert r["contain_a_in_b"] < 0.5
    # Jaccard at any useful threshold misses this pair
    assert ngram_jaccard_pairs(df, shingle_n=5, threshold=0.5).count() == 0
    # block_col restricts candidates
    blocked = df.withColumn("src", F.when(F.col("doc_id") == 0, "x").otherwise("y"))
    assert (
        containment_pairs(blocked, shingle_n=5, threshold=0.8, block_col="src").count()
        == 0
    )


def test_vocab_coverage_join_spelling_matches_array(spark):
    """The big-vocab broadcast-hash-join spelling returns the identical
    per-doc coverage as the scan-local array spelling — corpus-built and
    frozen vocabularies — and rejects unknown methods."""
    from pdtable_spark.operators.text import vocab_coverage

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zebra xylophone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def snap(out):
        return sorted(
            (r["doc_id"], r["n_tokens"], r["n_oov"], round(r["oov_share"], 12))
            for r in out.select("doc_id", "n_tokens", "n_oov", "oov_share").collect()
        )

    assert snap(vocab_coverage(df, vocab_size=3, method="join")) == snap(
        vocab_coverage(df, vocab_size=3, method="array")
    )
    frozen = spark.createDataFrame([("zebra",), ("the",)], "token string")
    assert snap(vocab_coverage(df, vocab=frozen, method="join")) == snap(
        vocab_coverage(df, vocab=frozen, method="array")
    )
    with pytest.raises(ValueError, match="unknown method"):
        vocab_coverage(df, method="nope")


def test_vocab_coverage_null_and_dirty_vocab_edges(spark):
    """Review-fix regressions: NULL text is zero tokens in BOTH spellings
    (non-ANSI F.size(NULL)=-1 must never leak into sums), a duplicated
    or NULL vocab entry changes nothing, and the spellings stay equal on
    all of it."""
    from pdtable_spark.operators.text import vocab_coverage

    rows = [(1, "the cat"), (2, None), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dirty = spark.createDataFrame(
        [("the",), ("the",), (None,)], "token string"
    )
    for method in ("array", "join"):
        out = {
            r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_share"])
            for r in vocab_coverage(df, vocab=dirty, method=method).collect()
        }
        assert out[1] == (2, 1, 0.5), (method, out[1])   # 'cat' is OOV, once
        assert out[2] == (0, 0, 0.0), (method, out[2])   # NULL text = empty
        assert out[3] == (1, 1, 1.0), (method, out[3])   # '' tokenizes to ['']
    # EMPTY vocabulary (empty corpus / empty provided frame): everything is
    # OOV — the array spelling must short-circuit instead of building an
    # array<null> literal that breaks array_contains
    empty_vocab = spark.createDataFrame([], "token string")
    for method in ("array", "join"):
        out = {
            r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_share"])
            for r in vocab_coverage(df, vocab=empty_vocab, method=method).collect()
        }
        assert out[1] == (2, 2, 1.0), (method, out[1])
        assert out[2] == (0, 0, 0.0), (method, out[2])
        assert out[3] == (1, 1, 1.0), (method, out[3])


def test_cap_per_source_hash_mode_null_id_fails_loudly(spark):
    """Review-fix regression: hash-mode retention of a NULL id is
    meaningless and previously made the two cap spellings disagree —
    both now fail loudly."""
    from pdtable_spark.operators.sampling import (
        cap_per_source,
        cap_per_source_threshold,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (3, "a")], "doc_id long, source string"
    )
    for fn in (cap_per_source, cap_per_source_threshold):
        with pytest.raises(Exception, match="NULL in id column"):
            fn(df, 1, score_col=None).collect()
    # score mode still ranks NULL ids consistently (nulls-first tie-break)
    scored = df.withColumn("s", F.lit(1.0))
    e = sorted(
        (r["doc_id"] is None, r["doc_id"] or 0)
        for r in cap_per_source(scored, 2, score_col="s").collect()
    )
    t = sorted(
        (r["doc_id"] is None, r["doc_id"] or 0)
        for r in cap_per_source_threshold(scored, 2, score_col="s").collect()
    )
    assert e == t and len(e) == 2


# ---------------------------------------------------------------------------
# mergeable distinct-count ledger (DataSketches HLL)
# ---------------------------------------------------------------------------


def test_distinct_sketch_exact_in_sparse_mode_and_layout_independent(spark):
    """Small groups keep the HLL in sparse mode, so estimates equal exact
    distinct counts; NULL keys are skipped; estimates are identical under
    a hostile repartition (merge associativity)."""
    from pdtable_spark.operators import monitor

    rows = [(i % 5, f"d{i % 40}") for i in range(200)] + [(0, None)]
    df = spark.createDataFrame(rows, "source int, doc_id string")
    led = {r["source"]: r["estimate"] for r in monitor.distinct_sketch(df).collect()}
    exact = {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count_distinct("doc_id").alias("n")).collect()
    }
    assert led == exact, (led, exact)
    led13 = {
        r["source"]: r["estimate"]
        for r in monitor.distinct_sketch(df.repartition(13)).collect()
    }
    assert led13 == led


def test_sketch_union_and_novelty_estimate(spark):
    """Union of two snapshot ledgers estimates the distinct count of the
    union (exact in sparse mode); novelty_estimate reports exactly the
    never-seen keys per group, zero seen_before for a brand-new group."""
    from pdtable_spark.operators import monitor

    a = spark.createDataFrame(
        [("s", f"d{i}") for i in range(30)], "source string, doc_id string"
    )
    b = spark.createDataFrame(
        [("s", f"d{i}") for i in range(20, 50)] + [("t", "x1"), ("t", "x2")],
        "source string, doc_id string",
    )
    led_a = monitor.distinct_sketch(a)
    led_b = monitor.distinct_sketch(b)
    u = {
        r["source"]: r["estimate"]
        for r in monitor.sketch_union(
            led_a.select("source", "sketch").unionByName(led_b.select("source", "sketch"))
        ).collect()
    }
    assert u == {"s": 50, "t": 2}
    nov = {r["source"]: r for r in monitor.novelty_estimate(led_a, b).collect()}
    assert (
        nov["s"]["n_batch_distinct"] == 30
        and nov["s"]["est_seen_before"] == 30
        and nov["s"]["est_after"] == 50
        and nov["s"]["est_new"] == 20
    )
    assert nov["t"]["est_seen_before"] == 0 and nov["t"]["est_new"] == 2


# ---------------------------------------------------------------------------
# trained BPE tokenizer (train / encode / fertility)
# ---------------------------------------------------------------------------


def test_bpe_train_hand_computed_merges(spark):
    """Classic Sennrich toy corpus: merges follow pair frequencies with
    the lexicographic tie-break, deterministically."""
    from pdtable_spark.operators import tokenizer as tk

    # 'aaab' x3, 'aab' x1 → pair counts: (a,a): 3*2+1 = 7, (a,b): 4, (b,</w>): 4
    rows = [(0, "aaab aaab aaab aab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = tk.bpe_train(df, num_merges=3)
    assert merges[0] == ("a", "a")
    # after merge1: aaab→[aa,a,b,</w>] x3, aab→[aa,b,</w>] x1
    # pairs: (aa,a):3, (a,b):3, (aa,b):1, (b,</w>):4 → best (b,</w>)
    assert merges[1] == ("b", "</w>")
    # then (a,b</w>):3 vs (aa,a):3 tie → lexicographic: ('a','b</w>') < ('aa','a')
    assert merges[2] == ("a", "b</w>")
    # merge loop stops when the table is exhausted, not at num_merges
    tiny = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert len(tk.bpe_train(tiny, num_merges=50)) == 1  # only (x, </w>)


def test_bpe_encode_and_fertility(spark):
    """Encoding applies merges lowest-rank-first; counts and per-source
    fertility are exact; NULL text is zero; the pandas path equals the
    driver-side reference apply word-for-word."""
    from pdtable_spark.operators import tokenizer as tk

    train = spark.createDataFrame(
        [(0, "low low low lower lowest")], "doc_id long, text string"
    )
    merges = tk.bpe_train(train, num_merges=4)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    docs = spark.createDataFrame(
        [
            (1, "low lower", "a"),
            (2, "unseen", "a"),
            (3, None, "b"),
        ],
        "doc_id long, text string, source string",
    )
    enc = {
        r["doc_id"]: r
        for r in tk.bpe_encode(docs, merges, return_tokens=True).collect()
    }
    assert enc[1]["n_words"] == 2
    want = tk.bpe_apply_word("low", ranks) + tk.bpe_apply_word("lower", ranks)
    assert list(enc[1]["bpe_tokens"]) == want
    assert enc[1]["n_tokens"] == len(want)
    # unseen word falls back to finer segments, never fails
    assert enc[2]["n_tokens"] == len(tk.bpe_apply_word("unseen", ranks))
    assert enc[3] is not None and enc[3]["n_tokens"] == 0 and enc[3]["n_words"] == 0

    # non-bigint id column: the output id field mirrors the INPUT type —
    # a hardcoded LongType broke string doc ids at Arrow conversion
    # (ADVICE r8)
    sdocs = spark.createDataFrame(
        [("u-1", "low lower"), ("u-2", None)], "uri string, text string"
    )
    senc = {
        r["uri"]: r for r in tk.bpe_encode(sdocs, merges, id_col="uri").collect()
    }
    assert dict(tk.bpe_encode(sdocs, merges, id_col="uri").dtypes)["uri"] == "string"
    assert senc["u-1"]["n_tokens"] == len(
        tk.bpe_apply_word("low", ranks) + tk.bpe_apply_word("lower", ranks)
    )
    assert senc["u-2"]["n_tokens"] == 0

    fert = {r["source"]: r for r in tk.bpe_fertility(docs, merges).collect()}
    assert fert["a"]["n_docs"] == 2
    assert fert["a"]["n_words"] == 3
    assert fert["a"]["n_tokens"] == enc[1]["n_tokens"] + enc[2]["n_tokens"]
    assert fert["a"]["fertility"] == fert["a"]["n_tokens"] / 3
    assert fert["b"]["n_tokens"] == 0 and fert["b"]["fertility"] == 0.0


def _ref_margin_mining(left_rows, right_rows, k, threshold):
    """Driver-side reference of margin_mining: same folds, same
    1e-9-quantized BIGINT degree sums, same tie-breaks."""
    import math

    def cos(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num = num + x * y
        n2a = 0.0
        for x in a:
            n2a = n2a + x * x
        n2b = 0.0
        for y in b:
            n2b = n2b + y * y
        return num / math.sqrt(n2a * n2b)

    def q(c):
        return math.floor(c * 1000000000.0 + 0.5)

    pairs = {
        (i, j): cos(a, b) for i, a in left_rows.items() for j, b in right_rows.items()
    }
    fwd = {
        i: sorted(right_rows, key=lambda j: (-pairs[(i, j)], j))[:k]
        for i in left_rows
    }
    bwd = {
        j: sorted(left_rows, key=lambda i: (-pairs[(i, j)], i))[:k]
        for j in right_rows
    }
    dx = {i: (sum(q(pairs[(i, j)]) for j in js), len(js)) for i, js in fwd.items()}
    dy = {j: (sum(q(pairs[(i, j)]) for i in is_), len(is_)) for j, is_ in bwd.items()}
    out = []
    for i, js in fwd.items():
        cand = []
        for j in js:
            m = (2.0 * q(pairs[(i, j)])) / (
                dx[i][0] / dx[i][1] + dy[j][0] / dy[j][1]
            )
            cand.append((m, j))
        m, j = max(cand, key=lambda t: (t[0], -t[1]))
        if m >= threshold:
            out.append((i, j, pairs[(i, j)], m))
    return sorted(out)


def test_margin_mining_matches_bruteforce(spark):
    """Exact parity with a driver-side reference (same quantized degree
    arithmetic, same tie-breaks) on a deterministic vector set."""
    from pdtable_spark.operators import similarity

    left = {i: [1.0 + 0.1 * i, 0.5 * (i % 3), 2.0 - 0.2 * i] for i in range(6)}
    right = {
        j: [1.0 + 0.07 * (j % 5), 0.3 * (j % 4), 1.5 - 0.1 * (j % 7)]
        for j in range(20)
    }
    ldf = spark.createDataFrame(
        [(i, v) for i, v in left.items()], "vec_id long, embedding array<double>"
    )
    rdf = spark.createDataFrame(
        [(j, v) for j, v in right.items()], "vec_id long, embedding array<double>"
    )
    got = sorted(
        tuple(r)
        for r in similarity.margin_mining(ldf, rdf, k=3, threshold=0.0).collect()
    )
    assert got == _ref_margin_mining(left, right, k=3, threshold=0.0)


def test_margin_mining_hub_suppression(spark):
    """The ratio margin cancels hubness: a right vector that is EVERY
    left row's near-neighbor contributes a high backward degree, so the
    exclusive mutual match out-margins the globally-popular hub even
    when raw cosines are close."""
    from pdtable_spark.operators import similarity

    hub = [1.0, 1.0]
    left = [(0, [1.0, 0.98]), (1, [0.98, 1.0]), (2, [1.02, 1.0])]
    # y0 = hub (close to every x); y1 = exclusive partner of x0 only
    right = [(10, hub), (11, [1.0, 0.97]), (12, [-1.0, 0.4]), (13, [0.4, -1.0])]
    ldf = spark.createDataFrame(left, "vec_id long, embedding array<double>")
    rdf = spark.createDataFrame(right, "vec_id long, embedding array<double>")
    out = {
        r["left_id"]: r
        for r in similarity.margin_mining(ldf, rdf, k=2, threshold=0.0).collect()
    }
    # x0's best match by MARGIN is its exclusive partner y11, though the
    # hub y10's raw cosine is computed against every left row
    assert out[0]["right_id"] == 11
    for r in out.values():
        assert r["margin"] >= 0.0 and -1.0 <= r["cosine_sim"] <= 1.0 + 1e-12


def test_margin_mining_left_bound_raises(spark):
    """An over-limit left side fails loudly BEFORE the broadcast."""
    from pdtable_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="more than 3 rows"):
        similarity.margin_mining(df, df, k=2, max_left=3).collect()


def test_margin_mining_ivf_matches_exact_when_probing_all_cells(spark):
    """With nprobe = n_cells the IVF miner's probed pair frame is the
    full cross product and the rescore tail is literally shared code, so
    its output equals margin_mining's row-for-row; with nprobe = 1 it
    returns a subset of lefts (missed cells), never extra rows above
    threshold 0 parity is not expected."""
    from pdtable_spark.operators import similarity

    rows = [
        (i, [1.0 + 0.07 * (i % 5), 0.3 * (i % 4), 1.5 - 0.1 * (i % 7)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lp = F.col("vec_id") % 7 == 0
    ldf, rdf = df.filter(lp), df.filter(~lp)
    cents = [
        r["embedding"]
        for r in rdf.orderBy("vec_id").limit(3).collect()
    ]
    idx = similarity.ivf_index(rdf, cents)
    ivf = similarity.margin_mining_ivf(idx, ldf, cents, k=3, threshold=0.0, nprobe=3)
    exact = similarity.margin_mining(ldf, rdf, k=3, threshold=0.0)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))
    # reduced probing: still one row per surviving left, drawn from the
    # probed cells only; the left-side bound stays loud
    few = similarity.margin_mining_ivf(idx, ldf, cents, k=3, threshold=0.0, nprobe=1)
    got = few.collect()
    assert len(got) == len({r["left_id"] for r in got})
    with pytest.raises(ValueError, match="more than 1 rows"):
        similarity.margin_mining_ivf(idx, ldf, cents, k=2, max_left=1).collect()


def test_distinct_ngrams_hand_counts(spark):
    """Hand-computed totals/distincts; strict windows (a doc shorter
    than n yields no n-grams); NULL text contributes nothing; a group
    with no n-grams at some n has no row there."""
    from pdtable_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "x x y", "a"),
            (2, "x", "a"),
            (3, None, "a"),
            (4, "u v", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source"], r["n"]): (r["n_total"], r["n_distinct"], r["distinct_ratio"])
        for r in T.distinct_ngrams(docs).collect()
    }
    assert out[("a", 1)] == (4, 2, 0.5)  # x x y | x
    assert out[("a", 2)] == (2, 2, 1.0)  # "x x", "x y"
    assert out[("a", 3)] == (1, 1, 1.0)  # "x x y"
    assert out[("b", 1)] == (2, 2, 1.0)
    assert out[("b", 2)] == (1, 1, 1.0)
    assert ("b", 3) not in out  # both b docs shorter than 3 tokens

    with pytest.raises(ValueError, match="ns must be >= 1"):
        T.distinct_ngrams(docs, ns=(0, 2))


def test_source_divergence_extremes_and_oov_pool(spark):
    """Identical distributions → 0; disjoint unigram supports → 1 on
    both distances; tokens outside the vocabulary pool into ONE OOV
    mass bucket, so sources differing only in OOV tail *identity* are
    indistinguishable."""
    from pdtable_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "s1"),
            (2, "cc dd", "s2"),
            (3, "aa bb", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): (r["hellinger"], r["tvd"])
        for r in T.source_divergence(docs, vocab_size=10).collect()
    }
    assert out[("s1", "s3")] == (0.0, 0.0)
    h, tv = out[("s1", "s2")]
    assert abs(h - 1.0) < 1e-9 and abs(tv - 1.0) < 1e-9

    # vocab_size=1 → top token 't' in vocab, u/v pool into the OOV bucket
    docs2 = spark.createDataFrame(
        [(1, "t t u", "a"), (2, "t t v", "b")],
        "doc_id long, text string, source string",
    )
    rows = T.source_divergence(docs2, vocab_size=1).collect()
    assert len(rows) == 1
    assert rows[0]["hellinger"] == 0.0 and rows[0]["tvd"] == 0.0


def test_histogram_ledger_bins_and_quantiles(spark):
    """Hand-computed bins (underflow -1 / overflow n_bins / right edge
    lands inward), additive merge, and interpolated quantiles: 10
    uniform values in one bin interpolate linearly; q=1.0 hits the bin's
    upper edge; out-of-range mass clamps its estimate to the boundary."""
    from pdtable_spark.operators import monitor as M

    df = spark.createDataFrame(
        [(float(v), "a") for v in [-5.0, 0.0, 9.99, 10.0, 100.0, 55.5]]
        + [(None, "a")],
        "v double, source string",
    )
    led = {
        r["bin"]: r["n"]
        for r in M.histogram_ledger(df, "v", 0.0, 100.0, 10).collect()
    }
    # -5 underflows; 0 and 9.99 in bin 0; 10.0 in bin 1; 55.5 in bin 5;
    # 100.0 overflows (right-open grid); NULL dropped
    assert led == {-1: 1, 0: 2, 1: 1, 5: 1, 10: 1}

    # merge = addition: two copies of the same snapshot double every n
    one = M.histogram_ledger(df, "v", 0.0, 100.0, 10)
    merged = {
        r["bin"]: r["n"]
        for r in M.ledger_union(one.unionByName(one)).collect()
    }
    assert merged == {b: 2 * n for b, n in led.items()}

    # quantiles: 10 values uniform in [0, 10) -> bin 0 holds all mass;
    # p50 interpolates to 5.0, p100 to the bin's upper edge 10.0
    u = spark.createDataFrame(
        [(float(i), "a") for i in range(10)], "v double, source string"
    )
    lu = M.histogram_ledger(u, "v", 0.0, 100.0, 10)
    qs = {
        r["q"]: r["est"]
        for r in M.quantiles_from_ledger(lu, (0.5, 1.0), 0.0, 100.0, 10).collect()
    }
    assert qs == {0.5: 5.0, 1.0: 10.0}

    # all mass above hi -> overflow bin -> estimate clamps to hi
    o = spark.createDataFrame([(999.0, "a")], "v double, source string")
    lo_ = M.histogram_ledger(o, "v", 0.0, 100.0, 10)
    r = M.quantiles_from_ledger(lo_, (0.5,), 0.0, 100.0, 10).collect()
    assert [(x["q"], x["est"]) for x in r] == [(0.5, 100.0)]

    with pytest.raises(ValueError, match="hi > lo"):
        M.histogram_ledger(df, "v", 5.0, 5.0, 10)
    with pytest.raises(ValueError, match="n_bins >= 1"):
        M.histogram_ledger(df, "v", 0.0, 1.0, 0)


def test_sq_index_codes_and_dequant_roundtrip(spark):
    """Grid arithmetic: min codes to 0, max to `levels`, midpoints to the
    nearest grid line; constant dims code 0 and dequantize to their
    value; out-of-training-range vectors clamp to the grid edge; codes
    store as true 1-byte tinyints."""
    from pdtable_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(0, [0.0, 5.0, 1.0]), (1, [10.0, 5.0, 3.0]), (2, [5.0, 5.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    bounds = S.sq_bounds(emb)
    assert bounds == [[0.0, 10.0], [5.0, 5.0], [1.0, 3.0]]

    idx = S.sq_index(emb, bounds, levels=10)
    assert idx.schema["codes"].dataType.simpleString() == "array<tinyint>"
    codes = {
        r["vec_id"]: [c + 128 for c in r["codes"]] for r in idx.collect()
    }
    assert codes[0] == [0, 0, 0]       # mins; constant dim -> 0
    assert codes[1] == [10, 0, 10]     # maxes -> levels
    assert codes[2] == [5, 0, 5]       # midpoint -> levels/2

    # a vector outside the trained bounds clamps to the grid edge
    out = S.sq_index(
        spark.createDataFrame(
            [(9, [99.0, 5.0, -99.0])], "vec_id long, embedding array<double>"
        ),
        bounds,
        levels=10,
    ).collect()[0]
    assert [c + 128 for c in out["codes"]] == [10, 0, 0]

    with pytest.raises(ValueError, match="levels must be in 2..255"):
        S.sq_index(emb, bounds, levels=256)

    # full-grid retrieval on a small spread corpus matches exact top-k
    import random

    rnd = random.Random(7)
    big = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    b = S.sq_bounds(big)
    q = big.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sq = S.sq_query(S.sq_index(big, b), q, b, k=5).select("query_id", "vec_id")
    exact = S.cosine_topk(big, q, k=5).select("query_id", "vec_id")
    assert sq.subtract(exact).count() == 0 and exact.subtract(sq).count() == 0


def test_filter_agreement_kappa_hand_computed(spark):
    """Hand-computed kappa: perfect agreement -> 1; 'high raw agreement,
    imbalanced flags' deflates toward 0 (the chance-agreement illusion);
    both-constant-equal pairs have vacuous agreement -> NULL kappa; a
    NULL flag value fails loudly."""
    from pdtable_spark.operators import monitor as M

    # a == b always; c agrees with a 6/8 but is always-true
    rows = [
        (True, True, True),
        (True, True, True),
        (True, True, True),
        (True, True, True),
        (True, True, True),
        (True, True, True),
        (False, False, True),
        (False, False, True),
    ]
    df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
    out = {
        (r["filter_a"], r["filter_b"]): r for r in M.filter_agreement(
            df, ["a", "b", "c"]
        ).collect()
    }
    ab = out[("a", "b")]
    assert ab["n"] == 8 and ab["n_agree"] == 8 and ab["po"] == 1.0
    # po=1, pe = .75*.75+.25*.25 = .625 -> kappa = .375/.375 = 1.0
    assert ab["kappa"] == 1.0
    ac = out[("a", "c")]
    # po = 6/8; pe = .75*1 + .25*0 = .75 -> kappa = 0: c carries NO
    # information beyond its base rate despite 75% raw agreement
    assert ac["po"] == 0.75 and ac["kappa"] == 0.0

    # both constant-true: pe == 1 -> NULL kappa
    cc = spark.createDataFrame([(True, True)] * 4, "x boolean, y boolean")
    r = M.filter_agreement(cc, ["x", "y"]).collect()[0]
    assert r["po"] == 1.0 and r["kappa"] is None

    import pyspark.errors

    nn = spark.createDataFrame([(True, None)], "x boolean, y boolean")
    with pytest.raises(Exception, match="NULL in flag column 'y'"):
        M.filter_agreement(nn, ["x", "y"]).collect()
    with pytest.raises(ValueError, match="at least 2 flag columns"):
        M.filter_agreement(cc, ["x"])


def test_collocations_lift_hand_computed(spark):
    """Hand-computed lift on the bigram event space: an exclusive pair
    out-lifts a pair whose words are promiscuous; min_count floors the
    pair count; short/NULL docs contribute nothing."""
    from pdtable_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            # "a b" twice -> exclusive pair; "x" pairs with many seconds
            (1, "a b x p a b x q x r", "s"),
            (2, "x p x q", "s"),
            (3, None, "s"),
            (4, "solo", "s"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["w1"], r["w2"]): r for r in T.collocations(docs, k=50, min_count=2).collect()
    }
    # bigrams doc1: (a,b)(b,x)(x,p)(p,a)(a,b)(b,x)(x,q)(q,x)(x,r)
    # doc2: (x,p)(p,x)(x,q);  N = 12
    ab = rows[("a", "b")]
    assert (ab["n_pair"], ab["n_w1"], ab["n_w2"]) == (2, 2, 2)
    assert ab["lift"] == (2.0 * 12.0) / (2.0 * 2.0)  # 6.0 — exclusive
    xp = rows[("x", "p")]
    # x leads 5 bigrams ((x,p)x2, (x,q)x2, (x,r)) — its promiscuity
    # deflates the pair's lift below the exclusive (a,b)'s
    assert (xp["n_pair"], xp["n_w1"], xp["n_w2"]) == (2, 5, 2)
    assert xp["lift"] == (2.0 * 12.0) / (5.0 * 2.0)  # 2.4 < 6.0
    assert ("p", "a") not in rows  # n_pair=1 < min_count

    with pytest.raises(ValueError, match="k and min_count must be >= 1"):
        T.collocations(docs, k=0)


def test_sq_query_grid_mismatch_fails_loudly(spark):
    """Decoding an index at a different grid than it was encoded with is
    silently-wrong arithmetic — the stamped sq_levels column turns it
    into a loud row-side error."""
    from pdtable_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    b = S.sq_bounds(emb)
    idx = S.sq_index(emb, b, levels=15)
    q = emb.limit(2).withColumnRenamed("vec_id", "query_id")
    with pytest.raises(Exception, match="encoded at levels=15"):
        S.sq_query(idx, q, b, k=3, levels=255).collect()
    # matching grid passes
    assert S.sq_query(idx, q, b, k=3, levels=15).count() > 0


def test_sq_query_union_of_mixed_grids_fails_loudly(spark):
    """ADVICE r14 (medium): a union of indexes built at different
    ``levels`` keeps only the LEFT side's schema metadata, so the r14
    metadata fast path alone would silently decode the other side with
    the wrong grid arithmetic.  The in-projection row guard must raise
    on execution — while a pure single-builder index still passes with
    no extra driver job."""
    from pdtable_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    b = S.sq_bounds(emb)
    hi = S.sq_index(emb.filter("vec_id < 4"), b, levels=255)
    lo = S.sq_index(
        emb.filter("vec_id >= 4").withColumn(
            "vec_id", F.col("vec_id") + 100
        ),
        b,
        levels=15,
    )
    mixed = hi.unionByName(lo)
    # metadata on the union reflects the left side (255) — the build-time
    # check passes; the row guard must still catch the levels=15 rows
    q = emb.limit(2).withColumnRenamed("vec_id", "query_id")
    with pytest.raises(Exception, match="sq_levels"):
        S.sq_query(mixed, q, b, k=3, levels=255).collect()
    # single-builder index still green end to end
    assert S.sq_query(hi, q, b, k=3, levels=255).count() > 0


def test_quantile_ledger_fuzz_error_bound(spark):
    """Property: for any data and grid, the ledger quantile is within
    one bin width of the true order statistic whenever the mass sits
    inside the grid — the operator's whole accuracy contract."""
    import random

    from pdtable_spark.operators import monitor as M

    rnd = random.Random(42)
    for trial in range(4):
        n_bins = rnd.choice([5, 16, 64])
        lo, hi = 0.0, float(rnd.choice([10, 100]))
        vals = [rnd.uniform(lo, hi - 1e-9) for _ in range(rnd.randint(20, 200))]
        df = spark.createDataFrame(
            [(v, "g") for v in vals], "v double, source string"
        )
        led = M.histogram_ledger(df, "v", lo, hi, n_bins)
        qs = (0.1, 0.5, 0.9)
        got = {
            r["q"]: r["est"]
            for r in M.quantiles_from_ledger(led, qs, lo, hi, n_bins).collect()
        }
        width = (hi - lo) / n_bins
        sv = sorted(vals)
        for q in qs:
            import math

            true = sv[max(0, math.ceil(q * len(sv)) - 1)]
            assert abs(got[q] - true) <= width + 1e-9, (
                trial, q, got[q], true, width
            )


def test_collocations_fuzz_bruteforce(spark):
    """Random small corpora: lift, marginals, min_count boundary and the
    (lift desc, w1, w2) top-k order all match a driver-side reference."""
    import random

    from pdtable_spark.operators import text as T

    rnd = random.Random(13)
    for trial in range(3):
        vocab = [f"w{i}" for i in range(rnd.randint(3, 8))]
        docs = [
            (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 12))))
            for i in range(rnd.randint(5, 25))
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        k, mc = rnd.randint(3, 10), rnd.randint(1, 3)
        got = [tuple(r) for r in T.collocations(df, k=k, min_count=mc).collect()]

        # reference
        from collections import Counter

        pairs = Counter()
        for _, text in docs:
            # match the operator: split('\s+') of trim; empty text -> ['']
            ws = text.strip().split() if text.strip() else ([''] if text is not None else [])
            for a, b in zip(ws, ws[1:]):
                pairs[(a, b)] += 1
        c1, c2 = Counter(), Counter()
        for (a, b), c in pairs.items():
            c1[a] += c
            c2[b] += c
        N = sum(pairs.values())
        rows = [
            (a, b, c, c1[a], c2[b], (float(c) * float(N)) / (float(c1[a]) * float(c2[b])))
            for (a, b), c in pairs.items()
            if c >= mc
        ]
        rows.sort(key=lambda r: (-r[5], r[0], r[1]))
        assert got == rows[:k], (trial, got[:3], rows[:3])


def test_source_divergence_fuzz_bruteforce(spark):
    """Random corpora: Hellinger and TVD match a driver-side reference
    with the same quantized-term arithmetic."""
    import math
    import random

    from pdtable_spark.operators import text as T

    rnd = random.Random(23)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 20))),
         f"s{i % 3}")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    V = 5
    got = {
        (r["source_a"], r["source_b"]): (r["hellinger"], r["tvd"])
        for r in T.source_divergence(df, vocab_size=V).collect()
    }

    from collections import Counter

    tok = [(s, w) for _, text, s in docs for w in text.split()]
    tf = Counter(w for _, w in tok)
    top = sorted(tf.items(), key=lambda t: (-t[1], t[0]))[:V]
    vset = {w for w, _ in top}
    counts = Counter((s, w if w in vset else None) for s, w in tok)
    tot = Counter()
    for (s, _), c in counts.items():
        tot[s] += c
    dom = {kk for (_, kk) in counts}
    srcs = sorted(tot)
    Q = 1e15
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            h2q = tvq = 0
            for kk in dom:
                pa = counts.get((a, kk), 0) / tot[a]
                pb = counts.get((b, kk), 0) / tot[b]
                d = math.sqrt(pa) - math.sqrt(pb)
                h2q += math.floor(d * d * Q + 0.5)
                tvq += math.floor(abs(pa - pb) * Q + 0.5)
            want = (math.sqrt(h2q / Q / 2.0), tvq / Q / 2.0)
            assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_distinct_ngrams_fuzz_bruteforce(spark):
    """Random corpora: totals, distincts and ratios match a driver-side
    reference for every (group, n)."""
    import random

    from pdtable_spark.operators import text as T

    rnd = random.Random(31)
    vocab = [f"w{i}" for i in range(6)]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 9))) or None,
         f"s{i % 3}")
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {
        (r["source"], r["n"]): (r["n_total"], r["n_distinct"], r["distinct_ratio"])
        for r in T.distinct_ngrams(df, ns=(1, 2, 3)).collect()
    }

    from collections import defaultdict

    tot, dis = defaultdict(int), defaultdict(set)
    for _, text, s in docs:
        if text is None:
            continue
        ws = text.strip().split() if text.strip() else [""]
        for n in (1, 2, 3):
            for j in range(len(ws) - n + 1):
                g = " ".join(ws[j:j + n])
                tot[(s, n)] += 1
                dis[(s, n)].add(g)
    want = {
        k: (tot[k], len(dis[k]), len(dis[k]) / tot[k]) for k in tot
    }
    assert got == want


def test_gram_matrix_pca_numpy_parity(spark):
    """gram_matrix cells equal the numpy reference on the SAME 1e-6
    quantization (exact, not approximate); pca_basis recovers the
    dominant axis of an anisotropic cloud; pca_project equals the
    numpy matrix product."""
    import numpy as np

    from pdtable_spark.operators import similarity as S

    rng = np.random.RandomState(5)
    # anisotropic: x-axis variance 25x the rest
    X = rng.randn(80, 4) * np.array([5.0, 1.0, 0.5, 0.25])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    rows = S.gram_matrix(df).collect()
    assert len(rows) == 4 * 5 // 2
    Q = np.floor(X * 1e6 + 0.5)
    n = len(Q)
    for r in rows:
        i, j = r["i"], r["j"]
        sp = float(np.sum(Q[:, i] * Q[:, j]))
        si, sj = float(Q[:, i].sum()), float(Q[:, j].sum())
        assert r["gram"] == sp / 1e12 / n
        assert r["cov"] == (sp - si * sj / n) / 1e12 / n

    comps, eig = S.pca_basis(rows, 4)
    assert eig[0] > 5 * eig[1]  # the x-axis dominates
    assert abs(abs(comps[0][0]) - 1.0) < 0.05  # first axis ~ e_x

    proj = {r["vec_id"]: list(r["pca"]) for r in S.pca_project(df, comps[:2]).collect()}
    B = np.array(comps[:2])
    for i in range(0, 80, 17):
        want = B @ X[i]
        assert np.allclose(proj[i], want, atol=1e-9)


def test_histogram_ledger_grid_mismatch_fails_loudly(spark):
    """Merging or interpolating ledgers under a different grid is
    silently-wrong arithmetic — the grid stamp turns both into loud
    errors (the sq_levels pattern)."""
    from pdtable_spark.operators import monitor as M

    df = spark.createDataFrame(
        [(float(v), "a") for v in range(10)], "v double, source string"
    )
    a = M.histogram_ledger(df, "v", 0.0, 100.0, 10)
    b = M.histogram_ledger(df, "v", 0.0, 200.0, 10)
    with pytest.raises(ValueError, match="mixed histogram grids"):
        M.ledger_union(a.unionByName(b))
    with pytest.raises(ValueError, match="silently-wrong arithmetic refused"):
        M.quantiles_from_ledger(a, (0.5,), 0.0, 200.0, 10).collect()
    # matching grid still flows end-to-end
    out = M.quantiles_from_ledger(
        M.ledger_union(a.unionByName(a)), (0.5,), 0.0, 100.0, 10
    ).collect()
    assert out[0]["est"] == 5.0


def test_heavy_hitter_ledger_hand_computed_merge_bounds(spark):
    """Hand-computed two-snapshot merge: floors come off the (m+1)-th
    row, est_lo sums observed counts, est_hi adds the floors of absent
    snapshots, and est_lo <= true <= est_hi holds through a truncation
    that actually drops a heavy key (c is cut from snapshot A)."""
    from pdtable_spark.operators import monitor

    def df_of(counts):
        rows = [("g", k) for k, n in counts.items() for _ in range(n)]
        return spark.createDataFrame(rows, "source string, key string")

    a = monitor.heavy_hitter_ledger(df_of({"a": 5, "b": 3, "c": 2, "d": 1}), "key", m=2)
    b = monitor.heavy_hitter_ledger(df_of({"c": 4, "a": 1, "e": 1}), "key", m=2)
    arows = {r["key"]: r for r in a.collect()}
    brows = {r["key"]: r for r in b.collect()}
    assert set(arows) == {"a", "b"} and arows["a"]["floor"] == 2  # c dropped
    # B ties a/e at 1 -> key asc keeps a; floor is e's 1
    assert set(brows) == {"c", "a"} and brows["c"]["floor"] == 1
    stacked = a.withColumn("snapshot", F.lit(0)).unionByName(
        b.withColumn("snapshot", F.lit(1))
    )
    top = {r["key"]: r for r in monitor.heavy_hitters_from_ledgers(stacked, k=4).collect()}
    true = {"a": 6, "b": 3, "c": 6, "d": 1, "e": 1}
    assert top["a"]["est_lo"] == 6 and top["a"]["est_hi"] == 6  # present in both
    assert top["b"]["est_lo"] == 3 and top["b"]["est_hi"] == 3 + 1  # absent from B
    assert top["c"]["est_lo"] == 4 and top["c"]["est_hi"] == 4 + 2  # cut from A
    for k_, r in top.items():
        assert r["est_lo"] <= true[k_] <= r["est_hi"], (k_, dict(r.asDict()))
    # deterministic order: (est_lo desc, key asc)
    ranked = sorted(top.values(), key=lambda r: r["rank"])
    assert [r["key"] for r in ranked] == ["a", "c", "b"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="m >= 1"):
        monitor.heavy_hitter_ledger(df_of({"a": 1}), "key", m=0)
    with _pytest.raises(ValueError, match="k >= 1"):
        monitor.heavy_hitters_from_ledgers(stacked, k=0)


def test_heavy_hitter_ledger_fuzz_guarantees(spark):
    """Property over random snapshots: for every surfaced key,
    est_lo <= true <= est_hi; every key whose true group total exceeds
    the group's summed floors DOES surface (the mergeable-summary
    guarantee); est_lo equals true when nothing was truncated."""
    import random

    from pdtable_spark.operators import monitor

    rng = random.Random(907)
    for trial in range(4):
        m = rng.choice([1, 2, 3, 5])
        snaps = []
        true: dict = {}
        for s in range(3):
            rows = []
            for g in ("x", "y"):
                for _ in range(rng.randrange(0, 40)):
                    k_ = chr(97 + rng.randrange(8))
                    rows.append((g, k_))
                    true[(g, k_)] = true.get((g, k_), 0) + 1
            df = spark.createDataFrame(rows or [("x", "a")], "source string, key string")
            if not rows:
                df = df.limit(0)
            snaps.append(
                monitor.heavy_hitter_ledger(df, "key", m=m).withColumn(
                    "snapshot", F.lit(s)
                )
            )
        stacked = snaps[0].unionByName(snaps[1]).unionByName(snaps[2])
        floors = {
            (r["snapshot"], r["source"]): r["floor"]
            for r in stacked.select("snapshot", "source", "floor").distinct().collect()
        }
        tot_floor = {}
        for (s, g), f in floors.items():
            tot_floor[g] = tot_floor.get(g, 0) + f
        out = monitor.heavy_hitters_from_ledgers(stacked, k=100).collect()
        seen = {(r["source"], r["key"]) for r in out}
        for r in out:
            t = true.get((r["source"], r["key"]), 0)
            assert r["est_lo"] <= t <= r["est_hi"], (trial, dict(r.asDict()), t)
            if tot_floor.get(r["source"], 0) == 0:
                assert r["est_lo"] == t
        for (g, k_), t in true.items():
            if t > tot_floor.get(g, 0):
                assert (g, k_) in seen, (trial, g, k_, t, tot_floor)


def test_bigram_lm_nll_hand_computed(spark):
    """Hand-computed frozen bigram LM: interpolated conditionals on the
    reference slice, Laplace unigram floor for unseen pairs/contexts,
    sub-2-token docs absent, and the quantized-mean determinism
    pattern reproduced exactly driver-side."""
    import math

    from pdtable_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (0, "a b a c"),   # reference: N=4, V=3; bigrams ab, ba, ac
            (1, "a b x"),     # scored: seen pair + unseen-token pair
            (3, "z z"),       # scored: unseen context twice
            (5, "solo"),      # scored: no bigram -> absent
            (7, None),        # scored: NULL text -> absent
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.bigram_lm_nll(df, F.col("doc_id") % 2 == 0).collect()
    }

    def q(p):
        return math.floor(round(-math.log(p), 9) * 1e9)

    lam, n, v = 0.7, 4, 3
    def pu(cu):
        return (1.0 - lam) * ((cu + 1) / float(n + v + 1))

    p_ab = lam * (1 / 2) + pu(1)   # c(a,b)=1, c(a.)=2, cu(b)=1
    p_bx = 0.0 + pu(0)             # unseen pair, unseen token
    assert out[1]["n_bigrams"] == 2
    assert out[1]["mean_nll"] == (q(p_ab) + q(p_bx)) / (1e9 * 2.0)
    p_zz = 0.0 + pu(0)             # unseen context entirely
    assert out[3]["n_bigrams"] == 1
    assert out[3]["mean_nll"] == q(p_zz) / 1e9
    # the reference slice scores too (callers filter if they want)
    assert out[0]["n_bigrams"] == 3
    assert 5 not in out and 7 not in out
    # fluent text under the model scores lower than gibberish
    assert out[0]["mean_nll"] < out[3]["mean_nll"]


def test_ngram_lm_nll_order3_hand_computed(spark):
    """Order-3 generalization: the context is the previous two tokens,
    unseen contexts fall to the unigram floor, sub-3-token docs are
    absent, and order=2 remains byte-identical to bigram_lm_nll."""
    import math

    from pdtable_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (0, "a b c a b d"),  # reference: trigrams abc, bca, cab, abd
            (1, "a b c"),        # scored: seen trigram
            (3, "a b"),          # scored: too short for order 3 -> absent
            (5, "x y z"),        # scored: unseen everything
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.ngram_lm_nll(df, F.col("doc_id") % 2 == 0, order=3).collect()
    }

    def q(p):
        return math.floor(round(-math.log(p), 9) * 1e9)

    lam, n, v = 0.7, 6, 4  # ref tokens: a b c a b d -> N=6, V=4
    # ctx 'a b' continues with c or d (1 of 2); cu('c') = 1 in the reference
    p_abc = lam * (1 / 2) + (1 - lam) * ((1 + 1) / (n + v + 1))
    assert out[1]["n_ngrams"] == 1
    assert out[1]["mean_nll"] == q(p_abc) / 1e9
    p_unseen = 0.0 + (1 - lam) * (1 / (n + v + 1))
    assert out[5]["n_ngrams"] == 1
    assert out[5]["mean_nll"] == q(p_unseen) / 1e9
    assert 3 not in out
    # order=2 path unchanged: wrapper equals the generic spelling
    a = sorted(map(tuple, T.bigram_lm_nll(df, F.col("doc_id") % 2 == 0).collect()))
    b = sorted(
        map(tuple, T.ngram_lm_nll(df, F.col("doc_id") % 2 == 0, order=2).collect())
    )
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order >= 2"):
        T.ngram_lm_nll(df, F.col("doc_id") % 2 == 0, order=1)
    # lam outside [0, 1) kills the strictly-positive unigram floor: an
    # unseen window would hit -ln(0)=inf and poison mean_nll silently
    # (ADVICE r9) — loud instead
    for bad in (1.0, -0.1, 1.5):
        with _pytest.raises(ValueError, match="lam"):
            T.ngram_lm_nll(df, F.col("doc_id") % 2 == 0, lam=bad)


def test_ngram_lm_nll_context_separator_injective(spark):
    """Context joining must not conflate distinct contexts when a token
    contains a control character: tokens cannot contain whitespace, so
    the space-joined context is injective (the \\x1f separator was not
    — review r9)."""
    import math

    from pdtable_spark.operators import text as T

    t1, t2 = "a\x1fb", "b\x1fc"  # legal tokens: no whitespace inside
    df = spark.createDataFrame(
        [
            (0, f"{t1} c X"),   # reference: ctx ('a\x1fb', 'c') -> X
            (2, f"a {t2} Y"),   # reference: ctx ('a', 'b\x1fc') -> Y
            (1, f"{t1} c X"),   # scored: its ctx has exactly ONE continuation
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.ngram_lm_nll(df, F.col("doc_id") % 2 == 0, order=3).collect()
    }
    lam, n, v = 0.7, 6, 6
    # under the old conflating separator both refs shared one ctx and
    # the trigram term was 1/2; injective ctx -> 1/1
    p = lam * 1.0 + (1 - lam) * ((1 + 1) / (n + v + 1))
    assert out[1]["mean_nll"] == math.floor(round(-math.log(p), 9) * 1e9) / 1e9


def test_train_quality_classifier_dict_path_end_to_end(spark):
    """The model-based-filtering loop closes through the MAP-LITERAL
    serving path: train on a labeled seed set (as_dict=True — zero
    coefficients dropped, the bounded artifact), serve the frozen dict
    through classifier_score, and the separable synthetic corpus
    classifies perfectly with the expected weight signs; NULLs in the
    training set fail loudly."""
    from pdtable_spark.operators import text as T

    rows = []
    for i in range(40):
        rows.append((2 * i, f"great insightful great prose {i % 3}", 1))
        rows.append((2 * i + 1, f"spam click spam buy {i % 3}", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    weights, bias = T.train_quality_classifier(
        df, "label", vocab_size=64, as_dict=True
    )
    assert isinstance(weights, dict)
    assert weights["great"] > 0 > weights["spam"]
    scored = T.classifier_score(df, weights, bias=bias)
    out = scored.select("doc_id", "label", "clf_prob").collect()
    assert all((r["clf_prob"] >= 0.5) == (r["label"] == 1) for r in out)

    import pytest as _pytest

    withnull = df.unionByName(
        spark.createDataFrame([(999, None, 1)], "doc_id long, text string, label int")
    )
    with _pytest.raises(ValueError, match="NULL text or label"):
        T.train_quality_classifier(withnull, "label")


def test_freeze_classifier_train_freeze_serve_loop(spark):
    """The train → freeze → serve loop behind the recipe query
    (pipeline_model_quality_recipe): freezing a trained model to binary fractions keeps a
    separable fixture perfectly separated, every frozen weight is an
    exact multiple of 2^-quantum, top_k truncation is deterministic
    (|weight| desc, term asc), zero-quantized terms drop, and the dict
    and DataFrame trainer outputs freeze to the SAME artifact."""
    from pdtable_spark.operators import text as T

    rows = []
    for i in range(40):
        rows.append((2 * i, f"great insightful great prose {i % 3}", 1))
        rows.append((2 * i + 1, f"spam click spam buy {i % 3}", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    wd, bias = T.train_quality_classifier(df, "label", vocab_size=64, as_dict=True)
    frozen, fbias = T.freeze_classifier(wd, bias, quantum_bits=6)
    q = 1 << 6
    assert all(float(w * q).is_integer() and w != 0.0 for w in frozen.values())
    assert float(fbias * q).is_integer()
    scored = T.classifier_score(df, frozen, bias=fbias)
    out = scored.select("label", "clf_prob").collect()
    assert all((r["clf_prob"] >= 0.5) == (r["label"] == 1) for r in out)
    # DataFrame-form weights freeze identically to the dict form
    wdf, bias2 = T.train_quality_classifier(df, "label", vocab_size=64)
    frozen2, fbias2 = T.freeze_classifier(wdf, bias2, quantum_bits=6)
    assert frozen2 == frozen and fbias2 == fbias
    # top_k keeps the largest |weight| terms, ties broken on the term
    top2, _ = T.freeze_classifier(wd, bias, quantum_bits=6, top_k=2)
    full_rank = sorted(wd.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[:2]
    assert set(top2) <= {t for t, _ in full_rank}
    # a weight under half the quantum freezes to zero and drops
    tiny, _ = T.freeze_classifier({"x": 0.001, "y": 0.5}, 0.0, quantum_bits=6)
    assert tiny == {"y": 0.5}


def test_image_meta_header_only(spark):
    """Zero-decode image metadata: real PNG/GIF/BMP headers parse to
    (format, width, height) via pure column expressions; JPEG dims come
    from the bounded SOF marker walk (baseline and progressive, through
    variable-length APPn/COM segments and fill bytes), and every corrupt
    shape — truncated segment, SOS before SOF, non-marker byte, cap
    exhausted — degrades to NULL dims, never garbage; garbage and NULL
    payloads report NULL format; a top-down BMP (negative biHeight)
    reports |height|.  The plan stays codegen — no Python stages."""
    import struct
    import zlib

    def png(w, h):
        ihdr = struct.pack(">II", w, h) + bytes([8, 0, 0, 0, 0])
        chunk = b"IHDR" + ihdr
        return (
            bytes([0x89]) + b"PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )

    def gif(w, h, magic=b"GIF89a"):
        return magic + struct.pack("<HH", w, h) + bytes([0, 0, 0])

    def bmp(w, h, bisize=40):
        return (
            b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
            + struct.pack("<IiiHH", bisize, w, h, 1, 24) + bytes(24)
        )

    def seg(marker, payload=b""):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sof(w, h, marker=0xC0):
        # precision 8, HEIGHT then WIDTH (T.81 B.2.2), 3 components
        return seg(
            marker,
            bytes([8]) + struct.pack(">HH", h, w)
            + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )

    soi = bytes([0xFF, 0xD8])
    jfif = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")

    def webp(tag, payload):
        payload = payload + bytes(max(0, 18 - len(payload)))  # pad past guards
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(payload)) + b"WEBP"
            + tag + struct.pack("<I", len(payload)) + payload
        )

    rows = [
        (1, png(640, 480)),
        (2, gif(320, 200)),
        (3, bmp(100, 50)),
        (4, bmp(100, -50)),                     # top-down: |height|
        # truncated APP0 (bogus segment length points past the end):
        # format recognized, walk fails closed → NULL dims
        (5, bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"JFIF"),
        (6, b"not an image"),
        (7, None),
        (8, gif(64, 32, magic=b"GIF87a")),      # the 87a arm of the magic
        # OS/2 BITMAPCOREHEADER (biSize=12, 2-byte dims at other
        # offsets): format recognized, dims NULL — never garbage
        (9, b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 100, 50, 1, 24)),
        # baseline JFIF: SOF0 behind APP0 + a variable-length COM
        (10, soi + jfif + seg(0xFE, b"a comment") + sof(1280, 720)),
        # progressive (SOF2) behind a big EXIF APP1 + fill FF bytes
        (11, soi + seg(0xE1, b"Exif\x00\x00" + bytes(300)) + b"\xff"
             + sof(800, 601, marker=0xC2)),
        # SOF immediately after SOI (no APPn at all)
        (12, soi + sof(17, 9)),
        # SOS before any SOF: fail closed
        (13, soi + jfif + seg(0xDA, bytes([1, 1, 0])) + sof(9, 9)),
        # EOI before any SOF: fail closed
        (14, soi + jfif + bytes([0xFF, 0xD9])),
        # SOF truncated mid-dimensions: fail closed
        (15, soi + jfif + (sof(1280, 720)[:7])),
        # non-FF byte where a marker must start: fail closed
        (16, soi + jfif + b"garbage entropy bytes"),
        # more segments than the walk cap: fail closed (not garbage)
        (17, soi + seg(0xFE) * 100 + sof(5, 5)),
        # DHT (C4) is NOT a SOF even though it's in C0-CF: hop it
        (18, soi + seg(0xC4, bytes(19)) + sof(33, 44)),
        # RST standalone marker between segments: hop 2 bytes
        (19, soi + bytes([0xFF, 0xD0]) + sof(21, 12)),
        # WebP, all three first-chunk variants
        (20, webp(b"VP8X", bytes(4) + struct.pack("<I", 1280 - 1)[:3]
                  + struct.pack("<I", 720 - 1)[:3])),
        (21, webp(b"VP8 ", bytes(3) + bytes([0x9D, 0x01, 0x2A])
                  + struct.pack("<HH", 640, 480))),
        (22, webp(b"VP8L", bytes([0x2F]) + struct.pack(
            "<I", (99 - 1) | ((77 - 1) << 14)))),
        # unknown first chunk / bad VP8 sync: format only, NULL dims
        (23, webp(b"ANMF", bytes(12))),
        (24, webp(b"VP8 ", bytes(3) + bytes([0x00, 0x01, 0x2A]) + bytes(4))),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r["asset_id"]: r for r in multimodal.image_meta(df).collect()}
    assert (out[1]["img_format"], out[1]["img_width"], out[1]["img_height"]) == ("png", 640, 480)
    assert (out[2]["img_format"], out[2]["img_width"], out[2]["img_height"]) == ("gif", 320, 200)
    assert (out[3]["img_format"], out[3]["img_width"], out[3]["img_height"]) == ("bmp", 100, 50)
    assert (out[4]["img_format"], out[4]["img_height"]) == ("bmp", 50)
    assert out[5]["img_format"] == "jpeg" and out[5]["img_width"] is None
    assert out[6]["img_format"] is None and out[7]["img_format"] is None
    assert (out[8]["img_format"], out[8]["img_width"], out[8]["img_height"]) == ("gif", 64, 32)
    assert out[9]["img_format"] == "bmp" and out[9]["img_width"] is None
    assert (out[10]["img_format"], out[10]["img_width"], out[10]["img_height"]) == ("jpeg", 1280, 720)
    assert (out[11]["img_format"], out[11]["img_width"], out[11]["img_height"]) == ("jpeg", 800, 601)
    assert (out[12]["img_width"], out[12]["img_height"]) == (17, 9)
    for bad in (13, 14, 15, 16, 17):
        assert out[bad]["img_format"] == "jpeg", bad
        assert out[bad]["img_width"] is None and out[bad]["img_height"] is None, bad
    assert (out[18]["img_width"], out[18]["img_height"]) == (33, 44)
    assert (out[19]["img_width"], out[19]["img_height"]) == (21, 12)
    assert (out[20]["img_format"], out[20]["img_width"], out[20]["img_height"]) == ("webp", 1280, 720)
    assert (out[21]["img_format"], out[21]["img_width"], out[21]["img_height"]) == ("webp", 640, 480)
    assert (out[22]["img_format"], out[22]["img_width"], out[22]["img_height"]) == ("webp", 99, 77)
    for wid in (23, 24):
        assert out[wid]["img_format"] == "webp" and out[wid]["img_width"] is None, wid
    plan = multimodal.image_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan  # pure codegen scan


def test_audio_meta_header_only(spark):
    """Zero-decode audio metadata: REAL stdlib-wave WAV files parse to
    (format, channels, rate, bits, data bytes, exact floor-ms duration)
    via the bounded chunk walk; extra chunks before fmt/data and
    data-before-fmt ordering both resolve; truncated chunk lists keep
    the fields they reached (NULL for the rest, never garbage); FLAC /
    Ogg / ID3-MP3 report format only; garbage and NULL payloads report
    NULL format.  The plan stays codegen — no Python stages."""
    import io
    import struct
    import wave

    from pdtable_spark.operators import multimodal

    def real_wav(ch, rate, width, nframes):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setframerate(rate)
            w.setsampwidth(width)
            w.writeframes(b"\x01\x02" * (nframes * ch * width // 2))
        return buf.getvalue()

    def chunk(cid, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    def fmt_chunk(ch, rate, bits):
        return chunk(
            b"fmt ",
            struct.pack(
                "<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
                ch * bits // 8, bits,
            ),
        )

    def riff(*chunks):
        body = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def id3(tagsize, footer=False):
        # ID3v2.4 header: 'ID3' ver(2) flags(1) syncsafe size(4), then
        # tagsize bytes of tag body (+10 footer bytes when flagged)
        flags = 0x10 if footer else 0
        ss = bytes(
            [(tagsize >> 21) & 127, (tagsize >> 14) & 127,
             (tagsize >> 7) & 127, tagsize & 127]
        )
        return (
            b"ID3\x04\x00" + bytes([flags]) + ss + bytes(tagsize)
            + (bytes(10) if footer else b"")
        )

    def ogg_page(packet, nsegs=1):
        # 27-byte page header + nsegs-byte segment table + the packet
        hdr = b"OggS\x00\x02" + bytes(8) + bytes(4) + bytes(4) + bytes(4)
        segs = bytes([len(packet)] + [0] * (nsegs - 1))
        return hdr + bytes([nsegs]) + segs + packet

    def flac_streaminfo(rate, ch, bps, total, first_type=0):
        data = struct.pack(">HH", 4096, 4096) + bytes(6)  # block/frame sizes
        packed = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
        data += struct.pack(">Q", packed) + bytes(16)      # + md5
        hdr = bytes([first_type]) + struct.pack(">I", len(data))[1:]
        return b"fLaC" + hdr + data

    rows = [
        (1, real_wav(1, 16000, 2, 16000)),        # mono 16 kHz s16: 1000 ms
        (2, real_wav(2, 44100, 2, 4410)),         # stereo 44.1 kHz: 100 ms
        # LIST + fact chunks BEFORE fmt, data before fmt (legal layouts)
        (3, riff(chunk(b"LIST", b"INFOsoftware"), fmt_chunk(1, 8000, 8),
                 chunk(b"data", b"\x80" * 800))),  # 100 ms of 8-bit mono
        (4, riff(chunk(b"data", b"\x00\x01" * 120), fmt_chunk(2, 12000, 16))),
        # fmt present, chunk list then truncated: rate survives, data NULL
        (5, riff(fmt_chunk(1, 22050, 16))[:40]),
        (6, b"fLaC" + bytes(30)),
        (7, b"OggS" + bytes(30)),
        (8, b"ID3\x04\x00" + bytes(30)),
        (9, b"not audio at all"),
        (10, None),
        # odd-sized chunk: the pad byte must be hopped to reach data
        (11, riff(chunk(b"LIST", b"abc"), fmt_chunk(1, 1000, 8),
                  chunk(b"data", b"\x80" * 250))),
        # Ogg first pages: the id packet sits past the segment table
        (16, ogg_page(b"OpusHead\x01\x02\x38\x01" + struct.pack("<I", 48000)
                      + b"\x00\x00\x00")),
        (17, ogg_page(b"\x01vorbis" + struct.pack("<IB I", 0, 2, 44100)
                      + bytes(13), nsegs=2)),
        # OggS but a data page first (no id packet): format only
        (18, ogg_page(b"\x42\x17raw audio data")),
        # MP3: ID3v2 tag (syncsafe size crossing a 7-bit byte) then an
        # MPEG1 Layer III 44.1 kHz stereo frame header
        (19, id3(200) + bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(8)),
        # MPEG2.5 (version bits 00) Layer III, sr idx 1 -> 12000, mono
        (20, id3(3) + bytes([0xFF, 0xE2, 0x94, 0xC0]) + bytes(8)),
        # footer flag set: frame sits 10 further out
        (21, id3(3, footer=True) + bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(4)),
        # garbage where the tag says audio starts: fail closed
        (22, id3(3) + b"noise"),
        # reserved samplerate index: fail closed
        (23, id3(3) + bytes([0xFF, 0xFB, 0x9C, 0x00]) + bytes(4)),
        # FLAC STREAMINFO (spec-mandated first block): bit-packed fields
        (12, flac_streaminfo(44100, 2, 16, 44100)),        # 1000 ms
        # high bits of every packed field: 192 kHz, 8 ch, 24 bps, a
        # 36-bit total-samples value crossing the 32-bit boundary
        (13, flac_streaminfo(192000, 8, 24, (7 << 32) + 5)),
        # first block is NOT STREAMINFO: fail closed to NULL fields
        (14, flac_streaminfo(44100, 2, 16, 44100, first_type=4)),
        # truncated before the packed fields: fail closed
        (15, flac_streaminfo(44100, 2, 16, 44100)[:20]),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r["asset_id"]: r for r in multimodal.audio_meta(df).collect()}

    def wavrow(r):
        return (r["audio_format"], r["n_channels"], r["sample_rate"],
                r["bits_per_sample"], r["data_bytes"], r["duration_ms"])

    assert wavrow(out[1]) == ("wav", 1, 16000, 16, 32000, 1000)
    assert wavrow(out[2]) == ("wav", 2, 44100, 16, 17640, 100)
    assert wavrow(out[3]) == ("wav", 1, 8000, 8, 800, 100)
    assert wavrow(out[4]) == ("wav", 2, 12000, 16, 240, 5)
    assert (out[5]["audio_format"], out[5]["sample_rate"]) == ("wav", 22050)
    assert out[5]["data_bytes"] is None and out[5]["duration_ms"] is None
    # bare fLaC magic with zeroed header: type reads 0 but the length
    # field is < 34, so fields stay NULL (never garbage)
    for aid, f in ((6, "flac"), (7, "ogg"), (8, "mp3")):
        assert out[aid]["audio_format"] == f, aid
        assert out[aid]["sample_rate"] is None and out[aid]["duration_ms"] is None
    assert out[9]["audio_format"] is None and out[10]["audio_format"] is None
    assert wavrow(out[11]) == ("wav", 1, 1000, 8, 250, 250)
    assert wavrow(out[12]) == ("flac", 2, 44100, 16, None, 1000)
    total13 = (7 << 32) + 5
    assert wavrow(out[13]) == (
        "flac", 8, 192000, 24, None, total13 * 1000 // 192000
    )
    for bad in (14, 15):
        assert out[bad]["audio_format"] == "flac", bad
        assert out[bad]["sample_rate"] is None and out[bad]["duration_ms"] is None
    # Ogg id packets: channels + the id header's sample rate; duration
    # stays NULL (it lives in the LAST page's granule position)
    assert wavrow(out[16]) == ("ogg", 2, 48000, None, None, None)
    assert wavrow(out[17]) == ("ogg", 2, 44100, None, None, None)
    assert wavrow(out[18]) == ("ogg", None, None, None, None, None)
    # MP3 first frame header past the syncsafe ID3 tag (+footer)
    assert wavrow(out[19]) == ("mp3", 2, 44100, None, None, None)
    assert wavrow(out[20]) == ("mp3", 1, 12000, None, None, None)
    assert wavrow(out[21]) == ("mp3", 2, 44100, None, None, None)
    assert wavrow(out[22]) == ("mp3", None, None, None, None, None)
    assert wavrow(out[23]) == ("mp3", None, None, None, None, None)
    plan = multimodal.audio_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan  # pure codegen scan


def test_gram_ledger_merge_bit_identical(spark):
    """The moment ledger is exactly mergeable: gram_from_ledgers over
    per-snapshot gram_ledger states equals the one-pass gram_matrix over
    the concatenated corpus BIT-FOR-BIT (exact integers in, shared
    finalize out), snapshot-extra columns are ignored, and a three-way
    split merges the same as a two-way one."""
    import random

    from pyspark.sql import functions as F

    from pdtable_spark.operators import similarity

    rng = random.Random(77)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    whole = sorted(map(tuple, similarity.gram_matrix(df).collect()))

    def split_merge(mod):
        stacked = None
        for s in range(mod):
            led = similarity.gram_ledger(
                df.filter(F.col("vec_id") % mod == s)
            ).withColumn("snapshot", F.lit(s))
            stacked = led if stacked is None else stacked.unionByName(led)
        return sorted(map(tuple, similarity.gram_from_ledgers(stacked).collect()))

    assert split_merge(2) == whole
    assert split_merge(3) == whole


def test_video_meta_header_only(spark):
    """Zero-decode video metadata: REAL `_make_avi` containers parse to
    (format, dims, frame count, per-frame us, exact floor-ms duration)
    via the bounded header walk; JUNK padding before hdrl is hopped; a
    truncated header keeps format with NULL fields, never garbage;
    MP4 / WebM-EBML / MPEG-PS report format only; garbage and NULL
    payloads report NULL format.  Plan stays codegen — no Python."""
    import struct

    from pdtable_spark.operators import multimodal

    px = [[(1, 2, 3)] * 3 for _ in range(2)]  # 3x2 frames
    avi2 = _make_avi([px, px], fps=2)          # 2 frames @ 2 fps: 1000 ms
    avi4 = _make_avi([px], fps=4, topdown=True)  # 1 frame @ 4 fps: 250 ms

    def chunk(fcc, data):
        return fcc + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    junked = avi2[:12] + chunk(b"JUNK", b"\x00" * 9) + avi2[12:]

    def box(fourcc, body):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    def mp4(timescale, duration, v=0, pre=b"", moov_last=False):
        if v == 0:
            body = bytes(4) + struct.pack(">IIII", 0, 0, timescale, duration)
        else:
            body = bytes([1, 0, 0, 0]) + struct.pack(
                ">QQIQ", 0, 0, timescale, duration
            )
        moov = box(b"moov", box(b"mvhd", body + bytes(80)))
        ftyp = box(b"ftyp", b"isom" + bytes(4))
        mdat = box(b"mdat", bytes(32))
        return (
            ftyp + mdat + pre + moov if moov_last else ftyp + pre + moov + mdat
        )

    rows = [
        (1, avi2),
        (2, avi4),
        (3, junked),                     # JUNK (odd size + pad) before hdrl
        (4, avi2[:30]),                  # truncated inside hdrl
        # bare ftyp, nothing else readable: format only
        (5, struct.pack(">I", 24) + b"ftypisom" + bytes(16)),
        (6, bytes([0x1A, 0x45, 0xDF, 0xA3]) + bytes(20)),
        (7, bytes([0x00, 0x00, 0x01, 0xBA]) + bytes(20)),
        (8, b"definitely not video"),
        (9, None),
        # faststart MP4, mvhd v0: 90 s at timescale 600
        (10, mp4(600, 54000)),
        # v1 (64-bit times), a free box hopped before moov
        (11, mp4(90000, 90000 * 3 + 1, v=1, pre=box(b"free", bytes(6)))),
        # the non-faststart layout (moov after mdat inside the payload
        # still resolves — the walk hops mdat)
        (12, mp4(1000, 2500, moov_last=True)),
        # mdat size pointing past the available bytes (the REAL trailing
        # -moov shape a header-prefix read sees): fail closed
        (13, box(b"ftyp", b"isom" + bytes(4))
             + struct.pack(">I", 1 << 30) + b"mdat" + bytes(64)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r["asset_id"]: r for r in multimodal.video_meta(df).collect()}

    def vrow(r):
        return (r["video_format"], r["vid_width"], r["vid_height"],
                r["n_frames"], r["us_per_frame"], r["duration_ms"])

    assert vrow(out[1]) == ("avi", 3, 2, 2, 500000, 1000)
    assert vrow(out[2]) == ("avi", 3, 2, 1, 250000, 250)
    assert vrow(out[3]) == ("avi", 3, 2, 2, 500000, 1000)
    assert out[4]["video_format"] == "avi" and out[4]["vid_width"] is None
    assert out[4]["duration_ms"] is None
    for aid, f in ((5, "mp4"), (6, "webm"), (7, "mpeg")):
        assert out[aid]["video_format"] == f and out[aid]["n_frames"] is None
    assert out[8]["video_format"] is None and out[9]["video_format"] is None
    # MP4 mvhd: duration_ms = duration*1000 // timescale, exact floor;
    # dims/frames stay NULL (tkhd is per-track — decode path)
    assert (out[10]["video_format"], out[10]["duration_ms"]) == ("mp4", 90000)
    assert out[10]["vid_width"] is None and out[10]["n_frames"] is None
    assert out[11]["duration_ms"] == (90000 * 3 + 1) * 1000 // 90000
    assert out[12]["duration_ms"] == 2500
    assert out[13]["video_format"] == "mp4" and out[13]["duration_ms"] is None
    plan = multimodal.video_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_ngram_lm_nll_fuzz_vs_bruteforce(spark):
    """Property: for random tiny corpora and orders, ngram_lm_nll equals
    a pure-Python reference model exactly (the quantization makes the
    comparison bit-exact, not approximate)."""
    import math
    import random

    from pdtable_spark.operators import text as T

    rng = random.Random(4242)
    for trial in range(3):
        order = rng.choice([2, 3])
        vocab = ["aa", "bb", "cc", "dd"]
        docs = []
        for i in range(14):
            n = rng.randrange(0, 7)
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n)) or None))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        ref_ids = {i for i, _ in docs if i % 2 == 0}

        # pure-Python reference
        def toks(s):
            return s.strip().split() if s and s.strip() != "" else ([""] if s is not None else [])

        ref_docs = [toks(t) for i, t in docs if i in ref_ids and t is not None]
        uni: dict = {}
        for ws in ref_docs:
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
        n_tot, v_tot = sum(uni.values()), len(uni)
        big: dict = {}
        ctx: dict = {}
        for ws in ref_docs:
            for j in range(len(ws) - order + 1):
                c = " ".join(ws[j : j + order - 1])
                w = ws[j + order - 1]
                big[(c, w)] = big.get((c, w), 0) + 1
                ctx[c] = ctx.get(c, 0) + 1
        lam = 0.7
        want = {}
        for i, t in docs:
            if t is None:
                continue
            ws = toks(t)
            qs = []
            for j in range(len(ws) - order + 1):
                c = " ".join(ws[j : j + order - 1])
                w = ws[j + order - 1]
                p = lam * (big.get((c, w), 0) / ctx[c] if (c, w) in big else 0.0) + (
                    1.0 - lam
                ) * ((uni.get(w, 0) + 1) / (n_tot + v_tot + 1))
                qs.append(math.floor(round(-math.log(p), 9) * 1e9))
            if qs:
                want[i] = (len(qs), sum(qs) / (1e9 * len(qs)))

        got = {
            r["doc_id"]: (r["n_ngrams"], r["mean_nll"])
            for r in T.ngram_lm_nll(
                df, F.col("doc_id") % 2 == 0, order=order
            ).collect()
        }
        assert got == want, (trial, order)


def test_margin_mining_ivf_where_filters_candidate_pool(spark):
    """Filtered mining: `where` restricts the candidate pool on index
    metadata BEFORE probing (the ivf_query contract), and the result
    equals exact margin_mining against the pre-filtered pool at
    nprobe = n_cells — degrees describe the filtered population."""
    from pdtable_spark.operators import similarity

    rows = [
        (i, [1.0 + 0.07 * (i % 5), 0.3 * (i % 4), 1.5 - 0.1 * (i % 7)],
         "en" if i % 2 == 0 else "de")
        for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, lang string"
    )
    lp = F.col("vec_id") % 7 == 0
    ldf, rdf = df.filter(lp), df.filter(~lp)
    cents = [r["embedding"] for r in rdf.orderBy("vec_id").limit(3).collect()]
    idx = similarity.ivf_index(rdf, cents, metadata_cols=["lang"])
    ivf = similarity.margin_mining_ivf(
        idx, ldf, cents, k=3, threshold=0.0, nprobe=3, where=F.col("lang") == "de"
    )
    exact = similarity.margin_mining(
        ldf, rdf.filter(F.col("lang") == "de"), k=3, threshold=0.0
    )
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))
    # every mined right id really is from the filtered pool
    de_ids = {r["vec_id"] for r in rdf.filter(F.col("lang") == "de").collect()}
    assert {r["right_id"] for r in ivf.collect()} <= de_ids


def test_table_profile_counts_and_guards(spark):
    import pytest

    from pdtable_spark.operators.monitor import table_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.5), (3, None, 1.5), (4, "b", None)],
        ["id", "s", "v"],
    )
    rows = {r["col_name"]: r for r in table_profile(df).collect()}
    assert set(rows) == {"id", "s", "v"}
    assert all(r["n_rows"] == 4 for r in rows.values())
    assert (rows["id"]["n_null"], rows["id"]["ndv"]) == (0, 4)
    assert (rows["s"]["n_null"], rows["s"]["ndv"]) == (1, 2)
    assert (rows["v"]["n_null"], rows["v"]["ndv"]) == (2, 1)
    assert rows["v"]["null_frac"] == 0.5
    # approx spelling: same shape, ndv within rsd of exact on tiny input
    approx = {
        r["col_name"]: r for r in table_profile(df, exact_ndv=False).collect()
    }
    assert set(approx) == {"id", "s", "v"}
    assert approx["s"]["ndv"] == 2
    with pytest.raises(ValueError, match="not in frame"):
        table_profile(df, ["id", "nope"])
    with pytest.raises(ValueError, match="no columns"):
        table_profile(df.select("id"), [])


def _tiff_bytes(le, w, h, w_type=3, h_type=4, pad=0, extra_entry=True,
                w_count=1):
    """Minimal TIFF: header, `pad` filler bytes, then one IFD whose
    entries are ascending by tag (256 width, 257 height, optional 259
    compression) — value types/counts parameterized to exercise the
    walk's honesty gates."""
    import struct

    e = "<" if le else ">"
    ifd_off = 8 + pad
    head = (b"II*\x00" if le else b"MM\x00*") + struct.pack(e + "I", ifd_off)
    head += b"\x00" * pad

    def entry(tag, typ, cnt, val):
        vf = struct.pack(e + ("H2x" if typ == 3 else "I"), val)
        return struct.pack(e + "HHI", tag, typ, cnt) + vf

    entries = [entry(256, w_type, w_count, w), entry(257, h_type, 1, h)]
    if extra_entry:
        entries.append(entry(259, 3, 1, 1))
    body = struct.pack(e + "H", len(entries)) + b"".join(entries)
    body += struct.pack(e + "I", 0)  # no next IFD
    return head + body


def test_image_meta_tiff_both_endians(spark):
    from pdtable_spark.operators.multimodal import image_meta

    rows = [
        (1, _tiff_bytes(True, 640, 480)),            # LE, SHORT w / LONG h
        (2, _tiff_bytes(False, 1920, 1080)),         # BE
        (3, _tiff_bytes(True, 12, 7, w_type=3, h_type=3, pad=5)),  # offset IFD
        (4, _tiff_bytes(False, 300, 200, w_type=4, h_type=4)),     # both LONG
        (5, _tiff_bytes(True, 9, 9, w_type=5)),      # RATIONAL width -> NULL w
        (6, _tiff_bytes(True, 9, 9, w_count=2)),     # count!=1 -> NULL w
        (7, b"II*\x00\xff\xff\xff\xff"),             # garbage IFD offset
        (8, _tiff_bytes(True, 11, 22)[:14]),         # truncated mid-IFD
    ]
    out = {
        r["doc_id"]: r
        for r in image_meta(
            spark.createDataFrame(rows, "doc_id int, payload binary")
        ).collect()
    }
    assert all(out[i]["img_format"] == "tiff" for i in out)
    assert (out[1]["img_width"], out[1]["img_height"]) == (640, 480)
    assert (out[2]["img_width"], out[2]["img_height"]) == (1920, 1080)
    assert (out[3]["img_width"], out[3]["img_height"]) == (12, 7)
    assert (out[4]["img_width"], out[4]["img_height"]) == (300, 200)
    assert out[5]["img_width"] is None and out[5]["img_height"] == 9
    assert out[6]["img_width"] is None and out[6]["img_height"] == 9
    assert out[7]["img_width"] is None and out[7]["img_height"] is None
    assert out[8]["img_width"] is None and out[8]["img_height"] is None


def test_audio_meta_adts_aac(spark):
    from pdtable_spark.operators.multimodal import audio_meta

    def adts(sfi, cfg, ver=0, crc_absent=1):
        b2 = 0xF0 | (ver << 3) | crc_absent  # sync low nibble: V 00 P
        b3 = (0x40 | (sfi << 2) | (cfg >> 2)) & 0xFF  # profile LC
        b4 = (cfg & 3) << 6
        return bytes([0xFF, b2, b3, b4, 0x00, 0x1F, 0xFC]) + b"\x00" * 8

    rows = [
        (1, adts(4, 2)),            # 44100 Hz stereo, MPEG-4
        (2, adts(11, 1, ver=1)),    # 8000 Hz mono, MPEG-2 ADTS
        (3, adts(6, 7)),            # 24000 Hz, config 7 -> 8 channels
        (4, adts(13, 2)),           # reserved sf index -> NULL fields
        (5, adts(4, 0)),            # inline-PCE channels -> NULL channels
        (6, bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 8),  # bare MP3 frame
        (7, adts(4, 2)[:5]),        # truncated under 7 bytes
    ]
    out = {
        r["doc_id"]: r
        for r in audio_meta(
            spark.createDataFrame(rows, "doc_id int, payload binary")
        ).collect()
    }
    assert out[1]["audio_format"] == "aac"
    assert (out[1]["n_channels"], out[1]["sample_rate"]) == (2, 44100)
    assert (out[2]["n_channels"], out[2]["sample_rate"]) == (1, 8000)
    assert (out[3]["n_channels"], out[3]["sample_rate"]) == (8, 24000)
    assert out[4]["audio_format"] == "aac"
    assert out[4]["sample_rate"] is None and out[4]["n_channels"] is None
    assert out[5]["sample_rate"] == 44100 and out[5]["n_channels"] is None
    # a bare MPEG audio frame (layer != 00) must NOT classify as aac
    assert out[6]["audio_format"] is None
    assert out[7]["audio_format"] is None
    # duration/bits are decode-path for ADTS: stay NULL
    assert out[1]["duration_ms"] is None and out[1]["bits_per_sample"] is None


def test_json_profile_paths_kinds_and_guards(spark):
    import pytest

    from pdtable_spark.operators.monitor import json_profile

    rows = [
        ('{"a": 1, "b": "x", "c": {"d": 2, "e": [1]}, "f": [1,2], "g": null}',),
        ('{"a": "1", "c": {"d": "y"}}',),
        ('{"a": true, "s": "{not json", "t": "[nope"}',),
        ("not json at all",),
        (None,),
        ("[1, 2]",),  # valid JSON but not an object: invalid root
    ]
    df = spark.createDataFrame(rows, "j string")
    got = {
        (r["path"], r["kind"]): r["n"] for r in json_profile(df, "j").collect()
    }
    assert got[("$", "object")] == 3 and got[("$", "invalid")] == 3
    # "1" (string) and 1 and true all land in scalar — documented
    assert got[("$.a", "scalar")] == 3
    assert got[("$.b", "scalar")] == 1
    assert got[("$.c", "object")] == 2
    assert got[("$.c.d", "scalar")] == 2
    assert got[("$.c.e", "array")] == 1
    assert got[("$.f", "array")] == 1
    assert got[("$.g", "null")] == 1
    # look-like-JSON strings must NOT classify as object/array
    assert got[("$.s", "scalar")] == 1 and got[("$.t", "scalar")] == 1
    # depth cap: no $.c.e.* rows ever, and max_depth=1 drops level 2
    assert not any(p.count(".") > 2 for p, _ in got)
    d1 = {r["path"] for r in json_profile(df, "j", max_depth=1).collect()}
    assert "$.c" in d1 and not any(p.startswith("$.c.") for p in d1)
    with pytest.raises(ValueError, match="max_depth"):
        json_profile(df, "j", max_depth=3)


def test_ivf_append_equals_rebuild(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdtable_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_train_centroids(emb, n_cells=4, seed=7)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    appended = str(tmp_path / "ivf_app")
    similarity.ivf_index(half_a, cents).write.partitionBy("cell").parquet(appended)
    similarity.ivf_append(appended, half_b, cents)

    rebuilt = str(tmp_path / "ivf_full")
    similarity.ivf_index(emb, cents).write.partitionBy("cell").parquet(rebuilt)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lambda p: sorted(  # noqa: E731
        map(
            tuple,
            similarity.ivf_query(
                spark.read.parquet(p), q, cents, k=5, nprobe=2
            ).collect(),
        )
    )
    assert got(appended) == got(rebuilt)

    # layout guard (ADVICE r10): appending onto a FLAT (unpartitioned)
    # index must fail loudly instead of producing a mixed directory
    flat = str(tmp_path / "ivf_flat")
    similarity.ivf_index(half_a, cents).write.parquet(flat)
    with pytest.raises(ValueError, match="NOT\\s+partitioned by cell"):
        similarity.ivf_append(flat, half_b, cents)


def _ebml(eid, content):
    """Encode one EBML element: raw id bytes + minimal size vint + content."""
    n = len(content)
    if n < 0x7F:
        size = bytes([0x80 | n])
    else:
        size = bytes([0x40 | (n >> 8), n & 0xFF])
    return eid + size + content


def _webm_bytes(w, h, extra_track=False, unknown_segment=False,
                wide_dims=False):
    def uint(v, nbytes):
        return v.to_bytes(nbytes, "big")

    dims = _ebml(b"\xB0", uint(w, 4 if wide_dims else (2 if w > 255 else 1)))
    dims += _ebml(b"\xBA", uint(h, 2 if h > 255 else 1))
    video = _ebml(b"\xE0", dims)
    track_v = _ebml(b"\xAE", _ebml(b"\x86", b"V_VP9") + video)
    tracks_content = track_v
    if extra_track:  # an AUDIO TrackEntry FIRST: its children get skipped
        track_a = _ebml(b"\xAE", _ebml(b"\x86", b"A_OPUS") + _ebml(b"\xE1", b"\x9F\x42"))
        tracks_content = track_a + track_v
    tracks = _ebml(b"\x16\x54\xAE\x6B", tracks_content)
    info = _ebml(b"\x15\x49\xA9\x66", _ebml(b"\x2A\xD7\xB1", uint(1000000, 3)))
    seg_content = info + tracks
    if unknown_segment:
        segment = b"\x18\x53\x80\x67" + b"\xFF" + seg_content
    else:
        segment = _ebml(b"\x18\x53\x80\x67", seg_content)
    header = _ebml(b"\x1A\x45\xDF\xA3", _ebml(b"\x42\x82", b"webm"))
    return header + segment


def test_video_meta_webm_ebml_walk(spark):
    from pdtable_spark.operators.multimodal import video_meta

    rows = [
        (1, _webm_bytes(640, 480)),
        (2, _webm_bytes(1920, 1080, extra_track=True)),
        (3, _webm_bytes(320, 240, unknown_segment=True)),  # streamed segment
        (4, _webm_bytes(12, 7, wide_dims=True)),            # 4-byte uint dims
        (5, _webm_bytes(640, 480)[:20]),                    # truncated
        (6, b"\x1A\x45\xDF\xA3" + b"\xFF" + b"\x00" * 8),   # unknown-size SKIP
    ]
    out = {
        r["doc_id"]: r
        for r in video_meta(
            spark.createDataFrame(rows, "doc_id int, payload binary")
        ).collect()
    }
    assert all(out[i]["video_format"] == "webm" for i in out)
    assert (out[1]["vid_width"], out[1]["vid_height"]) == (640, 480)
    assert (out[2]["vid_width"], out[2]["vid_height"]) == (1920, 1080)
    assert (out[3]["vid_width"], out[3]["vid_height"]) == (320, 240)
    assert (out[4]["vid_width"], out[4]["vid_height"]) == (12, 7)
    assert out[5]["vid_width"] is None and out[5]["vid_height"] is None
    assert out[6]["vid_width"] is None and out[6]["vid_height"] is None
    # duration stays decode-path NULL for webm
    assert all(out[i]["duration_ms"] is None for i in out)


def test_ivf_cell_ledger_additive_and_staleness_flags(spark):
    from pyspark.sql import functions as F

    from pdtable_spark.operators import similarity

    cents = [[0.0, 0.0], [10.0, 10.0]]
    # train: tight around both centroids
    train_rows = [
        (0, [0.1, 0.0]), (1, [0.0, 0.2]), (2, [9.9, 10.0]), (3, [10.0, 10.1]),
    ]
    # appended: cell 1 gains 3 drifted members far from its centroid
    app_rows = [(4, [7.0, 7.0]), (5, [13.0, 13.0]), (6, [10.0, 14.0])]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "vec_id long, embedding array<double>"
    )
    train, app = mk(train_rows), mk(app_rows)

    led_t = similarity.ivf_cell_ledger(train, cents)
    led_a = similarity.ivf_cell_ledger(app, cents)
    led_all = similarity.ivf_cell_ledger(train.unionByName(app), cents)
    # additive: ledger(train) + ledger(app) == ledger(union), bit-identically
    merged = (
        led_t.unionByName(led_a)
        .groupBy("cell")
        .agg(F.sum("n").alias("n"), F.sum("sum_qd2").alias("sum_qd2"))
    )
    as_map = lambda df: {  # noqa: E731
        r["cell"]: (r["n"], r["sum_qd2"]) for r in df.collect()
    }
    assert as_map(merged) == as_map(led_all)

    st = {
        r["cell"]: r
        for r in similarity.ivf_staleness(
            train.unionByName(app), cents, led_t
        ).collect()
    }
    # cell 0: untouched — nothing appended, ratio 1, no alarm
    assert st[0]["n_appended"] == 0 and st[0]["appended_frac"] == 0.0
    assert abs(st[0]["dist_ratio"] - 1.0) < 1e-12 and not st[0]["retrain"]
    # cell 1: 3 of 5 members appended and drifted -> both signals fire
    assert st[1]["n_train"] == 2 and st[1]["n_now"] == 5
    assert st[1]["appended_frac"] == 0.6
    assert st[1]["dist_ratio"] > 10 and st[1]["retrain"]


def test_json_extract_typed_compiles_one_schema(spark):
    from pyspark.sql import functions as F

    from pdtable_spark.operators.monitor import json_profile, json_extract_typed

    df = spark.createDataFrame(
        [
            (1, '{"a": 7, "s": "x", "geo": {"lat": 55, "lon": 12}, "tags": [1,2]}'),
            (2, '{"a": "not-a-number", "geo": {"lat": 56}}'),
            (3, None),
        ],
        "id long, j string",
    )
    plan = {
        "$.a": "long",
        "$.s": "string",
        "$.geo.lat": "long",
        "$.geo.lon": "long",
        "$.tags": "array<long>",
    }
    got = {r["id"]: r for r in json_extract_typed(df, "j", plan).collect()}
    assert got[1]["a"] == 7 and got[1]["s"] == "x"
    assert got[1]["geo_lat"] == 55 and got[1]["geo_lon"] == 12
    assert got[1]["tags"] == [1, 2]
    # non-parsing value and missing paths -> NULL, row survives
    assert got[2]["a"] is None and got[2]["s"] is None
    assert got[2]["geo_lat"] == 56 and got[2]["geo_lon"] is None
    assert got[3]["a"] is None and got[3]["geo_lat"] is None
    # source columns ride through; output names are path-derived
    assert json_extract_typed(df, "j", plan).columns == [
        "id", "j", "a", "s", "geo_lat", "geo_lon", "tags",
    ]
    # profile -> plan round trip: every scalar path the profile names is
    # extractable (the documented drill-down pairing)
    prof = json_profile(df.filter(F.col("j").isNotNull()), "j")
    scalar_paths = [
        r["path"] for r in prof.collect()
        if r["kind"] == "scalar" and r["path"] != "$"
    ]
    assert "$.geo.lat" in scalar_paths
    rt = json_extract_typed(df, "j", {p: "string" for p in scalar_paths})
    assert rt.count() == 3

    # loud compile errors: bad grammar, depth, scalar/object conflict
    import pytest as _pt

    for bad in ({}, {"a": "long"}, {"$.a.b.c": "long"}, {"$.": "long"}):
        with _pt.raises(ValueError):
            json_extract_typed(df, "j", bad) if bad else json_extract_typed(df, "j", bad)
    with _pt.raises(ValueError, match="conflicts"):
        json_extract_typed(df, "j", {"$.geo": "string", "$.geo.lat": "long"})
    with _pt.raises(ValueError, match="conflicts"):
        json_extract_typed(df, "j", {"$.geo.lat": "long", "$.geo": "string"})


def test_json_infer_plan_types_and_promotion(spark):
    from pdtable_spark.operators.monitor import (
        json_extract_typed,
        json_infer_plan,
        typed_plan,
    )

    df = spark.createDataFrame(
        [
            (1, '{"i": 7, "d": 1.5, "b": true, "s": "x", "mix": 3, '
                '"geo": {"lat": 55, "note": "home"}, "arr": [1,2]}'),
            (2, '{"i": -12, "d": 2.0E-4, "b": false, "s": "7up", "mix": "n/a", '
                '"geo": {"lat": 56, "note": "work"}}'),
            (3, '{"i": "40", "d": 3, "quoted": "99"}'),
        ],
        "id long, j string",
    )
    inf = {r["path"]: r for r in json_infer_plan(df, "j").collect()}
    # pure types
    assert inf["$.i"]["inferred_type"] == "long"  # "40" unquotes to digits
    assert inf["$.d"]["inferred_type"] == "double"  # long 3 promotes into double
    assert inf["$.b"]["inferred_type"] == "boolean"
    assert inf["$.s"]["inferred_type"] == "string"
    assert inf["$.quoted"]["inferred_type"] == "long"
    # promotion: long + string -> string
    assert inf["$.mix"]["inferred_type"] == "string"
    assert (inf["$.mix"]["n_long"], inf["$.mix"]["n_string"]) == (1, 1)
    # nested scalars appear; objects/arrays contribute no rows
    assert inf["$.geo.lat"]["inferred_type"] == "long"
    assert inf["$.geo.note"]["inferred_type"] == "string"
    assert "$.geo" not in inf and "$.arr" not in inf
    # counts are exact
    assert inf["$.i"]["n_values"] == 3 and inf["$.i"]["n_long"] == 3
    assert (inf["$.d"]["n_double"], inf["$.d"]["n_long"]) == (2, 1)

    # the loop closes: inferred plan drives typed extraction directly
    plan = typed_plan(json_infer_plan(df, "j"))
    got = {r["id"]: r for r in json_extract_typed(df, "j", plan).collect()}
    assert got[1]["i"] == 7 and got[1]["geo_lat"] == 55 and got[1]["b"] is True
    assert got[2]["d"] == 2.0e-4 and got[2]["mix"] == "n/a"
    assert got[3]["i"] == 40 and got[3]["quoted"] == 99

    import pytest as _pt

    with _pt.raises(ValueError, match="max_depth"):
        json_infer_plan(df, "j", max_depth=3)


def test_sample_ledger_merge_identity(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from pdtable_spark.operators.sampling import (
        merge_sample_ledgers,
        sample_ledger,
    )

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("source"),
        (F.col("id") * 7 % 11).alias("meta"),
    )
    a = docs.filter(F.col("doc_id") < 300)
    b = docs.filter(F.col("doc_id") >= 250)  # overlap 250-299 on purpose

    def rows(df):
        return sorted(map(tuple, df.collect()))

    whole = sample_ledger(docs, 7, by="source", keep_cols=["meta"])
    merged = merge_sample_ledgers(
        sample_ledger(a, 7, by="source", keep_cols=["meta"]),
        sample_ledger(b, 7, by="source", keep_cols=["meta"]),
        7, by="source",
    )
    # the ledger identity: sample(A ∪ B) == merge(sample(A), sample(B)),
    # bit-for-bit, with the overlap absorbed by set semantics
    assert rows(whole) == rows(merged)
    assert whole.groupBy("source").count().agg(F.max("count")).collect()[0][0] == 7

    # global (no-group) spelling plans as TakeOrdered and obeys k
    g = sample_ledger(docs, 5)
    assert g.count() == 5
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan

    # determinism: the sample is a pure function of ids
    assert rows(sample_ledger(docs, 7, by="source", keep_cols=["meta"])) == rows(whole)
    # re-delivered rows are absorbed
    dup = docs.unionByName(docs.filter(F.col("doc_id") % 2 == 0))
    assert rows(sample_ledger(dup, 7, by="source", keep_cols=["meta"])) == rows(whole)

    with _pt.raises(ValueError, match="k must be"):
        sample_ledger(docs, 0)
    with _pt.raises(Exception, match="NULL in id"):
        sample_ledger(
            docs.withColumn(
                "doc_id",
                F.when(F.col("doc_id") == 5, F.lit(None)).otherwise(
                    F.col("doc_id")
                ),
            ),
            3,
        ).collect()


def test_json_profile_diff_statuses(spark):
    import pytest as _pt

    from pdtable_spark.operators.monitor import json_profile, json_profile_diff

    old = spark.createDataFrame(
        [('{"t": "a", "gone": 1, "m": 5}',)] * 4
        + [('{"t": "b", "m": 6}',)] * 4,
        "j string",
    )
    new = spark.createDataFrame(
        [('{"t": "a", "fresh": true, "m": {"x": 1}}',)] * 6,
        "j string",
    )
    d = {
        (r["path"], r["kind"]): r
        for r in json_profile_diff(
            json_profile(old, "j"), json_profile(new, "j")
        ).collect()
    }
    assert d[("$.gone", "scalar")]["status"] == "removed"
    assert d[("$.fresh", "scalar")]["status"] == "added"
    # kind change = removed/added PAIR on the same path
    assert d[("$.m", "scalar")]["status"] == "removed"
    assert d[("$.m", "object")]["status"] == "added"
    assert d[("$.m.x", "scalar")]["status"] == "added"
    # stable path: shares normalize by each side's own doc count
    t = d[("$.t", "scalar")]
    assert t["status"] == "stable"
    assert t["n_old"] == 8 and t["n_new"] == 6
    assert t["share_old"] == 1.0 and t["share_new"] == 1.0 and t["delta"] == 0.0
    g = d[("$.gone", "scalar")]
    assert g["share_old"] == 0.5 and g["share_new"] == 0.0 and g["delta"] == -0.5

    with _pt.raises(ValueError, match="root"):
        json_profile_diff(
            json_profile(old, "j").filter("path <> '$'"),
            json_profile(new, "j"),
        )


def test_review_fixes_round11(spark, tmp_path):
    """Pinning the round-11 review fixes: mixed-layout append guard,
    quoted-"null" classification, flattened-name collision error, and
    deterministic payload-conflict resolution in the sample merge."""
    import pytest as _pt
    from pyspark.sql import functions as F  # noqa: F811

    # 1. ivf_append fails closed on an ALREADY-MIXED index directory
    from pdtable_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [2.0, 0.0]]
    mixed = str(tmp_path / "mixed")
    similarity.ivf_index(emb, cents).write.parquet(mixed)  # flat files
    similarity.ivf_index(emb, cents).write.mode("append").partitionBy(
        "cell"
    ).parquet(mixed)  # now ALSO cell=* dirs
    with _pt.raises(ValueError, match="MIXED"):
        similarity.ivf_append(mixed, emb, cents)

    # 2. a QUOTED "null" is a string and promotes the path to string
    from pdtable_spark.operators.monitor import json_extract_typed, json_infer_plan

    df = spark.createDataFrame(
        [('{"a": "null"}',), ('{"a": 7}',), ('{"a": 8}',)], "j string"
    )
    row = {r["path"]: r for r in json_infer_plan(df, "j").collect()}["$.a"]
    assert row["inferred_type"] == "string"
    assert row["n_values"] == row["n_long"] + row["n_string"] == 3

    # 3. flattened-name collision fails loudly at compile time
    with _pt.raises(ValueError, match="collision"):
        json_extract_typed(df, "j", {"$.a_b": "long", "$.a.b": "string"})

    # 4. payload conflict on a re-delivered id resolves deterministically
    from pdtable_spark.operators.sampling import merge_sample_ledgers, sample_ledger

    a = spark.createDataFrame([(5, "en"), (6, "fr")], "doc_id long, lang string")
    b = spark.createDataFrame([(5, "de"), (7, "it")], "doc_id long, lang string")
    sa = sample_ledger(a, 10, keep_cols=["lang"])
    sb = sample_ledger(b, 10, keep_cols=["lang"])
    m1 = sorted(map(tuple, merge_sample_ledgers(sa, sb, 10).collect()))
    m2 = sorted(map(tuple, merge_sample_ledgers(sb, sa, 10).collect()))
    assert m1 == m2  # commutative even under the conflict
    lang5 = [r for r in m1 if r[0] == 5][0][1]
    assert lang5 == "de"  # lowest-sorting payload wins, every time


def test_curriculum_phases_thresholds_and_ties(spark):
    """Phase = strict-exceed count over exact interpolated quantile
    thresholds: ties on a threshold stay in the SAME phase (a
    curriculum never splits equal difficulty), populations are
    near-equal, and no global sort/NTILE is involved."""
    import pytest

    from pdtable_spark.operators.sampling import (
        curriculum_phases,
        curriculum_schedule,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate([10, 10, 10, 10, 20, 20, 30, 40])],
        ["doc_id", "score"],
    )
    # thresholds at p25/p50/p75 of [10x4, 20x2, 30, 40] = 10, 15, 22.5;
    # the four ties at 10 all stay in phase 0, both 20s exceed q1 and q2
    # -> phase 2, and phase 1 is EMPTY (no score lands in (10, 15]) —
    # heavy ties may leave a phase unpopulated rather than split a tie
    got = {r["doc_id"]: r["phase"] for r in curriculum_phases(df, "score").collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 2, 5: 2, 6: 3, 7: 3}
    sched = curriculum_schedule(df, "score", n_phases=4).collect()
    assert [(r["phase"], r["n_docs"], r["n_tokens"]) for r in sched] == [
        (0, 4, 40), (2, 2, 40), (3, 2, 70),
    ]
    assert sched[0]["min_score"] == 10 and sched[-1]["max_score"] == 40
    with pytest.raises(ValueError, match="n_phases"):
        curriculum_phases(df, "score", n_phases=1)
    allnull = spark.createDataFrame([(1, None)], "doc_id long, score double")
    with pytest.raises(ValueError, match="non-NULL"):
        curriculum_phases(allnull, "score")
    # PARTIAL NULLs fail loud too: percentile would silently ignore the
    # NULL row when placing thresholds, leaving it unphased (r13 review)
    partial = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 20.0)], "doc_id long, score double"
    )
    with pytest.raises(ValueError, match="NULL 'score'"):
        curriculum_phases(partial, "score")
    # float difficulty scores keep their type in the schedule — no
    # silent integer truncation of perplexity-style scores (r13 review)
    fl = spark.createDataFrame(
        [(i, s) for i, s in enumerate([1.5, 1.8, 2.1, 2.4])],
        "doc_id long, score double",
    )
    fs = curriculum_schedule(fl, "score", n_phases=2).collect()
    assert fs[0]["min_score"] == 1.5 and abs(fs[0]["n_tokens"] - 3.3) < 1e-9


def test_curriculum_phases_by_group_thresholds(spark):
    """Per-group curricula: each group phases against its OWN quantiles
    (a verbose source must not crowd a terse one out of its hard
    phases), and partially-NULL groups fail loud naming the group."""
    import pytest

    from pdtable_spark.operators.sampling import curriculum_phases_by

    rows = [("a", i, float(s)) for i, s in enumerate([10, 20, 30, 40])] + [
        ("b", i + 10, float(s)) for i, s in enumerate([1000, 2000, 3000, 4000])
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, score double")
    got = {
        r["doc_id"]: r["phase"]
        for r in curriculum_phases_by(df, "score", "src").collect()
    }
    # both groups span all four phases despite the 100x scale gap
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 10: 0, 11: 1, 12: 2, 13: 3}
    withnull = spark.createDataFrame(
        rows + [("b", 99, None)], "src string, doc_id long, score double"
    )
    with pytest.raises(ValueError, match="group 'b'"):
        curriculum_phases_by(withnull, "score", "src")
    # a NULL group VALUE is a legitimate group: groupBy keeps it (and
    # its thresholds), so the null-safe join-back must keep its rows —
    # the plain inner equi-join silently dropped them (ADVICE r13)
    nullgrp = spark.createDataFrame(
        rows + [(None, 20 + i, float(s)) for i, s in enumerate([5, 6, 7, 8])],
        "src string, doc_id long, score double",
    )
    got_ng = {
        r["doc_id"]: r["phase"]
        for r in curriculum_phases_by(nullgrp, "score", "src").collect()
    }
    assert len(got_ng) == 12  # every row survives, including the NULL group
    assert {got_ng[20 + i] for i in range(4)} == {0, 1, 2, 3}
    # column order is preserved (df columns + phase)
    out = curriculum_phases_by(nullgrp, "score", "src")
    assert out.columns == ["src", "doc_id", "score", "phase"]


def test_shingle_golden_values(spark):
    """shingles / shingle_hashes / fingerprint on every edge shape — empty
    text, whitespace-only, shorter-than-n docs (one padded window),
    exact-n docs, long docs, repeated shingles (array_distinct), NULL
    text.  The expected values were captured from the Column-lambda
    spelling these SQL-text builders replaced; the minhash, winnowing and
    n-gram oracles check the same builders against DuckDB."""
    from pdtable_spark.operators import text as T

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e"),          # exactly n tokens (n=5)
        (2, "a b"),                # shorter than n -> one padded window
        (3, ""),                   # empty
        (4, "   "),                # whitespace only
        (5, "x x x x x x x x"),    # repeated shingles collapse
        (6, None),                 # NULL text
        (7, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        ("shingles", 2): [
            ["a b", "b c", "c d", "d e", "e f", "f g", "g h"],
            ["a b", "b c", "c d", "d e"],
            ["a b"],
            [""],
            [""],
            ["x x"],
            None,
            ["one two", "two three", "three four", "four five", "five six", "six seven", "seven eight", "eight nine", "nine ten"],
        ],
        ("shingle_hashes", 2): [
            [-5961636332996392597, 2846194167770765352, 5648364541172629920, 1094353516161241648, -5404456149393267902, -450787918130677211, -3446009568035237415],
            [-5961636332996392597, 2846194167770765352, 5648364541172629920, 1094353516161241648],
            [-5961636332996392597],
            [3001446374005999293],
            [3001446374005999293],
            [-1903293512731516222],
            None,
            [2447852267575332529, -578446535311137693, -3170984707300951090, -5543636616934254406, -2602962226128909489, -7129733896726048688, 316482673452389780, -8435588596725627251, 6705612202527790591],
        ],
        ("fingerprint", 2): [
            "0cc9cd4dd26c5137b675a0d819cb9ab0",
            "0cc9cd4dd26c5137b675a0d819cb9ab0",
            "0cc9cd4dd26c5137b675a0d819cb9ab0",
            "d41d8cd98f00b204e9800998ecf8427e",
            "d41d8cd98f00b204e9800998ecf8427e",
            "cd62295b0e01122c91133a9640eed230",
            None,
            "24c13fe5cd658fde63203a93a93b8ff9",
        ],
        ("shingles", 5): [
            ["a b c d e", "b c d e f", "c d e f g", "d e f g h"],
            ["a b c d e"],
            ["a b"],
            [""],
            [""],
            ["x x x x x"],
            None,
            ["one two three four five", "two three four five six", "three four five six seven", "four five six seven eight", "five six seven eight nine", "six seven eight nine ten"],
        ],
        ("shingle_hashes", 5): [
            [-8793965818490581973, 2589773191123208611, -5275989219476575994, -2652650438044568664],
            [-8793965818490581973],
            [-5843730038173860666],
            [806133299374791145],
            [806133299374791145],
            [-8181238895876531219],
            None,
            [-6238694334135527072, 5701411091198159943, 3971089534552418496, 5398128162414108335, -616250182994175888, -6768478630018183616],
        ],
        ("fingerprint", 5): [
            "2438b89b82c22b3d063b2ee165c033c0",
            "2438b89b82c22b3d063b2ee165c033c0",
            "0cc9cd4dd26c5137b675a0d819cb9ab0",
            "d41d8cd98f00b204e9800998ecf8427e",
            "d41d8cd98f00b204e9800998ecf8427e",
            "3275c1f4e88dca00bd77fd0acd360d59",
            None,
            "00522f4721e79dea5fb761d08e506cda",
        ],
    }
    for (fn, n), expected in want.items():
        got = df.orderBy("doc_id").select(getattr(T, fn)("text", n).alias("v"))
        assert [r["v"] for r in got.collect()] == expected, f"{fn} n={n}"


def test_fanout_small_scan_gate(spark, tmp_path, monkeypatch):
    """The identity-at-scale claim of the r14 scan fan-out, pinned as
    unit tests (VERDICT r14): the gate must FIRE on a provably tiny
    local scan and DECLINE on large inputs, non-local paths, too many
    files, and scans already at/above the core count — declining means
    returning the SAME DataFrame object, so at 100 TB the operator adds
    no exchange at all."""
    from pdtable_spark.operators import scanfan

    p = str(tmp_path / "tiny")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)

    # fire-on-tiny: a new frame with one round-robin exchange
    out = scanfan.fanout_small_scan(df)
    assert out is not df
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().toString()

    # decline-on-large: per-file sizes monkeypatched past the gate
    monkeypatch.setattr(
        scanfan.os.path, "getsize", lambda _p: 64 << 30, raising=True
    )
    assert scanfan.fanout_small_scan(df) is df
    monkeypatch.undo()

    # decline-on-nonlocal: a path that does not exist locally
    monkeypatch.setattr(scanfan.os.path, "exists", lambda _p: False)
    assert scanfan.fanout_small_scan(df) is df
    monkeypatch.undo()

    # decline-on-too-many-files: listing past MAX_FILES is "not tiny"
    monkeypatch.setattr(scanfan, "MAX_FILES", 0)
    assert scanfan.fanout_small_scan(df) is df
    monkeypatch.undo()

    # decline-on-already-parallel: estimated task count >= core count
    monkeypatch.setattr(
        scanfan, "_est_scan_tasks", lambda *_a, **_k: 10_000
    )
    assert scanfan.fanout_small_scan(df) is df
    monkeypatch.undo()

    # decline-on-no-files (e.g. an in-memory relation)
    local = spark.createDataFrame([(1,)], "x long")
    assert scanfan.fanout_small_scan(local) is local


def test_similarity_golden_values(spark):
    """dot / _as_double / _cell_scores / _cell_ranking on empty arrays,
    zeros, negatives, mixed magnitudes and float inputs.  The expected
    values were captured from the Column-lambda spelling these SQL-text
    builders replaced; the embedding oracles check the same folds against
    DuckDB."""
    from pdtable_spark.operators import similarity as S

    rows = [
        (0, [1.0, 2.0, -3.0], [0.5, -1.5, 2.0]),
        (1, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
        (2, [], []),
        (3, [1e-9, -1e9, 3.25], [2.0, 2.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = df.orderBy("i").select(S.dot("a", "b").alias("v")).collect()
    assert [r["v"] for r in got] == [-8.5, 0.0, 0.0, -1999999993.5]

    fl = spark.createDataFrame(
        [(0, [1.5, -2.25]), (1, [])], "i long, a array<float>"
    )
    got = fl.orderBy("i").select(S._as_double("a").alias("v")).collect()
    assert [r["v"] for r in got] == [[1.5, -2.25], []]

    cents = [[0.0, 0.0], [1.0, 1.0], [2.0, -2.0]]
    d = S._matrix_frame(
        spark.createDataFrame(
            [(0, [0.9, 1.1]), (1, [-5.0, 5.0]), (2, [2.0, -2.0])],
            "i long, v array<double>",
        ),
        "__cents",
        cents,
        2,
    ).orderBy("i")
    got = d.select(S._cell_scores("v", "__cents").alias("s")).collect()
    assert [[(s["d"], s["cell"]) for s in r["s"]] for r in got] == [
        [(0.02000000000000001, 1), (2.0200000000000005, 0), (10.820000000000002, 2)],
        [(50.0, 0), (52.0, 1), (98.0, 2)],
        [(0.0, 2), (8.0, 0), (10.0, 1)],
    ]
    got = d.select(S._cell_ranking("v", "__cents").alias("s")).collect()
    assert [r["s"] for r in got] == [[1, 0, 2], [0, 1, 2], [2, 0, 1]]


def test_gopher_golden_values(spark):
    """The Gopher metrics (_gopher_metrics_sql) on every edge shape —
    empty text, whitespace-only, symbol-heavy, bullet/ellipsis lines,
    duplicate lines, unicode ellipsis, NULL.  The expected values were
    captured from the Column-lambda spelling this SQL text replaced; the
    text_gopher_rules oracle checks the same metrics against DuckDB."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators import text as T

    rows = [
        (0, "the quick brown fox jumps over a lazy dog " * 8),
        (1, ""),
        (2, "   "),
        (3, None),
        (4, "# ### hashes # everywhere #"),
        (5, "wait... for it… done...\nand more… yes..."),
        (6, "- bullet one\n* bullet two\n• bullet three\nplain line"),
        (7, "Dup Line\ndup line\nDUP LINE\nunique\n\n  \n"),
        (8, "word " * 60),
        (9, "onlyoneword"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").orderBy("doc_id")
    want = {
        "n_words": [72, 1, 1, None, 6, 7, 11, 8, 60, 1],
        "mean_len": [3.6666666666666665, 0.0, 0.0, None, 3.6666666666666665, 4.857142857142857, 3.727272727272727, 3.375, 4.0, 11.0],
        "alpha_ratio": [1.0, 0.0, 0.0, None, 0.3333333333333333, 1.0, 0.7272727272727273, 0.875, 1.0, 1.0],
        "n_stop": [16, 0, 0, None, 0, 2, 0, 0, 0, 0],
        "symbol_ratio": [0.0, 0.0, 0.0, None, 1.0, 0.7142857142857143, 0.0, 0.0, 0.0, 0.0],
        "bullet_frac": [0.0, 0.0, 0.0, None, 0.0, 0.0, 0.75, 0.0, 0.0, 0.0],
        "ellipsis_frac": [0.0, 0.0, 0.0, None, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0],
        "dup_frac": [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0],
    }
    sql = T._gopher_metrics_sql("`text`")
    for key, expected in want.items():
        got = [r["v"] for r in df.select(F.expr(sql[key]).alias("v")).collect()]
        assert got == expected, f"gopher metric {key}: {got} != {expected}"
    # the fused pass_all predicate agrees with the flags-frame pass_all
    flags = T.gopher_quality_flags(df, min_words=5)
    want_ids = {r["doc_id"] for r in flags.filter("pass_all = 1").collect()}
    got_ids = {
        r["doc_id"]
        for r in df.filter(T.gopher_pass_all(min_words=5)).collect()
    }
    assert got_ids == want_ids


def test_non_finite_thresholds(spark):
    """Non-finite thresholds are ordinary comparisons: each Gopher flag
    equals the ``F.lit`` comparison over its metric, the fused gate keeps
    the rows the flags frame passes, and a threshold sweep at ±inf keeps
    nothing / every scored row."""
    import math

    from pyspark.sql import functions as F

    from pdtable_spark.operators import text as T
    from pdtable_spark.operators.monitor import threshold_sweep

    rows = [
        (0, "the cat sat on the mat and the dog ran off"),
        (1, "# # # ### hash heavy text ..."),
        (2, ""),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kw, flag, want in [
        (
            {"max_symbol_word_ratio": math.inf},
            "pass_symbol_ratio",
            F.col("symbol_word_ratio") <= F.lit(math.inf),
        ),
        (
            {"max_dup_line_frac": -math.inf},
            "pass_dup_lines",
            F.col("dup_line_frac") <= F.lit(-math.inf),
        ),
        (
            {"min_alpha_ratio": float("nan")},
            "pass_alpha_ratio",
            F.col("alpha_ratio") >= F.lit(float("nan")),
        ),
    ]:
        flags = T.gopher_quality_flags(df, min_words=1, **kw)
        got = flags.select("doc_id", flag, want.cast("int").alias("w")).collect()
        assert all(r[flag] == r["w"] for r in got), (kw, got)
        gate = {r["doc_id"] for r in df.filter(T.gopher_pass_all(min_words=1, **kw)).collect()}
        assert gate == {r["doc_id"] for r in flags.filter("pass_all = 1").collect()}

    scores = spark.createDataFrame(
        [(0.05, "a b"), (0.5, "c"), (2.0, "d e f"), (None, "g")], "score double, text string"
    )
    sweep = {
        r["threshold"]: r
        for r in threshold_sweep(scores, "score", [0.1, math.inf, -math.inf]).collect()
    }
    assert sweep[math.inf]["n_kept"] == 0 and sweep[math.inf]["tokens_kept"] == 0
    assert sweep[-math.inf]["n_kept"] == 3
    assert sweep[0.1]["n_kept"] == 2


def test_builders_on_backticked_column_names(spark):
    """Column names containing a backtick reach the SQL-text builders
    quoted: Gopher flags, shingles and cosine top-k on ``te`xt`` /
    ``em`b`` equal the same operators on plain names."""
    from pdtable_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "a b"), (2, None)],
        "doc_id long, text string",
    )
    odd = docs.withColumnRenamed("text", "te`xt")
    assert T.gopher_quality_flags(odd, text_col="te`xt", min_words=1).collect() == (
        T.gopher_quality_flags(docs, min_words=1).collect()
    )
    sh = lambda d, c: d.select("doc_id", T.shingles(c, 2).alias("s")).collect()  # noqa: E731
    assert sh(odd, "te`xt") == sh(docs, "text")

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.6, 0.8]), (2, [-1.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter("vec_id = 1").withColumnRenamed("vec_id", "query_id")
    odd_v, odd_q = (d.withColumnRenamed("embedding", "em`b") for d in (vecs, q))
    assert similarity.cosine_topk(odd_v, odd_q, k=2, vec_col="em`b").collect() == (
        similarity.cosine_topk(vecs, q, k=2).collect()
    )


def test_minhash_verify_single_pass_values(spark, docs):
    """r14: the melted single-pass Jaccard verify returns the same pairs
    and values as the (pre-r14) two-join spelling, in both hash modes."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators import dedup
    from pdtable_spark.operators.dedup import _shingle_sets

    for hash_fn in ("xxhash64", "md5_60"):
        got = dedup.minhash_dedup(
            docs, num_hashes=8, bands=4, jaccard_threshold=0.3, hash_fn=hash_fn
        )
        cand = dedup.minhash_lsh_candidates(
            docs, num_hashes=8, bands=4, hash_fn=hash_fn
        )
        sets_ = _shingle_sets(docs, "text", "doc_id", 5, hash_fn, "sh")
        ref = (
            cand.join(
                sets_.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"),
                "id_a",
            )
            .join(
                sets_.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"),
                "id_b",
            )
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
            .withColumn(
                "uni",
                (F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("inter"),
            )
            .withColumn("jaccard", F.col("inter") / F.col("uni"))
            .filter(F.col("jaccard") >= 0.3)
            .select("id_a", "id_b", "jaccard")
        )
        g = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
        r_ = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ref.collect()}
        assert g == r_, f"hash_fn={hash_fn}"


def test_curriculum_accuracy_sketch_mode(spark):
    """r14 (VERDICT r13 weak): ``accuracy=k`` swaps the exact percentile
    (O(distinct-values) aggregation buffer) for approx_percentile's
    bounded GK sketch.  Thresholds land on data values (no
    interpolation), so with distinct values << accuracy the sketch rank
    is exact and the phase partition matches the exact mode up to
    interpolation-boundary ties; the monotone contract (higher score ->
    same or later phase) holds in both modes."""
    from pdtable_spark.operators.sampling import (
        curriculum_phases,
        curriculum_phases_by,
        curriculum_schedule,
    )

    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(1000)], "doc_id long, score double"
    )
    exact = {r["doc_id"]: r["phase"] for r in curriculum_phases(df, "score").collect()}
    approx = {
        r["doc_id"]: r["phase"]
        for r in curriculum_phases(df, "score", accuracy=10000).collect()
    }
    # same-or-adjacent phase for every row (GK exact here up to
    # interpolation: exact thresholds 24.75/49.5/74.25 vs data values)
    assert all(abs(exact[k] - approx[k]) <= 1 for k in exact)
    # monotone in score within the approx mode
    rows = sorted(
        (r["score"], r["phase"])
        for r in curriculum_phases(df, "score", accuracy=10000).collect()
    )
    assert all(a[1] <= b[1] for a, b in zip(rows, rows[1:]))
    # grouped + schedule spellings take the knob too
    sched = curriculum_schedule(df, "score", accuracy=10000).collect()
    assert sum(r["n_docs"] for r in sched) == 1000
    g = spark.createDataFrame(
        [("a", i, float(i % 50)) for i in range(500)],
        "src string, doc_id long, score double",
    )
    got = curriculum_phases_by(g, "score", "src", accuracy=10000)
    assert got.count() == 500


def test_curriculum_sketch_population_rank_error_bound(spark):
    """VERDICT r14 item 9: the sketch mode's PHASE POPULATIONS must sit
    within Greenwald-Khanna's rank-error bound of the exact spelling —
    each threshold's rank error is ≤ n/accuracy, so every cumulative
    phase population (rows in phases ≤ i) may shift by at most
    n/accuracy plus the tie block at the threshold value."""
    from pdtable_spark.operators.sampling import curriculum_phases

    n, k, phases = 4000, 200, 4
    # distinct continuous-ish scores (deterministic LCG), so no tie blocks
    vals, state = [], 123456789
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        vals.append(state / float(1 << 31))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, score double"
    )
    exact = [r["phase"] for r in curriculum_phases(df, "score", phases).collect()]
    approx = [
        r["phase"]
        for r in curriculum_phases(df, "score", phases, accuracy=k).collect()
    ]

    def cum_pops(ps):
        return [sum(1 for p in ps if p <= i) for i in range(phases - 1)]

    bound = n // k  # GK rank error per threshold; scores are distinct
    for ce, ca in zip(cum_pops(exact), cum_pops(approx)):
        assert abs(ce - ca) <= bound, (ce, ca, bound)


def test_curriculum_phases_quantized_bounded_exact(spark):
    """The quantize-first exact recipe as a helper (VERDICT r14 item 9):
    bounded distinct-value domain, engine-reproducible thresholds, and
    phase assignment identical to the raw exact spelling whenever the
    grid preserves score distinctions."""
    from pdtable_spark.operators.sampling import (
        curriculum_phases,
        curriculum_phases_quantized,
    )

    df = spark.createDataFrame(
        [(i, (i % 97) + 0.25) for i in range(970)], "doc_id long, score double"
    )
    raw = {r["doc_id"]: r["phase"] for r in curriculum_phases(df, "score").collect()}
    grid = {
        r["doc_id"]: r["phase"]
        for r in curriculum_phases_quantized(df, "score", quantum=1e6).collect()
    }
    assert raw == grid  # 1e-6 grid preserves the 0.25-offset integers
    # helper returns df columns + phase, no grid column leaks
    out = curriculum_phases_quantized(df, "score")
    assert out.columns == ["doc_id", "score", "phase"]
    # coarse grid collapses scores inside one cell into one phase
    # (ties stay together — the curriculum contract), never crashes
    coarse = curriculum_phases_quantized(df, "score", quantum=0.01)
    assert coarse.select("phase").distinct().count() >= 1
