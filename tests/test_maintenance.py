"""Lake-maintenance primitives: upsert semantics, compaction file counts,
sorted-write row-group stats (verified via parquet footers with pyarrow)."""

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdtable_spark.io import maintenance


def _parts(path):
    return [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def test_upsert_replaces_and_appends(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "v"]
    ).write.parquet(base)
    updates = spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], ["id", "name", "v"])
    out = maintenance.upsert_parquet(spark, base, updates, "id")
    got = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_compact_reduces_file_count(spark, tmp_path):
    frag = str(tmp_path / "frag")
    spark.range(10_000).repartition(40).write.parquet(frag)
    assert len(_parts(frag)) == 40
    out = maintenance.compact_parquet(spark, frag, target_file_bytes=10**9)
    assert len(_parts(out)) == 1
    assert spark.read.parquet(out).count() == 10_000


def test_compact_sizes_from_data_files_only(spark, tmp_path):
    """compact_parquet sizes the output from the files Spark reads: a
    file:// URI lake is listed like a bare path, and a hidden zone-map
    sidecar does not count as data."""
    frag = str(tmp_path / "frag")
    spark.range(10_000).repartition(8).write.parquet(frag)
    target = -(-sum(os.path.getsize(f) for f in _parts(frag)) // 3)
    out = maintenance.compact_parquet(
        spark, "file://" + frag, str(tmp_path / "c1"), target_file_bytes=target
    )
    assert len(_parts(out)) == 3
    maintenance.write_zone_map(spark, frag, ["id"])
    out = maintenance.compact_parquet(
        spark, frag, str(tmp_path / "c2"), target_file_bytes=target
    )
    assert len(_parts(out)) == 3


def test_sorted_write_gives_disjoint_file_ranges(spark, tmp_path):
    out = str(tmp_path / "sorted")
    df = spark.range(100_000).select(
        (F.col("id") * 7919 % 100_000).alias("k"), F.col("id").alias("v")
    )
    maintenance.write_sorted_parquet(df, out, "k", partitions=4)
    ranges = []
    for f in _parts(out):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    # disjoint: every file's max < next file's min (range partitioning) —
    # a filter on k prunes whole files via footer stats
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # and the data is intact
    assert spark.read.parquet(out).count() == 100_000


def test_diff_snapshots(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "id long, name string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 3.0), (4, "D", 4.0), (5, "e", 5.0)],
        "id long, name string, v double",
    )
    got = {
        r["id"]: r["change_type"]
        for r in maintenance.diff_snapshots(old, new, "id").collect()
    }
    # 1 removed, 2 unchanged (absent), 3 changed (NULL→3.0), 4 changed, 5 added
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    # compare_cols restriction: only v → the name-only change on 4 vanishes
    got_v = {
        r["id"]: r["change_type"]
        for r in maintenance.diff_snapshots(old, new, "id", compare_cols=["v"]).collect()
    }
    assert got_v == {1: "removed", 3: "changed", 5: "added"}


def test_diff_snapshots_null_keys(spark):
    """NULL keys match null-safely: a NULL-keyed row present in both
    snapshots is unchanged/changed, never misreported as added+removed."""
    old = spark.createDataFrame([(None, 1.0), (1, 2.0)], "id long, v double")
    new = spark.createDataFrame([(None, 1.0), (2, 3.0)], "id long, v double")
    got = {
        r["id"]: r["change_type"]
        for r in maintenance.diff_snapshots(old, new, "id").collect()
    }
    # NULL key present in both with equal v → unchanged → filtered out
    assert got == {1: "removed", 2: "added"}
    new2 = spark.createDataFrame([(None, 9.0), (2, 3.0)], "id long, v double")
    got2 = {
        r["id"]: r["change_type"]
        for r in maintenance.diff_snapshots(old, new2, "id").collect()
    }
    assert got2 == {None: "changed", 1: "removed", 2: "added"}


def test_retention_delete_removes_only_matching(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdtable_spark.io.maintenance import retention_delete

    src = str(tmp_path / "t")
    spark.range(100).withColumn("age_days", F.col("id") % 10).write.parquet(src)
    out = retention_delete(spark, src, F.col("age_days") >= 8)
    kept = spark.read.parquet(out)
    assert kept.count() == 80
    assert kept.filter(F.col("age_days") >= 8).count() == 0
    # original untouched (copy-on-write)
    assert spark.read.parquet(src).count() == 100


def test_write_training_shards_manifest_and_determinism(spark, tmp_path):
    """Shard export: every row lands in exactly one shard, the manifest
    accounts for all docs (and tokens), shard files are balanced by the
    hash range partitioning, and two writes of the same corpus produce
    the IDENTICAL row→shard-order assignment (content-stable shuffle)."""
    import json

    from pdtable_spark.io.maintenance import write_training_shards

    df = spark.createDataFrame(
        [(i, "text %d" % i, (i % 7) + 1) for i in range(500)],
        ["doc_id", "text", "n_tokens"],
    )
    p1 = str(tmp_path / "shards1")
    m1 = write_training_shards(df, p1, num_shards=8).collect()
    assert sum(r["n_docs"] for r in m1) == 500
    assert sum(r["n_tokens"] for r in m1) == sum((i % 7) + 1 for i in range(500))
    assert len(m1) == 8
    man = json.load(open(tmp_path / "shards1" / "_shard_manifest.json"))
    assert sum(r["n_docs"] for r in man) == 500
    # no shard hogs the corpus (hash keys are near-uniform)
    assert max(r["n_docs"] for r in m1) < 3 * min(r["n_docs"] for r in m1)

    # determinism: same corpus → same global order of doc_ids on re-export
    p2 = str(tmp_path / "shards2")
    write_training_shards(df, p2, num_shards=8)

    def order_of(path):
        import pyarrow.parquet as pq
        import glob as g
        ids = []
        for f in sorted(g.glob(path + "/part-*.parquet")):
            ids.extend(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
        return ids

    assert order_of(p1) == order_of(p2)


def test_write_training_shards_remote_manifest(spark, tmp_path):
    """A '://'-scheme destination gets the manifest under the documented
    EXACT filename (written through pyarrow.fs), not a directory of Spark
    text part-files."""
    import json

    from pdtable_spark.io.maintenance import write_training_shards

    df = spark.createDataFrame(
        [(i, "t%d" % i) for i in range(50)], ["doc_id", "text"]
    )
    dest = "file://" + str(tmp_path / "rshards")
    write_training_shards(df, dest, num_shards=4)
    man_path = tmp_path / "rshards" / "_shard_manifest.json"
    assert man_path.is_file()
    man = json.load(open(man_path))
    assert sum(r["n_docs"] for r in man) == 50


def test_forget_keys_partitioned_rewrites_only_affected(spark, tmp_path):
    """The key-set erasure sweep: only partitions containing hits are
    rewritten (untouched partition dirs never appear under out), deleted
    keys are gone from the rewritten partitions, a fully-erased
    partition certifies n_kept=0 and writes no output dir, and the
    certificate counts are exact."""
    import os

    from pdtable_spark.io.maintenance import forget_keys

    src = str(tmp_path / "lake")
    rows = [(i, f"text{i}", f"s{i % 4}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.partitionBy("source").parquet(src)

    # forget: two keys in s1, every key in s2, none in s0/s3
    keys = spark.createDataFrame(
        [(1,), (5,)] + [(i,) for i in range(40) if i % 4 == 2],
        "doc_id long",
    )
    cert = {
        r["source"]: (r["n_forgotten"], r["n_kept"])
        for r in forget_keys(
            spark, src, keys, "doc_id", partition_col="source"
        ).collect()
    }
    assert cert == {"s1": (2, 8), "s2": (10, 0)}

    out = src + ".forget"
    dirs = sorted(d for d in os.listdir(out) if d.startswith("source="))
    assert dirs == ["source=s1"]  # s2 fully erased -> no dir; s0/s3 untouched
    left = spark.read.parquet(f"{out}/source=s1")
    assert sorted(r["doc_id"] for r in left.collect()) == [
        i for i in range(40) if i % 4 == 1 and i not in (1, 5)
    ]

    # no hits anywhere -> empty certificate, nothing written
    none = forget_keys(
        spark, src, spark.createDataFrame([(999,)], "doc_id long"),
        "doc_id", partition_col="source", out_path=str(tmp_path / "none"),
    )
    assert none.count() == 0 and not os.path.exists(str(tmp_path / "none"))


def test_forget_keys_unpartitioned_whole_table(spark, tmp_path):
    """Without a partition column the sweep is a whole-table anti-join
    rewrite with a single NULL-partition certificate row."""
    from pdtable_spark.io.maintenance import forget_keys

    src = str(tmp_path / "flat")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    ).write.parquet(src)
    cert = forget_keys(
        spark, src, spark.createDataFrame([(3,), (7,)], "doc_id long"), "doc_id"
    ).collect()
    assert [(r[1], r[2]) for r in cert] == [(2, 8)]
    kept = spark.read.parquet(src + ".forget")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 4, 5, 6, 8, 9]


def test_forget_keys_null_partition_fails_loudly(spark, tmp_path):
    """A forgotten key living in a NULL partition value cannot be
    silently skipped by the isin prune — an erasure sweep that misses
    rows is a compliance failure, so it raises instead."""
    import pytest as _pytest

    from pdtable_spark.io.maintenance import forget_keys

    src = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "doc_id long, source string"
    ).write.partitionBy("source").parquet(src)
    with _pytest.raises(ValueError, match="NULL partition value"):
        forget_keys(
            spark, src, spark.createDataFrame([(2,)], "doc_id long"),
            "doc_id", partition_col="source",
        )


def test_forget_keys_sidecar_prunes_find_pass(spark, tmp_path):
    """The key sidecar closes forget_keys' documented find-pass gap:
    candidate files are a strict subset chosen by min/max + Bloom
    coverage, the sidecar-pruned sweep's certificate and rewritten
    output are IDENTICAL to the unpruned sweep's, files appended after
    the sidecar build stay unconditional candidates (stale safety),
    out-of-range keys prune to an empty certificate without a scan, and
    mixed Bloom stamps fail loudly."""
    from pyspark.sql import functions as F

    from pdtable_spark.io.maintenance import (
        _sidecar_candidate_files,
        forget_keys,
        key_sidecar,
    )

    lake = str(tmp_path / "lake")
    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("source"),
        F.concat(F.lit("txt"), F.col("id")).alias("text"),
    )
    # range-partitioned tasks -> several files per partition dir with
    # disjoint doc_id ranges (the write_sorted_parquet layout)
    docs.repartitionByRange(4, F.col("doc_id")).write.partitionBy(
        "source"
    ).parquet(lake)
    sc = key_sidecar(spark, lake, "doc_id").cache()
    n_files = sc.count()
    assert n_files >= 8  # 4 range tasks x 2 partition dirs

    keys = spark.createDataFrame([(5,), (7,)], "doc_id long")
    cand = _sidecar_candidate_files(spark, lake, keys, "doc_id", sc)
    assert 0 < len(cand) < n_files  # pruned, not everything

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    plain = forget_keys(spark, lake, keys, "doc_id", "source", out_a)
    pruned = forget_keys(spark, lake, keys, "doc_id", "source", out_b, sidecar=sc)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, pruned.collect()))
    assert sorted(map(tuple, spark.read.parquet(out_a).collect())) == sorted(
        map(tuple, spark.read.parquet(out_b).collect())
    )

    # out-of-range key batch: empty certificate, schema intact
    far = forget_keys(
        spark, lake,
        spark.createDataFrame([(10**9,)], "doc_id long"),
        "doc_id", "source", str(tmp_path / "c"), sidecar=sc,
    )
    assert far.count() == 0 and far.columns == ["source", "n_forgotten", "n_kept"]

    # stale-sidecar safety: rows appended AFTER the sidecar build are
    # unconditional candidates — the new key is still erased
    spark.createDataFrame(
        [(5000, "A", "late")], "doc_id long, source string, text string"
    ).write.mode("append").partitionBy("source").parquet(lake)
    late = forget_keys(
        spark, lake,
        spark.createDataFrame([(5000,)], "doc_id long"),
        "doc_id", "source", str(tmp_path / "d"), sidecar=sc,
    )
    got = {r["source"]: r for r in late.collect()}
    assert got["A"]["n_forgotten"] == 1

    # mixed Bloom stamps fail loudly
    import pytest as _pytest

    mixed = sc.unionByName(key_sidecar(spark, lake, "doc_id", num_bits=1 << 8))
    with _pytest.raises(ValueError, match="mixed Bloom parameter stamps"):
        _sidecar_candidate_files(spark, lake, keys, "doc_id", mixed)
    sc.unpersist()


def test_sidecar_empty_and_removed_file_edges(spark, tmp_path):
    """Review-r9 edges: an EMPTY sidecar prunes nothing (all current
    files are candidates — not a 'mixed stamps' error), and a sidecar
    naming files a compaction since removed never sends deleted paths
    to the reader (candidates intersect the current listing)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdtable_spark.io.maintenance import _sidecar_candidate_files, key_sidecar

    lake = str(tmp_path / "lake2")
    spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("A").alias("source")
    ).repartitionByRange(3, F.col("doc_id")).write.partitionBy("source").parquet(
        lake
    )
    sc = key_sidecar(spark, lake, "doc_id").cache()
    n_files = sc.count()
    keys = spark.createDataFrame([(1,)], "doc_id long")

    # empty sidecar → None: prunes nothing, errors nothing, and never
    # collects the dataset's file listing to the driver (ADVICE r9 —
    # the caller falls back to the plain dataset scan)
    assert _sidecar_candidate_files(spark, lake, keys, "doc_id", sc.limit(0)) is None
    # a weakly-pruning sidecar (candidate set past max_files) also → None
    assert (
        _sidecar_candidate_files(spark, lake, keys, "doc_id", sc, max_files=0)
        is None
    )
    # and forget_keys under an empty sidecar falls back to the plain scan
    # end-to-end — same certificate as no sidecar at all
    from pdtable_spark.io.maintenance import forget_keys

    cert = forget_keys(
        spark, lake, keys, "doc_id", "source",
        str(tmp_path / "e"), sidecar=sc.limit(0),
    )
    assert [(r["source"], r["n_forgotten"]) for r in cert.collect()] == [("A", 1)]

    # simulate compaction removing a file the sidecar still names
    victim = sorted(glob.glob(f"{lake}/source=A/*.parquet"))[0]
    os.remove(victim)
    cand = _sidecar_candidate_files(spark, lake, keys, "doc_id", sc)
    assert all(not c.endswith(os.path.basename(victim)) for c in cand)
    sc.unpersist()


def test_key_sidecar_string_keys(spark, tmp_path):
    """The sidecar contract holds for STRING keys too: min/max prune on
    lexicographic ranges, the Bloom probe hashes the same cast-to-string
    domain, and the pruned sweep's certificate equals the unpruned one."""
    from pyspark.sql import functions as F

    from pdtable_spark.io.maintenance import (
        _sidecar_candidate_files,
        forget_keys,
        key_sidecar,
    )

    lake = str(tmp_path / "slake")
    docs = spark.range(0, 400).select(
        F.format_string("doc-%04d", F.col("id")).alias("uri"),
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("source"),
    )
    docs.repartitionByRange(4, F.col("uri")).write.partitionBy("source").parquet(lake)
    sc = key_sidecar(spark, lake, "uri").cache()
    n_files = sc.count()
    keys = spark.createDataFrame([("doc-0005",), ("doc-0007",)], "uri string")
    cand = _sidecar_candidate_files(spark, lake, keys, "uri", sc)
    assert 0 < len(cand) < n_files
    a = forget_keys(spark, lake, keys, "uri", "source", str(tmp_path / "sa"))
    b = forget_keys(
        spark, lake, keys, "uri", "source", str(tmp_path / "sb"), sidecar=sc
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    sc.unpersist()


# ---------------------------------------------------------------------------
# Z-order clustering
# ---------------------------------------------------------------------------

def _py_zorder(buckets, bits):
    z = 0
    k = len(buckets)
    for bit in range(bits):
        for ci, b in enumerate(buckets):
            z |= ((b >> bit) & 1) << (bit * k + ci)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = [(x, y) for x in range(0, 97, 7) for y in range(0, 97, 11)]
    df = spark.createDataFrame(rows, ["x", "y"])
    bits = 5
    got = df.select(
        "x",
        "y",
        maintenance.zorder_key(
            [
                maintenance.int_bucket(F.col("x"), 0, 96, bits),
                maintenance.int_bucket(F.col("y"), 0, 96, bits),
            ],
            bits,
        ).alias("z"),
    ).collect()
    n = 1 << bits
    for r in got:
        bx = min(n - 1, (r["x"] - 0) * n // 97)
        by = min(n - 1, (r["y"] - 0) * n // 97)
        assert r["z"] == _py_zorder([bx, by], bits), (r["x"], r["y"])


def test_int_bucket_edges_nulls_and_guards(spark):
    import pytest

    df = spark.createDataFrame(
        [(0,), (99,), (100,), (None,), (-5,), (1000,)], "x int"
    )
    got = [
        r["b"]
        for r in df.select(
            maintenance.int_bucket(F.col("x"), 0, 99, 3).alias("b")
        ).collect()
    ]
    # lo -> 0, hi -> 7, out-of-range clamps, NULL -> 0
    assert got == [0, 7, 7, 0, 0, 7]
    with pytest.raises(ValueError, match="hi < lo"):
        maintenance.int_bucket(F.col("x"), 5, 4, 3)
    with pytest.raises(ValueError, match="bits_per_col"):
        maintenance.zorder_key([F.col("x"), F.col("x")], 32)
    with pytest.raises(ValueError, match="at least one"):
        maintenance.zorder_key([], 4)


def test_zorder_write_identity_and_pruning_certificate(spark, tmp_path):
    # A uniform 2-D grid: the layout where linear sort helps only its
    # leading column and Z-order must help both.
    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 48271 + 11) % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    n_files = 16
    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "lin")
    bounds = maintenance.write_zordered_parquet(
        df, zpath, ["x", "y"], bits_per_col=8, partitions=n_files
    )
    assert bounds == {"x": (0, 199), "y": (0, 199)}
    maintenance.write_sorted_parquet(df, spath, "x", partitions=n_files)

    # row identity and helper-column hygiene
    back = spark.read.parquet(zpath)
    assert back.columns == ["x", "y", "payload"]
    assert back.count() == 40_000
    assert (
        back.agg(F.sum("payload")).collect()[0][0]
        == df.agg(F.sum("payload")).collect()[0][0]
    )

    def widths(path):
        st = maintenance.clustering_stats(spark, path, ["x", "y"]).collect()
        wx = sum(r["max_x"] - r["min_x"] for r in st) / len(st)
        wy = sum(r["max_y"] - r["min_y"] for r in st) / len(st)
        return wx, wy, st

    zx, zy, zst = widths(zpath)
    sx, sy, _ = widths(spath)
    # linear sort: leading column tight, trailing column spans ~everything
    assert sx < 25 and sy > 150
    # z-order: BOTH columns well under the full 0..199 domain (~200/sqrt(16))
    assert zx < 100 and zy < 100

    # the certificate IS the scan cost: a point-ish predicate on y alone
    # must prune files under z-order and nothing under the x-sort
    lo, hi = 100, 110
    z_touch = sum(1 for r in zst if not (r["max_y"] < lo or r["min_y"] > hi))
    assert z_touch <= len(zst) // 2


def test_zorder_explicit_bounds_skip_the_minmax_job(spark, tmp_path):
    df = spark.range(1000).select(
        (F.col("id") % 50).alias("x"), (F.col("id") % 31).alias("y")
    )
    out = str(tmp_path / "zb")
    b = maintenance.write_zordered_parquet(
        df, out, ["x", "y"], bits_per_col=4, partitions=2,
        bounds={"x": (0, 49), "y": (0, 30)},
    )
    assert b == {"x": (0, 49), "y": (0, 30)}
    assert spark.read.parquet(out).count() == 1000
    import pytest

    with pytest.raises(ValueError, match="bounds missing"):
        maintenance.write_zordered_parquet(
            df, out, ["x", "y"], bounds={"x": (0, 49)}
        )


def test_optimize_zorder_compacts_and_clusters(spark, tmp_path):
    frag = str(tmp_path / "frag")
    df = spark.range(20_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") * 48271 + 11) % 100).alias("y"),
    )
    df.repartition(40).write.parquet(frag)
    assert len(_parts(frag)) == 40
    out, bounds = maintenance.optimize_zorder(
        spark, frag, ["x", "y"], bits_per_col=6, target_file_bytes=10**9
    )
    assert bounds == {"x": (0, 99), "y": (0, 99)}
    assert len(_parts(out)) == 1
    assert spark.read.parquet(out).count() == 20_000
    # bounds round-trip: a second optimize with the persisted artifact
    # reproduces the same layout without the min/max job
    out2, b2 = maintenance.optimize_zorder(
        spark, frag, ["x", "y"], bits_per_col=6,
        out_path=str(tmp_path / "z2"), target_file_bytes=10**9, bounds=bounds,
    )
    assert b2 == bounds
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_optimize_zorder_hilbert_curve_passthrough(spark, tmp_path):
    # curve="hilbert" rides through optimize to the write: both columns
    # cluster (per-file widths well under the domain), row identity holds
    src = str(tmp_path / "src")
    spark.range(20_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") * 48271 + 11) % 100).alias("y"),
    ).repartition(8).write.parquet(src)
    out, bounds = maintenance.optimize_zorder(
        spark, src, ["x", "y"], bits_per_col=6,
        target_file_bytes=16 * 1024, curve="hilbert",
    )
    assert bounds == {"x": (0, 99), "y": (0, 99)}
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    st = maintenance.clustering_stats(spark, out, ["x", "y"]).collect()
    assert len(st) > 2
    wx = sum(r["max_x"] - r["min_x"] for r in st) / len(st)
    wy = sum(r["max_y"] - r["min_y"] for r in st) / len(st)
    assert wx < 80 and wy < 80


def test_zorder_write_plan_single_range_exchange(spark, tmp_path):
    # plan contract: the layout job is ONE range shuffle on the key —
    # the bit interleave must not introduce its own exchange or a UDF
    import re

    df = spark.range(10_000).select(
        (F.col("id") % 64).alias("x"), ((F.col("id") * 7) % 64).alias("y")
    )
    buckets = [
        maintenance.int_bucket(F.col(c), 0, 63, 6) for c in ("x", "y")
    ]
    keyed = df.withColumn("__z", maintenance.zorder_key(buckets, 6))
    shaped = keyed.repartitionByRange(8, "__z").sortWithinPartitions("__z").drop("__z")
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _py_hilbert(x, y, bits):
    d, s = 0, 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_parity_and_adjacency(spark, tmp_path):
    import pytest

    bits, n = 4, 16
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y", maintenance.hilbert_key(F.col("x"), F.col("y"), bits).alias("d")
    ).collect()
    by_d = {}
    for r in got:
        assert r["d"] == _py_hilbert(r["x"], r["y"], bits), (r["x"], r["y"])
        by_d[r["d"]] = (r["x"], r["y"])
    # a true Hilbert walk: bijective onto [0, 4^bits) and every
    # consecutive pair of keys is Manhattan-adjacent (the property the
    # Z curve lacks at power-of-two seams)
    assert sorted(by_d) == list(range(n * n))
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
    with pytest.raises(ValueError, match="bits"):
        maintenance.hilbert_key(F.col("x"), F.col("y"), 0)

    # curve="hilbert" layout: identity + 2-D-only guard
    out = str(tmp_path / "hil")
    big = spark.range(5000).select(
        (F.col("id") % 64).alias("x"), ((F.col("id") * 31) % 64).alias("y")
    )
    maintenance.write_zordered_parquet(
        big, out, ["x", "y"], bits_per_col=6, partitions=4, curve="hilbert"
    )
    assert spark.read.parquet(out).count() == 5000
    with pytest.raises(ValueError, match="2-D only"):
        maintenance.write_zordered_parquet(
            big.withColumn("z3", F.col("x")), out, ["x", "y", "z3"],
            bits_per_col=4, curve="hilbert",
        )
    with pytest.raises(ValueError, match="unknown curve"):
        maintenance.write_zordered_parquet(
            big, out, ["x", "y"], bits_per_col=4, curve="peano"
        )


def test_lake_report_counts_small_files(spark, tmp_path):
    p = str(tmp_path / "lake")
    spark.range(10_000).repartition(8).write.parquet(p)
    r = maintenance.lake_report(spark, p, small_file_bytes=10**9).collect()[0]
    assert r["n_files"] == 8 and r["total_rows"] == 10_000
    assert r["n_small_files"] == 8  # everything under 1 GB here
    assert r["min_file_bytes"] > 0 and r["max_file_bytes"] >= r["min_file_bytes"]
    assert r["min_file_rows"] + r["max_file_rows"] <= 10_000
    # after compaction the small-file population collapses
    out = maintenance.compact_parquet(spark, p, target_file_bytes=10**9)
    r2 = maintenance.lake_report(spark, out, small_file_bytes=1).collect()[0]
    assert r2["n_files"] == 1 and r2["n_small_files"] == 0
    assert r2["total_rows"] == 10_000


def test_zorder_all_null_cluster_column_fails_loudly(spark, tmp_path):
    import pytest

    df = spark.range(10).select(
        F.col("id").alias("x"), F.lit(None).cast("long").alias("y")
    )
    with pytest.raises(ValueError, match="no\\s+non-NULL values"):
        maintenance.write_zordered_parquet(
            df, str(tmp_path / "zn"), ["x", "y"], bits_per_col=4
        )


def test_prunable_files_matches_hand_filter(spark, tmp_path):
    df = spark.range(20_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") * 48271 + 11) % 100).alias("y"),
    )
    zp = str(tmp_path / "zp")
    maintenance.write_zordered_parquet(df, zp, ["x", "y"], bits_per_col=6,
                                       partitions=8)
    st = maintenance.clustering_stats(spark, zp, ["x", "y"])
    got = maintenance.prunable_files(st, {"y": (40, 45)}).collect()
    hand = [
        r for r in st.collect()
        if not (r["max_y"] < 40 or r["min_y"] > 45)
    ]
    assert sorted(r["file"] for r in got) == sorted(r["file"] for r in hand)
    # a 2-D point predicate on a z-ordered layout prunes to a minority
    both = maintenance.prunable_files(st, {"x": (10, 12), "y": (80, 82)})
    assert 0 < both.count() < st.count()
    # out-of-domain range: everything pruned
    assert maintenance.prunable_files(st, {"x": (1000, 2000)}).count() == 0


def test_int_bucket_far_out_of_range_clamps_to_edge(spark):
    # ADVICE r10: with persisted bounds a later append can carry values
    # far outside [lo, hi]; (x - lo) * 2**bits on a huge long would wrap
    # negative and silently land in bucket 0.  The pre-multiply clamp
    # makes the documented edge placement exact for ANY input.
    df = spark.createDataFrame(
        [(1 << 47,), (-(1 << 47),), (99,)], "x long"
    )
    got = [
        r["b"]
        for r in df.select(
            maintenance.int_bucket(F.col("x"), 0, 99, 16).alias("b")
        ).collect()
    ]
    # hi's own bucket is floor(99 * 2^16 / 100) = 64880 — the huge value
    # must land THERE (same cell as hi), not wrap to 0
    assert got == [64880, 0, 64880]


def test_pruned_read_scans_only_certificate_files(spark, tmp_path):
    # The READ side of the pruning certificate (VERDICT r10 task #2):
    # pruned_read must touch exactly the prunable_files scan set — the
    # scan's own file list is the evidence, and the answer must equal
    # the full-scan filter row-for-row.
    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 48271 + 11) % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "zr")
    maintenance.write_zordered_parquet(df, zp, ["x", "y"], bits_per_col=8,
                                       partitions=16)
    preds = {"x": (10, 20), "y": (80, 90)}
    got, rep = maintenance.pruned_read(spark, zp, preds)

    # certificate arithmetic is internally consistent and actually prunes
    assert rep["n_files_total"] == 16
    assert rep["n_files_read"] + rep["n_files_skipped"] == 16
    assert rep["n_files_skipped"] > 0

    # the scan reads EXACTLY the certificate's file set — inputFiles()
    # is the FileIndex-resolved list the scan will open
    st = maintenance.clustering_stats(spark, zp, ["x", "y"])
    keep = {r["file"] for r in maintenance.prunable_files(st, preds).collect()}
    assert len(keep) == rep["n_files_read"]
    def _norm(f):
        return re.sub("^file:/+", "/", f)

    read_files = {_norm(f) for f in got.inputFiles()}
    cert_files = {_norm(f) for f in keep}
    assert read_files == cert_files

    # answer identity vs the naive full-scan filter
    full = (
        spark.read.parquet(zp)
        .filter(F.col("x").between(10, 20) & F.col("y").between(80, 90))
    )
    assert sorted(r["payload"] for r in got.collect()) == sorted(
        r["payload"] for r in full.collect()
    )

    # empty scan set: out-of-domain predicate returns an empty frame
    # with the dataset schema, zero files
    empty, erep = maintenance.pruned_read(spark, zp, {"x": (1000, 2000)})
    assert erep["n_files_read"] == 0 and empty.count() == 0
    assert empty.columns == ["x", "y", "payload"]

    # column pruning rides through
    proj, _ = maintenance.pruned_read(spark, zp, preds, columns=["payload"])
    assert proj.columns == ["payload"]


def test_pruned_semi_read_dynamic_file_pruning(spark, tmp_path):
    import pytest as _pt
    from pyspark.sql import functions as F  # noqa: F811

    df = spark.range(40_000).select(
        (F.col("id") % 4000).alias("k"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "semi")
    maintenance.write_sorted_parquet(df, zp, "k", partitions=16)

    # a narrow key slice: 2% of the key domain -> few files
    keys = spark.range(80).select((F.col("id") + 1000).alias("k"))
    got, rep = maintenance.pruned_semi_read(spark, zp, "k", keys)
    assert rep["n_keys"] == 80 and rep["n_files_total"] == 16
    assert 0 < rep["n_files_read"] < 16
    # the scan's file list is the pruned set
    assert len({re.sub("^file:/+", "/", f) for f in got.inputFiles()}) == rep[
        "n_files_read"
    ]
    # answer identity vs the naive broadcast semi join over the full scan
    full = spark.read.parquet(zp).join(F.broadcast(keys), "k", "left_semi")
    assert sorted(r["payload"] for r in got.collect()) == sorted(
        r["payload"] for r in full.collect()
    )
    # duplicate + NULL keys: dedup and drop, same answer
    messy = keys.unionByName(keys).unionByName(
        spark.createDataFrame([(None,)], "k long")
    )
    got2, rep2 = maintenance.pruned_semi_read(spark, zp, "k", messy)
    assert rep2["n_keys"] == 80
    assert got2.count() == got.count()
    # out-of-domain keys: zero files
    far = spark.range(5).select((F.col("id") + 1_000_000).alias("k"))
    empty, erep = maintenance.pruned_semi_read(spark, zp, "k", far)
    assert erep["n_files_read"] == 0 and empty.count() == 0
    # key-set bound is loud
    with _pt.raises(ValueError, match="max_keys"):
        maintenance.pruned_semi_read(spark, zp, "k", keys, max_keys=10)


def test_zone_map_sidecar_lifecycle(spark, tmp_path):
    """The persisted pruning certificate: write once, read many (no
    data-column scan to decide the file set), validated loudly when
    stale, refreshed incrementally (only new files stated, vanished
    rows dropped), and invisible to plain data reads."""
    import pytest as _pt

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 48271 + 11) % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "zm")
    maintenance.write_zordered_parquet(df, zp, ["x", "y"], bits_per_col=8,
                                       partitions=16)
    n = maintenance.write_zone_map(spark, zp, ["x", "y"])
    assert n == 16
    # the sidecar is hidden from data reads
    assert spark.read.parquet(zp).columns == ["x", "y", "payload"]
    assert spark.read.parquet(zp).count() == 40_000

    # sidecar-driven pruned read == stats-scan pruned read, same report
    preds = {"x": (10, 20), "y": (80, 90)}
    zm = maintenance.zone_map(spark, zp, ["x", "y"])
    got_zm, rep_zm = maintenance.pruned_read(spark, zp, preds, stats=zm)
    got_scan, rep_scan = maintenance.pruned_read(spark, zp, preds)
    assert rep_zm == rep_scan and rep_zm["n_files_skipped"] > 0
    assert sorted(r["payload"] for r in got_zm.collect()) == sorted(
        r["payload"] for r in got_scan.collect()
    )
    # column-subset validation is loud
    with _pt.raises(ValueError, match="no stats for"):
        maintenance.zone_map(spark, zp, ["x", "payload"])

    # an append makes the sidecar STALE: loud, then incrementally fixed
    df.limit(500).withColumn("x", F.lit(1000).cast("long")).write.mode(
        "append"
    ).parquet(zp)
    with _pt.raises(ValueError, match="STALE"):
        maintenance.zone_map(spark, zp, ["x", "y"])
    rep = maintenance.refresh_zone_map(spark, zp, ["x", "y"])
    assert rep["n_added"] >= 1 and rep["n_removed"] == 0
    assert rep["n_files"] == 16 + rep["n_added"]
    zm2 = maintenance.zone_map(spark, zp, ["x", "y"])
    # the appended out-of-band x=1000 rows live in the NEW files only;
    # a predicate on them must now read exactly those files
    got3, rep3 = maintenance.pruned_read(
        spark, zp, {"x": (1000, 1000)}, stats=zm2
    )
    assert rep3["n_files_read"] == rep["n_added"]
    assert got3.count() == 500

    # pruned_semi_read takes the sidecar too
    keys = spark.range(5).select((F.col("id") + 1000).alias("x"))
    semi, srep = maintenance.pruned_semi_read(
        spark, zp, "x", keys, stats=zm2.select(
            "file", "n_rows", "min_x", "max_x"
        )
    )
    assert srep["n_files_read"] == rep["n_added"]
    assert semi.count() == 500

    # refresh from scratch when no sidecar exists
    import shutil
    shutil.rmtree(zp + "/_zone_map")
    rep0 = maintenance.refresh_zone_map(spark, zp, ["x", "y"])
    assert rep0["n_removed"] == 0 and rep0["n_files"] == rep["n_files"]


def test_bloom_sidecar_point_lookup_pruning(spark, tmp_path):
    """Point lookups on an UNCLUSTERED key: the per-file Bloom sidecar
    prunes files a zone map cannot (every file spans the key domain),
    the residual semi join keeps answers exact under false positives,
    and staleness fails loudly."""
    import pytest as _pt
    from pyspark.sql import functions as F  # noqa: F811

    # layout clustered by ORDER id; the lookup key k is scattered
    df = spark.range(40_000).select(
        F.col("id").alias("okey"),
        (F.col("id") * 48271 % 9973).alias("k"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "bl")
    maintenance.write_sorted_parquet(df, zp, "okey", partitions=16)
    n = maintenance.write_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                        num_bits=1 << 18)
    assert n == 16
    # sidecar hidden from data reads
    assert spark.read.parquet(zp).columns == ["okey", "k", "payload"]

    # zone map on k is USELESS here: every file spans ~the whole domain
    st = maintenance.clustering_stats(spark, zp, ["k"]).collect()
    assert all(r["max_k"] - r["min_k"] > 9000 for r in st)

    # a single probe key: k values repeat ~4x, rows cluster by okey, so
    # the 4 hits live in at most 4 files — bloom reads only those
    keys = spark.createDataFrame([(4242,)], "k long")
    got, rep = maintenance.bloom_pruned_read(
        spark, zp, "k", keys, num_hashes=3, num_bits=1 << 18
    )
    assert rep["n_files_total"] == 16 and rep["n_keys"] == 1
    assert rep["n_files_read"] < 16  # pruning happened
    full = spark.read.parquet(zp).filter(F.col("k") == 4242)
    assert sorted(r["payload"] for r in got.collect()) == sorted(
        r["payload"] for r in full.collect()
    )
    assert got.count() > 0

    # multiple keys: still exact vs the broadcast semi join
    keys3 = spark.createDataFrame([(4242,), (17,), (9000,)], "k long")
    got3, rep3 = maintenance.bloom_pruned_read(
        spark, zp, "k", keys3, num_hashes=3, num_bits=1 << 18
    )
    full3 = spark.read.parquet(zp).join(F.broadcast(keys3), "k", "left_semi")
    assert sorted(r["payload"] for r in got3.collect()) == sorted(
        r["payload"] for r in full3.collect()
    )
    assert rep3["n_files_read"] >= rep["n_files_read"]

    # a key absent from the data: zero rows (possibly >0 files — FPs
    # cost I/O, never rows)
    miss, mrep = maintenance.bloom_pruned_read(
        spark, zp, "k", spark.createDataFrame([(999_999,)], "k long"),
        num_hashes=3, num_bits=1 << 18,
    )
    assert miss.count() == 0

    # append -> stale sidecar is loud
    df.limit(10).write.mode("append").parquet(zp)
    with _pt.raises(ValueError, match="STALE"):
        maintenance.bloom_pruned_read(
            spark, zp, "k", keys, num_hashes=3, num_bits=1 << 18
        )


def test_stats_row_intersects_parity_with_prunable_files(spark, tmp_path):
    """The driver-side keep test and the DataFrame certificate must give
    identical answers — including every NULL-stats shape (two-sided
    NULL: conservative keep; ONE-sided NULL: a known bound can still
    prove a miss, SQL three-valued OR semantics)."""
    df = spark.range(20_000).select(
        (F.col("id") % 100).alias("x"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 50).alias("y"),
    )
    zp = str(tmp_path / "par")
    maintenance.write_zordered_parquet(df, zp, ["x"], bits_per_col=6,
                                       partitions=8)
    st = maintenance.clustering_stats(spark, zp, ["x", "y"])
    # hand-built rows drive the NULL shapes the real layout cannot
    # produce: two-sided NULL, and one-sided NULLs on either bound
    hand = spark.createDataFrame(
        [
            ("f_null_both", 1, None, None, None, None),
            ("f_null_min", 1, None, 5, 0, 99),
            ("f_null_max", 1, 50, None, 0, 99),
            ("f_plain", 1, 10, 20, 10, 20),
        ],
        "file string, n_rows long, min_x long, max_x long, "
        "min_y long, max_y long",
    )
    for stats in (st, hand):
        rows = stats.collect()
        for preds in (
            {"x": (10, 30)},
            {"x": (10, 30), "y": (5, 9)},
            {"y": (1000, 2000)},
            {"x": (0, 99)},
            {"x": (40, 45)},
        ):
            via_df = sorted(
                r["file"]
                for r in maintenance.prunable_files(stats, preds).collect()
            )
            via_py = sorted(
                r["file"]
                for r in rows
                if maintenance._stats_row_intersects(r, preds)
            )
            assert via_df == via_py, preds
    # the one-sided shapes actually diverge between keep and miss:
    # max_x=5 proves a miss for x>=10 even with min_x NULL
    assert not maintenance._stats_row_intersects(
        {"min_x": None, "max_x": 5}, {"x": (10, 30)}
    )
    assert maintenance._stats_row_intersects(
        {"min_x": None, "max_x": None}, {"x": (10, 30)}
    )


def test_bloom_sidecar_param_mismatch_is_loud(spark, tmp_path):
    import pytest as _pt
    from pyspark.sql import functions as F  # noqa: F811

    df = spark.range(2_000).select(
        F.col("id").alias("okey"), (F.col("id") % 97).alias("k")
    )
    zp = str(tmp_path / "bp")
    maintenance.write_sorted_parquet(df, zp, "okey", partitions=4)
    maintenance.write_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                    num_bits=1 << 16)
    keys = spark.createDataFrame([(7,)], "k long")
    # matching params work
    got, rep = maintenance.bloom_pruned_read(
        spark, zp, "k", keys, num_hashes=3, num_bits=1 << 16
    )
    assert got.count() > 0
    # a k or m mismatch would compute positions in a different space
    # and silently prune true matches — must be loud instead
    with _pt.raises(ValueError, match="built with"):
        maintenance.bloom_pruned_read(
            spark, zp, "k", keys, num_hashes=3, num_bits=1 << 20
        )
    with _pt.raises(ValueError, match="built with"):
        maintenance.bloom_pruned_read(
            spark, zp, "k", keys, num_hashes=5, num_bits=1 << 16
        )


def test_bloom_sidecar_refresh_lifecycle(spark, tmp_path):
    """The Bloom sidecar gets the zone map's lifecycle (VERDICT r11 task
    #2): append → refresh (hashes only the NEW files) → pruned read ≡
    full-rebuild read; a parameter-stamp mismatch on refresh raises;
    refresh builds from scratch when no sidecar exists."""
    import pytest as _pt

    df = spark.range(40_000).select(
        F.col("id").alias("okey"),
        (F.col("id") * 48271 % 9973).alias("k"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "blr")
    maintenance.write_sorted_parquet(df, zp, "okey", partitions=16)

    # refresh from scratch == full build
    rep0 = maintenance.refresh_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                             num_bits=1 << 18)
    assert rep0 == {"n_added_files": 16, "n_removed_files": 0, "n_files": 16}

    # append rows whose k values are brand new → STALE, then refreshed
    extra = spark.range(40_000, 40_500).select(
        F.col("id").alias("okey"),
        (F.col("id") + 100_000).alias("k"),
        F.col("id").alias("payload"),
    )
    extra.coalesce(2).write.mode("append").parquet(zp)
    keys = spark.createDataFrame([(4242,), (140_250,)], "k long")
    with _pt.raises(ValueError, match="STALE"):
        maintenance.bloom_pruned_read(spark, zp, "k", keys, num_hashes=3,
                                      num_bits=1 << 18)
    rep = maintenance.refresh_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                            num_bits=1 << 18)
    assert rep["n_added_files"] == 2 and rep["n_removed_files"] == 0
    assert rep["n_files"] == 18

    got, prep = maintenance.bloom_pruned_read(
        spark, zp, "k", keys, num_hashes=3, num_bits=1 << 18
    )
    refreshed = sorted(r["payload"] for r in got.collect())
    refreshed_rep = dict(prep)

    # the refreshed sidecar answers exactly like a full rebuild
    assert maintenance.write_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                           num_bits=1 << 18) == 18
    got2, prep2 = maintenance.bloom_pruned_read(
        spark, zp, "k", keys, num_hashes=3, num_bits=1 << 18
    )
    assert sorted(r["payload"] for r in got2.collect()) == refreshed
    assert dict(prep2) == refreshed_rep
    # and it matches the unpruned truth
    full = spark.read.parquet(zp).join(F.broadcast(keys), "k", "left_semi")
    assert refreshed == sorted(r["payload"] for r in full.collect())
    assert len(refreshed) > 0

    # a (k, m) stamp mismatch on refresh is loud — positions from
    # different spaces must never be merged
    with _pt.raises(ValueError, match="num_hashes"):
        maintenance.refresh_bloom_sidecar(spark, zp, "k", num_hashes=4,
                                          num_bits=1 << 18)
    with _pt.raises(ValueError, match="num_bits"):
        maintenance.refresh_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                          num_bits=1 << 17)


def test_sidecars_tolerate_zero_row_files(spark, tmp_path):
    """A zero-row part-file (e.g. from an empty-frame append) appears in
    the FileIndex listing but yields no stats/position row — without
    sentinel rows the coverage validation would report STALE forever
    and no refresh could repair it (ADVICE r11).  Both sidecars must
    cover it, validate clean, and prune correctly around it."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    df = spark.range(10_000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") % 997).alias("k"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "zrf")
    maintenance.write_sorted_parquet(df, zp, "x", partitions=4)
    # drop a genuinely empty parquet file into the lake
    schema = pa.schema([("x", pa.int64()), ("k", pa.int64()),
                        ("payload", pa.int64())])
    _pq.write_table(schema.empty_table(), os.path.join(zp, "part-empty.parquet"))
    assert spark.read.parquet(zp).count() == 10_000

    # zone map: build-from-scratch covers the empty file...
    n = maintenance.write_zone_map(spark, zp, ["x"])
    assert n == 5
    zm = maintenance.zone_map(spark, zp, ["x"])  # validation passes
    got, rep = maintenance.pruned_read(spark, zp, {"x": (10, 20)}, stats=zm)
    assert rep["n_files_total"] == 5
    assert got.count() == df.filter(F.col("x").between(10, 20)).count()
    # ...and so does an incremental refresh meeting a NEW empty file
    _pq.write_table(schema.empty_table(), os.path.join(zp, "part-empty2.parquet"))
    rep2 = maintenance.refresh_zone_map(spark, zp, ["x"])
    assert rep2["n_added"] == 1 and rep2["n_files"] == 6
    maintenance.zone_map(spark, zp, ["x"])  # still validates clean

    # bloom: same contract; the sentinel NULL position never matches a
    # probe, so the empty file is always skipped
    maintenance.write_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                    num_bits=1 << 16)
    keys = spark.createDataFrame([(17,)], "k long")
    bgot, brep = maintenance.bloom_pruned_read(spark, zp, "k", keys,
                                               num_hashes=3, num_bits=1 << 16)
    assert brep["n_files_total"] == 6
    assert bgot.count() == df.filter(F.col("k") == 17).count()
    _pq.write_table(schema.empty_table(), os.path.join(zp, "part-empty3.parquet"))
    rep3 = maintenance.refresh_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                             num_bits=1 << 16)
    assert rep3["n_added_files"] == 1 and rep3["n_files"] == 7
    bgot2, brep2 = maintenance.bloom_pruned_read(spark, zp, "k", keys,
                                                 num_hashes=3,
                                                 num_bits=1 << 16)
    assert brep2["n_files_total"] == 7
    assert bgot2.count() == bgot.count()


def test_sidecar_promote_tolerates_crash_artifacts(spark, tmp_path):
    """The crash-safe swap's window states are recoverable: leftover
    ``.new``/``.old`` directories from a crashed earlier build must not
    corrupt the next build (they are overwritten/cleared), and a crash
    BETWEEN the two renames (live dir moved aside, process died) leaves
    a loudly-failing reader plus a rebuild path that recovers."""
    import shutil

    import pytest as _pt

    df = spark.range(5_000).select(
        (F.col("id") % 50).alias("x"), (F.col("id") % 997).alias("k"),
        F.col("id").alias("payload"),
    )
    zp = str(tmp_path / "swap")
    maintenance.write_sorted_parquet(df, zp, "x", partitions=4)

    # crash artifacts BEFORE a build: junk .new and .old must be swept
    zdir = zp + "/_zone_map"
    for suffix in (".new", ".old"):
        os.makedirs(zdir + suffix, exist_ok=True)
        with open(os.path.join(zdir + suffix, "junk.txt"), "w") as f:
            f.write("crashed run leftovers")
    n = maintenance.write_zone_map(spark, zp, ["x"])
    assert n == 4
    assert not os.path.exists(zdir + ".new") and not os.path.exists(zdir + ".old")
    zm = maintenance.zone_map(spark, zp, ["x"])
    got, rep = maintenance.pruned_read(spark, zp, {"x": (10, 12)}, stats=zm)
    assert got.count() == df.filter(F.col("x").between(10, 12)).count()

    # crash BETWEEN the renames: live moved aside, .new staged, process
    # died.  The reader fails loudly (no silent stale answer) and a
    # rebuild recovers to a correct certificate.
    shutil.move(zdir, zdir + ".old")
    shutil.copytree(zdir + ".old", zdir + ".new")
    with _pt.raises(Exception):
        maintenance.zone_map(spark, zp, ["x"])
    n2 = maintenance.write_zone_map(spark, zp, ["x"])
    assert n2 == 4
    maintenance.zone_map(spark, zp, ["x"])  # validates clean again

    # same sweep discipline on the Bloom side
    bdir = zp + "/_bloom_k"
    os.makedirs(bdir + ".new", exist_ok=True)
    with open(os.path.join(bdir + ".new", "junk.txt"), "w") as f:
        f.write("crashed run leftovers")
    nb = maintenance.write_bloom_sidecar(spark, zp, "k", num_hashes=3,
                                         num_bits=1 << 16)
    assert nb == 4
    assert not os.path.exists(bdir + ".new") and not os.path.exists(bdir + ".old")
    keys = spark.createDataFrame([(17,)], "k long")
    got2, rep2 = maintenance.bloom_pruned_read(spark, zp, "k", keys,
                                               num_hashes=3, num_bits=1 << 16)
    assert got2.count() == df.filter(F.col("k") == 17).count()


def test_training_shards_hash_assignment_deterministic(spark, tmp_path):
    """assignment="hash": shard membership is a pure md5_60 function of
    the row — identical manifests across runs and layouts, shard=N/
    partition dirs, and a loud error on an unknown assignment."""
    import pytest as _pt

    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = maintenance.write_training_shards(df, p1, num_shards=4,
                                           assignment="hash")
    # different input partitioning, same rows -> byte-identical manifest
    m2 = maintenance.write_training_shards(df.repartition(13), p2,
                                           num_shards=4, assignment="hash")
    r1 = sorted(map(tuple, m1.collect()))
    r2 = sorted(map(tuple, m2.collect()))
    assert r1 == r2 and len(r1) == 4
    assert sum(r["n_docs"] for r in m1.collect()) == 2_000
    # partition-dir layout the loader can address directly
    assert sorted(
        d for d in os.listdir(p1) if d.startswith("shard=")
    ) == ["shard=0", "shard=1", "shard=2", "shard=3"]
    # membership is row-stable: re-writing a SUBSET routes rows the same
    sub = df.filter(F.col("doc_id") < 500)
    m3 = maintenance.write_training_shards(sub, str(tmp_path / "s3"),
                                           num_shards=4, assignment="hash")
    back_full = spark.read.parquet(p1).filter(F.col("doc_id") < 500)
    full_counts = {
        r["shard"]: r["n"]
        for r in back_full.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sub_counts = {int(r["shard"]): r["n_docs"] for r in m3.collect()}
    assert {int(k): v for k, v in full_counts.items()} == sub_counts
    with _pt.raises(ValueError, match="assignment"):
        maintenance.write_training_shards(df, str(tmp_path / "s4"),
                                          assignment="zip")


def test_erasure_then_certificate_refresh_lifecycle(spark, tmp_path):
    """Cross-feature integration: a right-to-erasure sweep rewrites
    partitions, which makes the persisted zone map STALE (loud, never a
    silent prune against pre-erasure stats); refresh repairs it and the
    certificate-driven read serves the post-erasure lake — erased keys
    gone, accounting consistent."""
    import shutil

    import pytest as _pt

    df = spark.range(8_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 8).alias("part"),
        (F.col("id") % 100).alias("x"),
    )
    zp = str(tmp_path / "lake")
    df.repartition(8, "part").write.partitionBy("part").parquet(zp)
    maintenance.write_zone_map(spark, zp, ["x"])
    maintenance.zone_map(spark, zp, ["x"])  # validates clean

    keys = spark.createDataFrame([(16,), (24,), (4000,)], "doc_id long")
    cert = maintenance.forget_keys(spark, zp, keys, partition_col="part")
    rows = {r["part"]: (r["n_forgotten"], r["n_kept"]) for r in cert.collect()}
    assert rows == {0: (3, 997)}  # 16/24/4000 all live in part=0
    # caller-side swap of the rewritten partition (the documented
    # copy-on-write convention)
    shutil.rmtree(os.path.join(zp, "part=0"))
    shutil.move(os.path.join(zp + ".forget", "part=0"),
                os.path.join(zp, "part=0"))

    # pre-erasure certificate must refuse to serve the new layout
    with _pt.raises(ValueError, match="STALE"):
        maintenance.zone_map(spark, zp, ["x"])
    rep = maintenance.refresh_zone_map(spark, zp, ["x"])
    assert rep["n_removed"] >= 1 and rep["n_added"] >= 1

    got, prep = maintenance.pruned_read(
        spark, zp, {"x": (0, 99)}, stats=maintenance.zone_map(spark, zp, ["x"])
    )
    ids = {r["doc_id"] for r in got.collect()}
    assert len(ids) == 8_000 - 3
    assert ids.isdisjoint({16, 24, 4000})


def test_pruned_semi_read_snapshot_consistent_keys(spark, tmp_path):
    """The returned frame's residual filter is frozen from the key
    snapshot that decided file pruning: a mutation of the keys SOURCE
    between the call and the action must not leak new keys into the
    result (which would be neither the old nor the new snapshot — the
    kept-file set was decided for the old keys)."""
    df = spark.range(4_000).select(
        (F.col("id") % 400).alias("k"), F.col("id").alias("payload")
    )
    zp = str(tmp_path / "lake")
    maintenance.write_sorted_parquet(df, zp, "k", partitions=8)
    kdir = str(tmp_path / "keys")
    spark.createDataFrame([(10,), (20,)], "k long").write.parquet(kdir)

    keys = spark.read.parquet(kdir)
    got, rep = maintenance.pruned_semi_read(spark, zp, "k", keys)
    # mutate the keys source AFTER the call, BEFORE the action
    spark.createDataFrame([(390,)], "k long").write.mode("append").parquet(kdir)
    ks = {r["k"] for r in got.collect()}
    assert ks == {10, 20}  # the snapshot, not the mutated source
    # a fresh call sees the new source
    got2, _ = maintenance.pruned_semi_read(spark, zp, "k",
                                           spark.read.parquet(kdir))
    assert {r["k"] for r in got2.collect()} == {10, 20, 390}


def test_file_manifest_reads_skip_listing(spark, tmp_path, monkeypatch):
    """With a manifest present, certificate reads validate against the
    persisted snapshot and never touch the object-store namespace — at
    100 TB the recursive listing is the slow, eventually-consistent
    part of the read path (VERDICT r12 task #3)."""
    lake = str(tmp_path / "lake")
    spark.range(0, 4000).withColumn(
        "k", (F.col("id") % 97).cast("long")
    ).repartition(6).write.parquet(lake)
    assert maintenance.write_zone_map(spark, lake, ["k"]) == 6
    maintenance.write_bloom_sidecar(spark, lake, "k", 3, 1 << 16)
    rep = maintenance.write_file_manifest(spark, lake)
    assert rep == {"generation": 0, "n_files": 6, "n_added": 6, "n_removed": 0}

    def _no_listing(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("read path listed the lake despite a manifest")

    monkeypatch.setattr(maintenance, "_data_files", _no_listing)
    stats = maintenance.zone_map(spark, lake, ["k"])
    assert stats.count() == 6
    keys = spark.range(0, 5).select(F.col("id").alias("k"))
    df, brep = maintenance.bloom_pruned_read(spark, lake, "k", keys, 3, 1 << 16)
    assert brep["n_files_total"] == 6 and df.count() > 0


def test_stale_manifest_fails_loud_and_refresh_repairs(spark, tmp_path):
    """Manifest generation advanced past the certificate -> the read
    names the manifest generation in its STALE error; refresh_* repairs
    the certificate AND advances the manifest to the same listing."""
    import pytest

    lake = str(tmp_path / "lake")
    spark.range(0, 2000).withColumn(
        "k", (F.col("id") % 53).cast("long")
    ).repartition(4).write.parquet(lake)
    maintenance.write_zone_map(spark, lake, ["k"])
    maintenance.write_file_manifest(spark, lake)
    # append without refreshing the certificate, then advance the
    # manifest: the sidecar is now provably stale vs the snapshot
    spark.range(2000, 3000).withColumn(
        "k", (F.col("id") % 53).cast("long")
    ).write.mode("append").parquet(lake)
    rep = maintenance.write_file_manifest(spark, lake)
    assert rep["generation"] == 1 and rep["n_added"] >= 1
    with pytest.raises(ValueError, match="manifest generation 1"):
        maintenance.zone_map(spark, lake, ["k"])
    maintenance.refresh_zone_map(spark, lake, ["k"])
    # refresh reconciled certificate and manifest: read is green and the
    # manifest set equals the certificate's coverage
    stats = maintenance.zone_map(spark, lake, ["k"])
    files, gen = maintenance._manifest_snapshot(spark, lake)
    covered = {
        maintenance._norm_file(r["file"])
        for r in stats.select("file").collect()
    }
    assert covered == files


def test_manifest_snapshot_read_ignores_unrefreshed_append(spark, tmp_path):
    """Iceberg-style snapshot semantics: files appended WITHOUT any
    refresh are invisible to manifest-validated reads — the read serves
    the committed snapshot instead of failing on every uncoordinated
    writer (the documented trade vs live-listing validation)."""
    lake = str(tmp_path / "lake")
    spark.range(0, 1000).withColumn(
        "k", (F.col("id") % 7).cast("long")
    ).repartition(2).write.parquet(lake)
    maintenance.write_zone_map(spark, lake, ["k"])
    maintenance.write_file_manifest(spark, lake)
    spark.range(1000, 1500).withColumn(
        "k", (F.col("id") % 7).cast("long")
    ).write.mode("append").parquet(lake)
    stats = maintenance.zone_map(spark, lake, ["k"])  # no raise
    assert stats.count() == 2  # the committed snapshot, not the append


def test_keep_covered_rows_plan_constant_in_file_count(spark):
    """The refresh kept-file filter must not grow the PLAN with the
    file count: 512 covered files ride ONE broadcast semi-join relation
    — an In literal spells all 512 paths into the plan (and at millions
    of files blows up plan construction / driver memory, ADVICE r12)."""
    files = [f"/lake/part-{i:05d}.parquet" for i in range(512)]
    sidecar = spark.range(512).selectExpr(
        "concat('/lake/part-', lpad(cast(id as string), 5, '0'), "
        "'.parquet') as file",
        "id as n_rows",
    )
    kept = maintenance._keep_covered_rows(spark, sidecar, set(files[:400]))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "part-00399" not in plan  # no per-file literal in the plan
    isin_plan = (
        sidecar.filter(F.col("file").isin(files[:400]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(plan) < len(isin_plan)  # the literal spelling DOES grow
    assert kept.count() == 400
    # empty current set: nothing survives, still no literal
    assert maintenance._keep_covered_rows(spark, sidecar, set()).count() == 0


def test_refresh_zone_map_many_files_equals_rebuild(spark, tmp_path):
    """refresh == rebuild at a many-file layout (the semi-join kept-file
    spelling changes the PLAN, never the sidecar content)."""
    lake = str(tmp_path / "lake")
    spark.range(0, 51_200).withColumn(
        "k", (F.col("id") % 211).cast("long")
    ).repartition(512).write.parquet(lake)
    maintenance.write_zone_map(spark, lake, ["k"])
    spark.range(51_200, 52_000).withColumn(
        "k", (F.col("id") % 211).cast("long")
    ).repartition(3).write.mode("append").parquet(lake)
    rep = maintenance.refresh_zone_map(spark, lake, ["k"])
    assert rep["n_added"] == 3 and rep["n_removed"] == 0
    refreshed = sorted(
        map(tuple, spark.read.parquet(lake + "/_zone_map").collect())
    )
    maintenance.write_zone_map(spark, lake, ["k"])  # full rebuild
    rebuilt = sorted(
        map(tuple, spark.read.parquet(lake + "/_zone_map").collect())
    )
    assert refreshed == rebuilt and len(rebuilt) == 515


def test_residual_key_filter_join_path_matches_isin(spark, tmp_path):
    """Past isin_threshold the residual rides a broadcast LEFT SEMI join
    — identical rows to the literal spelling, plan O(1) in the key
    count (the ADVICE r12 medium: a million-key Column.isin converts
    every key through py4j and bloats the plan)."""
    lake = str(tmp_path / "lake")
    spark.range(0, 5000).withColumn(
        "k", (F.col("id") % 997).cast("long")
    ).repartition(4).write.parquet(lake)
    maintenance.write_bloom_sidecar(spark, lake, "k", 3, 1 << 16)
    keys = spark.range(0, 300).select(F.col("id").alias("k"))
    via_isin, _ = maintenance.bloom_pruned_read(
        spark, lake, "k", keys, 3, 1 << 16, isin_threshold=4096
    )
    via_join, _ = maintenance.bloom_pruned_read(
        spark, lake, "k", keys, 3, 1 << 16, isin_threshold=0
    )
    assert sorted(map(tuple, via_isin.collect())) == sorted(
        map(tuple, via_join.collect())
    )
    plan = via_join._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and " IN " not in plan
    # pruned_semi_read shares the same split
    s_isin, _ = maintenance.pruned_semi_read(spark, lake, "k", keys)
    s_join, _ = maintenance.pruned_semi_read(
        spark, lake, "k", keys, isin_threshold=0
    )
    assert sorted(map(tuple, s_isin.collect())) == sorted(
        map(tuple, s_join.collect())
    )


def _group_jobs(spark, fn) -> list:
    """The ids of the Spark jobs ``fn`` starts, in order, found under a
    job group.  A one-job sentinel runs last in a group of its own: the
    status store applies listener events in order, so once the sentinel
    shows, every job of ``fn`` shows too, its stages finished."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-of-{fn.__name__}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + "-sentinel", group)
        sc.parallelize([1], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-sentinel"):
            break
        time.sleep(0.05)
    return sorted(tracker.getJobIdsForGroup(group))


def _jobs_started(spark, fn) -> int:
    """How many Spark jobs ``fn`` starts (:func:`_group_jobs`)."""
    return len(_group_jobs(spark, fn))


def test_zone_map_paths_start_no_spark_job(spark, tmp_path):
    """On a long-column lake the zone-map certificate is footer metadata:
    building, refreshing and reading it start no Spark job, and neither
    does building the pruned frame.  The lake path holds a space, which
    Spark's file URIs percent-encode and the listing does not."""
    lake = str(tmp_path / "a lake")
    df = spark.range(4000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    df.repartition(4).write.parquet(lake)

    def build():
        assert maintenance.write_zone_map(spark, lake, ["k"]) == 4

    assert _jobs_started(spark, build) == 0
    df.limit(10).write.mode("append").parquet(lake)

    def refresh_and_read():
        assert maintenance.refresh_zone_map(spark, lake, ["k"])["n_added"] == 1
        maintenance.zone_map(spark, lake, ["k"]).collect()
        maintenance.clustering_stats(spark, lake, ["k"]).collect()
        _, rep = maintenance.pruned_read(spark, lake, {"k": (10, 20)})
        assert rep["n_files_total"] == 5

    assert _jobs_started(spark, refresh_and_read) == 0


def test_file_uri_lake_certificate_lifecycle(spark, tmp_path):
    """A file:// URI lake takes the same pyarrow.fs route as a bare path
    through the zone-map lifecycle and the manifest, and the sidecars
    land where a bare-path reader finds them."""
    local = str(tmp_path / "lake")
    uri = "file://" + local
    df = spark.range(4000).select(
        (F.col("id") % 100).alias("x"), F.col("id").alias("payload")
    )
    maintenance.write_sorted_parquet(df, uri, "x", partitions=4)
    assert maintenance.write_zone_map(spark, uri, ["x"]) == 4
    assert maintenance.write_file_manifest(spark, uri)["n_files"] == 4
    preds = {"x": (10, 20)}
    got, rep = maintenance.pruned_read(
        spark, uri, preds, stats=maintenance.zone_map(spark, uri, ["x"])
    )
    assert rep["n_files_total"] == 4 and rep["n_files_skipped"] > 0
    assert got.count() == df.filter(F.col("x").between(10, 20)).count()

    df.limit(100).write.mode("append").parquet(uri)
    rep = maintenance.refresh_zone_map(spark, uri, ["x"])
    assert rep == {"n_added": 1, "n_removed": 0, "n_files": 5}
    files, gen = maintenance._manifest_snapshot(spark, uri)
    assert gen == 1 and len(files) == 5  # the refresh advanced the manifest
    assert maintenance.zone_map(spark, local, ["x"]).count() == 5
    got, rep = maintenance.pruned_read(
        spark, local, preds, stats=maintenance.zone_map(spark, uri, ["x"])
    )
    assert got.count() == (
        spark.read.parquet(uri).filter(F.col("x").between(10, 20)).count()
    )


def test_cell_write_runs_one_task_per_slot(spark, tmp_path):
    """The lake builders' 64-cell ``partitionBy`` write
    (``queries/lake.py:_write_cells``) runs one write task per executor
    slot, not one per cell, and still leaves exactly one parquet file per
    cell holding that cell's rows."""
    from pdtable_spark.queries.lake import _write_cells

    out = str(tmp_path / "cells")
    df = spark.range(6400).select(
        (F.col("id") * 37 % 64).alias("cell"), F.col("id").alias("v")
    )
    slots = spark.sparkContext.defaultParallelism

    def write():
        _write_cells(df, out, "cell", n_cells=64)

    tracker = spark.sparkContext.statusTracker()
    jobs = _group_jobs(spark, write)
    write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks == min(64, slots)

    cells = sorted(d for d in os.listdir(out) if d.startswith("cell="))
    assert len(cells) == 64
    for d in cells:
        assert len(_parts(os.path.join(out, d))) == 1, d
    per_file = {
        int(d.split("=")[1]): pq.read_metadata(_parts(os.path.join(out, d))[0]).num_rows
        for d in cells
    }
    want = {r["cell"]: r["count"] for r in df.groupBy("cell").count().collect()}
    assert per_file == want


#: ``write_training_shards(spark.range(3000) as doc_id, n_tokens = id % 5 + 1,
#: num_shards=16, assignment="hash")``'s manifest: ``{shard: (n_docs, n_tokens)}``.
_HASH_SHARDS_3000 = {
    "0": (175, 577), "1": (165, 472), "2": (211, 621), "3": (178, 533),
    "4": (205, 587), "5": (187, 561), "6": (184, 540), "7": (210, 606),
    "8": (195, 598), "9": (174, 502), "10": (200, 580), "11": (193, 629),
    "12": (179, 547), "13": (182, 561), "14": (196, 590), "15": (166, 496),
}


def test_training_shards_hash_one_file_per_shard(spark, tmp_path):
    """The hash-assigned shard export, with more shards than executor
    slots, writes one file per ``shard=N/`` directory, and its manifest
    stays the pinned one for the same input."""
    import json

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5 + 1).alias("n_tokens")
    )
    out = str(tmp_path / "shards")
    maintenance.write_training_shards(df, out, num_shards=16, assignment="hash")
    shards = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shards) == 16
    for d in shards:
        assert len(_parts(os.path.join(out, d))) == 1, d
    man = json.load(open(os.path.join(out, "_shard_manifest.json")))
    assert {r["shard"]: (r["n_docs"], r["n_tokens"]) for r in man} == _HASH_SHARDS_3000


def test_bloom_sidecar_lifecycle_on_escaped_paths(spark, tmp_path):
    """The Bloom sidecar keys its rows by the listing's spelling of each
    file, not by Spark's percent-encoded ``_metadata.file_path``: on a
    lake whose directory holds spaces and whose file names hold ``+`` and
    ``%``, build → read → append and delete → refresh → read all see the
    lake's real file count and answer like an unpruned semi join."""
    import shutil

    lake = str(tmp_path / "bloom space lake")
    df = spark.range(3000).select(
        F.col("id").alias("okey"), (F.col("id") * 7919 % 1009).alias("k")
    )
    df.repartition(3).write.parquet(lake)
    names = ["part-0 a+b.parquet", "part-1 c%20d.parquet", "part-2 e%f+.parquet"]
    for src, name in zip(sorted(_parts(lake)), names):
        os.rename(src, os.path.join(lake, name))
    keys = spark.createDataFrame([(5,), (77,), (1008,)], "k long")
    bloom = {"num_hashes": 3, "num_bits": 1 << 16}

    def read_and_check(n_files):
        got, rep = maintenance.bloom_pruned_read(spark, lake, "k", keys, **bloom)
        assert rep["n_files_total"] == n_files
        truth = spark.read.parquet(lake).join(F.broadcast(keys), "k", "left_semi")
        truth = truth.select(*got.columns)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, truth.collect()))

    assert maintenance.write_bloom_sidecar(spark, lake, "k", **bloom) == 3
    read_and_check(3)

    staged = str(tmp_path / "staged")
    spark.range(3000, 3500).select(
        F.col("id").alias("okey"), (F.col("id") % 1009).alias("k")
    ).coalesce(1).write.parquet(staged)
    shutil.move(_parts(staged)[0], os.path.join(lake, "part-3 g+%25h.parquet"))
    os.remove(os.path.join(lake, names[0]))
    with pytest.raises(ValueError, match="STALE"):
        maintenance.bloom_pruned_read(spark, lake, "k", keys, **bloom)
    rep = maintenance.refresh_bloom_sidecar(spark, lake, "k", **bloom)
    assert rep == {"n_added_files": 1, "n_removed_files": 1, "n_files": 3}
    read_and_check(3)
