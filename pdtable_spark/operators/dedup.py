"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the point of each variant):

- **exact**: one hash-aggregate shuffle on the text (or its md5 — group on the
  128-bit digest, not the full document, so shuffle volume is 16 bytes/doc).
- **minhash_lsh**: shingle → per-seed min-hash → band → bucket self-join.
  The self-join is on (band_id, band_hash) buckets, so the shuffle is
  bucket-sized, never O(n²).  Hashing uses ``xxhash64`` (JVM, codegen).
- **simhash**: 64-bit sign-aggregated fingerprint; near-dup = small Hamming
  distance within LSH buckets of the top bits.
- **ngram_jaccard**: exact Jaccard verification over candidate pairs —
  token-inverted-index join, safe only with long shingles (sparse postings).
- **embedding near-dup**: cosine > threshold via the similarity module.

Everything is built-in expressions — no Python in the hot path.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdtable_spark.operators.scanfan import fanout_small_scan
from pdtable_spark.operators.sqltext import ident
from pdtable_spark.operators.text import shingle_hashes, shingles, tokens


def md5_60(col: Column) -> Column:
    """60-bit hash from the first 15 hex chars of md5 — the cross-engine
    hash: DuckDB computes the identical value as
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``, so operators built on
    it get FULL value oracles.  xxhash64 (JVM codegen, no string round-trip)
    stays the production default; md5_60 is the verification mode."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shard_of(key: Column, num_shards: int, salt: str = "") -> Column:
    """Deterministic shard id: ``md5_60(salt‖key) % num_shards`` — the
    ONE definition shared by ``io.maintenance.write_training_shards``
    (``assignment="hash"``) and ``streaming.monitor.shard_ledger_stream``,
    so the stream-equals-batch manifest invariant cannot drift.  DuckDB
    spelling: ``CAST('0x' || substr(md5(salt || CAST(k AS VARCHAR)), 1,
    15) AS BIGINT) % n``."""
    return (
        md5_60(F.concat(F.lit(salt), key.cast("string"))) % num_shards
    ).cast("long")


def _pair_combos(entries_name: str) -> Column:
    """All unordered pairs (ea, eb) of a sorted entry array column (by
    name), in-row.  One JVM-parsed SQL expression: the nested-lambda
    ``F.transform`` spelling costs ~20 py4j round-trips to build per call."""
    if not isinstance(entries_name, str):
        raise TypeError(
            f"_pair_combos takes a column NAME, got {type(entries_name).__name__}"
        )
    e = ident(entries_name)
    return F.expr(
        f"flatten(transform({e}, (x, i) -> "
        f"transform(slice({e}, i + 2, greatest(size({e}) - i - 1, 0)), "
        f"y -> struct(x AS ea, y AS eb))))"
    )


def bucket_pairs(
    df: DataFrame,
    key_cols: List[str],
    entry: Column,
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """All unordered pairs of entries sharing a bucket key → (ea, eb) structs
    with ea < eb (entry structs must lead with the id field).

    Two regimes, split by a per-bucket count (window over the bucket key —
    the same hash partitioning the downstream aggregate/join needs).  Cost
    model (verified in the executed plan, round 9 — the earlier static-
    ReuseExchange reading was wrong): the INITIAL plan carries both
    branches' full lineage, but at runtime AQE's empty-relation
    propagation deletes the self-join branch whenever no bucket exceeds
    ``max_bucket``, leaving ONE scan and ONE exchange in the final plan
    (pinned by tests/test_plans.py::
    test_bucket_pairs_guard_collapses_when_no_hot_buckets); the guard's
    steady-state overhead is the probe-side sort+window that discovers
    the branch is empty — bounded, and it IS the OOM insurance:

    - **small buckets** (``≤ max_bucket``): ``collect_list`` + in-row array
      pair expansion — no self-join, no second exchange (the measured-fast
      path; see ``_lsh_candidate_pairs``).
    - **oversized buckets**: per-bucket *self-join* fallback.  A k-row bucket
      still yields k²/2 pairs (that is what the semantics demand) but they
      stream through join tasks instead of materializing inside ONE
      aggregation-row buffer — the hot-bucket OOM guard for skewed corpora
      (boilerplate documents, all-zero embeddings).

    ``max_bucket=None`` disables the guard (single-path, no window count).
    """
    if max_bucket is None:
        return (
            df.select(*key_cols, entry.alias("e"))
            .groupBy(*key_cols)
            .agg(F.sort_array(F.collect_list("e")).alias("entries"))
            .filter(F.size("entries") > 1)
            .select(F.explode(_pair_combos("entries")).alias("p"))
            .select(F.col("p.ea").alias("ea"), F.col("p.eb").alias("eb"))
        )
    w = Window.partitionBy(*key_cols)
    base = df.select(*key_cols, entry.alias("e")).withColumn(
        "__bsz", F.count(F.lit(1)).over(w)
    )
    small = (
        base.filter((F.col("__bsz") <= max_bucket) & (F.col("__bsz") > 1))
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("e")).alias("entries"))
        .select(F.explode(_pair_combos("entries")).alias("p"))
        .select(F.col("p.ea").alias("ea"), F.col("p.eb").alias("eb"))
    )
    big = base.filter(F.col("__bsz") > max_bucket)
    a, b = big.alias("a"), big.alias("b")
    big_pairs = a.join(
        b,
        on=[F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in key_cols]
        + [F.col("a.e") < F.col("b.e")],
    ).select(F.col("a.e").alias("ea"), F.col("b.e").alias("eb"))
    return small.unionByName(big_pairs)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct text.

    Groups on ``md5(text)`` so the shuffle carries a 16-byte digest instead of
    the document body — at 100 TB this is the difference between shuffling
    100 TB and shuffling ~150 GB.  Returns (digest, keep_id, n_dups).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The surviving rows themselves (semi-join back to keep all columns)."""
    keep = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _signature_exprs(sh_name: str, num_hashes: int, hash_fn: str = "xxhash64"):
    """MinHash signature as per-row array expressions, one per seed:
    ``array_min(transform(shingle_hashes, h -> xxhash64(seed, h)))``.

    Pure narrow JVM expressions — NO explode, NO groupBy: the naive
    explode+aggregate spelling shuffles every (doc, shingle) pair (at 100 TB
    that shuffle is larger than the corpus); this computes the same minima
    inside the row.

    ``hash_fn="xxhash64"`` (production): ``sh_name`` holds 64-bit shingle
    hashes (not strings) — the per-seed rehash is a fixed-width hash, so
    seed passes cost long-ops, not string scans.
    ``hash_fn="md5_60"`` (verification): ``sh_name`` holds per-shingle
    (h1, h2) structs (see ``_md5_hash_pairs``) that combine per seed as
    ``(h1 + seed·h2) mod 2⁶⁰`` — the Kirsch-Mitzenmacher double-hashing
    family, byte-reproducible in DuckDB SQL, so MinHash gets a full value
    oracle at ~2 string hashes per shingle instead of ``num_hashes``.

    Returned as SQL strings parsed JVM-side in ONE ``selectExpr`` (see
    :func:`_signature_frame`): the Python-lambda ``F.transform`` spelling
    costs ~10 py4j round-trips per seed to build, which measured ~150 ms
    of driver time per call at ``num_hashes=16`` vs ~15 ms for one
    ``selectExpr``."""
    sh = ident(sh_name)
    if hash_fn == "md5_60":
        return [
            f"array_min(transform({sh}, p -> (p.h1 + {seed} * p.h2) % {1 << 60}))"
            f" AS mh_{seed}"
            for seed in range(num_hashes)
        ]
    return [
        f"array_min(transform({sh}, h -> xxhash64({seed}, h))) AS mh_{seed}"
        for seed in range(num_hashes)
    ]


def _signature_frame(
    sets_df: DataFrame,
    id_col: str,
    sh_name: str,
    num_hashes: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) from a shingle-set frame in ONE ``selectExpr``
    (builder-cost note on :func:`_signature_exprs`)."""
    return sets_df.selectExpr(
        ident(id_col), *_signature_exprs(sh_name, num_hashes, hash_fn)
    )


def _md5_hash_pairs(sh_strings: Column) -> Column:
    """Per-shingle (h1, h2) base-hash structs for md5_60 double hashing.

    h1 = md5_60(s); h2 = md5_60('x'||s) mod 2⁵² (the modulus keeps
    seed·h2 + h1 < 2⁶¹, overflow-free in engines with checked BIGINT
    arithmetic).  Projected as its own column so the two md5s evaluate once
    per shingle, not once per seed."""
    return F.transform(
        sh_strings,
        lambda s: F.struct(
            md5_60(s).alias("h1"),
            (md5_60(F.concat(F.lit("x"), s)) % F.lit(1 << 52)).alias("h2"),
        ),
    )


def _shingle_sets(df, text_col: str, id_col: str, shingle_n: int, hash_fn: str, out: str):
    """Per-doc shingle set — 64-bit hash identities in production, gram
    strings in md5_60 verification mode (what DuckDB can rebuild)."""
    mk = shingles if hash_fn == "md5_60" else shingle_hashes
    # tokenize+hash is compute-dense over a byte-tiny scan —
    # fan a provably small local input to the core count (identity at
    # scale; see operators/scanfan.py)
    return fanout_small_scan(df).select(
        F.col(id_col), mk(text_col, shingle_n).alias(out)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature: for each seed, min(hash(seed, shingle)).

    Shuffle-free (see ``_signature_exprs``); signature width is
    ``num_hashes``×8 bytes.  The shingle array is projected in its own
    step so codegen evaluates the tokenize pipeline ONCE per row — inlining
    it into each of the ``num_hashes`` lambdas re-tokenizes per seed (measured
    10×+ slowdown)."""
    sets_ = _shingle_sets(df, text_col, id_col, shingle_n, hash_fn, "__sh")
    if hash_fn == "md5_60":
        sets_ = sets_.select(F.col(id_col), _md5_hash_pairs(F.col("__sh")).alias("__sh"))
    return _signature_frame(sets_, id_col, "__sh", num_hashes, hash_fn)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band.

    Bands the signature into ``bands`` groups of ``num_hashes/bands`` rows;
    docs agreeing on a full band land in the same bucket.  Pair emission is
    per-bucket with a hot-bucket guard (see :func:`bucket_pairs`).  Returns
    distinct (id_a, id_b) with id_a < id_b.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_fn)
    return _lsh_candidate_pairs(sig, id_col, num_hashes, bands, hash_fn, max_bucket)


def _lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Band the signature, then emit all id pairs per (band, bucket).

    NOT a bare self-join: grouping doc ids per bucket and expanding pair
    combinations with array expressions costs ONE shuffle total (on the
    bucket key) versus the self-join's two exchanges — and it sidesteps
    Spark re-evaluating the (unmaterialized) signature pipeline on both join
    sides, which profiling showed dominates wall time.  Buckets above
    ``max_bucket`` fall back to a per-bucket join so no single aggregation
    row buffers a k² expansion (:func:`bucket_pairs`).

    Bucket identity: production hashes the band's signature values down to
    one 64-bit key (``xxhash64`` — compact shuffle key); md5_60 verification
    mode keeps the exact value tuple as a string so DuckDB reproduces the
    grouping byte-for-byte (no cross-band hash collisions to model).
    """
    buckets = _band_bucket_frame(sig, id_col, num_hashes, bands, hash_fn)
    pairs = bucket_pairs(
        buckets, ["band", "bucket"], F.col(id_col), max_bucket=max_bucket
    )
    return pairs.select(F.col("ea").alias("id_a"), F.col("eb").alias("id_b")).distinct()


def _band_bucket_frame(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(id, band, bucket) rows from a signature frame — the LSH index
    relation (see :func:`_lsh_candidate_pairs` for bucket-identity notes).
    SQL-string spelling (builder-cost note on ``_signature_exprs``)."""
    rows_per_band = num_hashes // bands

    def band_key(b):
        cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        if hash_fn == "md5_60":
            args = ", ".join(f"CAST({c} AS STRING)" for c in cols)
            return f"concat_ws(',', {args})"
        return f"CAST(xxhash64({', '.join(cols)}) AS STRING)"

    bb = ", ".join(
        f"struct({b} AS band, {band_key(b)} AS bucket)" for b in range(bands)
    )
    return sig.selectExpr(
        ident(id_col), f"explode(array({bb})) AS bb"
    ).selectExpr(ident(id_col), "bb.band AS band", "bb.bucket AS bucket")


def band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable MinHash-LSH index of a corpus: one (id, band, bucket)
    row per document per band.

    This is the state that makes dedup INCREMENTAL at 100 TB: compute it
    once per corpus, write it ``partitionBy("bucket")``-style (or bucketed
    by ``bucket``), and each new ingest batch only hashes ITS OWN rows and
    joins against the index — the corpus is never re-shingled and never
    re-paired with itself.  Index size = bands × corpus rows × ~50 B.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_fn)
    return _band_bucket_frame(sig, id_col, num_hashes, bands, hash_fn)


def shingle_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable per-doc shingle-set relation (id, sh) that verified
    incremental dedup reads: 64-bit shingle hashes in production (~8 B per
    shingle), gram strings in ``md5_60`` verification mode.  Write it next
    to the :func:`band_buckets` index (same partitioning by ingest batch);
    a corpus is shingled exactly once, at indexing time."""
    return _shingle_sets(df, text_col, id_col, shingle_n, hash_fn, "sh")


def incremental_dedup(
    new_df: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
    verify_threshold: Optional[float] = None,
    corpus_shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Rows of ``new_df`` that near-duplicate NO corpus document — the
    continuous-ingestion dedup step: survivors can be appended to the
    corpus (and their :func:`band_buckets` rows to the index).

    ``corpus_index`` is a previously persisted :func:`band_buckets` frame.
    Plan: hash only the new batch, join its bucket rows against the index
    on (band, bucket) — a key-pruned join against a bucketed table,
    shuffling just the new batch — then anti-join the collided ids.  No
    all-pairs work and no corpus rescan anywhere.

    Two modes:

    - ``verify_threshold=None`` (collision-only): ANY single band collision
      drops the new document.  Cheapest, but the false-positive drop rate
      is the raw LSH band rate — unrelated documents that happen to share
      one band bucket are lost.
    - ``verify_threshold=t`` (verified): band collisions only *nominate*
      (new_id, corpus_id) candidate pairs; each is confirmed with exact
      Jaccard over shingle sets (the same verification
      :func:`minhash_dedup` applies) and the new doc is dropped only when
      some confirmed pair reaches ``t``.  Requires ``corpus_shingles`` — a
      persisted :func:`shingle_store` frame; only the candidate corpus ids'
      sets are joined (bucket-pruned), so there is still no corpus rescan.

    Caveat (both modes): only new-vs-corpus duplication is checked.  Two
    mutual near-dups *within the same new batch* both survive — run
    :func:`minhash_dedup` (or :func:`exact_dedup`) over the survivors
    before appending if intra-batch duplicates are possible.
    """
    if verify_threshold is None:
        new_buckets = band_buckets(
            new_df, text_col, id_col, num_hashes, bands, shingle_n, hash_fn
        )
        collided = (
            new_buckets.join(
                corpus_index.select("band", "bucket"), ["band", "bucket"], "left_semi"
            )
            .select(id_col)
            .distinct()
        )
        return new_df.join(collided, id_col, "left_anti")

    if corpus_shingles is None:
        raise ValueError(
            "verify_threshold requires corpus_shingles (a persisted "
            "shingle_store frame for the indexed corpus)"
        )
    # shingle the new batch ONCE; signature and verification both read it
    new_sets = _shingle_sets(new_df, text_col, id_col, shingle_n, hash_fn, "sh")
    if hash_fn == "md5_60":
        sig_in = new_sets.select(F.col(id_col), _md5_hash_pairs(F.col("sh")).alias("__hp"))
        sig = _signature_frame(sig_in, id_col, "__hp", num_hashes, hash_fn)
    else:
        sig = _signature_frame(new_sets, id_col, "sh", num_hashes, hash_fn)
    new_buckets = _band_bucket_frame(sig, id_col, num_hashes, bands, hash_fn)
    cand = (
        new_buckets.join(
            corpus_index.select(
                F.col(id_col).alias("__corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select(F.col(id_col), F.col("__corpus_id"))
        .distinct()
    )
    dropped = (
        cand.join(new_sets.withColumnRenamed("sh", "sh_new"), id_col)
        .join(
            corpus_shingles.select(
                F.col(id_col).alias("__corpus_id"), F.col("sh").alias("sh_corpus")
            ),
            "__corpus_id",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_new", "sh_corpus")).cast("double"))
        .withColumn(
            "uni",
            (F.size("sh_new") + F.size("sh_corpus")).cast("double") - F.col("inter"),
        )
        .filter(F.col("inter") / F.col("uni") >= verify_threshold)
        .select(id_col)
        .distinct()
    )
    return new_df.join(dropped, id_col, "left_anti")


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    jaccard_threshold: Optional[float] = 0.8,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH, optionally verified with exact Jaccard
    over shingle sets.  Returns (id_a, id_b, jaccard)."""
    # hash-identity shingles (production): jaccard verification over 64-bit
    # hash sets is statistically identical to string sets (collision odds
    # ~n²/2⁶⁴) and skips building gram strings entirely.  md5_60 mode keeps
    # gram strings so the whole pipeline is DuckDB-reproducible.
    sets_ = _shingle_sets(df, text_col, id_col, shingle_n, hash_fn, "sh")
    if hash_fn == "md5_60":
        sig_in = sets_.select(F.col(id_col), _md5_hash_pairs(F.col("sh")).alias("__hp"))
        sig = _signature_frame(sig_in, id_col, "__hp", num_hashes, hash_fn)
    else:
        sig = _signature_frame(sets_, id_col, "sh", num_hashes, hash_fn)
    cand = _lsh_candidate_pairs(sig, id_col, num_hashes, bands, hash_fn, max_bucket)
    if jaccard_threshold is None:
        return cand.withColumn("jaccard", F.lit(None).cast("double"))
    # Verify with ONE pass over the shingle relation: melt each candidate
    # pair into two (pair, id) rows, join the sets relation ONCE, and
    # regroup.  The two-join spelling (sets_ ⋈ id_a, sets_ ⋈ id_b)
    # re-evaluates the whole scan+tokenize+hash lineage per side — a 3rd
    # and 4th-equivalent corpus pass at bench scale, and at 100 TB either
    # two extra corpus scans (candidates broadcastable) or two corpus
    # shuffles (not).  Here the corpus is tokenized TWICE total (once
    # under the candidate generation, once here) and the only new shuffle
    # is candidate-pair-sized (guide §2.4/§8: decide with light rows,
    # re-attach payloads once).  first(ignorenulls) is deterministic:
    # exactly one non-null value exists per (pair, side).
    melted = cand.select(
        "id_a",
        "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col),
    )
    pair_sets = (
        melted.join(sets_, id_col)
        .groupBy("id_a", "id_b")
        .agg(
            F.first(
                F.when(F.col(id_col) == F.col("id_a"), F.col("sh")), ignorenulls=True
            ).alias("sh_a"),
            F.first(
                F.when(F.col(id_col) == F.col("id_b"), F.col("sh")), ignorenulls=True
            ).alias("sh_b"),
        )
    )
    j = (
        pair_sets.withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        )
        # |A∪B| = |A|+|B|−|A∩B| exactly (shingle sets are array_distinct),
        # skipping array_union's per-pair array BUILD — same trick as the
        # incremental verify above
        .withColumn(
            "uni",
            (F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("inter"),
        )
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: sign-aggregate token hash bits.

    Implemented as explode → per-bit sign sum → reassemble.  The per-bit sums
    are one aggregate keyed on the doc id (map-side partial combine ⇒ the
    shuffle is doc_count × bits × 8 B, not token-count-sized); bit extraction
    is ``shiftright``/``&`` JVM expressions.

    ``hash_fn="md5_60"`` (use with ``bits<=60``) makes the fingerprint
    DuckDB-reproducible for value oracles; xxhash64/64-bit is production.
    """
    if hash_fn == "md5_60" and bits > 60:
        raise ValueError("md5_60 provides 60 hash bits; use bits <= 60")
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    h = tok.withColumn(
        "h", md5_60(F.col("tok")) if hash_fn == "md5_60" else F.xxhash64("tok")
    )
    bit_sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    # top bit of a full 64-bit fingerprint wraps to the long sign bit
    top = (
        F.when(F.col(f"b{bits-1}") > 0, F.lit(-(2 ** (bits - 1))).cast("long"))
        if bits == 64
        else F.when(F.col(f"b{bits-1}") > 0, F.lit(2 ** (bits - 1)).cast("long"))
    )
    sim = bit_sums.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(bits - 1)
            ],
            top.otherwise(F.lit(0).cast("long")),
        ).alias("simhash"),
    )
    return sim


def hamming64(a, b):
    """Hamming distance between two 64-bit longs (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: Optional[int] = None,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """ALL pairs with Hamming(simhash) <= max_hamming — exact, at bucket cost.

    Multi-block LSH with a completeness guarantee: the fingerprint is split
    into ``num_blocks`` (default ``max_hamming + 1``) contiguous bit blocks.
    By pigeonhole, two fingerprints differing in ≤ max_hamming bits MUST
    agree on at least one full block, so candidates = "pairs agreeing on any
    block" have 100% recall, and exact ``bit_count(xor)`` verification makes
    the output identical to the all-pairs O(n²) join — the Manku/Google
    simhash-dedup decomposition.  Cost: ``num_blocks`` bucket groupings of
    ~bits/num_blocks bits each (more blocks = shorter keys = bigger buckets;
    ``max_hamming+1`` is the smallest complete count).  Hot buckets fall
    back to per-bucket joins (:func:`bucket_pairs`).
    """
    if num_blocks is None:
        num_blocks = max_hamming + 1
    if num_blocks > bits:
        raise ValueError("num_blocks cannot exceed fingerprint bits")
    s = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    # block b covers [off_b, off_{b+1}) with widths as even as possible
    widths = [bits // num_blocks + (1 if i < bits % num_blocks else 0) for i in range(num_blocks)]
    offs = [sum(widths[:i]) for i in range(num_blocks)]
    block_cols = [
        F.struct(
            F.lit(b).alias("block"),
            F.shiftrightunsigned(F.col("simhash"), offs[b])
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .alias("key"),
        )
        for b in range(num_blocks)
    ]
    buckets = s.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*block_cols)).alias("bb")
    ).select(
        F.col("bb.block").alias("block"),
        F.col("bb.key").alias("key"),
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")).alias("ent"),
    )
    pairs = bucket_pairs(buckets, ["block", "key"], F.col("ent"), max_bucket=max_bucket)
    return (
        pairs.select(
            F.col("ea.id").alias("id_a"),
            F.col("eb.id").alias("id_b"),
            hamming64(F.col("ea.sh"), F.col("eb.sh")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contamination_report(
    df: DataFrame,
    bench_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    min_containment: float = 0.3,
) -> DataFrame:
    """Eval-set decontamination: training docs sharing n-gram shingles with
    any benchmark doc, scored by containment = |common| / |benchmark doc's
    shingles| (the standard eval-leakage metric — a train doc that CONTAINS
    the benchmark item scores 1.0 regardless of its own length).

    ``bench_pred`` is a Column predicate selecting the benchmark rows.  The
    benchmark side is small by construction, so its posting list broadcasts:
    the training corpus is scanned once and only shingle matches shuffle.
    Returns (train_id, bench_id, n_common, containment >= min_containment).
    """
    base = fanout_small_scan(df).select(
        F.col(id_col), F.col(text_col), bench_pred.alias("__is_bench")
    ).select(
        id_col, "__is_bench", shingles(text_col, shingle_n).alias("sh")
    )
    bench = base.filter(F.col("__is_bench")).select(
        F.col(id_col).alias("bench_id"), F.size("sh").alias("bench_size"), F.explode("sh").alias("g")
    )
    train = base.filter(~F.col("__is_bench")).select(
        F.col(id_col).alias("train_id"), F.explode("sh").alias("g")
    )
    return (
        train.join(F.broadcast(bench), on="g")
        .groupBy("train_id", "bench_id", "bench_size")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("containment", F.col("n_common").cast("double") / F.col("bench_size").cast("double"))
        .filter(F.col("containment") >= min_containment)
        .select("train_id", "bench_id", F.col("n_common").cast("long").alias("n_common"), "containment")
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairwise shingle-overlap matrix between corpus SOURCES — the
    train-source leakage diagnostic: which ingest sources (crawls, dumps,
    vendors) share content, and how much.  Returns one row per source pair
    with any overlap: (source_a, source_b, n_common, n_a, n_b, jaccard)
    over each source's distinct shingle set, source_a < source_b.

    Plan: ONE corpus-sized shuffle — explode shingles, aggregate per
    shingle key with ``collect_set(source)`` (map-side partial merge; the
    set is bounded by the number of sources, a small fixed domain, so no
    hot-key guard is needed).  Everything downstream is vocabulary-sized:
    per-source distinct counts come from re-exploding the aggregated
    frame (NOT a second corpus pass), pair expansion is in-row over the
    ≤ n_sources set, and the final (a, b) aggregate has at most
    n_sources² rows.  ``hash_fn="md5_60"`` keeps gram strings so DuckDB
    reproduces the matrix exactly.
    """
    mk = shingles if hash_fn == "md5_60" else shingle_hashes
    per_g = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(mk(text_col, shingle_n)).alias("g"),
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("src")).alias("srcs"))
    )
    sizes = (
        per_g.select(F.explode("srcs").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        per_g.filter(F.size("srcs") > 1)
        .select(F.explode(_pair_combos("srcs")).alias("p"))
        .select(F.col("p.ea").alias("source_a"), F.col("p.eb").alias("source_b"))
    )
    common = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .select("source_a", "source_b", "n_common", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over a near-dup pair graph
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph → (id, component),
    component = the smallest vertex id reachable from each vertex.

    The dedup-clustering step of a training-data pipeline: near-dup PAIRS
    (MinHash/SimHash/Jaccard/embedding) become CLUSTERS, and "keep one per
    cluster" is then ``component == id``.

    Iterative label propagation: each round every vertex takes the min label
    among itself and its neighbors — one join + one aggregate per round,
    O(graph diameter) rounds.  Near-dup graphs are unions of near-cliques
    (LSH buckets expand to full pair sets), so real corpora converge in 2-3
    rounds.  Each round materializes via ``localCheckpoint`` — lineage stays
    flat and the convergence check (`any label decreased?`) reads the
    materialized result.  At 100 TB: same loop with
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` (HDFS-backed)
    instead of localCheckpoint, and alternating large-star/small-star
    rounds if hub vertices skew the join.
    """
    sym = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).unionByName(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    labels = vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    for _ in range(max_iterations):
        nbr = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("component")
        )
        new_labels = (
            labels.unionByName(nbr).groupBy("id").agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") < F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    # falling through silently would ship wrong cluster ids into
    # "keep one per cluster" — long-chain graphs need more rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations "
        "(graph diameter exceeds the round budget); raise max_iterations"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    block_col: Optional[str],
    max_doc_freq: Optional[int],
) -> DataFrame:
    """Shared engine of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`: the shingle inverted-index self-join,
    aggregated to one (id_a, id_b, size_a, size_b, inter) row per
    candidate pair — the similarity projection on top is the only thing
    the two operators disagree about.  The k²-candidate scale guard
    (``max_doc_freq`` df-cut) lives HERE so a fix applies to both."""
    base = fanout_small_scan(df).select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        shingles(text_col, shingle_n).alias("sh"),
    ).withColumn("sh_size", F.size("sh"))
    posts = base.select(
        id_col, "sh_size", *([block_col] if block_col else []), F.explode("sh").alias("g")
    )
    if max_doc_freq is not None:
        rare = (
            posts.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("g")
        )
        posts = posts.join(rare, on="g", how="inner")
    a, b = posts.alias("a"), posts.alias("b")
    on = [F.col("a.g") == F.col("b.g"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        on.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, on=on)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh_size").alias("size_a"),
            F.col("b.sh_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.5,
    block_col: Optional[str] = None,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted-index self-join on
    shingles.

    The join is on individual shingles (long shingles → sparse postings
    lists), then intersection counts aggregate per pair.  ``block_col``
    (e.g. a source/partition column) further restricts candidate pairs.
    Returns (id_a, id_b, jaccard >= threshold).

    Scale guard: a shingle appearing in k docs contributes k² candidate
    rows — one boilerplate phrase in 1M docs is a 10¹²-row join.
    ``max_doc_freq`` drops postings for shingles above that document
    frequency (standard df-cut; costs one extra aggregate on the posting
    key).  This UNDERCOUNTS intersections for pairs sharing only ultra-
    common shingles — exactly the pairs that aren't near-duplicates —
    so it is off by default for oracle-exactness and ON (e.g. 1000) for
    production corpora.
    """
    inter = _shingle_pair_intersections(
        df, text_col, id_col, shingle_n, block_col, max_doc_freq
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
    block_col: Optional[str] = None,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs — the asymmetric near-dup measure
    Jaccard misses: a short document quoted whole inside a long one has
    containment ~1.0 but Jaccard ~|A|/|B| (arbitrarily small), so a
    Jaccard threshold never fires on doc-inside-doc duplication
    (Broder's containment, the measure behind quote/boilerplate
    subsumption removal).

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (posting
    self-join on shingles, per-pair intersection aggregate — no O(n²)
    cross join); returns (id_a, id_b, contain_a_in_b, contain_b_in_a,
    containment) where ``containment = inter / min(|A|, |B|)`` and the
    filter keeps pairs with ``containment >= threshold``.

    ``max_doc_freq`` is the same production df-cut (and the same
    deliberate undercount trade) documented on
    :func:`ngram_jaccard_pairs`; it is off by default for
    oracle-exactness.
    """
    inter = _shingle_pair_intersections(
        df, text_col, id_col, shingle_n, block_col, max_doc_freq
    )
    i = F.col("inter").cast("double")
    return (
        inter.select(
            "id_a",
            "id_b",
            (i / F.col("size_a").cast("double")).alias("contain_a_in_b"),
            (i / F.col("size_b").cast("double")).alias("contain_b_in_a"),
            (i / F.least("size_a", "size_b").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: from each near-dup cluster keep
    the single highest-``quality_col`` row (ties → smallest id, so the
    choice is deterministic).

    ``clusters`` is a :func:`connected_components` result (id, component).
    "Keep first" discards information; keeping the best-quality member is
    the standard curation policy.  One broadcast-or-keyed join to attach
    components plus one ``row_number`` window per cluster — both shuffles
    are id/component-keyed and skew-free (cluster sizes are near-dup
    cliques, naturally bounded, so the per-component window task buffers a
    clique, not a corpus).  The (quality desc, id asc) ordering is exact
    for ANY orderable id type — no numeric cast, so string ids and ids
    above 2⁵³ tie-break deterministically too.
    """
    joined = df.join(
        clusters.select(F.col("id").alias(id_col), "component"), id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*df.columns, "component")
    )


# ---------------------------------------------------------------------------
# Normalization-aware exact dedup (C4-style soft duplicates)
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Canonical form used for soft-exact dedup: lowercase, strip every
    character outside ``[a-z0-9 ]``, collapse whitespace runs, trim.

    The patterns are deliberately ASCII-simple so Java regex (Spark) and
    RE2-style engines (other tools in a pipeline) agree byte-for-byte —
    normalization must be portable or the same document dedups differently
    in different stages.
    """
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup over the NORMALIZED text (case / punctuation /
    whitespace-insensitive) — the standard first pass of web-corpus
    curation (C4 keeps one of every three-sentence span up to
    normalization; here the unit is the whole document).

    Returns (norm_md5, keep_id, n_dups).  Same 100 TB shape as
    :func:`exact_dedup`: normalization is a per-row column expression
    (codegen, no Python), and the shuffle key is the 16-byte digest of the
    normalized form, never the body.
    """
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("norm_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span removal (chunk-granularity exact substring dedup)
# ---------------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Remove duplicated SPANS (fixed ``span_words``-word chunks) across the
    corpus, keeping the globally-first occurrence of each distinct span —
    document-level dedup misses the boilerplate/license/navigation text
    that repeats INSIDE otherwise-unique documents, and span-level removal
    of exact duplicated substrings is the fix (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — their suffix-array pass, re-expressed at fixed
    word-chunk granularity so it distributes).

    Tokenization is whitespace-run-insensitive (regex \\s+ split, empties
    dropped BEFORE positions are assigned), so a doubled space or a tab
    cannot shift every later span boundary and mask a duplicate.
    Keep rule: a span survives iff its (doc_id, span_no) is the
    lexicographic minimum among all occurrences of that span text.
    Returns one row per document WITH at least one span (empty/whitespace
    documents have none): (doc_id, clean_text, n_spans, removed_spans) —
    ``clean_text`` is the document with its duplicated spans deleted
    (may be '' if every span was seen earlier).

    100 TB design: the span frame is an explode (no shuffle); the
    first-occurrence choice is ONE ``groupBy(md5(span))`` with a map-side
    ``min(struct)`` partial — the shuffle carries (digest, min-candidate)
    pairs, not span bodies; reassembly is one ``groupBy(doc_id)`` whose
    window is a single document.  Nothing is all-pairs and no key is
    hotter than the most-duplicated span's digest (bounded by corpus
    duplication, and the min-struct combine collapses it map-side).
    """
    from pdtable_spark.operators.text import tokens

    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(tokens(F.col(text_col)), lambda w: w != "")
        ).alias("pos", "word"),
    )
    spans = (
        words.withColumn("span_no", F.floor(F.col("pos") / span_words))
        .groupBy(id_col, "span_no")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("span_text")
        )
    )
    spans = spans.withColumn("span_md5", F.md5(F.col("span_text")))
    firsts = spans.groupBy("span_md5").agg(
        F.min(F.struct(F.col(id_col), F.col("span_no"))).alias("__first")
    )
    flagged = spans.join(firsts, "span_md5").withColumn(
        "__keep",
        (
            (F.col(id_col) == F.col(f"__first.{id_col}"))
            & (F.col("span_no") == F.col("__first.span_no"))
        ).cast("int"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("__keep").alias("__kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("span_no", "span_text", "__keep"))
                        ),
                        lambda s: s["__keep"] == 1,
                    ),
                    lambda s: s["span_text"],
                ),
            ).alias("clean_text"),
        )
        .select(
            id_col,
            "clean_text",
            "n_spans",
            (F.col("n_spans") - F.col("__kept")).alias("removed_spans"),
        )
    )


def minhash_estimate_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Sketch-quality diagnostic: for every LSH candidate pair, the
    signature ESTIMATE of Jaccard (fraction of matching signature
    components — the estimator whose expectation IS the true Jaccard)
    next to the exact shingle-set value, with the absolute error.  The
    measurement that tunes ``num_hashes``/``bands`` before pointing the
    sketch at 100 TB — the MinHash analog of the ANN recall diagnostic.

    Returns (id_a, id_b, est_jaccard, true_jaccard, abs_err).

    Plan shape: identical to :func:`minhash_dedup` (signature pipeline is
    shuffle-free; ONE bucket-keyed exchange; verify joins are keyed on
    ids) plus two narrow signature-array joins — signatures are
    ``num_hashes``×8 bytes, so the estimate join moves KBs per thousand
    candidates.
    """
    sets_ = _shingle_sets(df, text_col, id_col, shingle_n, hash_fn, "sh")
    if hash_fn == "md5_60":
        sig_in = sets_.select(F.col(id_col), _md5_hash_pairs(F.col("sh")).alias("__hp"))
        sig = _signature_frame(sig_in, id_col, "__hp", num_hashes, hash_fn)
    else:
        sig = _signature_frame(sets_, id_col, "sh", num_hashes, hash_fn)
    cand = _lsh_candidate_pairs(sig, id_col, num_hashes, bands, hash_fn, max_bucket)
    sig_arr = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
    )
    est = (
        cand.join(
            sig_arr.withColumnRenamed(id_col, "id_a").withColumnRenamed("sig", "sig_a"),
            "id_a",
        )
        .join(
            sig_arr.withColumnRenamed(id_col, "id_b").withColumnRenamed("sig", "sig_b"),
            "id_b",
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
                )
            ).cast("double")
            / F.lit(float(num_hashes)),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    return (
        est.join(
            sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn(
            "uni", (F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("inter")
        )
        .withColumn("true_jaccard", F.col("inter") / F.col("uni"))
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("true_jaccard")))
        .select("id_a", "id_b", "est_jaccard", "true_jaccard", "abs_err")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: membership screening against a benchmark set
# ---------------------------------------------------------------------------


def bloom_positions(col: Column, num_hashes: int, num_bits: int) -> Column:
    """The ``num_hashes`` Bloom bit positions of a shingle string, as an
    array — position *i* is ``md5_60(g || ':' || i) % num_bits`` (md5_60 is
    uniform on [0, 2^60), so the plain modulo is unbiased for power-of-two
    ``num_bits`` and DuckDB reproduces every position exactly:
    ``CAST('0x' || substr(md5(g || ':' || i), 1, 15) AS BIGINT) % num_bits``).
    """
    return F.array(
        *[
            (md5_60(F.concat(col, F.lit(f":{i}"))) % F.lit(num_bits)).alias(f"p{i}")
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    num_hashes: int = 3,
    num_bits: int = 1 << 16,
) -> DataFrame:
    """The Bloom side of :func:`bloom_decontaminate` as a standalone,
    persistable artifact: the DISTINCT set bit positions of every shingle
    in ``df`` (the benchmark / eval corpus), one ``pos`` row each.

    This set-of-positions frame IS the Bloom filter — semantically
    identical to the packed ``num_bits`` bitmap (a probe hits iff all its
    ``num_hashes`` positions are present), but kept relational so (a) the
    probe side can use a broadcast HASH join instead of per-row linear
    array scans, and (b) DuckDB reproduces it row-for-row for the value
    oracle.  Size is bounded by ``num_bits`` rows regardless of benchmark
    size — at the default 2^16 that is ≤ 0.5 MB broadcast.
    """
    return (
        df.select(F.explode(shingles(text_col, shingle_n)).alias("g"))
        .select(F.explode(bloom_positions(F.col("g"), num_hashes, num_bits)).alias("pos"))
        .distinct()
    )


def bloom_decontaminate(
    df: DataFrame,
    bench_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    num_hashes: int = 3,
    num_bits: int = 1 << 16,
    min_hit_rate: float = 0.5,
    bloom: Optional[DataFrame] = None,
) -> DataFrame:
    """Bloom-filter eval-set screening (the cheap FIRST pass before the
    exact :func:`contamination_report`): every training doc's shingles are
    probed against a Bloom filter of the benchmark shingles; a doc whose
    hit rate reaches ``min_hit_rate`` is flagged for the exact pass.

    Compared to the exact report this never materializes (train_id,
    bench_id) pairs — the benchmark travels as a ≤ ``num_bits``-row
    broadcast regardless of its size, so screening 100 TB of training
    text against a large eval suite costs one corpus scan + one broadcast
    hash join.  Bloom false positives only ever OVER-flag (a flagged doc
    goes to the exact verifier; nothing is dropped on a Bloom hit alone),
    mirroring reference semantics where sketch passes are screens, not
    verdicts (reference: pdtable has no sketch screen; this extends the
    contamination operator family for LLM-pipeline scale).

    Returns (train_id, n_grams, n_hits, hit_rate, flagged) for EVERY
    non-benchmark doc.  A NULL ``text_col`` or a NULL ``bench_pred``
    raises loudly — exploding a NULL shingle array would silently DROP
    the doc from the screen (an unscreened doc sliding through a
    decontamination gate is exactly what must not fail quietly), and a
    NULL predicate would vanish from both sides of the bench split.
    Fully value-oracled: positions are md5-based
    (:func:`bloom_positions`), hit_rate is one double division.

    Pass ``bloom=`` a pre-built (pre-persisted) :func:`bloom_build` frame
    to reuse one filter across many screening batches.
    """
    text_guarded = F.when(
        F.col(text_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"bloom_decontaminate: NULL {text_col!r} for {id_col}="),
                F.col(id_col).cast("string"),
                F.lit(" — fill or drop null texts explicitly before screening"),
            )
        ).cast("string"),
    ).otherwise(F.col(text_col))
    pred_guarded = F.when(
        bench_pred.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"bloom_decontaminate: bench_pred is NULL for {id_col}="),
                F.col(id_col).cast("string"),
                F.lit(" — make the predicate null-safe (coalesce) first"),
            )
        ).cast("boolean"),
    ).otherwise(bench_pred)
    base = fanout_small_scan(df).select(
        F.col(id_col), text_guarded.alias(text_col), pred_guarded.alias("__is_bench")
    ).select(
        id_col, "__is_bench", shingles(text_col, shingle_n).alias("sh")
    )
    if bloom is None:
        bloom = (
            base.filter(F.col("__is_bench"))
            .select(F.explode("sh").alias("g"))
            .select(
                F.explode(bloom_positions(F.col("g"), num_hashes, num_bits)).alias("pos")
            )
            .distinct()
        )
    # ONE pass over the training grams: LEFT-join the probes so zero-hit
    # grams (and zero-hit docs) stay in frame — each (gram, slot) probe row
    # matches AT MOST one distinct-pos bloom row, so a gram is a Bloom hit
    # iff all num_hashes of its probes matched, and both n_grams and
    # n_hits fall out of the same two keyed aggregates (no second corpus
    # scan for the per-doc gram counts)
    probes = base.filter(~F.col("__is_bench")).select(
        F.col(id_col).alias("train_id"),
        F.explode("sh").alias("g"),
    ).select(
        "train_id",
        "g",
        F.explode(bloom_positions(F.col("g"), num_hashes, num_bits)).alias("pos"),
    )
    per_gram = (
        probes.join(F.broadcast(bloom.withColumn("__hit", F.lit(1))), "pos", "left")
        .groupBy("train_id", "g")
        .agg((F.sum(F.coalesce(F.col("__hit"), F.lit(0))) == num_hashes).alias("__all"))
    )
    return (
        per_gram.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.col("__all").cast("long")).cast("long").alias("n_hits"),
        )
        .withColumn(
            "hit_rate", F.col("n_hits").cast("double") / F.col("n_grams").cast("double")
        )
        .withColumn("flagged", (F.col("hit_rate") >= F.lit(float(min_hit_rate))).cast("int"))
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS scheme)
# ---------------------------------------------------------------------------


def _positional_gram_hashes(text_col: str, gram_n: int, hash_fn: str) -> Column:
    """POSITIONAL word-gram hash array (no dedup — element i is the gram
    starting at token i, which winnowing's window arithmetic needs).
    md5_60 hashes the gram strings (the DuckDB-reproducible oracle mode,
    spelled as :func:`md5_60`); xxhash64 combines token hashes without
    building strings."""
    from pdtable_spark.operators.text import _let_sql, _tokens_sql, _windows_sql

    toks = _tokens_sql(ident(text_col))
    if hash_fn == "md5_60":
        def mk(f):
            gram = f"concat_ws(' ', {', '.join(f)})"
            return f"CAST(conv(substring(md5({gram}), 1, 15), 16, 10) AS BIGINT)"
    else:
        toks = f"transform({toks}, t -> xxhash64(t))"

        def mk(f):
            return "xxhash64(" + ", ".join(f"coalesce({x}, 0)" for x in f) + ")"
    return F.expr(_let_sql(toks, "hs", _windows_sql("hs", gram_n, mk)))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS plagiarism-detection scheme): hash every positional
    ``gram_n``-gram, slide a window of ``window`` consecutive hashes, and
    keep each window's MINIMUM hash at its RIGHTMOST minimal position;
    adjacent windows re-selecting the same (pos, hash) collapse.

    The guarantee the ad-hoc fingerprint family lacks: any shared
    substring of at least ``window + gram_n - 1`` tokens always
    contributes a common fingerprint (coverage), while only ~2/(window+1)
    of the grams are kept (density) — so the inverted fingerprint index
    of :func:`winnow_overlap_pairs` carries a fraction of
    :func:`ngram_jaccard_pairs`'s postings at a known detection floor.

    Returns (id, pos, fp), ``pos`` the 1-based gram position.  Zero
    shuffles: selection is per-document array arithmetic inside the scan
    projection; only the selected prints explode out.
    """
    from pdtable_spark.operators.text import _let

    nsel = lambda h: F.greatest(F.size(h) - (window - 1), F.lit(1))  # noqa: E731

    def pick(h):
        def over_window(i):
            return F.element_at(
                F.transform(
                    F.array(F.slice(h, i, window)),
                    lambda s: F.element_at(
                        F.transform(
                            F.array(F.array_min(s)),
                            lambda mn: F.struct(
                                (
                                    i
                                    + F.size(s)
                                    - F.array_position(F.reverse(s), mn)
                                )
                                .cast("int")
                                .alias("pos"),
                                mn.alias("fp"),
                            ),
                        ),
                        1,
                    ),
                ),
                1,
            )

        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), nsel(h)), over_window)
        )

    sels = _let(
        _positional_gram_hashes(text_col, gram_n, hash_fn), pick
    )
    return (
        fanout_small_scan(df)
        .select(F.col(id_col), F.explode(sels).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 5,
    window: int = 4,
    min_common: int = 2,
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_common`` winnowed fingerprints —
    :func:`ngram_jaccard_pairs`'s detection shape on the ~2/(window+1)
    selected subset: the postings index shrinks by the winnowing density
    while the coverage guarantee bounds what can be missed (no shared run
    of ``window + gram_n - 1`` tokens goes undetected).

    Plan: fingerprint selection is scan-local; ONE fp-keyed exchange of
    (fp, id) postings (hot-print guard via ``max_bucket``); the pair
    aggregate is postings-sized.  Returns (id_a, id_b, n_common).
    """
    prints = winnow_fingerprints(
        df, text_col, id_col, gram_n, window, hash_fn
    ).select(F.col("fp"), F.col(id_col)).distinct()
    buckets = prints.select(
        F.col("fp").alias("key"), F.struct(F.col(id_col).alias("id")).alias("ent")
    )
    pairs = bucket_pairs(buckets, ["key"], F.col("ent"), max_bucket=max_bucket)
    return (
        pairs.select(F.col("ea.id").alias("id_a"), F.col("eb.id").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
