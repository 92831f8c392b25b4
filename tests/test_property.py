"""Property-based round-trip tests (hypothesis): arbitrary generated tables
survive CSV and Excel write→read with exact equality.

Beyond the reference's test pyramid (SURVEY §5: unit + golden + round-trip,
no property testing) — the StarTable format's fiddly corners (missing
markers, text '-' literalness, transposed padding, separators in nowhere)
are exactly where generated inputs beat hand-picked ones.

Spark-free: parsing and writing are pure Python over ParsedTable payloads,
so these run fast (no SparkSession) and shrink well.
"""

import datetime
import io
import math

from hypothesis import example, given, settings, strategies as st

from pdtable_spark.io.csv import read_csv
from pdtable_spark.parsers.blocks import BlockType

# -- generators --------------------------------------------------------------

# column names: ascii identifiers (StarTable column names are bare tokens)
names = st.from_regex(r"[a-z][a-z0-9_]{0,9}", fullmatch=True)

# text cells must not contain the separator, newlines, or leading/trailing
# whitespace (the format strips cells); avoid the missing markers
text_cell = st.from_regex(r"[A-Za-z0-9_.,+@ ]{0,15}", fullmatch=True).map(str.strip).filter(
    lambda s: s.lower() not in ("-", "nan", "")
)

float_cell = st.one_of(
    st.none(),  # missing → '-'
    st.integers(min_value=-10**9, max_value=10**9).map(float),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(
        lambda v: float(f"{v:.6g}")  # writer round-trips shortest repr; pin precision
    ),
)
# no None: missing markers in onoff are illegal (reference parity —
# test_column_parsers.py:55-60)
onoff_cell = st.booleans()


@st.composite
def tables(draw):
    n_cols = draw(st.integers(min_value=1, max_value=5))
    n_rows = draw(st.integers(min_value=0, max_value=8))
    cols = []
    used = set()
    for _ in range(n_cols):
        name = draw(names.filter(lambda n: n not in used))
        used.add(name)
        kind = draw(st.sampled_from(["text", "onoff", "float"]))
        if kind == "text":
            unit, cells = "text", draw(st.lists(text_cell, min_size=n_rows, max_size=n_rows))
        elif kind == "onoff":
            unit, cells = "onoff", draw(st.lists(onoff_cell, min_size=n_rows, max_size=n_rows))
        else:
            unit = draw(st.sampled_from(["-", "kg", "km", "mm2"]))
            cells = draw(st.lists(float_cell, min_size=n_rows, max_size=n_rows))
        cols.append((name, unit, cells))
    tname = draw(st.from_regex(r"[a-z][a-z0-9_]{0,9}", fullmatch=True))
    return tname, cols


def render_csv(tname, cols, sep=";") -> str:
    names_ = [c[0] for c in cols]
    units_ = [c[1] for c in cols]
    n_rows = len(cols[0][2]) if cols else 0
    lines = [f"**{tname}{sep}", "all", sep.join(names_), sep.join(units_)]
    for r in range(n_rows):
        cells = []
        for _, unit, vals in cols:
            v = vals[r]
            if v is None:
                cells.append("-")
            elif unit == "onoff":
                cells.append("1" if v else "0")
            elif unit == "text":
                cells.append(v)
            else:
                cells.append(repr(v))
        lines.append(sep.join(cells))
    lines.append("")
    return "\n".join(lines) + "\n"


def parsed_of(csv_text):
    blocks = list(read_csv(io.StringIO(csv_text), to="parsed"))
    return [b for bt, b in blocks if bt == BlockType.TABLE][0]


def values_equal(unit, a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


@settings(max_examples=60, deadline=None)
@given(tables())
def test_csv_parse_round_trip(table):
    """render → parse → values/units/names exact."""
    tname, cols = table
    parsed = parsed_of(render_csv(tname, cols))
    assert parsed.name == tname
    assert parsed.column_names == [c[0] for c in cols]
    assert parsed.units == [c[1] for c in cols]
    for name, unit, vals in cols:
        got = list(parsed.columns[name])
        assert len(got) == len(vals)
        for g, v in zip(got, vals):
            if unit == "float" or unit not in ("text", "onoff"):
                v = None if v is None else float(v)
            assert values_equal(unit, g, v), (name, unit, g, v)


@settings(max_examples=30, deadline=None)
@given(table=tables())
def test_excel_stdlib_round_trip_property(tmp_path_factory, table):
    """generated cell grid → stdlib xlsx → identical grid back."""
    from pdtable_spark.io._excel_stdlib import read_sheets, write_workbook

    tname, cols = table
    n_rows = len(cols[0][2]) if cols else 0
    grid = [[c[0] for c in cols], [c[1] for c in cols]]
    for r in range(n_rows):
        grid.append([c[2][r] for c in cols])

    d = tmp_path_factory.mktemp("prop")
    write_workbook([("s", grid)], d / "wb.xlsx")
    (_, rows_it), = read_sheets(d / "wb.xlsx")
    back = [list(r) for r in rows_it]
    # trailing None cells are not written; pad for comparison
    for want, got in zip(grid, back + [[]] * (len(grid) - len(back))):
        got = got + [None] * (len(want) - len(got))
        for w, g in zip(want, got):
            if w is not None and isinstance(w, str) and w == "":
                # empty strings are written as empty cells
                assert g in ("", None)
            else:
                assert values_equal(None, g, w), (w, g)


# ---------------------------------------------------------------------------
# Operator properties (round 2b)
# ---------------------------------------------------------------------------

def _lev(a, b):
    d = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, d[0] = d[0], i
        for j, cb in enumerate(b, 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
    return d[len(b)]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=7), min_size=2, max_size=12, unique=True
    )
)
def test_fuzzy_join_complete_property(spark, words):
    """Length-band blocking finds EXACTLY the brute-force pair set for any
    corpus (completeness is a theorem — |len diff| ≤ k — but the band
    arithmetic has off-by-one surface worth fuzzing)."""
    import itertools

    from pdtable_spark.operators import fuzzy

    df = spark.createDataFrame(list(enumerate(words)), ["id", "w"])
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy.fuzzy_self_pairs(df, "w", "id", max_dist=2).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(words), 2)
        if _lev(a, b) <= 2
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=30),
    st.integers(min_value=10, max_value=200),
)
def test_pack_budget_invariants(spark, sizes, capacity):
    """pack ids are contiguous from 0, non-decreasing in row order, and no
    pack's PRECEDING-rows total reaches the capacity boundary out of order —
    i.e. a row starts the pack its prefix sum lands in."""
    from pdtable_spark.operators import text as text_ops

    rows = [(i, 0, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "chunk_idx", "chunk_n_tokens"])
    out = sorted(
        text_ops.pack_budget(df, capacity=capacity, order_cols=("doc_id", "chunk_idx")).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in out:
        assert r["pack_id"] == run // capacity  # prefix-sum bucketing
        run += r["chunk_n_tokens"]
    packs = [r["pack_id"] for r in out]
    assert packs == sorted(packs)


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_classifier_paths_bitwise_equal_property(spark, data):
    """For any binary-fraction weight table, the map-literal fold and the
    broadcast-join spelling produce bit-identical scores, and both equal
    the reference Python sum."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators import text as t

    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    vocab = data.draw(st.dictionaries(
        st.sampled_from(alphabet), st.integers(-8, 8).map(lambda k: k / 64),
        min_size=1, max_size=4,
    ))
    bias = data.draw(st.integers(-4, 4)) / 64
    docs = data.draw(st.lists(
        st.lists(st.sampled_from(alphabet + ["zz"]), min_size=0, max_size=12),
        min_size=1, max_size=5,
    ))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d1 = {r.doc_id: r.clf_score for r in t.classifier_score(df, vocab, bias=bias).collect()}
    wdf = spark.createDataFrame(list(vocab.items()), "term string, weight double")
    d2 = {r.doc_id: r.clf_score for r in t.classifier_score(df, wdf, bias=bias).collect()}
    assert d1 == d2
    for i, toks in enumerate(docs):
        want = bias + sum(vocab.get(tok, 0.0) for tok in toks)
        assert d1[i] == want, (toks, vocab, bias)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=20).map(" ".join),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=4),
    st.sampled_from([" ", "  ", "\t", " \t "]),
)
def test_span_dedup_invariants(spark, texts, span_words, ws):
    """For ANY corpus and span width: (1) span accounting is exact
    (n_spans = ceil(words/span), removed = n_spans − kept); (2) a clean
    text is a subsequence of the original's spans; (3) every distinct span
    text survives EXACTLY once across the whole corpus; (4) the operator
    agrees with a sequential reference implementation."""
    from pdtable_spark.operators import dedup as dd

    import re as _re

    # every doc re-joined with a randomized whitespace run: tokenization
    # must be whitespace-run-insensitive (boundaries shift otherwise)
    rows = [(i, ws.join(t.split(" "))) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dd.span_dedup(df, span_words=span_words).collect()}

    # sequential reference: first (doc_id, span_no) occurrence of each span
    seen, want = set(), {}
    for i, t in rows:
        toks = [w for w in _re.split(r"\s+", t.strip()) if w]
        spans = [
            " ".join(toks[j : j + span_words]) for j in range(0, len(toks), span_words)
        ]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if spans:
            want[i] = (" ".join(kept), len(spans), len(spans) - len(kept))

    assert set(out) == set(want)
    for i in want:
        got = out[i]
        assert (got["clean_text"], got["n_spans"], got["removed_spans"]) == want[i]


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(alphabet="aB !?,x9", min_size=0, max_size=25),
        min_size=1,
        max_size=10,
    )
)
def test_normalized_dedup_partition_property(spark, texts):
    """normalized_dedup groups EXACTLY by the Python re-implementation of
    the canonical form, keeps the min id, and group sizes sum to the
    corpus size."""
    import re as _re

    from pdtable_spark.operators import dedup as dd

    def norm(t):
        t = _re.sub(r"[^a-z0-9 ]", "", t.lower())
        return _re.sub(r" +", " ", t).strip()

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.normalized_dedup(df).collect()
    assert sum(r["n_dups"] for r in out) == len(rows)
    want = {}
    for i, t in rows:
        k = norm(t)
        want.setdefault(k, [0, None])
        want[k][0] += 1
        if want[k][1] is None or i < want[k][1]:
            want[k][1] = i
    got = {(r["keep_id"], r["n_dups"]) for r in out}
    assert got == {(kid, n) for n, kid in want.values()}


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=30).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=16),
)
def test_cdc_chunks_matches_sequential_reference(spark, texts, divisor):
    """cdc_chunks agrees with a sequential Python re-implementation of the
    rolling-hash boundary rule for ANY corpus and divisor, and words
    partition exactly into chunks."""
    import hashlib

    from pdtable_spark.operators import text as text_ops

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ref_chunks(t):
        ws = [w for w in t.split(" ") if w]
        out, cur, chunk_no = {}, [], 0
        for i, w in enumerate(ws):
            cur.append(w)
            gram = " ".join(ws[max(0, i - 2) : i + 1])
            if md5_60(gram) % divisor == 0:
                out[chunk_no] = " ".join(cur)
                cur, chunk_no = [], chunk_no + 1
        if cur:
            out[chunk_no] = " ".join(cur)
        return out

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in text_ops.cdc_chunks(df, gram_words=3, divisor=divisor).collect():
        got.setdefault(r["doc_id"], {})[r["chunk_no"]] = r["chunk_text"]
    want = {i: ref_chunks(t) for i, t in rows if ref_chunks(t)}
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=24).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=6),
)
def test_repetition_signals_against_bruteforce(spark, texts, dup_n):
    """The windowed overlap-aware duplicate-gram coverage must equal a
    brute-force position-set reference for ANY corpus and gram width —
    tiny alphabet so duplicate grams are common."""
    from pdtable_spark.operators import text as tx

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in tx.repetition_signals(df, top_n=2, dup_n=dup_n).collect()
    }
    for i, t in rows:
        toks = t.split(" ")
        n = len(toks)
        grams = {}
        for p in range(n - dup_n + 1):
            grams.setdefault(" ".join(toks[p : p + dup_n]), []).append(p)
        covered = set()
        for g, ps in grams.items():
            if len(ps) >= 2:
                for p in ps:
                    covered.update(range(p, p + dup_n))
        want_chars = sum(len(toks[q]) for q in covered)
        total_chars = sum(len(w) for w in toks)
        got = out[i]
        assert got["n_words"] == n
        assert got["n_word_chars"] == total_chars
        want_dup = want_chars / total_chars if total_chars else 0.0
        assert got["dup_ngram_char_frac"] == want_dup
        # top-2-gram reference: max count, lexicographic tie-break
        if n >= 2:
            bi = {}
            for p in range(n - 1):
                g = " ".join(toks[p : p + 2])
                bi[g] = bi.get(g, 0) + 1
            best = min(bi.items(), key=lambda kv: (-kv[1], kv[0]))
            assert (got["top_ngram"], got["top_ngram_count"]) == best
            assert got["top_ngram_char_frac"] == (
                best[1] * len(best[0].replace(" ", "")) / total_chars
            )
        else:
            assert got["top_ngram"] is None and got["top_ngram_count"] == 0


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.lists(
                st.sampled_from(["cat", "dog", "the", "a", "hill.", "far!", "why?", "{x}", "lorem", "ipsum"]),
                min_size=0,
                max_size=8,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        ).map("\n".join),
        min_size=1,
        max_size=8,
    )
)
def test_c4_quality_against_bruteforce(spark, texts):
    """C4 line cleaning must equal a sequential Python reference for ANY
    page: line keep rule (terminal punct AND >=5 words), sentence count
    over the kept text, lorem/brace page flags."""
    import re as _re

    from pdtable_spark.operators import text as tx

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in tx.c4_quality(df).collect()}
    for i, t in rows:
        lines = t.split("\n")
        kept = [
            l
            for l in lines
            if _re.search(r'[.!?"]\r?$', l.strip(" "))
            and len(_re.split(r"\s+", l.strip(" "))) >= 5
        ]
        clean = "\n".join(kept)
        got = out[i]
        assert got["n_lines"] == len(lines)
        assert got["n_kept_lines"] == len(kept), (t, kept, got["clean_text"])
        assert got["clean_text"] == clean
        assert got["n_sentences"] == len(_re.findall(r"[.!?]", clean))
        assert got["has_lorem"] == int("lorem ipsum" in t.lower())
        assert got["has_brace"] == int("{" in t)
        want_pass = int(
            got["n_sentences"] >= 3 and not got["has_lorem"] and not got["has_brace"]
        )
        assert got["pass_c4"] == want_pass


def test_retrieval_and_selection_partition_invariance(spark):
    """The content-stable contract for the round-7 scoring operators: BM25
    ranks, DSIR log-weights, and char entropy must be IDENTICAL regardless
    of input partitioning/row order (no RNG, no order-dependent float
    accumulation on the data path)."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.sampling import dsir_log_importance
    from pdtable_spark.operators.text import bm25_topk, char_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    shuffled = docs.repartition(7, F.col("lang")).sortWithinPartitions(
        F.desc("doc_id")
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(bm25_topk(docs, ["dup", "scan"], k=15)) == rows(
        bm25_topk(shuffled, ["dup", "scan"], k=15)
    )
    tgt = docs.filter(F.col("lang") == "en")
    assert rows(dsir_log_importance(docs, tgt, buckets=256)) == rows(
        dsir_log_importance(shuffled, tgt.repartition(5), buckets=256)
    )
    assert rows(char_entropy(docs)) == rows(char_entropy(shuffled))


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff gg hh".split()),
                 min_size=1, max_size=12).map(" ".join),
        min_size=1, max_size=6,
    ),
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff gg hh".split()),
                 min_size=1, max_size=12).map(" ".join),
        min_size=1, max_size=6,
    ),
)
def test_bloom_screen_no_false_negatives_property(spark, bench_texts, train_texts):
    """The Bloom guarantee under fuzzing: a train doc's hit count is
    bounded below by its EXACT shared-shingle count with the benchmark
    shingle set (false positives may push it higher, never lower), and
    n_grams always equals the doc's distinct shingle count."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators import dedup
    from pdtable_spark.operators.text import shingles

    rows = [(i, t, "bench") for i, t in enumerate(bench_texts)] + [
        (1000 + i, t, "train") for i, t in enumerate(train_texts)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    n = 3
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in df.select("doc_id", shingles("text", n).alias("sh")).collect()
    }
    bench_sh = set().union(*(sh[i] for i in range(len(bench_texts))))
    out = {
        r["train_id"]: r
        for r in dedup.bloom_decontaminate(
            df, F.col("source") == "bench", shingle_n=n
        ).collect()
    }
    for i in range(len(train_texts)):
        doc_id = 1000 + i
        exact_shared = len(sh[doc_id] & bench_sh)
        assert out[doc_id]["n_grams"] == len(sh[doc_id])
        assert out[doc_id]["n_hits"] >= exact_shared


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()),
                 min_size=1, max_size=20).map(" ".join),
        min_size=1, max_size=5,
    )
)
def test_winnow_selection_parity_property(spark, texts):
    """Fuzzed parity: winnow_fingerprints equals the brute-force
    rightmost-min-per-window reference on arbitrary small-alphabet docs
    (heavy hash ties — the tie-break arithmetic's worst case)."""
    import hashlib

    from pdtable_spark.operators import dedup

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n, w = 2, 3
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in dedup.winnow_fingerprints(
            df, gram_n=n, window=w, hash_fn="md5_60"
        ).collect()
    }
    want = set()
    for doc_id, text in enumerate(texts):
        toks = text.split()
        if len(toks) >= n:
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        else:
            grams = [" ".join(toks)]
        h = [md5_60(g) for g in grams]
        nw = max(len(h) - w + 1, 1)
        for i in range(nw):
            s = h[i:i + w]
            mn = min(s)
            j = max(k for k in range(len(s)) if s[k] == mn)
            want.add((doc_id, i + j + 1, mn))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),      # hot + NULL sources
            st.integers(min_value=0, max_value=3),        # tie-heavy scores
        ),
        min_size=1,
        max_size=40,
    ),
    cap=st.integers(min_value=1, max_value=8),
    use_score=st.booleans(),
)
def test_cap_per_source_threshold_equivalence_property(spark, rows, cap, use_score):
    """Fuzz the screen-then-trim cap against (a) the window spelling and
    (b) a Python brute force of the retention order — tie-heavy scores
    and NULL sources are exactly where a wrong screening threshold or a
    non-null-safe join would show."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.dedup import md5_60
    from pdtable_spark.operators.sampling import (
        cap_per_source,
        cap_per_source_threshold,
    )

    data = [(i, s, float(v)) for i, (s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, source string, score double")
    score = "score" if use_score else None
    exact = sorted(
        r["doc_id"] for r in cap_per_source(df, cap, score_col=score).collect()
    )
    thr = sorted(
        r["doc_id"]
        for r in cap_per_source_threshold(
            df, cap, score_col=score, buckets=10, accuracy=200
        ).collect()
    )
    assert thr == exact
    # brute force: top-cap per source under the documented total order
    if use_score:
        keyed = [(s, (-v, i), i) for i, s, v in data]
    else:
        h = {
            r["doc_id"]: r["h"]
            for r in df.select(
                "doc_id", md5_60(F.col("doc_id").cast("string")).alias("h")
            ).collect()
        }
        keyed = [(s, (h[i], i), i) for i, s, v in data]
    want = []
    for src in {k[0] for k in keyed}:
        grp = sorted((k[1], k[2]) for k in keyed if k[0] == src)
        want.extend(i for _, i in grp[:cap])
    assert exact == sorted(want)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    thr=st.sampled_from([0.3, 0.6, 0.9]),
)
def test_containment_pairs_match_brute_force(spark, texts, thr):
    """Containment pairs on tie-heavy tiny alphabets equal a Python brute
    force over distinct 3-gram shingle sets — short docs (< gram_n
    tokens) collapse to a single whole-text shingle exactly like
    operators.text.shingles does."""
    from pdtable_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (
            r["containment"],
            r["contain_a_in_b"],
            r["contain_b_in_a"],
        )
        for r in containment_pairs(df, shingle_n=3, threshold=thr).collect()
    }

    def sh(t):
        toks = t.split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    sets = {i: sh(t) for i, t in enumerate(texts)}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= thr:
                want[(a, b)] = (
                    c,
                    inter / len(sets[a]),
                    inter / len(sets[b]),
                )
    assert set(got) == set(want)
    for k in want:
        assert all(abs(g - w) < 1e-12 for g, w in zip(got[k], want[k]))


# -- SQL-text quoting ------------------------------------------------------------

_ODD_NAMES = ["te`xt", "a.b", "a b", "`", "``x``", " ", "x'y", "c\\d", "é ü"]
printable_names = st.one_of(
    st.sampled_from(_ODD_NAMES),
    st.text(st.characters(blacklist_categories=("Cc", "Cs")), min_size=1, max_size=12),
)


@settings(max_examples=25, deadline=None)
@given(name=printable_names)
def test_ident_selects_any_printable_name(spark, name):
    """``ident(name)`` parses as exactly the column ``name`` — backticks,
    dots, spaces and quotes stay part of the name."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.sqltext import ident

    df = spark.range(1).select(F.lit(7).alias(name), F.lit(8).alias("other"))
    out = df.selectExpr(ident(name))
    assert out.columns == [name]
    assert out.collect()[0][0] == 7


@settings(max_examples=40, deadline=None)
@given(
    v=st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(),
        st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 5e-324, 1e308]),
    )
)
def test_num_literal_equals_lit(spark, v):
    """``F.expr(num(v))`` has the type and value of ``F.lit(v)`` for ints
    and floats, NaN and ±inf included (NaN counts as equal to NaN)."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.sqltext import num

    df = spark.range(1).select(F.expr(num(v)).alias("a"), F.lit(v).alias("b"))
    assert df.schema["a"].dataType == df.schema["b"].dataType
    a, b = df.collect()[0]
    assert a == b or (math.isnan(a) and math.isnan(b))


# -- format("startable") filter pushdown -------------------------------------------

_PUSH_VALS = [-1.5, 0.0, 2.0, 3.25]
_PUSH_TIMES = ["2020-03-08 02:30:00", "2021-06-15 12:00:05", "2024-01-01 00:00:00"]
_PUSH_LITERALS = {
    "site": st.sampled_from(["a", "b", "c"]),
    "val": st.sampled_from(_PUSH_VALS + [1.0, math.nan]),
    "when": st.sampled_from(_PUSH_TIMES + ["2022-01-01 00:00:00"]),
}


@st.composite
def pushdown_predicates(draw):
    """``(column, op, literal)``; ``in`` takes a list of literals."""
    col = draw(st.sampled_from(sorted(_PUSH_LITERALS)))
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "in", "is null", "is not null"]))
    if op in ("is null", "is not null"):
        return col, op, None
    pool = _PUSH_LITERALS[col]
    return col, op, draw(st.lists(pool, min_size=1, max_size=3) if op == "in" else pool)


_PUSH_EDGE_ROWS = [
    ("a", math.nan, None),
    ("b", 2.0, "2021-06-15 12:00:05"),
    ("a", None, "2020-03-08 02:30:00"),
]


@settings(max_examples=6, deadline=None)
@example(rows=_PUSH_EDGE_ROWS, preds=[("val", ">", 0.0)])  # NaN is greatest
@example(rows=_PUSH_EDGE_ROWS, preds=[("val", "<", math.nan)])  # 2.0 < NaN
@example(
    rows=_PUSH_EDGE_ROWS,
    preds=[("when", ">=", "2021-01-01 00:00:00"), ("val", "in", [2.0, math.nan])],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.one_of(st.none(), st.just(math.nan), st.sampled_from(_PUSH_VALS)),
            st.one_of(st.none(), st.sampled_from(_PUSH_TIMES)),
        ),
        min_size=1,
        max_size=12,
    ),
    preds=st.lists(pushdown_predicates(), min_size=1, max_size=3),
)
def test_startable_pushdown_matches_spark_filter_property(spark, tmp_path_factory, rows, preds):
    """A format("startable") read with filter pushdown on returns the rows
    of the read with pushdown off filtered in Spark: NaN and NULL values,
    timestamps and NaN literals included."""
    import datetime
    import functools

    from pyspark.sql import functions as F

    from pdtable_spark.io.datasource import register

    def cell(v):
        if v is None:
            return "-"
        return "+nan" if isinstance(v, float) and math.isnan(v) else str(v)

    def literal(col, v):
        if col == "when":
            return F.lit(datetime.datetime.fromisoformat(v))
        return F.lit(v)

    def condition(col, op, v):
        c = F.col(col)
        if op == "is null":
            return c.isNull()
        if op == "is not null":
            return c.isNotNull()
        if op == "in":
            return c.isin([literal(col, x) for x in v])
        x = literal(col, v)
        return {"=": c == x, "<": c < x, "<=": c <= x, ">": c > x, ">=": c >= x}[op]

    register(spark)
    path = tmp_path_factory.mktemp("pushdown") / "f.csv"
    path.write_text(
        "**m;;\nall;;\nsite;val;when\ntext;-;datetime\n"
        + "".join(f"{s};{cell(v)};{cell(w)}\n" for s, v, w in rows)
        + "\n"
    )
    cond = functools.reduce(lambda a, b: a & b, (condition(*p) for p in preds))

    def read():
        df = spark.read.format("startable").option("table", "m").load(str(path))
        return sorted(tuple(map(repr, r)) for r in df.filter(cond).collect())

    expected = read()
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        assert read() == expected
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


# -- zone-map rows from parquet footers --------------------------------------

_STATS_SCHEMA = (
    "f int, b boolean, by tinyint, sh smallint, i int, l bigint, d double, "
    "s string, dt date, ts timestamp"
)
_STATS_COLS = ["b", "by", "sh", "i", "l", "d", "s", "dt", "ts"]


def _nullable(strategy):
    return st.one_of(st.none(), strategy)


_STATS_EDGE_ROWS = [
    (0, True, 1, 1, 1, 1, -0.0, "é", datetime.date(2020, 1, 1), datetime.datetime(2020, 1, 1, 12)),
    (0, False, -1, -1, -1, -1, 0.0, "a", datetime.date(1970, 1, 1), None),
    # NaN only, every other column NULL
    (1, None, None, None, None, None, math.nan, None, None, None),
    # NaN beside numbers
    (2, None, None, None, None, 7, math.nan, "日本", None, datetime.datetime(2024, 2, 29)),
    (2, None, None, None, None, -7, 2.5, "z", None, None),
]


@settings(max_examples=5, deadline=None)
@example(rows=_STATS_EDGE_ROWS, empty=True)
@example(rows=[_STATS_EDGE_ROWS[2]], empty=False)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            _nullable(st.booleans()),
            _nullable(st.integers(-(2**7), 2**7 - 1)),
            _nullable(st.integers(-(2**15), 2**15 - 1)),
            _nullable(st.integers(-(2**31), 2**31 - 1)),
            _nullable(st.integers(-(2**63), 2**63 - 1)),
            _nullable(st.one_of(st.just(math.nan), st.just(-0.0), st.floats(allow_nan=False))),
            _nullable(st.text(max_size=4)),
            _nullable(st.dates(datetime.date(1900, 1, 1), datetime.date(2100, 1, 1))),
            _nullable(
                st.datetimes(datetime.datetime(1900, 1, 1), datetime.datetime(2100, 1, 1))
            ),
        ),
        min_size=1,
        max_size=10,
    ),
    empty=st.booleans(),
)
def test_footer_stats_match_spark_property(spark, tmp_path_factory, rows, empty):
    """clustering_stats — parquet footer rows, with the Spark fallback for
    doubles and INT96 timestamps — equals Spark's per-file count/min/max:
    NaN and ±0.0, non-ASCII strings, dates, all-NULL and zero-row files."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from pdtable_spark.io import maintenance

    lake = str(tmp_path_factory.mktemp("footers") / "lake")
    df = spark.createDataFrame(rows, _STATS_SCHEMA)
    df.repartition(3, "f").write.partitionBy("f").parquet(lake)
    if empty:  # a zero-row file in a partition of its own
        df.drop("f").limit(0).write.parquet(lake + "/f=9")
    truth = {
        maintenance._norm_file(unquote(r["file"])): r
        for r in spark.read.parquet(lake)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.min(c).alias(f"min_{c}") for c in _STATS_COLS],
            *[F.max(c).alias(f"max_{c}") for c in _STATS_COLS],
        )
        .collect()
    }
    got = maintenance.clustering_stats(spark, lake, _STATS_COLS).collect()
    assert set(truth) <= {r["file"] for r in got}
    assert len(got) == len(set(truth)) + empty
    for r in got:
        want = truth.get(r["file"])  # None: a zero-row file
        for k in ["n_rows"] + [f"{b}_{c}" for b in ("min", "max") for c in _STATS_COLS]:
            expected = want[k] if want is not None else (0 if k == "n_rows" else None)
            same = r[k] == expected or (
                isinstance(expected, float) and math.isnan(expected) and math.isnan(r[k])
            )
            assert same, (r["file"], k, r[k], expected)
