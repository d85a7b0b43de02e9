"""Dedup operator tests on small crafted corpora + numpy brute force."""

import itertools

import pytest
from pyspark.sql import functions as F

from vearch_spark.operators import dedup
from vearch_spark.session import pinned_count

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the old river bank tonight"),  # near-dup of 0
    (2, "completely different content about spark query engines and distributed joins here"),
    (3, "completely different content about spark query engines and distributed joins here"),  # exact dup of 2
    (4, "unrelated words apple banana cherry durian elderberry fig grape honeydew kiwi lemon"),
]


def py_shingles(text, n=3):
    toks = text.split(" ")
    return set(" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1)))


def py_jaccard(a, b, n=3):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(dedup.word_shingles("t", 2).alias("s")).collect()[0].s
    assert sorted(out) == ["a b", "b c", "c d"]


def test_exact_dedup(docs_df):
    out = dedup.exact_dedup(docs_df, key=["text"], id_col="doc_id")
    groups = {r.keeper_doc_id: r.n_dups for r in out.collect()}
    assert groups[2] == 2  # doc 3 collapses into 2
    assert groups[0] == 1 and groups[1] == 1


def test_ngram_jaccard_pairs_vs_bruteforce(docs_df):
    out = dedup.ngram_jaccard_pairs(docs_df, jaccard_threshold=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    exp = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = py_jaccard(ta, tb)
        if j >= 0.3:
            exp[(ia, ib)] = j
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k])
    assert (0, 1) in got and (2, 3) in got


def test_ngram_pairs_prepared_matches_inline(spark, sf_dir):
    """Both exact ngram pair joins return the same rows whether they
    build the capped postings themselves or read a supplied
    ngram_pair_inputs relation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with dedup.skew_guard_scope():
        prepared = dedup.ngram_pair_inputs(docs)
        for op, kw in (
            (dedup.ngram_jaccard_pairs, {"jaccard_threshold": 0.3}),
            (dedup.containment_pairs, {"containment_threshold": 0.8}),
        ):
            inline = sorted(op(docs, **kw).collect())
            assert inline
            assert sorted(op(docs, prepared=prepared, **kw).collect()) == inline


def test_ngram_pair_inputs_reads_postings_once(docs_df):
    """Every reader of the raw postings inside the capped relation (set
    sizes, hot-shingle detection, anti-join) scans the same pinned
    InMemoryRelation, so the shingling UDF and explode run once."""
    with dedup.skew_guard_scope():
        plan = dedup.ngram_pair_inputs(docs_df)._jdf.queryExecution().optimizedPlan()
        nodes, stack = [], [plan]
        while stack:
            node = stack.pop()
            nodes.append(node)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        kinds = [n.getClass().getSimpleName() for n in nodes]
        cached = [n for n, k in zip(nodes, kinds) if k == "InMemoryRelation"]
        assert cached and all(c.sameResult(cached[0]) for c in cached)
        assert "Generate" not in kinds  # no uncached explode of the corpus


def test_minhash_lsh_finds_near_dups(docs_df):
    out = dedup.minhash_lsh_pairs(docs_df, jaccard_threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # exact dup pair must always collide in every band
    assert (2, 3) in pairs
    # near-dup (jaccard ≈ 0.71) found with high probability at 32 bands
    assert (0, 1) in pairs
    # unrelated docs never pass exact verification
    assert all(p in {(0, 1), (2, 3)} for p in pairs)


def test_minhash_md5_variant_matches_xxhash_pairs(docs_df):
    # the oracle-reproducible md5_31 family is a different permutation
    # family, not a different algorithm — on a tiny corpus both find
    # exactly the verified pair set
    out = dedup.minhash_lsh_pairs(docs_df, jaccard_threshold=0.5, shingle_hash="md5_31")
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_minhash_hot_bucket_guard_bounds_pair_emission(spark):
    # degenerate corpus: 2000 identical docs → every band bucket holds
    # all 2000 ids. Without the guard that is 32 × 2M candidate pairs;
    # with it, each bucket emits a consecutive chain (n−1 pairs), so
    # the distinct pair set is exactly 1999 — and still connects the
    # whole duplicate group for connected-components resolution.
    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("all these documents carry the very same duplicated text body").alias(
            "text"
        ),
    )
    out = dedup.minhash_lsh_pairs(df, jaccard_threshold=0.5, max_bucket=100)
    rows = out.collect()
    assert len(rows) == n - 1
    assert all(r.jaccard == 1.0 for r in rows)
    # chain pairs: (i, i+1) for every consecutive id — one component
    assert {(r.id_a, r.id_b) for r in rows} == {(i, i + 1) for i in range(n - 1)}


def test_simhash_pairs(docs_df):
    sh = docs_df.select(dedup.simhash64("text").alias("s"), "doc_id").collect()
    sig = {r.doc_id: r.s for r in sh}
    assert sig[2] == sig[3]  # identical text → identical signature
    out = dedup.simhash_pairs(docs_df, max_hamming=10)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert pairs[(2, 3)] == 0
    assert (0, 1) in pairs  # near-dup within hamming 10


def test_embedding_cosine_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),  # ~0.999 cosine with 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = dedup.embedding_cosine_pairs(df, threshold=0.95)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_embedding_cosine_pairs_bucketed(spark):
    vecs = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),
        (2, [0.98, 0.15], 1),  # near-dup of 0/1 but other bucket → missed (documented trade-off)
        (3, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, bkt int")
    out = dedup.embedding_cosine_pairs(df, threshold=0.9, bucket_col="bkt")
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_embedding_cosine_bucketed_blas_kernel_parity(spark):
    """kernel='blas' (per-bucket matmul, no pair join) must emit the
    same pairs as the expr join, cosines equal to float tolerance; a
    zero vector must pair with nothing (try_divide parity)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (i, (rng.normal(0, 1, 6)).tolist(), int(i % 3)) for i in range(60)
    ] + [(100, [0.0] * 6, 0)]
    # plant near-dups inside bucket 0
    rows.append((101, [v * 1.001 for v in rows[0][1]], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, bkt int")
    a = {(r.id_a, r.id_b): r.cosine for r in dedup.embedding_cosine_pairs(
        df, threshold=0.8, bucket_col="bkt", kernel="expr").collect()}
    b = {(r.id_a, r.id_b): r.cosine for r in dedup.embedding_cosine_pairs(
        df, threshold=0.8, bucket_col="bkt", kernel="blas").collect()}
    assert set(a) == set(b) and (0, 101) in b
    assert all(100 not in p for p in b)
    for k, v in a.items():
        assert b[k] == pytest.approx(v, rel=1e-9)
    plan = dedup.embedding_cosine_pairs(
        df, threshold=0.8, bucket_col="bkt", kernel="blas"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "Join" not in plan


def test_connected_components_both_paths(spark):
    # two chains and a singleton edge: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    small = dedup.connected_components(pairs)
    assert {r.node: r.component for r in small.collect()} == expect
    # force the distributed hash-min path and require identical output
    big = dedup.connected_components(pairs, driver_max_edges=0)
    assert {r.node: r.component for r in big.collect()} == expect


def test_dedup_resolve_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    out = dedup.dedup_resolve(docs, pairs).collect()
    got = {r.doc_id: (r.cluster_id, r.is_canonical) for r in out}
    assert got == {
        0: (0, 1), 1: (0, 0), 2: (0, 0),  # chain folds to min id 0
        3: (3, 1),                        # untouched doc = singleton
        4: (4, 1), 5: (4, 0),
    }
    kept = sorted(r.doc_id for r in out if r.is_canonical)
    assert kept == [0, 3, 4]


def test_md5_mod31_expr_matches_python(spark):
    # the cross-engine oracle rests on this identity: the JVM
    # conv/decimal fold == int(md5_hex16, 16) % (2^31-1), exactly
    import hashlib

    from vearch_spark.operators.dedup import _PRIME31, md5_mod31_expr

    samples = ["", "a", "the quick brown", "ü€漢", "0" * 64, "x y z"] + [
        f"shingle {i} text" for i in range(50)
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.h for r in df.select("s", md5_mod31_expr(F.col("s")).alias("h")).collect()}
    for s in samples:
        exp = int(hashlib.md5(s.encode()).hexdigest()[:16], 16) % _PRIME31
        assert got[s] == exp, s


def test_semantic_decontaminate(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    ev = rng.normal(0, 1, (3, 8))
    train_rows = [(0, ev[0].tolist()),                      # exact eval copy
                  (1, (ev[1] * 2.5).tolist()),              # scaled copy (cos=1)
                  (2, (ev[2] + rng.normal(0, 0.02, 8)).tolist()),  # near-paraphrase
                  (3, rng.normal(0, 1, 8).tolist()),        # unrelated
                  (4, rng.normal(0, 1, 8).tolist())]
    train = spark.createDataFrame(train_rows, "doc_id long, embedding array<double>")
    evdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(ev)], "doc_id long, embedding array<double>"
    )
    out = {r.doc_id: (r.max_eval_cosine, r.contaminated)
           for r in dedup.semantic_decontaminate(train, evdf, threshold=0.98).collect()}
    assert out[0][1] and out[1][1] and out[2][1]   # copies + paraphrase flagged
    assert not out[3][1] and not out[4][1]
    assert out[0][0] == pytest.approx(1.0)
    assert out[1][0] == pytest.approx(1.0)         # cosine ignores scale
    with pytest.raises(ValueError, match="broadcast ceiling"):
        dedup.semantic_decontaminate(train, evdf, max_eval_rows=2)


def test_embedding_cosine_bucketed_hot_bucket_guard(spark):
    vecs = [(i, [1.0, float(i % 3)], 0) for i in range(10)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, bkt int")
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.embedding_cosine_pairs(df, threshold=0.9, bucket_col="bkt", max_bucket=5)
    # under the cap (or disabled) the join proceeds
    assert dedup.embedding_cosine_pairs(
        df, threshold=0.999, bucket_col="bkt", max_bucket=None
    ).count() >= 0


def test_embedding_cosine_bucketed_blas_guard_in_kernel(spark):
    """r10: the blas path's max_bucket cap rides INSIDE the scoring
    task (applyInPandas hands each bucket whole), so no per-pass
    groupBy-count probe job exists; an over-cap bucket still fails —
    at action time, with the refine-the-quantizer guidance."""
    vecs = [(i, [1.0, float(i % 3)], 0) for i in range(10)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, bkt int")
    out = dedup.embedding_cosine_pairs(
        df, threshold=0.9, bucket_col="bkt", max_bucket=5, kernel="blas"
    )
    with pytest.raises(Exception, match="max_bucket"):
        out.count()
    # under the cap the kernel scores normally
    ok = dedup.embedding_cosine_pairs(
        df, threshold=0.999, bucket_col="bkt", max_bucket=100, kernel="blas"
    )
    assert ok.count() >= 0


def test_duplicated_span_stats(spark):
    """Exact substring-level dedup (rolling window hashes): planted
    repeats are found, within-doc repeats count, short docs emit zeros
    instead of vanishing, and the two hashers agree."""
    from vearch_spark.operators.dedup import duplicated_span_stats

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 tokens
    rows = [
        (0, boiler + " alpha beta gamma"),
        (1, "unique opening words here then " + boiler),
        (2, "totally different text with no repeated window at all ok"),
        (3, "tiny doc"),  # < window -> zero spans
        (4, boiler + " " + boiler),  # within-doc repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_span_stats(
        docs, window=10, hasher="xxhash64").collect()}
    assert set(out) == {0, 1, 2, 3, 4}  # every doc has a row
    assert out[3].n_spans == 0 and out[3].n_dup_spans == 0
    assert out[2].n_dup_spans == 0
    # the boiler window appears in docs 0, 1 and twice in 4
    assert out[0].n_dup_spans >= 1
    assert out[1].n_dup_spans >= 1
    assert out[4].n_dup_spans >= 2
    assert out[0].dup_span_frac > 0
    sha = {r.doc_id: (r.n_spans, r.n_dup_spans) for r in duplicated_span_stats(
        docs, window=10, hasher="sha256").collect()}
    assert sha == {d: (r.n_spans, r.n_dup_spans) for d, r in out.items()}


def test_duplicated_span_stride(spark):
    from vearch_spark.operators.dedup import duplicated_span_stats

    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    full = duplicated_span_stats(docs, window=5, stride=1).collect()[0]
    strided = duplicated_span_stats(docs, window=5, stride=4).collect()[0]
    assert full.n_spans == 16  # 20 - 5 + 1
    assert strided.n_spans == 4  # positions 1,5,9,13


def test_remove_duplicate_spans_semantics(spark):
    """Substring REMOVAL: the corpus-first occurrence keeps the text,
    every other occurrence is excised; adjacent removal windows merge
    so a doc made of two duplicated runs is removed wholesale; short
    and unique docs pass through byte-identical."""
    from vearch_spark.operators.dedup import remove_duplicate_spans

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 tokens
    rows = [
        (0, boiler + " alpha beta gamma"),  # corpus-first -> keeper
        (1, "unique opening words here then " + boiler),
        (2, "totally different text with no repeated window at all ok"),
        (3, "tiny doc"),  # < window -> untouched
        (4, boiler + " " + boiler),  # both copies duplicated -> all cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, window=10).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}
    # keeper doc: untouched
    assert out[0].n_removed == 0 and out[0].clean_text == rows[0][1]
    # doc 1: the trailing boiler window [6,15] is cut, prefix kept
    assert out[1].n_removed == 10
    assert out[1].clean_text == "unique opening words here then"
    # unique / short docs: byte-identical
    assert out[2].n_removed == 0 and out[2].clean_text == rows[2][1]
    assert out[3].n_removed == 0 and out[3].clean_text == "tiny doc"
    assert out[3].n_tokens == 2
    # doc 4: removal windows [1,10] and [11,20] are ADJACENT -> merge
    # into [1,20]; the whole doc is excised (both copies duplicate the
    # keeper in doc 0), leaving the empty string
    assert out[4].n_removed == 20 and out[4].clean_text == ""
    # sha256 hashing (the oracle variant) groups identically
    sha = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in remove_duplicate_spans(
            docs, window=10, hasher="sha256"
        ).collect()
    }
    assert sha == {d: (r.n_removed, r.clean_text) for d, r in out.items()}


def test_remove_duplicate_spans_overlap_merge(spark):
    """Overlapping (not just adjacent) removal windows merge into one
    maximal island: a 12-token duplicated run with window=10 marks
    positions whose windows overlap; the cut is the full run, never a
    fragmented middle."""
    from vearch_spark.operators.dedup import remove_duplicate_spans

    run = " ".join(f"r{i}" for i in range(12))  # 12-token run
    docs = spark.createDataFrame(
        [(0, run + " tail0 tail1"), (1, "head0 head1 " + run)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, window=10).collect()
    }
    # doc 0 holds the corpus-first spans (pos 1..3 of the run) — but
    # within-run windows at pos 2,3 also occur in doc 1 (pos 4,5);
    # keeper for each hash is doc 0, so doc 0 stays whole
    assert out[0].n_removed == 0
    # doc 1: duplicated windows at pos 3,4,5 (the run) overlap ->
    # merged island [3,14] cuts the entire run, keeping the head
    assert out[1].clean_text == "head0 head1"
    assert out[1].n_removed == 12


def test_gopher_repetition_stats(spark):
    """Hand-computed fractions for the published repetition rules:
    top-n-gram char fraction counts every occurrence (so overlapping
    repeats can exceed 1.0 — the paper's literal definition), dup
    coverage counts each character once with islands merged on
    OVERLAP only (the space between two disjoint repeated runs stays
    uncounted)."""
    from vearch_spark.operators.dedup import gopher_repetition_stats

    clean = " ".join(f"tok{i:02d} word{i:02d}" for i in range(30))  # 60 words
    rows = [
        (0, "a b a b a b"),
        (1, "c d c d c d c d"),
        (2, "p q r s t u p q r s t"),
        (3, clean),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in gopher_repetition_stats(docs).collect()}
    # doc 0: "a b" x3, 3 chars, 11 total; "a b a" tie -> lexicographic
    assert abs(out[0]["top_2gram_frac"] - 9 / 11) < 1e-6
    assert abs(out[0]["top_3gram_frac"] - 10 / 11) < 1e-6
    assert out[0]["dup_5gram_frac"] == 0.0  # both 5-grams unique
    # doc 1: every 5-gram duplicated, islands merge to the whole doc
    assert out[1]["dup_5gram_frac"] == 1.0
    # doc 2: two disjoint "p q r s t" islands -> 9+9 of 21 chars
    assert abs(out[2]["dup_5gram_frac"] - 18 / 21) < 1e-6
    # clean 60-word doc passes every rule; repetitive docs fail
    assert out[3]["repetition_pass"] == 1
    assert out[0]["repetition_pass"] == 0
    assert out[1]["repetition_pass"] == 0
    assert out[2]["repetition_pass"] == 0
    # every doc present even when short/no-dup (left joins)
    assert set(out) == {0, 1, 2, 3}


def test_gopher_repetition_matches_bruteforce_reference(spark):
    """r10: the pigeonhole-pruned kernel (2-gram pass seeds 3..5-gram
    candidates, 5-gram pass seeds 6..10 — a duplicated n-gram's
    leading/trailing sub-grams are always duplicated) must equal the
    straightforward count-every-position reference on random docs with
    planted repeats and on the degenerate edges."""
    import random

    from vearch_spark.operators.dedup import (
        GOPHER_DUP_NGRAM_THRESHOLDS,
        GOPHER_TOP_NGRAM_THRESHOLDS,
        gopher_repetition_stats,
    )

    def reference(text):
        toks = text.split(" ")
        total = len(text)
        out = {}
        for n in GOPHER_TOP_NGRAM_THRESHOLDS:
            m = len(toks) - n + 1
            if m < 1:
                out[f"top_{n}gram_frac"] = 0.0
                continue
            cnt = {}
            for i in range(m):
                g = " ".join(toks[i : i + n])
                cnt[g] = cnt.get(g, 0) + 1
            best = max(cnt.values())
            g = min((g for g, c in cnt.items() if c == best),
                    key=lambda s: (-len(s), s))
            # unrounded: the query rounds JVM-side (HALF_UP); the
            # assertion uses half-ulp-of-6dp tolerance instead of
            # replicating the rounding mode
            out[f"top_{n}gram_frac"] = best * len(g) / total
        for n in GOPHER_DUP_NGRAM_THRESHOLDS:
            m = len(toks) - n + 1
            if m < 1:
                out[f"dup_{n}gram_frac"] = 0.0
                continue
            grams = [" ".join(toks[i : i + n]) for i in range(m)]
            cnt = {}
            for g in grams:
                cnt[g] = cnt.get(g, 0) + 1
            starts = [0]
            for t in toks:
                starts.append(starts[-1] + len(t) + 1)
            islands, prev_end = [], None
            for p0 in range(m):
                if cnt[grams[p0]] < 2:
                    continue
                pos, end = p0 + 1, p0 + n
                if prev_end is None or pos > prev_end:
                    islands.append([pos, end])
                elif end > islands[-1][1]:
                    islands[-1][1] = end
                if prev_end is None or end > prev_end:
                    prev_end = end
            cov = sum(
                starts[e - 1] + len(toks[e - 1]) - starts[s - 1]
                for s, e in islands
            )
            out[f"dup_{n}gram_frac"] = cov / total if islands else 0.0
        return out

    rng = random.Random(42)
    rows = [(90, "a"), (91, "a a"), (92, "a a a a a a a a a a a a"),
            (93, "x y x y x y x y x y x y")]
    for i in range(60):
        vocab = [f"w{j}" for j in range(rng.randint(1, 10))]
        rows.append((i, " ".join(rng.choice(vocab)
                                 for _ in range(rng.randint(1, 50)))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_repetition_stats(docs).collect()}
    for i, text in rows:
        want = reference(text)
        for k, v in want.items():
            assert abs(got[i][k] - v) <= 5.01e-7, (i, k, got[i][k], v, text)


def test_blank_docs_are_not_pseudo_duplicates(spark):
    """Empty/whitespace/NULL docs yield EMPTY shingle sets (no ''
    pseudo-shingle), so they never become jaccard-1.0 near-dups of
    each other; simhash tolerates NULL text; exact_dedup keys encode
    NULL columns positionally."""
    from vearch_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash64,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, None), (3, "real content words here"),
         (4, "real content words here")],
        "doc_id long, text string",
    )
    sizes = {r.doc_id: r.s for r in docs.select(
        "doc_id", F.size(word_shingles("text")).alias("s")).collect()}
    assert sizes[0] == 0 and sizes[1] == 0 and sizes[2] == 0
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        docs, text_col="text", id_col="doc_id", num_hashes=32, bands=8,
        jaccard_threshold=0.5).collect()}
    assert pairs == {(3, 4)}  # blanks never pair
    jp = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(
        docs, jaccard_threshold=0.5).collect()}
    assert jp == {(3, 4)}
    # NULL text must not crash the simhash task
    assert docs.select(simhash64("text")).count() == 5
    # NULL-safe fingerprint: different null positions never collide
    two = spark.createDataFrame(
        [(0, "a", None), (1, None, "a")], "doc_id long, c1 string, c2 string")
    assert exact_dedup(two, ["c1", "c2"]).count() == 2


def test_band_parameter_validation(spark):
    from vearch_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, num_hashes=64, bands=128).collect()
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, num_hashes=100, bands=32).collect()
    with pytest.raises(ValueError):
        simhash_pairs(docs, bands=128).collect()
    with pytest.raises(ValueError):
        simhash_pairs(docs, bands=5).collect()


def test_simhash_skew_guard_linear_on_clone_heavy_corpus(spark):
    """A clone-heavy corpus makes one (band, block) bucket quadratic;
    the max_bucket chain guard keeps emission linear while the exact
    Hamming verify preserves precision (pairs within the clone group
    still come out, via chain adjacency + other non-hot bands)."""
    from vearch_spark.operators.dedup import simhash_pairs

    rows = [(i, "the same exact document text repeated many times over")
            for i in range(120)]
    rows += [(1000 + i, f"unrelated text number {i} with its own words {i*7}")
             for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = simhash_pairs(df, max_bucket=50)
    unguarded = simhash_pairs(df, max_bucket=None)
    # identical texts → hamming 0 → every guarded pair is a true pair
    assert guarded.where("hamming > 3").count() == 0
    # the clone group stays connected under the guard: its pair set,
    # viewed as a graph over the 120 clones, must span all of them
    ids = set()
    for r in guarded.where("id_a < 1000").collect():
        ids.add(r.id_a); ids.add(r.id_b)
    assert ids == set(range(120))
    # and the guard emits far fewer candidate pairs than all-pairs
    assert 0 < guarded.count() < unguarded.count()


def test_hot_bucket_window_fallback_matches_broadcast_split(spark, monkeypatch):
    """Above _HOT_KEY_CAP oversized keys, the skew guard stops
    collecting hot keys to the driver and splits via an in-plan count
    window instead. Both strategies must emit the same pairs."""
    from vearch_spark.operators import dedup

    rows = [(i, "the same exact document text repeated many times over")
            for i in range(80)]
    rows += [(1000 + i, f"unrelated text number {i} with its own words {i*7}")
             for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(fn, **kw):
        return sorted(
            (r.id_a, r.id_b) for r in fn(df, max_bucket=40, **kw).collect()
        )

    via_broadcast_sim = pairs(dedup.simhash_pairs)
    via_broadcast_min = pairs(dedup.minhash_lsh_pairs)
    monkeypatch.setattr(dedup, "_HOT_KEY_CAP", 0)
    assert pairs(dedup.simhash_pairs) == via_broadcast_sim
    assert pairs(dedup.minhash_lsh_pairs) == via_broadcast_min


def test_hamming_pairs_generalizes_simhash_banding(spark):
    """hamming_pairs is the extracted banded-Hamming kernel: over a
    hash column it must find exactly the brute-force pair set whenever
    max_hamming <= bands-1 (pigeonhole exactness)."""
    import itertools

    import numpy as np

    from vearch_spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(5)
    base = int(rng.integers(0, 2**63))
    rows = []
    for i in range(40):
        h = base
        for b in rng.choice(64, size=i % 5, replace=False):
            h ^= 1 << int(b)
        rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
    df = spark.createDataFrame(rows, "doc_id long, _h long")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(df, "_h", max_hamming=3, bands=4).collect()
    )
    want = []
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 3:
            want.append((ia, ib, d))
    assert got == sorted(want)
    with pytest.raises(ValueError, match="divide"):
        hamming_pairs(df, "_h", bands=5)


def test_hamming_pairs_property_exactness(spark):
    """Hypothesis sweep: for any hash multiset and any max_hamming <
    bands, the UNGUARDED banded plan emits EXACTLY the brute-force
    pair set (pigeonhole), and the guarded plan (tiny max_bucket, so
    clone floods divert to the chain) emits a SUBSET — the chain trades
    pair exhaustiveness for linear emission, documented on
    simhash_pairs — with perfect precision."""
    import itertools

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.operators.dedup import hamming_pairs

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(5, 40),
        max_hamming=st.integers(0, 3),
        dup_rate=st.sampled_from([0, 3]),
    )
    def check(seed, n, max_hamming, dup_rate):
        rng = np.random.default_rng(seed)
        base = int(rng.integers(0, 2**63))
        rows = []
        for i in range(n):
            if dup_rate and i % dup_rate == 0:
                h = base  # exact clones → hamming-0 pairs + hot buckets
            else:
                h = base
                for b in rng.choice(64, size=int(rng.integers(0, 7)), replace=False):
                    h ^= 1 << int(b)
            rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
        df = spark.createDataFrame(rows, "doc_id long, _h long")
        want = sorted(
            (ia, ib, bin((ha ^ hb) & ((1 << 64) - 1)).count("1"))
            for (ia, ha), (ib, hb) in itertools.combinations(rows, 2)
            if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= max_hamming
        )
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_pairs(
                df, "_h", max_hamming=max_hamming, bands=4, max_bucket=None
            ).collect()
        )
        assert got == want
        guarded = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_pairs(
                df, "_h", max_hamming=max_hamming, bands=4, max_bucket=5
            ).collect()
        )
        assert set(guarded) <= set(want)  # chain never invents pairs

    check()


def test_release_skew_guard_caches(docs_df):
    """The skew guard persists the banded relation (detection job +
    returned plan would recompute the signature stage twice without
    it); the operator cannot unpersist it, so the caller-facing
    release handle must: (a) report at least one released relation
    after a dedup materialization, (b) leave the session with no
    guard-cached RDDs, (c) be idempotent."""
    spark = docs_df.sparkSession
    dedup.release_skew_guard_caches()  # clean slate from other tests
    pairs = dedup.minhash_lsh_pairs(docs_df, text_col="text", id_col="doc_id")
    pairs.count()  # materialize: detection job + banded join both ran
    assert pinned_count() >= 1
    released = dedup.release_skew_guard_caches()
    assert released >= 1
    assert pinned_count() == 0
    assert dedup.release_skew_guard_caches() == 0  # idempotent
    # the unpersisted plan still recomputes correctly
    assert pairs.count() >= 0


def test_skew_guard_scope_releases_only_scoped(docs_df):
    """skew_guard_scope unpersists exactly the relations cached inside
    the scope: the JVM persistent-RDD count returns to its pre-entry
    baseline on exit, relations persisted BEFORE entry stay cached
    (scopes compose with long-lived callers), and results materialized
    inside the scope remain correct outside it."""
    spark = docs_df.sparkSession
    dedup.release_skew_guard_caches()

    def jvm_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    outer = dedup.minhash_lsh_pairs(docs_df, text_col="text", id_col="doc_id")
    n_outer = outer.count()
    assert pinned_count() == 1
    baseline = jvm_cached()

    with dedup.skew_guard_scope():
        inner = dedup.simhash_pairs(docs_df, text_col="text", id_col="doc_id")
        got = inner.count()
        assert pinned_count() >= 2
        assert jvm_cached() > baseline
    # scope released ITS relations only
    assert pinned_count() == 1
    assert jvm_cached() == baseline
    assert got >= 0 and outer.count() == n_outer  # pre-entry cache intact
    dedup.release_skew_guard_caches()
    assert pinned_count() == 0


def test_containment_pairs_quotation_case(spark):
    """Directed containment catches what symmetric Jaccard misses: a
    short doc fully quoted inside a much longer one scores containment
    1.0 (short → long) while its Jaccard stays below any usable
    threshold; the reverse direction scores low; unrelated docs emit
    nothing."""
    words_q = " ".join(f"q{i}" for i in range(12))
    words_long = words_q + " " + " ".join(f"x{i}" for i in range(120))
    words_other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, words_q), (2, words_long), (3, words_other)],
        "doc_id long, text string",
    )
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in dedup.containment_pairs(
            df, containment_threshold=0.8
        ).collect()
    }
    assert got == {(1, 2): 1.0}  # quote ⊂ article; nothing else
    jac = dedup.ngram_jaccard_pairs(df, jaccard_threshold=0.0).collect()
    jrow = [r for r in jac if r.id_a == 1 and r.id_b == 2]
    assert jrow and jrow[0].jaccard < 0.1  # Jaccard can't see it


def test_hamming_pairs_cross_semantics(spark):
    """hamming_pairs_cross emits pairs ACROSS the two relations only:
    within-side near-dups never pair, id-equal cross rows (re-crawl
    replays) are excluded, exactness holds at max_hamming < bands, and
    the corpus-side max_bucket cap keeps the lowest-id members."""
    new = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1110), (10, 0b1111_0000_1111)],
        "doc_id long, h long",
    )
    corpus = spark.createDataFrame(
        [(10, 0b1111_0000_1111), (11, 0b1101), (12, 0b1100),
         (90, -1 << 30)],
        "doc_id long, h long",
    )
    got = {
        (r.new_id, r.corpus_id): r.hamming
        for r in dedup.hamming_pairs_cross(
            new, corpus, hash_col="h", max_hamming=3, bands=4
        ).collect()
    }
    # 1↔2 (both new) and 11↔12 (both corpus) must NOT pair; 10↔10 is
    # an id-equal replay and is excluded despite hamming 0
    assert got == {
        (1, 11): 1, (1, 12): 2, (2, 11): 2, (2, 12): 1,
    }
    # corpus-side cap: ids 10/11/12 share the three zero-value band
    # buckets, so max_bucket=2 keeps the lowest two (10, 11) there —
    # (x, 11) pairs survive, (x, 12) are truncated away
    capped = {
        (r.new_id, r.corpus_id)
        for r in dedup.hamming_pairs_cross(
            new, corpus, hash_col="h", max_hamming=3, bands=4,
            max_bucket=2,
        ).collect()
    }
    assert (1, 11) in capped and (1, 12) not in capped


def test_entry_image_near_dup_guard_lifecycle(spark, sf_dir):
    """r10 (VERDICT r09 ask #1): image_near_dup no longer session-caches
    its pair RESULT — every build registers exactly one guard cache
    (the banded relation) for the CALLER to release between
    materializations (the bench/oracle contract, same as minhash/
    simhash), and the pair join re-executes on every action."""
    import __spark_entry__ as entry

    dedup.release_skew_guard_caches()
    out = entry.q_image_near_dup(spark, sf_dir)
    assert pinned_count() == 1  # the banded relation only
    rows = out.collect()
    assert len(rows) > 0
    assert sorted(out.collect()) == sorted(rows)  # re-execution agrees
    assert dedup.release_skew_guard_caches() == 1


def test_corpus_line_filter_ccnet_boilerplate(spark):
    """Cross-corpus line filtering (the CCNet recipe): lines in more
    than max_docs distinct docs drop from EVERY doc with order
    preserved; unique lines survive; a fully-boilerplate doc stays in
    the corpus with empty text; sub-min_chars lines are exempt."""
    rows = [
        (i, f"HEADER\nunique line {i}\nbody {i} text\nFOOTER")
        for i in range(100)
    ]
    rows.append((100, "HEADER\nFOOTER"))
    rows.append((101, "x\nonly short"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.corpus_line_filter(df, max_docs=50, min_chars=2).collect()
    }
    assert len(out) == 102
    assert out[5].text == "unique line 5\nbody 5 text"
    assert out[5].n_dropped == 2
    assert out[100].text == "" and out[100].n_dropped == 2
    # 'x' is below min_chars → exempt from counting AND from dropping
    assert out[101].text == "x\nonly short" and out[101].n_dropped == 0
    # within-doc repeats of a NON-hot line survive (cross-doc axis only)
    df2 = spark.createDataFrame(
        [(0, "a a a\nrare\na a a"), (1, "other\nrare2")],
        "doc_id long, text string",
    )
    out2 = {
        r.doc_id: r
        for r in dedup.corpus_line_filter(df2, max_docs=1, min_chars=1).collect()
    }
    assert out2[0].text == "a a a\nrare\na a a" and out2[0].n_dropped == 0


def test_corpus_line_filter_empty_reassembly_counts_exact(spark):
    """A doc whose KEPT lines reassemble to empty text (only
    min_chars-exempt blank lines survive) must report n_dropped =
    lines actually dropped, NOT its total line count — the
    empty-text restore rule applies only to docs that vanished from
    the grouped side entirely (regression: r7 keyed the restore on
    text == '' and overcounted 'HOT\\n' as n_dropped=2)."""
    rows = [(i, "HOT\nkeep me " + str(i)) for i in range(60)]
    rows.append((60, "HOT\n"))  # lines: ['HOT', ''] — '' is exempt
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.corpus_line_filter(df, max_docs=50, min_chars=1).collect()
    }
    # HOT appears in 61 docs → dropped everywhere; the trailing empty
    # line is exempt, so doc 60 keeps exactly one (empty) line
    assert out[60].text == "" and out[60].n_dropped == 1
    assert out[0].text == "keep me 0" and out[0].n_dropped == 1


def test_corpus_line_filter_shuffle_fallback_same_answer(spark):
    """Past the broadcast threshold the hot set anti-joins by shuffle
    (AQE decides from measured size — r9 removed the driver limit-
    probe) — the kept corpus must be identical to the broadcast
    path's."""
    rows = [(i, f"HEADER\nunique {i}\nFOOTER") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.doc_id, r.text, r.n_dropped)
        for r in dedup.corpus_line_filter(df, max_docs=50).collect()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast entirely -> AQE keeps the shuffle anti-join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        got = sorted(
            (r.doc_id, r.text, r.n_dropped)
            for r in dedup.corpus_line_filter(df, max_docs=50).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got == want
    assert want[0] == (0, "unique 0", 2)
