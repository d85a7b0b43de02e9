"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact and
near-duplicate detection over a document corpus, each expressed as
shuffle-lean DataFrame plans that hold at 100 TB:

- **exact**: hash-groupBy on a content fingerprint — one shuffle on the
  fingerprint, map-side partial aggregation;
- **MinHash + LSH**: shingle → 128-way minhash signature (one JVM hash
  pass per shingle, the permutations one numpy op per Arrow batch) →
  banded bucket keys → explode + self-join *within buckets only* → exact
  Jaccard verification on the candidates. The only wide op is the
  bucket join, whose fan-in is bounded by band width;
- **SimHash**: per-token bit votes folded into a 64-bit signature,
  near-dup = identical signature band (Hamming via bit_count);
- **n-gram Jaccard**: inverted-index join (explode shingles, join on
  shingle, count co-occurrences) — the classic exact pair join that
  avoids the O(n²) cross product;
- **embedding cosine**: brute top-pairs for correctness, plus a
  cluster-bucketed variant (reuse the IVF coarse quantizer) as the
  scale path;
- **resolution**: connected components over the pair graph (driver
  union-find under an edge cap, distributed hash-min + pointer
  jumping above it) and one canonical doc per cluster — the step that
  turns pairs into a deduplicated corpus.

All hashing uses Spark's built-in ``xxhash64`` (JVM, whole-stage
codegen). Python appears only where Arrow-batched numpy measurably
beats interpreted Catalyst lambdas (shingling, minhash permutations,
the BLAS cosine kernel) — never row-at-a-time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from vearch_spark.session import (  # noqa: F401 (re-exported release handles)
    pin,
    pinned_scope as skew_guard_scope,
    release_pinned as release_skew_guard_caches,
    session_artifact,
)

# Mersenne prime 2^61-1: the classic universal-hash modulus for minhash
# permutation families
_MERSENNE61 = (1 << 61) - 1

# Mersenne prime 2^31-1: modulus of the cross-engine-reproducible
# permutation family — every intermediate (h*16+digit, a*h+b) stays
# below 2^63, so signed-64-bit SQL engines compute it exactly
_PRIME31 = (1 << 31) - 1


def affine_family(num_hashes: int, seed: int, p: int) -> tuple[np.ndarray, np.ndarray]:
    """The seeded (a, b) coefficients of the affine universal-hash
    permutation family ((a·h + b) mod p). Exposed so the DuckDB oracle
    builds its literals from the SAME rng draws the UDF uses — the two
    sides cannot drift."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, p, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, p, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def md5_mod31_expr(col: Column) -> Column:
    """(first 16 hex digits of md5(s) as uint64) mod 2^31-1 in three
    JVM expressions: ``conv`` parses the hex as an unsigned 64-bit
    decimal string, ``decimal(20,0)`` holds the full value exactly, and
    the mod is exact decimal arithmetic. An independent SQL engine
    reproduces it digit-for-digit (the minhash analog of simhash64's
    sha256 token-hash variant)."""
    hex16 = F.substring(F.md5(col), 1, 16)
    dec = F.conv(hex16, 16, 10).cast("decimal(20,0)")
    return (dec % F.lit(_PRIME31)).cast("long")


def band_postings_expr(sig: Column, bands: int, rows_per_band: int) -> Column:
    """``array<struct<band:int, bh:bigint>>`` of banded signature-slice
    hashes — THE banding definition. Every consumer (the self-join LSH,
    the corpus-delta join, the streaming index's stored postings) must
    band identically or match recall silently diverges between them;
    they all call this one expression."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.slice(sig, b * rows_per_band + 1, rows_per_band)
            ).alias("bh"),
        ),
    )


_SHINGLE_UDFS: dict[int, object] = {}


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, first-occurrence
    order (array_distinct semantics).

    Implementation note: the declarative form (sequence → transform →
    concat_ws(slice) → array_distinct) is an *interpreted* Catalyst
    higher-order expression — no codegen — and measured 5-6× slower
    than an Arrow-batched pandas UDF doing plain string slicing
    (2.9s → 0.5s for 5k docs / 260k shingles). Shingling sits on the
    hot path of every dedup operator, so this is one of the few spots
    where Python-with-Arrow beats the JVM expression engine."""
    col = F.col(text) if isinstance(text, str) else text
    if n not in _SHINGLE_UDFS:
        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf("array<string>")
        def sh(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                # empty tokens (doubled/trailing spaces) carry no
                # signal; an empty/whitespace-only doc yields an EMPTY
                # shingle set — never the "" pseudo-shingle that made
                # every blank doc a jaccard-1.0 near-dup of every other
                toks = [w for w in (t or "").split(" ") if w]
                if not toks:
                    out.append([])
                    continue
                hi = max(len(toks) - n, 0)
                out.append(
                    list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(hi + 1)))
                )
            return pd.Series(out)

        # deterministic output — the marker is an optimizer fence, the
        # same one gram_stats carries (guide §4.4): minhash's
        # `where(size(_sh) > 0)` was pushed below the projection by
        # substituting the UDF call into the predicate, planting a
        # SECOND ArrowEvalPython shingling pass under the filter — the
        # whole corpus was shingled twice per (re)build of the base
        # relation. Nondeterministic expressions are never substituted
        # or reordered, so the kernel runs exactly once.
        _SHINGLE_UDFS[n] = sh.asNondeterministic()
    return _SHINGLE_UDFS[n](col)


def exact_dedup(
    df: DataFrame,
    key: Column | list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup: one row per distinct ``key``, keeping the smallest
    id (deterministic). Returns (keeper id, group size)."""
    # concat_ws SKIPS nulls (('a', NULL) and (NULL, 'a') would collide)
    # — encode null as a sentinel so every column occupies its slot
    k = (
        key
        if isinstance(key, Column)
        else F.concat_ws(
            "\x01",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key],
        )
    )
    return (
        df.withColumn("_fp", k)
        .groupBy("_fp")
        .agg(F.min(id_col).alias("keeper_" + id_col), F.count("*").alias("n_dups"))
    )


def span_hashes(
    token_array: Column,
    window: int = 20,
    stride: int = 1,
    hasher: str = "xxhash64",
) -> Column:
    """``array<struct<pos:int, h>>`` of rolling token-window hashes —
    the unit of exact substring-level dedup (the "deduplicating
    training data" recipe: repeated >=N-token spans across a corpus are
    memorization fuel; Lee et al. 2022 use 50-token substrings). All
    JVM expression work: one ``transform`` over a position sequence,
    ``slice`` + ``array_join`` + hash inside the lambda — the token
    array must already be let-bound to a column so split() runs once.

    ``hasher``: ``xxhash64`` (8-byte shuffle key — the scale default)
    or ``sha256`` (hex string, reproducible in DuckDB for the oracle;
    identical grouping behavior modulo astronomically unlikely
    collisions)."""
    if hasher == "xxhash64":
        def hfn(c):
            return F.xxhash64(c)
    elif hasher == "sha256":
        def hfn(c):
            return F.sha2(c, 256)
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    n = F.size(token_array)
    # sequence(1, m) DESCENDS when m < 1 — guard short docs to empty
    positions = F.when(
        n >= window, F.sequence(F.lit(1), n - window + 1, F.lit(int(stride)))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        positions,
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            hfn(F.array_join(F.slice(token_array, i, window), " ")).alias("h"),
        ),
    )


def duplicated_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    stride: int = 1,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Per-doc exact duplicated-span accounting: how many of a doc's
    rolling ``window``-token spans occur more than once in the corpus
    (within-doc repeats included, as in the substring-dedup recipe).
    Returns one row per input doc — ``(id, n_spans, n_dup_spans,
    dup_span_frac)``; docs shorter than the window carry zeros, never
    vanish.

    Scale shape: spans are (id, pos, hash) triples — corpus token count
    rows, never span text; the occurrence count is a window over the
    hash (one exchange on h, map-side combine-free but payload is 3
    ints/longs) followed by the per-doc rollup (second exchange on id).
    No pair join exists anywhere, so a degenerate corpus of identical
    documents stays linear — unlike similarity joins, substring dedup
    has no quadratic failure mode to guard."""
    from vearch_spark.functions.text import tokens

    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    spans = base.select(
        id_col,
        F.explode(span_hashes(F.col("_tk"), window, stride, hasher)).alias("s"),
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    occ = F.count("*").over(Window.partitionBy("h"))
    per_doc = (
        spans.withColumn("_c", occ)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("_c") > 1).cast("int")).alias("n_dup_spans"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.when(
                    F.coalesce("n_spans", F.lit(0)) > 0,
                    F.coalesce("n_dup_spans", F.lit(0))
                    / F.col("n_spans").cast("double"),
                ).otherwise(0.0),
                6,
            ).alias("dup_span_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Corpus-wide exact substring REMOVAL — the acting half of the
    "deduplicating training data" recipe (Lee et al. 2022) whose
    accounting half is :func:`duplicated_span_stats`: every rolling
    ``window``-token span occurring more than once in the corpus keeps
    only its corpus-first occurrence (lexicographic min ``(id, pos)``);
    every other occurrence's token range is excised from its document.
    Overlapping and adjacent removal windows merge into maximal ranges
    first, so a long repeated run is cut once, wholesale — the cleaned
    text never contains a surviving fragment of a removed run.

    Returns one row per input doc: ``(id, n_tokens, n_removed,
    clean_text)``; docs shorter than the window pass through unchanged.

    Scale shape: spans shuffle once on the span hash (keeper election
    is a window over ``h`` carrying only ``(id, pos, h)``), removal
    intervals shuffle once on ``id`` (the gaps-and-islands merge), and
    the excision itself is a pure JVM array pipeline (indexed
    ``transform`` + ``exists`` over the per-doc island array — islands
    per doc are few by construction since they're maximal). No pair
    join exists anywhere, so a corpus of identical documents stays
    linear; like the stats op, substring dedup has no quadratic
    failure mode to guard."""
    from vearch_spark.functions.text import tokens

    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    spans = base.select(
        id_col,
        F.explode(span_hashes(F.col("_tk"), window, 1, hasher)).alias("s"),
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))

    wh = Window.partitionBy("h")
    keeper = F.min(F.struct(id_col, "pos")).over(wh)
    marked = spans.select(
        id_col,
        "pos",
        F.count("*").over(wh).alias("_occ"),
        keeper.alias("_keep"),
    )
    removals = marked.where(
        (F.col("_occ") > 1)
        & ~(
            (F.col(id_col) == F.col("_keep." + id_col))
            & (F.col("pos") == F.col("_keep.pos"))
        )
    ).select(id_col, "pos", (F.col("pos") + window - 1).alias("end"))

    # gaps-and-islands: merge overlapping/adjacent removal windows into
    # maximal [s, e] token ranges (adjacent ranges are one contiguous
    # cut, so merging them is semantically free and keeps islands few)
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        removals.withColumn(
            "_new",
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
            ).otherwise(0),
        )
        .withColumn("_g", F.sum("_new").over(wd))
        .groupBy(id_col, "_g")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_isl"))
    )

    joined = base.join(islands, on=id_col, how="left")
    isl = F.coalesce(
        F.col("_isl"), F.array().cast("array<struct<s:int,e:int>>")
    )
    indexed = F.transform(
        F.col("_tk"),
        lambda t, i: F.struct(t.alias("t"), (i + 1).cast("int").alias("p")),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            isl, lambda iv: (s["p"] >= iv["s"]) & (s["p"] <= iv["e"])
        ),
    )
    return joined.select(
        id_col,
        F.size("_tk").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).alias("n_removed"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(
            "clean_text"
        ),
    )


# The Gopher repetition thresholds (Rae et al. 2021, App. A1.1): a
# doc fails if the most frequent word n-gram covers more than this
# fraction of its characters (n = 2..4), or if characters inside
# duplicated n-grams (counted once) exceed it (n = 5..10).
GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The published Gopher repetition filter, exactly as specified:
    per doc, the character fraction of the single most frequent word
    n-gram for n = 2..4 (ties broken by longer gram, then
    lexicographic — deterministic), and for n = 5..10 the character
    fraction covered by ALL duplicated n-grams with overlapping
    occurrences counted once (token intervals merged on overlap, chars
    of each maximal island measured from cumulative token offsets so
    the separator space between two disjoint islands is never
    counted). Returns one row per doc: the nine fractions plus
    ``repetition_pass`` (1 iff every fraction is at or under its
    published threshold).

    Implementation (r9): ONE Arrow batch pass — everything is
    intra-document, so each doc computes its own nine fractions with
    plain dict counting; the former nine-branch declarative plan
    (explode × 9 window sizes → window ranks → island windows →
    offset joins → two pivots) spent ~0.7 s per fresh build in
    Catalyst analysis alone and kept an id-keyed exchange family at
    runtime. The Arrow form is the measured-UDF exception documented
    on ``lang_id``/``gram_stats``: zero exchanges, embarrassingly
    parallel, a pathological million-copy doc still costs only its
    own token count. Bit-exactness with the SQL oracle is preserved
    by construction: tokenization is the same single-space split,
    all counting/island logic is integer, each fraction is ONE
    IEEE-754 double division of exact integers, and rounding stays
    in the JVM (the same ``F.round(…, 6)``) on identical doubles —
    verified by the unchanged DuckDB oracle row and
    tests/test_dedup.py's hand-computed fixture."""
    import pandas as pd

    top_ns = tuple(GOPHER_TOP_NGRAM_THRESHOLDS)
    dup_ns = tuple(GOPHER_DUP_NGRAM_THRESHOLDS)
    # the pigeonhole pruning below anchors on the published ladder
    # shape: the exact 2-gram pass seeds the 3..5 candidates and the
    # exact 5-gram pass seeds 6..10
    assert top_ns[0] == 2 and dup_ns[0] == 5, (top_ns, dup_ns)

    def fractions(text: str | None) -> list[float]:
        if text is None:
            return [0.0] * (len(top_ns) + len(dup_ns))
        toks = text.split(" ")
        total = len(text)
        # grams are counted as interned token IDS (packed ints for the
        # 2-gram pass, id tuples above) — never joined strings
        tok2id: dict[str, int] = {}
        ids = []
        for t in toks:
            v = tok2id.get(t)
            if v is None:
                v = len(tok2id)
                tok2id[t] = v
            ids.append(v)
        # cumulative char start per 1-indexed token position
        # (separator-inclusive prefix sums, as the offset join did)
        starts = [0] * (len(toks) + 1)
        acc = 0
        for i, t in enumerate(toks):
            starts[i] = acc
            acc += len(t) + 1
        ntok = len(toks)
        v_base = len(tok2id)

        # r10 rewrite, measured 3.5× (serial 1.31 → 0.37 s over the
        # sf0.1 corpus; outputs verified EQUAL to the previous kernel
        # on all three SF corpora + 500 random docs + edge cases, and
        # against the brute-force reference in pytest):
        #
        # - the top-gram fraction uses only the chosen gram's LENGTH
        #   (the published rule's lexicographic last resort cannot
        #   reach the output — every lex-tied candidate shares
        #   best_len), and len(" ".join(toks[i:i+n])) ==
        #   starts[i+n-1] - starts[i] + len(toks[i+n-1]) by
        #   construction, so NO gram string ever materializes;
        # - pigeonhole pruning: a duplicated n-gram's leading and
        #   trailing (n-1)-grams are duplicated too, so positions
        #   whose 2-gram (for n = 3..5) or 5-gram (for n = 6..10)
        #   ends are not duplicated can never host a duplicate —
        #   counting restricts to those candidates (exact: every
        #   occurrence of a duplicated gram is itself a candidate,
        #   and non-candidates can only hold count-1 grams). A clean
        #   doc (no repeated 2-gram) does ONE dict pass instead of
        #   nine; a pathological all-repeats doc degrades to the old
        #   full counting.
        def max_len_all(n, m):
            return max(
                starts[i + n - 1] - starts[i] + len(toks[i + n - 1])
                for i in range(m)
            )

        out = []
        dup2: list[bool] = []
        for n in top_ns:
            m = ntok - n + 1
            if m < 1:
                out.append(0.0)
                continue
            if n == 2:
                # full exact count once, with packed-int keys
                # (ids < v_base, so ids[i]*v_base + ids[i+1] is
                # injective and hashes cheaper than a tuple)
                cnt: dict = {}
                first: dict = {}
                for i in range(m):
                    k = ids[i] * v_base + ids[i + 1]
                    c = cnt.get(k)
                    if c is None:
                        cnt[k] = 1
                        first[k] = i
                    else:
                        cnt[k] = c + 1
                dup2 = [cnt[ids[i] * v_base + ids[i + 1]] > 1 for i in range(m)]
                best_c = max(cnt.values())
                if best_c == 1:
                    best_len = max_len_all(n, m)
                else:
                    best_len = max(
                        starts[i + 1] - starts[i] + len(toks[i + 1])
                        for k, i in first.items()
                        if cnt[k] == best_c
                    )
                out.append(float(best_c * best_len) / float(total))
                continue
            cand = (
                [i for i in range(m) if dup2[i] and dup2[i + n - 2]]
                if dup2
                else []
            )
            best_c = 1
            if cand:
                cnt = {}
                first = {}
                for i in cand:
                    k = tuple(ids[i : i + n])
                    c = cnt.get(k)
                    if c is None:
                        cnt[k] = 1
                        first[k] = i
                    else:
                        cnt[k] = c + 1
                mc = max(cnt.values())
                if mc > 1:
                    best_c = mc
                    best_len = max(
                        starts[i + n - 1] - starts[i] + len(toks[i + n - 1])
                        for k, i in first.items()
                        if cnt[k] == mc
                    )
            if best_c == 1:
                best_len = max_len_all(n, m)
            out.append(float(best_c * best_len) / float(total))
        dup5: list[bool] = []
        for n in dup_ns:
            m = ntok - n + 1
            if m < 1:
                out.append(0.0)
                continue
            if n == 5:
                cand = (
                    [i for i in range(m) if dup2[i] and dup2[i + 3]]
                    if dup2
                    else []
                )
            else:
                off = n - 5
                cand = (
                    [i for i in range(m) if dup5[i] and dup5[i + off]]
                    if dup5
                    else []
                )
            dup_pos: list[int] = []
            if cand:
                keys = [tuple(ids[i : i + n]) for i in cand]
                cnt = {}
                for k in keys:
                    cnt[k] = cnt.get(k, 0) + 1
                dup_pos = [i for i, k in zip(cand, keys) if cnt[k] > 1]
            if n == 5:
                dup5 = [False] * m
                for i in dup_pos:
                    dup5[i] = True
            if not dup_pos:
                out.append(0.0)
                continue
            # duplicated-gram token islands, merged on OVERLAP only
            # (dup_pos ascends, exactly like the old full scan's order)
            islands: list[list[int]] = []
            prev_end = None
            for pos0 in dup_pos:
                pos = pos0 + 1
                end = pos + n - 1
                if prev_end is None or pos > prev_end:
                    islands.append([pos, end])
                elif end > islands[-1][1]:
                    islands[-1][1] = end
                if prev_end is None or end > prev_end:
                    prev_end = end
            cov = 0
            for s_pos, e_pos in islands:
                ss = starts[s_pos - 1]
                ee = starts[e_pos - 1] + len(toks[e_pos - 1])
                cov += ee - ss
            out.append(float(cov) / float(total))
        return out

    frac_names = [f"_top{n}" for n in top_ns] + [f"_dup{n}" for n in dup_ns]

    def kernel(batches):
        for pdf in batches:
            rows = [
                [i] + fractions(t)
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(rows, columns=[id_col] + frac_names)

    id_type = docs.schema[id_col].dataType.simpleString()
    raw = docs.select(id_col, text_col).mapInPandas(
        kernel,
        schema=", ".join(
            [f"{id_col} {id_type}"] + [f"{c} double" for c in frac_names]
        ),
    )

    frac_cols = {}
    flags = []
    for n, thr in GOPHER_TOP_NGRAM_THRESHOLDS.items():
        f = F.col(f"_top{n}")
        frac_cols[f"top_{n}gram_frac"] = f
        flags.append(f <= thr)
    for n, thr in GOPHER_DUP_NGRAM_THRESHOLDS.items():
        f = F.col(f"_dup{n}")
        frac_cols[f"dup_{n}gram_frac"] = f
        flags.append(f <= thr)
    passes = flags[0].cast("int")
    for fl in flags[1:]:
        passes = passes * fl.cast("int")
    return raw.select(
        id_col,
        *[F.round(c, 6).alias(name) for name, c in frac_cols.items()],
        passes.alias("repetition_pass"),
    )


def minhash_signature_fast(
    shingles: Column,
    num_hashes: int = 128,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
) -> Column:
    """Vectorized minhash signature: one JVM hash pass per shingle,
    then the ``num_hashes`` permutations as an affine universal hash
    family ((a·h + b) mod p) evaluated in numpy via an Arrow-batched
    pandas UDF.

    The per-permutation work is a C-level matrix op instead of an
    interpreted Catalyst lambda: ~10× faster at 128 perms than the
    nested ``transform``/``array_min`` expression form.

    ``shingle_hash``: ``xxhash64`` (default fast path, p = 2^61−1,
    wrap-around products) or ``md5_31`` (md5-derived 31-bit hashes,
    p = 2^31−1 — every intermediate is exact in signed 64-bit, so an
    independent SQL engine reproduces the whole signature; the DuckDB
    oracle's configuration).
    """
    if shingle_hash == "md5_31":
        p = _PRIME31
        base = F.transform(shingles, md5_mod31_expr)
    else:
        p = _MERSENNE61
        base = F.transform(shingles, lambda sh: F.xxhash64(sh))
    a, b = affine_family(num_hashes, seed, p)

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        empty = np.full(len(a), np.iinfo(np.int64).max, dtype=np.int64)
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                # empty shingle set (blank doc): a sentinel signature
                # instead of a zero-size reduction crash — callers
                # filter size>0 before banding, so it never buckets
                out.append(empty)
                continue
            h = np.asarray(hs, dtype=np.uint64)
            # (num_hashes, n_shingles) affine family; for p=2^61-1 the
            # products wrap mod 2^64 before the fold (uniformity is all
            # LSH needs); for p=2^31-1 nothing wraps — exact
            vals = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(p)
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return sig(base)


# above this many OVERSIZED bucket keys the skew guard stops collecting
# them to the driver and falls back to an all-in-plan window split; a
# corpus that hot is degenerate (≥ cap·max_bucket clone rows)
_HOT_KEY_CAP = 65536


def _split_hot_buckets(
    rel: DataFrame, keys: list[str], max_bucket: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """The LSH skew guard's detection: ``(small, hot)``, the rows of
    buckets with at most / more than ``max_bucket`` members (``hot`` is
    ``None`` when no bucket is oversized or the guard is off).

    Strategy, measured at sf1 on the clone-heavy spot corpus
    (tools/spot_sf1.py):

    - Common path: one groupBy-count detection job (partial aggregation
      collapses hot keys map-side), hot keys broadcast into map-side
      anti/semi joins. Fastest in both the flat and the skewed regime
      (skewed sf1: 11.8 s vs 22.5 s for the window form, whose count
      window must globally sort the full relation including the giant
      hot-bucket partition).
    - No hot keys (the common corpus): zero plan overhead.
    - Degenerate escape hatch: if more than ``_HOT_KEY_CAP`` oversized
      keys exist, collecting them is itself a driver hazard, so the
      split folds into the plan as a count window (driver-free at any
      scale; slower, but this regime means ≥ cap·max_bucket clone
      rows)."""
    if max_bucket is None:
        return rel, None
    # the hot-key list is a statistic of a static input, so the verdict
    # is a session artifact keyed by the canonical plan hash
    # (semanticHash(): stable across rebuilds of the same query,
    # distinct for another source, filter or banding): a repeated build
    # of the same guarded query skips the job
    hot_rows = session_artifact(
        rel.sparkSession,
        ("hot_keys", rel.semanticHash(), int(max_bucket), tuple(keys)),
        lambda: (
            rel.groupBy(*keys)
            .count()
            .where(F.col("count") > max_bucket)
            .select(*keys)
            .limit(_HOT_KEY_CAP + 1)
            .collect()
        ),
    )
    if not hot_rows:
        return rel, None
    if len(hot_rows) <= _HOT_KEY_CAP:
        hot = F.broadcast(
            rel.sparkSession.createDataFrame(hot_rows, rel.select(*keys).schema)
        )
        return rel.join(hot, keys, "left_anti"), rel.join(hot, keys, "semi")
    # degenerate corpus: window split, no driver participation
    counted = rel.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    return (
        counted.where(F.col("_n") <= max_bucket).drop("_n"),
        counted.where(F.col("_n") > max_bucket).drop("_n"),
    )


def banded_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    keys: list[str],
    id_col: str,
    carry: list[str] = (),
    max_bucket: int | None,
    min_band: Column | None = None,
) -> DataFrame:
    """The banded candidate join of every LSH pair operator: one row
    per pair of rows sharing a bucket (a ``keys`` value, ``keys[0]``
    the band index), ``(id_a, id_b, <c>_a…, <c>_b…)`` for each ``c`` in
    ``carry``. Candidates only — the caller verifies them exactly.

    - Self form (``right is None``): pairs within ``left``, ``id_a <
      id_b``.
    - Cross form: ``id_a`` from ``left``, ``id_b`` from ``right``;
      id-equal pairs are excluded (overlapping id spaces mean a replay
      of the same row, never a duplicate of it).

    Skew guard (``max_bucket``; ``None`` disables): a degenerate corpus
    — thousands of identical documents — makes one bucket quadratic,
    and it is this join's stage that then fails: one task receives the
    whole bucket and emits its n·(n−1)/2 pairs (the sf1 spot bench of
    :func:`simhash_pairs` ran 22× slower at 10× data unguarded, 4-5×
    guarded). :func:`_split_hot_buckets` measures the side whose
    bucket size bounds the fan-out (``left`` for the self form,
    ``right`` for the cross form); buckets at most ``max_bucket``
    large join plainly. In a hot bucket the self form emits the
    consecutive chain over the id-sorted members (n−1 pairs) and the
    cross form keeps only the ``max_bucket`` lowest-id right members.
    Precision is unaffected (the exact verify gates every pair).
    Recall caveat: the guard drops candidates here, before the verify,
    so a true pair whose ONLY shared bucket was hot can be missed — in
    the self form when the bucket mixes several duplicate clusters
    interleaved by id (the chain fully connects a homogeneous bucket,
    the degenerate case the guard exists for, but its links across
    clusters fail the verify), in the cross form when the right member
    is not among the kept lowest ids. Pairs that also share a non-hot
    bucket are unaffected. The DuckDB oracles run unguarded.

    Dedup: a pair sharing several buckets is emitted once per bucket.
    Given ``min_band`` (the lowest band the pair shares, computed from
    the carried columns) and no hot bucket, each pair is kept at that
    band only — no shuffle; otherwise ``dropDuplicates``.

    Pins nothing: the caller pins the relation the bands derive from
    (see :func:`vearch_spark.session.pin`)."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            *keys,
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    by_id = Window.partitionBy(*keys).orderBy(id_col)
    out = ["id_a", "id_b"] + [f"{c}_a" for c in carry] + [f"{c}_b" for c in carry]
    if right is None:
        # both sides are one relation: the join shuffles it once, the
        # second side reading the first's exchange (ReusedExchange)
        small, hot = _split_hot_buckets(left, keys, max_bucket)
        pairs = side(small, "a").join(side(small, "b"), keys).where(
            F.col("id_a") < F.col("id_b")
        )
    else:
        small, hot = _split_hot_buckets(right, keys, max_bucket)
        if hot is not None:
            small = small.unionByName(
                hot.withColumn("_r", F.row_number().over(by_id))
                .where(F.col("_r") <= int(max_bucket))
                .drop("_r")
            )
        pairs = side(left, "a").join(side(small, "b"), keys).where(
            F.col("id_a") != F.col("id_b")
        )
    if min_band is not None and hot is None:
        # every shared band of a pair survived to the join, so its
        # minimal one is present: exactly one row per pair, the same
        # set as dropDuplicates minus its shuffle (guide §2.2)
        return pairs.where(F.col(keys[0]) == min_band).select(*out)
    pairs = pairs.select(*out)
    if right is None and hot is not None:
        prev = [F.lag(c).over(by_id).alias(f"{c}_a") for c in carry]
        chain = hot.select(
            F.lag(id_col).over(by_id).alias("id_a"),
            F.col(id_col).alias("id_b"),
            *prev,
            *[F.col(c).alias(f"{c}_b") for c in carry],
        ).where(F.col("id_a").isNotNull())
        pairs = pairs.unionByName(chain)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature slots per band — the MinHash family's one check of its
    band parameters."""
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band hash the empty
        # slice (ALL docs collide into one bucket — O(n²)); a
        # non-divisor silently drops trailing hashes
        raise ValueError(f"bands must divide num_hashes: {bands} vs {num_hashes}")
    return num_hashes // bands


def _minhash_bands(
    rel: DataFrame, num_hashes: int, bands: int, *keep: str
) -> DataFrame:
    """``(*keep, _b, _bh)``: one row per band of the ``_sig`` column.
    The relation stays NARROW — the wide shingle and signature arrays
    never ride through the bucket join."""
    postings = band_postings_expr(
        F.col("_sig"), bands, _rows_per_band(num_hashes, bands)
    )
    return rel.select(*keep, F.explode(postings).alias("_bd")).select(
        *keep, F.col("_bd.band").alias("_b"), F.col("_bd.bh").alias("_bh")
    )


def _minhash_base(
    rel: DataFrame, shingle_n: int, num_hashes: int, shingle_hash: str, *keep: str
) -> DataFrame:
    """``(*keep, _sh, _sig)`` of the ``_tx`` texts with at least one
    shingle — the relation a MinHash operator's banding and verify both
    read."""
    base = rel.select(*keep, word_shingles("_tx", shingle_n).alias("_sh")).where(
        F.size("_sh") > 0
    )
    return base.withColumn(
        "_sig",
        minhash_signature_fast(F.col("_sh"), num_hashes, shingle_hash=shingle_hash),
    )


def _jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard of two distinct-shingle arrays (integer ratio any
    SQL engine reproduces)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter / (F.size(sh_a) + F.size(sh_b) - inter)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    shingle_hash: str = "xxhash64",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. Candidates are generated only inside LSH buckets (band
    hash collisions), so the join never goes O(n²); the verify step
    recomputes exact Jaccard on the shingle sets of candidates only.

    ``shingle_hash``: forwarded to :func:`minhash_signature_fast` —
    ``md5_31`` makes the whole pipeline reproducible by the DuckDB
    oracle.

    ``max_bucket``: the skew guard of :func:`banded_pairs` (its recall
    caveat applies); ``None`` for exact parity with the unguarded join.
    Pins its ``(id, shingles, signature)`` relation for the caller to
    release (:func:`vearch_spark.session.pinned_scope`).
    """
    docs = df.select(F.col(id_col).alias("_did"), F.col(text_col).alias("_tx"))
    base = _minhash_base(docs, shingle_n, num_hashes, shingle_hash, "_did")
    banded = _minhash_bands(base, num_hashes, bands, "_did")
    # the bands and both verify lookbacks read it; materialized before
    # the pair query runs, which takes one job fewer per call than
    # letting the query's adaptive plan materialize it
    pin(base).count()
    cands = banded_pairs(banded, keys=["_b", "_bh"], id_col="_did", max_bucket=max_bucket)

    # exact verify: fetch shingle sets for candidates only
    cands = cands.join(
        base.select(F.col("_did").alias("id_a"), F.col("_sh").alias("_sh_a")), "id_a"
    ).join(base.select(F.col("_did").alias("id_b"), F.col("_sh").alias("_sh_b")), "id_b")
    out = cands.withColumn("jaccard", _jaccard("_sh_a", "_sh_b")).where(
        F.col("jaccard") >= jaccard_threshold
    )
    return out.select("id_a", "id_b", "jaccard")


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """The narrow inverted-index postings relation ``(_did, _shingle)``
    — doc id + 64-bit xxhash of each word n-gram — that every exact
    ngram pair operator joins on, through :func:`ngram_pair_inputs`."""
    return df.select(
        F.col(id_col).alias("_did"),
        F.explode(
            F.transform(word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s))
        ).alias("_shingle"),
    )


def ngram_pair_inputs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """The document-frequency-capped postings relation
    ``(_did, _shingle, _n)`` — everything about the exact ngram pair
    joins that is a pure statistic of the static input corpus, so a
    session can persist it once while the pair joins re-execute on
    every action.

    ``_n`` is the doc's FULL shingle-set size (shingles are distinct
    per doc, so it is the posting count; zero-shingle docs vanish in
    the explode) riding every posting row, so the pair aggregation
    reads both set sizes out of its own groups without size joins. The
    df cap drops shingles in more than 1% of docs (min 100): no dedup
    signal, quadratic join cost. The relation is hash-clustered by the
    shingle join key so a persisted copy feeds the pair self-join with
    zero per-side Exchange.

    The raw postings are pinned (see
    :func:`vearch_spark.session.release_pinned`): the sizes, the
    hot-shingle detection and the anti-join all read them, and
    unpinned they would shingle the corpus once per reader."""
    posts = pin(shingle_postings(df, text_col, id_col, shingle_n))
    sizes = posts.groupBy("_did").agg(F.count("*").alias("_n"))
    df_cap = max(100, int(df.count() * 0.01))
    hot = (
        posts.groupBy("_shingle")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > df_cap)
        .select("_shingle")
    )
    cold = posts.join(F.broadcast(hot), on="_shingle", how="left_anti").join(
        sizes, "_did"
    )
    return cold.repartition("_shingle")


def _pair_overlaps(posts: DataFrame) -> DataFrame:
    """``(id_a, id_b, _inter, _na, _nb)`` for every doc pair id_a < id_b
    sharing a posting: the shingle-keyed self-join and pair-keyed count
    over :func:`ngram_pair_inputs`. Every row of a pair's group carries
    the same ``_n`` per side, so max() reads the exact set sizes out of
    the group."""
    return (
        posts.alias("a")
        .join(posts.alias("b"), on="_shingle")
        .where(F.col("a._did") < F.col("b._did"))
        .groupBy(F.col("a._did").alias("id_a"), F.col("b._did").alias("id_b"))
        .agg(
            F.count("*").alias("_inter"),
            F.max(F.col("a._n")).alias("_na"),
            F.max(F.col("b._n")).alias("_nb"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted index.

    explode(shingle) → join on shingle → count co-occurring shingles
    per pair → jaccard = |∩| / (|A|+|B|−|∩|). The shuffle key is the
    shingle, so common-shingle skew is the scale hazard — mitigated by
    dropping ubiquitous shingles (document frequency cap) the same way
    production near-dup pipelines do.

    Semantics of the cap: |A| and |B| stay FULL set sizes while the
    intersection is counted over the df-capped postings, so the score
    is a LOWER BOUND on true jaccard — never a false positive. Docs
    whose overlap is mostly boilerplate (hot shingles) can therefore
    score below threshold by design: shared boilerplate is exactly the
    overlap that carries no duplication signal (the reduced-set
    alternative would call two docs identical for sharing only
    boilerplate). Exact duplicates are the exact_dedup operator's job.

    ``prepared``: optionally supply a (typically session-persisted)
    :func:`ngram_pair_inputs` relation; when omitted it is built here.
    Either way the pair join below executes on every action.
    """
    if prepared is None:
        prepared = ngram_pair_inputs(df, text_col, id_col, shingle_n)
    pairs = _pair_overlaps(prepared)
    out = pairs.withColumn(
        "jaccard", F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    ).where(F.col("jaccard") >= jaccard_threshold)
    return out.select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    containment_threshold: float = 0.8,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT join (Broder): emit
    ``(contained_id, container_id, containment)`` where containment =
    |A∩B| / |A| ≥ threshold — the asymmetric complement of
    :func:`ngram_jaccard_pairs`. Jaccard misses the quotation /
    boilerplate-wrapper case a curation pipeline cares about: a short
    doc wholly quoted inside a much longer one scores low symmetric
    Jaccard (the union is large) but containment 1.0. Both directions
    are evaluated per co-occurring pair; self-pairs never emit.

    Same scale shape as the Jaccard form: one narrow postings relation
    (id, 64-bit shingle hash), document-frequency cap on ubiquitous
    shingles (score becomes a LOWER BOUND — shared boilerplate carries
    no containment signal either), shingle-keyed equi-join, pair-keyed
    count. The denominator |A| stays the FULL set size, so the cap can
    only suppress, never inflate. The two directions come from ONE
    2-element explode of each undirected pair, so the pair join runs
    once. ``prepared``: as on :func:`ngram_jaccard_pairs`."""
    if prepared is None:
        prepared = ngram_pair_inputs(df, text_col, id_col, shingle_n)
    pairs = _pair_overlaps(prepared)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    (F.col("_inter") / F.col("_na")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    (F.col("_inter") / F.col("_nb")).alias("containment"),
                ),
            )
        ).alias("_d")
    ).select("_d.contained_id", "_d.container_id", "_d.containment")
    return directed.where(
        F.col("containment") >= containment_threshold
    )


def _pack_votes(bits: np.ndarray, n_tokens: int) -> np.int64:
    """(n_tokens, 64) hash bits → signed-long SimHash signature:
    signature bit i = sign of Σ_tokens (±1 by hash bit i)."""
    votes = bits.sum(axis=0).astype(np.int64) * 2 - n_tokens  # Σ(±1) per bit
    return np.packbits((votes > 0).astype(np.uint8), bitorder="little").view(
        np.int64
    )[0]


def simhash64(text: Column | str, token_hash: str = "xxhash64") -> Column:
    """64-bit SimHash of whitespace tokens, token hashing JVM-side.

    bit i of the signature = sign of Σ_tokens (±1 by bit i of
    hash(token)); packed into a long.

    ``token_hash``: ``xxhash64`` (default — the fast production path)
    or ``sha256`` (first 8 digest bytes as a big-endian uint64 via
    ``sha2``+``unhex``, still whole-stage-codegen JVM). The sha256
    variant exists so the full banded pipeline is reproducible by an
    independent SQL engine (the DuckDB oracle) — the algorithm is
    identical, only the token-hash family differs.
    """
    col = F.col(text) if isinstance(text, str) else text
    # NULL text would reach the packing UDF as None and crash the task
    # (word_shingles defends the same way)
    tokens = F.split(F.coalesce(col, F.lit("")), " ")

    from pyspark.sql.pandas.functions import pandas_udf

    if token_hash == "sha256":
        hashes = F.transform(
            tokens, lambda t: F.unhex(F.substring(F.sha2(t, 256), 1, 16))
        )

        @pandas_udf("long")
        def pack_bin(hs: pd.Series) -> pd.Series:
            out = np.empty(len(hs), dtype=np.int64)
            for row, h in enumerate(hs):
                # 8 big-endian bytes per token → LSB-first value bits
                raw = np.frombuffer(b"".join(h), dtype=np.uint8).reshape(len(h), 8)
                bits = np.unpackbits(raw[:, ::-1], axis=1, bitorder="little")
                out[row] = _pack_votes(bits, len(h))
            return pd.Series(out)

        return pack_bin(hashes)

    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    @pandas_udf("long")
    def pack(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        for row, h in enumerate(hs):
            # int64 (possibly negative xxhash values) → raw little-endian bits
            raw = np.asarray(h, dtype=np.int64).view(np.uint8).reshape(len(h), 8)
            bits = np.unpackbits(raw, axis=1, bitorder="little")  # (n_tokens, 64)
            out[row] = _pack_votes(bits, len(h))
        return pd.Series(out)

    return pack(hashes)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    token_hash: str = "xxhash64",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split 64 bits into ``bands`` blocks; any pair
    within Hamming ≤ bands−1 shares at least one identical block, so
    the candidate join keys on (band, block value). Exact Hamming via
    bit_count(xor) verifies candidates. With ``max_hamming > bands−1``
    the result is the banded approximation: pairs that share ≥1 block
    AND pass the Hamming check.

    ``max_bucket``: the skew guard of :func:`banded_pairs` (its recall
    caveat applies); ``None`` disables.
    """
    sh = df.select(
        F.col(id_col).alias(id_col), simhash64(text_col, token_hash).alias("_sim")
    )
    return hamming_pairs(
        sh,
        hash_col="_sim",
        id_col=id_col,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket=max_bucket,
    )


def _min_matching_band(sim_a: str, sim_b: str, bands: int) -> Column:
    """Index of the lowest band whose block is identical between the
    two 64-bit hashes — i.e. the first all-zero width-bit block of
    ``xor(sim_a, sim_b)``. On any row produced by the banded join at
    least one band matches, so the coalesce never returns NULL."""
    width = 64 // bands
    mask = F.lit((1 << width) - 1).cast("long")
    xor = F.col(sim_a).bitwiseXOR(F.col(sim_b))
    return F.coalesce(
        *[
            F.when(
                F.shiftright(xor, b * width).bitwiseAND(mask) == 0, F.lit(b)
            )
            for b in range(bands)
        ]
    )


def _hamming_bands(rel: DataFrame, bands: int) -> DataFrame:
    """``rel`` plus ``(_b, _v)``: one row per width-bit block of its
    64-bit ``_sim`` column — the Hamming family's one banding."""
    if bands < 1 or 64 % bands != 0:
        # width=0 (bands>64) makes every block 0 — a full O(n²) cross
        # product; a non-divisor silently ignores the top bits
        raise ValueError(f"bands must divide 64: {bands}")
    width = 64 // bands
    mask = F.lit((1 << width) - 1).cast("long")
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sim"), b * width).bitwiseAND(mask).alias("blk"),
            )
            for b in range(bands)
        ]
    )
    return rel.select("*", F.explode(blocks).alias("_blk")).select(
        *rel.columns, F.col("_blk.band").alias("_b"), F.col("_blk.blk").alias("_v")
    )


def _hamming_verify(cands: DataFrame, max_hamming: int) -> DataFrame:
    ham = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
    return cands.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming)


def hamming_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Pairs with Hamming distance ≤ ``max_hamming`` over any 64-bit
    hash column (simhash, image dHash, audio fingerprint, …), via the
    pigeonhole banding + exact-verify plan documented on
    :func:`simhash_pairs`. Exact (not approximate) whenever
    ``max_hamming ≤ bands − 1``. Pins its ``(id, hash)`` relation for
    the caller to release."""
    sh = df.select(F.col(id_col).alias("_did"), F.col(hash_col).alias("_sim"))
    blocks = _hamming_bands(sh, bands)
    pin(sh)
    cands = banded_pairs(
        blocks, keys=["_b", "_v"], id_col="_did", carry=["_sim"],
        max_bucket=max_bucket, min_band=_min_matching_band("_sim_a", "_sim_b", bands),
    )
    return _hamming_verify(cands, max_hamming).select("id_a", "id_b", "hamming")


def hamming_pairs_cross(
    new: DataFrame,
    corpus: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Cross-relation form of :func:`hamming_pairs` — the sharding
    scale path SCALE.md prescribes for ≥4M hashes, where exact
    all-pairs banding's intrinsic ~n²/2¹⁷ candidate term bites: pairs
    are generated ACROSS the two relations only, never within either
    side, so an N-shard corpus runs N bounded within-shard passes plus
    cross passes whose per-bucket candidate volume is
    |bucket_new| × |bucket_corpus| instead of quadratic in the union.
    Also the incremental form ("which of today's hashes already
    exist?") — the perceptual-hash analog of
    :func:`dedup_against_corpus`'s near arm.

    Output: ``(new_id, corpus_id, hamming)`` with hamming ≤
    ``max_hamming``; exact whenever ``max_hamming ≤ bands − 1`` (the
    pigeonhole argument is unchanged — only the pairing side changed).
    Id-equal cross matches are excluded (a re-crawl resending the same
    row). ``max_bucket``: the corpus-side cap of :func:`banded_pairs`'
    cross form; ``None`` for the exact unguarded join. Pins its
    side-tagged ``(id, hash)`` relation for the caller to release."""
    sh = new.select(
        F.lit(0).alias("_side"), F.col(id_col).alias("_did"), F.col(hash_col).alias("_sim")
    ).unionByName(
        corpus.select(
            F.lit(1).alias("_side"), F.col(id_col).alias("_did"), F.col(hash_col).alias("_sim")
        )
    )
    blocks = _hamming_bands(sh, bands)
    pin(sh)
    cands = banded_pairs(
        blocks.where(F.col("_side") == 0),
        blocks.where(F.col("_side") == 1),
        keys=["_b", "_v"], id_col="_did", carry=["_sim"], max_bucket=max_bucket,
        min_band=_min_matching_band("_sim_a", "_sim_b", bands),
    )
    return _hamming_verify(cands, max_hamming).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "hamming"
    )


def embedding_cosine_pairs_blas(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via block × broadcast matmul.

    The full (id, normalized-vector) matrix is broadcast (1M×64 float32
    ≈ 256 MB — the practical ceiling); each partition then computes
    ``block @ all.T`` with BLAS inside ``mapInPandas`` and emits only
    surviving pairs (id_a < id_b). This is the dense-linear-algebra case
    where an Arrow-batched numpy kernel beats Catalyst lambdas ~100×;
    beyond the broadcast ceiling use :func:`embedding_cosine_pairs`
    with ``bucket_col`` (cluster blocking).
    """
    from pyspark.sql import types as T

    # guarded collect in ONE job (r9): collecting LIMIT ceiling+1 rows
    # and checking the length keeps the exact driver-heap bound the
    # separate limit-probe gave (at most ceiling+1 rows ever reach the
    # driver) while dropping the extra probe job the old
    # probe-then-collect shape ran per build. Arrow transfer (toPandas)
    # instead of collect(): two flat columns, no boxed Row objects —
    # the float32→float64 widening is exact, so values are unchanged
    # (guide §5.2)
    pdf = df.select(id_col, vec_col).limit(max_broadcast_rows + 1).toPandas()
    if len(pdf) > max_broadcast_rows:
        raise ValueError(
            f"more than {max_broadcast_rows} rows exceed the broadcast "
            "ceiling; use embedding_cosine_pairs(bucket_col=...)"
        )
    ids_all = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    nmat = mat / norms[:, None]
    sc = df.sparkSession.sparkContext
    b_ids = sc.broadcast(ids_all)
    b_mat = sc.broadcast(nmat)
    thr = float(threshold)
    vcol = vec_col
    icol = id_col

    # sims is (batch × chunk), never (batch × n): at the 1M ceiling a
    # full-width float64 block would be tens of GB per Arrow batch —
    # chunking the matmul bounds it at batch×65536×8 ≈ 5 GB/10k rows
    # worst case, and survivors per chunk are sparse by construction
    _CHUNK = 65_536

    def run(batches):
        all_ids = b_ids.value
        all_mat = b_mat.value
        for pdf in batches:
            blk_ids = pdf[icol].to_numpy(dtype=np.int64)
            blk = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vcol]])
            n = np.linalg.norm(blk, axis=1)
            n[n == 0] = 1.0
            nblk = blk / n[:, None]
            frames = []
            for lo in range(0, len(all_ids), _CHUNK):
                hi = min(lo + _CHUNK, len(all_ids))
                sims = nblk @ all_mat[lo:hi].T
                ii, jj = np.nonzero(sims >= thr)
                keep = blk_ids[ii] < all_ids[lo + jj]
                if keep.any():
                    frames.append(pd.DataFrame(
                        {
                            "id_a": blk_ids[ii[keep]],
                            "id_b": all_ids[lo + jj[keep]],
                            "cosine": sims[ii[keep], jj[keep]],
                        }
                    ))
            if frames:
                yield pd.concat(frames)
            else:
                yield pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                    "id_b": pd.Series([], dtype="int64"),
                                    "cosine": pd.Series([], dtype="float64")})

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # spread an under-partitioned block side before the scoring pass
    # (guide §2.6): the matmul parallelizes over input partitions, and
    # a one-row-group scan otherwise serializes every block into one
    # task while the broadcast side idles. Width = cores/2 (each task
    # is a JVM + Arrow Python worker pair); inputs at least that
    # parallel skip the shuffle.
    blocks = df.select(id_col, vec_col)
    width = max(1, sc.defaultParallelism // 2)
    if blocks.rdd.getNumPartitions() < width:
        blocks = blocks.repartition(width)
    return blocks.mapInPandas(run, schema=schema)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_col: str | None = None,
    max_bucket: int | None = 100_000,
    kernel: str = "expr",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Brute form is the O(n²/2) self-join — correct at any n, viable to
    ~10⁵ rows per executor-batch. For 100 TB, pass ``bucket_col`` (e.g.
    the IVF ``_cluster_id``) to restrict the join to same-bucket pairs:
    near-dups land in the same coarse cell with high probability, which
    is the standard SNN/blocking trade-off. For a driver-fitting corpus
    (≤1M vectors) :func:`embedding_cosine_pairs_blas` is ~100× faster.

    ``max_bucket``: a dominant coarse cell makes the within-bucket join
    quadratic; rather than silently burning a cluster, buckets past the
    cap fail with guidance (refine the quantizer — e.g. a two-level
    cell tree — or raise the cap); ``None`` disables. Where it fails
    depends on ``kernel``: ``"expr"`` runs one map-side-combined count
    probe and raises ``ValueError`` from this call, before the join is
    planned; ``"blas"`` checks each bucket inside its scoring task, so a
    violation surfaces as a job failure when the result is
    materialized, not as a ``ValueError`` here.

    ``kernel`` (bucketed path only): ``"blas"`` scores each bucket as
    ONE numpy normalized-matmul inside ``applyInPandas`` and emits only
    the ≥-threshold pairs — the pair join disappears from the plan
    entirely (same measured ~20× as the knn-join kernel; the bucket
    block must fit a task, which ``max_bucket`` already enforces).
    ``"expr"`` keeps the JVM per-pair fold — the DuckDB-reproducible
    configuration the oracle checks.
    """
    from vearch_spark.functions.distance import inner_product, vector_norm

    keep = [id_col, vec_col] + ([bucket_col] if bucket_col else [])
    # norms are computed ONCE per row (narrow pass), not per pair — the
    # pair join then does a single dot-product fold
    base = df.select(*keep).withColumn(
        "_v", F.col(vec_col).cast("array<double>")
    )
    base = base.withColumn("_n", vector_norm("_v")).drop(vec_col)
    if kernel not in ("blas", "expr"):
        raise ValueError(f"unknown kernel: {kernel!r} (blas | expr)")
    if bucket_col and max_bucket is not None and kernel != "blas":
        # expr path: the quadratic blow-up happens inside the pair
        # JOIN, so the cap must be checked before planning it — one
        # map-side-combined count probe
        hot = (
            base.groupBy(bucket_col)
            .agg(F.count("*").alias("_bucket_n"))  # aliased: bucket_col
            .where(F.col("_bucket_n") > max_bucket)  # may itself be "count"
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"bucket {hot[0][bucket_col]!r} holds {hot[0]['_bucket_n']} "
                f"rows (> max_bucket={max_bucket}): the within-bucket cosine "
                "join would be quadratic — refine the coarse quantizer (more "
                "cells / a two-level tree) or raise max_bucket"
            )
    if kernel == "blas":
        if not bucket_col:
            # the unbucketed brute form IS embedding_cosine_pairs_blas
            raise ValueError(
                "kernel='blas' needs bucket_col; for the unbucketed "
                "brute form use embedding_cosine_pairs_blas"
            )
        thr = float(threshold)
        id_t = base.schema[id_col].dataType.simpleString()

        mb = max_bucket

        def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            # the cap rides INSIDE the scoring task — applyInPandas
            # hands each bucket whole, so the guard needs no separate
            # groupBy-count probe job per pass; it fails before
            # allocating the quadratic matmul
            if mb is not None and len(pdf) > mb:
                raise ValueError(
                    f"bucket holds {len(pdf)} rows (> max_bucket={mb}): "
                    "the within-bucket cosine matmul would be quadratic "
                    "— refine the coarse quantizer (more cells / a "
                    "two-level tree) or raise max_bucket"
                )
            if len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            n = pdf["_n"].to_numpy(dtype=np.float64)
            n = np.where(n == 0.0, np.nan, n)  # try_divide parity: 0-norm → no pair
            sims = (x @ x.T) / (n[:, None] * n[None, :])
            ia, ib = np.triu_indices(len(pdf), k=1)
            keep = sims[ia, ib] >= thr
            ids = pdf[id_col].to_numpy()
            id_a, id_b = ids[ia[keep]], ids[ib[keep]]
            swap = id_a > id_b  # triu is frame order, contract is id order
            id_a2 = np.where(swap, id_b, id_a)
            id_b2 = np.where(swap, id_a, id_b)
            return pd.DataFrame(
                {"id_a": id_a2, "id_b": id_b2, "cosine": sims[ia, ib][keep]}
            )

        return base.groupBy(bucket_col).applyInPandas(
            bucket_pairs, schema=f"id_a {id_t}, id_b {id_t}, cosine double"
        )

    a = base.select(
        *([F.col(bucket_col)] if bucket_col else []),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = base.select(
        *([F.col(bucket_col)] if bucket_col else []),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    joined = a.join(b, on=bucket_col) if bucket_col else a.crossJoin(b)
    out = (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.try_divide(
                inner_product("_va", "_vb"),
                F.col("_na") * F.col("_nb"),
            ),
        )
        .where(F.col("cosine") >= threshold)
    )
    return out.select("id_a", "id_b", "cosine")


def _union_find(edges) -> dict:
    """Driver-side union-find with path compression; component id is
    the min member. Linear in edges — fine for millions."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes: set = set()
    for a, b in edges:  # single pass — accepts a one-shot iterator
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    Returns ``(node, component)`` where component is the minimum node
    id reachable from ``node``.

    Two physical strategies, chosen by edge count:

    - **small graph** (≤ ``driver_max_edges``, the common case — a
      thresholded pair set is orders of magnitude smaller than the
      corpus): collect the two-column edge list via Arrow and
      union-find with path compression on the driver. The honest
      memory bill is the *Python-object* form, not the wire bytes:
      2M edges ≈ 32 MB in Arrow but ~300-500 MB as boxed ints plus
      the union-find dict — the cap is set so that worst case stays
      comfortably inside a modest driver. One collect replaces an
      iterative shuffle cascade. This is what production Spark dedup
      pipelines do.
    - **large graph**: distributed hash-min label propagation with
      pointer jumping (component := component(component) each round →
      O(log diameter) rounds), lineage cut per round with
      ``localCheckpoint`` (a cluster run would checkpoint to durable
      storage); convergence detected by an order-insensitive xxhash64
      fingerprint — one cheap agg action per round.
    """
    edges = pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    node_type = edges.schema["_s"].dataType.simpleString()
    # limit-probe instead of count-then-collect: ONE action, and the
    # driver never holds more than cap+1 rows even when the graph is
    # huge (the limit short-circuits the scan). Arrow transfer
    # (toPandas) instead of collect(): two flat int columns, not
    # cap+1 boxed Row objects — ~100× less driver allocation on the
    # probe itself. No persist on this path (r9): the common small
    # graph reads the edge list exactly once, so the cache write was
    # pure overhead; only the distributed path below persists.
    probe = edges.limit(driver_max_edges + 1).toPandas()
    if len(probe) <= driver_max_edges:
        mapping = _union_find(zip(probe["_s"].tolist(), probe["_d"].tolist()))
        spark = pairs.sparkSession
        # Arrow createDataFrame (pandas) — the boxed-tuple local
        # relation serialized every (node, component) through py4j
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "node": list(mapping.keys()),
                    "component": list(mapping.values()),
                }
            ),
            f"node {node_type}, component {node_type}",
        )
    edges = edges.persist()
    und = edges.union(
        edges.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).persist()
    labels = (
        und.select(F.col("_s").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def _state_sig(lab: DataFrame) -> int:
        # order-insensitive fingerprint of the labeling — one cheap agg
        # action instead of a change-detection join
        row = (
            lab.select(F.xxhash64(F.col("node"), F.col("component")).alias("_h"))
            .agg(F.expr("bit_xor(_h)").alias("h"))
            .collect()[0]
        )
        return int(row["h"] or 0)

    prev_sig = _state_sig(labels)
    for _ in range(max_iterations):
        # hash-min hop: every node takes the min label in its closed
        # neighborhood…
        msgs = und.join(
            labels, und["_s"] == labels["node"], "inner"
        ).select(F.col("_d").alias("node"), "component")
        hopped = (
            labels.select("node", "component").unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # …then pointer-jump: component := component(component). A
        # label is always a live node id, so the inner self-join is
        # total; shortcutting halves the remaining chain length each
        # round → O(log diameter) rounds instead of O(diameter).
        new_labels = (
            hopped.alias("a")
            .join(
                hopped.select(
                    F.col("node").alias("_ln"), F.col("component").alias("_lc")
                ),
                F.col("a.component") == F.col("_ln"),
                "inner",
            )
            .select(F.col("a.node").alias("node"), F.col("_lc").alias("component"))
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        sig = _state_sig(labels)
        if sig == prev_sig:
            break
        prev_sig = sig
    und.unpersist()
    edges.unpersist()
    return labels


def dedup_resolve(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Resolve near-dup pairs into keep/drop decisions — the step that
    turns pair detection into an actual deduplicated corpus.

    Each document gets ``(cluster_id, is_canonical)``: cluster_id is
    the min doc id in its connected component (docs in no pair are
    their own singleton cluster), and exactly one doc per cluster —
    the min id — is canonical. Downstream: ``WHERE is_canonical = 1``
    is the deduplicated training corpus.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    out = df.join(comp, df[id_col] == comp["node"], "left").select(
        df[id_col],
        F.coalesce(F.col("component"), df[id_col]).alias("cluster_id"),
    )
    return out.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id")).cast("int")
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
    max_eval_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-based decontamination: flag training rows whose MAX
    cosine similarity against any eval/benchmark row reaches
    ``threshold`` — the semantic complement of the 8-gram overlap
    check (paraphrased benchmark leakage that exact n-grams miss).

    Returns (``id_col``, max_eval_cosine, contaminated).

    Scale shape: the eval set (benchmarks are small) is L2-normalized
    and broadcast as a dense matrix; the training side is scanned ONCE
    with a BLAS ``block @ eval.T`` row-max inside ``mapInPandas`` —
    no shuffle at all, the same posture as the n-gram decontaminate's
    broadcast postings. ``max_eval_rows`` guards the broadcast.
    """
    from pyspark.sql import types as T

    # limit-probe BEFORE collecting: the ceiling must bound what ever
    # reaches the driver, not fire after the heap is already blown.
    # Arrow transfer (toPandas) instead of collect(): one flat array
    # column, no boxed Rows; float32→float64 widening is exact
    epdf = eval_df.select(vec_col).limit(max_eval_rows + 1).toPandas()
    if len(epdf) > max_eval_rows:
        raise ValueError(
            f"eval set exceeds the broadcast ceiling {max_eval_rows}; "
            "decontaminate in eval batches or raise max_eval_rows"
        )
    if not len(epdf):
        raise ValueError("semantic_decontaminate: eval set is empty")
    emat = np.array([np.asarray(v, dtype=np.float64) for v in epdf[vec_col]])
    norms = np.linalg.norm(emat, axis=1)
    norms[norms == 0] = 1.0
    emat = emat / norms[:, None]
    b_eval = train.sparkSession.sparkContext.broadcast(emat)
    thr = float(threshold)
    vcol, icol = vec_col, id_col
    out_schema = T.StructType(
        [
            train.schema[icol],
            T.StructField("max_eval_cosine", T.DoubleType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )

    def run(batches):
        ev = b_eval.value
        for pdf in batches:
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vcol]])
            n = np.linalg.norm(x, axis=1)
            n[n == 0] = 1.0
            sims = (x / n[:, None]) @ ev.T
            mx = sims.max(axis=1)
            yield pd.DataFrame(
                {
                    icol: pdf[icol],
                    "max_eval_cosine": mx,
                    "contaminated": mx >= thr,
                }
            )

    # spread an under-partitioned corpus before the scoring pass —
    # same §2.6 rationale as the blas pair arm: the matmul scales with
    # input partitions, and a one-row-group scan serializes it
    blocks = train.select(icol, vcol)
    sc_ = train.sparkSession.sparkContext
    width = max(1, sc_.defaultParallelism // 2)
    if blocks.rdd.getNumPartitions() < width:
        blocks = blocks.repartition(width)
    return blocks.mapInPandas(run, schema=out_schema)


def dedup_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    shingle_hash: str = "xxhash64",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental dedup: match a NEW shard against an EXISTING corpus.

    Production pipelines rarely re-dedup the whole corpus per crawl —
    they ask "which of today's documents already exist?" and anti-join
    the answer. This is that operator: exact (content fingerprint) plus
    near (MinHash-LSH banded join, *across* the two sides only — never
    within either side), one row per matched new document:

        (<id_col>, match_id, match_type 'exact'|'near', jaccard)

    picking the best corpus match per new doc — exact before near, then
    highest exact-verified Jaccard, then lowest corpus id. The clean
    (novel) subset is ``new.join(result, id_col, "left_anti")``.
    Within-shard duplicates are :func:`minhash_lsh_pairs`'s job.

    Id-equal cross-matches are EXCLUDED on both arms, matching the
    streaming twin (``streaming.corpus.CorpusDeltaDedup`` guards
    ``_did != match_id``): with overlapping id spaces — a re-crawl
    resending the same doc_id with identical text — the row is an
    update/replay of the corpus document, never a new doc to reject;
    without the guard it matched itself and was anti-joined out of the
    clean set.

    Scale shape: the exact arm is one equi join on a 32-char md5 (in a
    real deployment the corpus side is a precomputed, bucketed
    fingerprint relation — here derived inline); the near arm is the
    cross form of :func:`banded_pairs` over the narrow (id, band,
    bandhash) banding, new-bands against corpus-bands, so cost is
    proportional to cross-side bucket overlap, not corpus².
    ``max_bucket``: that form's corpus-side cap (its recall caveat
    applies); ``None`` for parity with the unguarded join.

    ``jaccard`` is exact-verified intersection/union of the distinct
    shingle sets — integer-ratio arithmetic any SQL engine reproduces
    bit-for-bit. Exact matches report jaccard 1.0 without a shingle
    pass (equal texts have equal shingle sets).

    Caching: pins the side-tagged ``(id, shingles, signature)``
    relation once per call for the caller to release
    (:func:`vearch_spark.session.pinned_scope`). Callers that loop the
    batch operator per micro-batch should use the streaming form
    (``streaming.corpus.CorpusDeltaDedup``), which never re-shingles
    the corpus at all.
    """
    # ONE side-tagged relation drives everything: the shingle/signature
    # pipeline (the expensive Arrow pass) runs once over new ∪ corpus
    # and is pinned once, instead of once per side. The side flag rides
    # every derived relation, so overlapping id spaces between the two
    # inputs can never cross-contaminate.
    tagged = new.select(
        F.lit(0).alias("_side"),
        F.col(id_col).alias("_did"),
        F.col(text_col).alias("_tx"),
    ).unionByName(
        corpus.select(
            F.lit(1).alias("_side"),
            F.col(id_col).alias("_did"),
            F.col(text_col).alias("_tx"),
        )
    )

    # fingerprints only through the join — the text never shuffles
    fp = tagged.select("_side", "_did", F.md5(F.col("_tx")).alias("_fp"))
    exact = (
        fp.where(F.col("_side") == 0)
        .select(F.col("_did").alias("_nid"), "_fp")
        .join(
            fp.where(F.col("_side") == 1).select("_fp", F.col("_did").alias("_cid")),
            "_fp",
        )
        .where(F.col("_nid") != F.col("_cid"))  # replay, not a new doc
        .select(
            F.col("_nid"),
            F.col("_cid").alias("match_id"),
            F.lit("exact").alias("match_type"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    base = _minhash_base(tagged, shingle_n, num_hashes, shingle_hash, "_side", "_did")
    banded = _minhash_bands(base, num_hashes, bands, "_side", "_did")
    pin(base)  # the bands and the verify lookback both read it
    cand = banded_pairs(
        banded.where(F.col("_side") == 0),
        banded.where(F.col("_side") == 1),
        keys=["_b", "_bh"], id_col="_did", max_bucket=max_bucket,
    )
    nsh = base.where(F.col("_side") == 0).select(
        F.col("_did").alias("id_a"), F.col("_sh").alias("_sh_n")
    )
    csh = base.where(F.col("_side") == 1).select(
        F.col("_did").alias("id_b"), F.col("_sh").alias("_sh_c")
    )
    near = (
        cand.join(nsh, "id_a")
        .join(csh, "id_b")
        .withColumn("jaccard", _jaccard("_sh_n", "_sh_c"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(
            F.col("id_a").alias("_nid"),
            F.col("id_b").alias("match_id"),
            F.lit("near").alias("match_type"),
            "jaccard",
        )
    )

    both = exact.unionByName(near)
    wbest = Window.partitionBy("_nid").orderBy(
        # exact < near lexicographically — exact wins, then best overlap
        F.col("match_type").asc(), F.col("jaccard").desc(), F.col("match_id").asc()
    )
    return (
        both.withColumn("_rk", F.row_number().over(wbest))
        .where(F.col("_rk") == 1)
        .select(
            F.col("_nid").alias(id_col),
            "match_id",
            "match_type",
            F.col("jaccard").cast("double").alias("jaccard"),
        )
    )


def corpus_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 50,
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Cross-corpus line-level boilerplate removal — the CCNet recipe:
    a line appearing in MORE than ``max_docs`` distinct documents is
    boilerplate (navigation, headers, footers, cookie banners) and is
    dropped from every document; within-doc line order is preserved.
    Lines shorter than ``min_chars`` (after trim) are kept as-is (the
    empty/one-char lines that would otherwise collide corpus-wide
    carry no boilerplate signal, only reassembly noise).

    Complements :func:`~vearch_spark.functions.text.dedup_lines`
    (WITHIN-doc repeats) and span accounting (substring-level): this is
    the cross-document axis, keyed on the exact line.

    Scale shape: lines explode narrow (pos kept for reassembly); the
    occurrence count is ONE map-side-combined aggregation on the line
    hash carrying ``(md5, int)`` payloads only; the hot set (lines
    over the cap) is tiny by construction — boilerplate is by
    definition few DISTINCT lines — so AQE's runtime re-planner
    broadcasts it into the left-anti join from its measured size, and
    a massively templated corpus past the broadcast threshold keeps
    the shuffle anti-join form automatically; reassembly is
    one groupBy(id) with an order-restoring sort_array. Two-three
    shuffles, no pair join, nothing quadratic at any corpus shape.

    Output: ``id_col``, ``text_col`` (filtered), ``n_dropped``.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "_pos", "_line"
        ),
    )
    sig = F.md5(F.encode(F.col("_line"), "UTF-8"))
    eligible = F.length(F.trim(F.col("_line"))) >= int(min_chars)
    counted = (
        lines.where(eligible)
        .select(sig.alias("_sig"), F.col(id_col))
        .groupBy("_sig")
        .agg(F.count_distinct(id_col).alias("_docs"))
        .where(F.col("_docs") > int(max_docs))
        .select("_sig")
    )
    # broadcast guard (r9: delegated to AQE): boilerplate is by
    # definition FEW distinct lines, so the anti join wants the hot
    # set broadcast — but a massively templated corpus could overflow
    # it. The r8 form limit-probed the hot set from the driver, which
    # EXECUTED the whole line-count aggregation one extra time per
    # build (a full extra job before the plan even ran). AQE makes the
    # probe redundant: with no forced hint, the runtime re-planner
    # picks a broadcast anti join from the hot set's ACTUAL
    # materialized size and keeps the shuffle form past the broadcast
    # threshold — the same driver-safety escape hatch, decided from
    # measured bytes instead of a driver round trip (the fallback
    # parity test pins both shapes on the same corpus).
    signed = lines.withColumn("_sig", sig)
    kept = signed.join(
        counted,
        on=(signed["_sig"] == counted["_sig"]) & eligible,
        how="left_anti",
    )
    total = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_lines"))
    out = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("_kept"),
        )
        .join(total, id_col)
        .select(
            id_col,
            text_col,
            (F.col("_n_lines") - F.col("_kept")).cast("int").alias("n_dropped"),
        )
    )
    # a document whose every line was boilerplate vanishes from the
    # grouped side — restore it with empty text and n_dropped = its
    # total line count. Keyed on the grouped-side row being NULL, NOT
    # on text == '': a doc whose KEPT lines reassemble to empty text
    # (e.g. only min_chars-exempt blank lines survive) is present in
    # the grouped side and already carries the correct n_dropped.
    all_ids = df.select(id_col)
    return (
        all_ids.join(out, id_col, "left")
        .join(total.withColumnRenamed("_n_lines", "_t"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(
                F.col("n_dropped"), F.col("_t").cast("int"), F.lit(0)
            ).alias("n_dropped"),
        )
    )
