"""Deterministic stratified sampling — corpus mixing for training blends.

``df.sample()`` draws from partition-seeded RNG streams: the kept set
changes with partitioning, executor count, and Spark version, which is
unacceptable for a reproducible training mix. ``hash_sample`` instead
derives each row's fate from its id: keep iff

    bucket(id) < floor(rate · 2^32),
    bucket(id) = int(first 8 hex chars of md5(id))

so the decision is a pure function of the data — identical on any
cluster layout, stable under incremental corpus updates (a doc's fate
never flips), and reproducible in any engine with md5 (the DuckDB
oracle re-derives it). Per-stratum rates express mixing weights
("2 parts web : 1 part forum : all of wiki").

Scale shape: one narrow JVM projection (md5 + conv + map lookup), no
shuffle; the keep-filter pushes into the scan pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_BUCKET_BITS = 32


def rate_threshold(rate: float) -> int:
    """A sampling rate as an integer bucket threshold. Computed once,
    driver-side, and injected as a literal — both the Spark plan and
    any SQL oracle compare against the same integer, so there is no
    cross-engine float drift."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return int(rate * (1 << _BUCKET_BITS))


def hash_bucket(id_col: Column | str) -> Column:
    """Uniform 32-bit bucket from md5 of the stringified id."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    hex8 = F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 8)
    return F.conv(hex8, 16, 10).cast("long")


def hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    stratum_col: str = "source",
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep a deterministic ``rates[stratum]`` fraction of each
    stratum (by id hash). Strata absent from ``rates`` keep
    ``default_rate``."""
    thr = F.coalesce(
        F.element_at(
            F.create_map(
                *[
                    F.lit(v)
                    for s, r in sorted(rates.items())
                    for v in (s, rate_threshold(r))
                ]
            ),
            F.col(stratum_col),
        )
        if rates
        else F.lit(None).cast("long"),
        F.lit(rate_threshold(default_rate)),
    )
    return df.where(hash_bucket(id_col) < thr)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic dataset splitting (train/val/test): each row's
    split is chosen by where its id-hash bucket falls among cumulative
    integer thresholds. Same guarantees as :func:`hash_sample` — a
    pure function of the data, layout-independent, stable under
    incremental corpus growth (new docs never move old docs between
    splits), reproducible in any engine with md5."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    acc = 0.0
    expr = None
    bucket = hash_bucket(id_col)
    for name, w in list(weights.items())[:-1]:
        acc += w
        cond = bucket < F.lit(rate_threshold(acc))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = list(weights)[-1]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def cluster_balanced_sample(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    per_cluster: int = 100,
) -> DataFrame:
    """Semantic-diversity selection (the SemDeDup / cluster-balanced
    recipe): assign every row to its nearest embedding centroid and
    keep a deterministic per-cluster quota, so dominant semantic modes
    can't crowd a training mix.

    ``centroids``: a (k, dim) array — typically the coarse quantizer of
    an already-trained :class:`~vearch_spark.operators.ivf.IVFFlatIndex`
    (one KMeans fit serves both ANN pruning and diversity sampling).

    Determinism: within a cluster, rows are ranked by md5 of the
    stringified id — a pure function of the data, layout-independent,
    reproducible in any engine with md5 (the DuckDB oracle re-derives
    the full pipeline from centroid literals).

    Scale shape: assignment is one Arrow-batched narrow pass; the quota
    is a rank window partitioned by cluster id — Spark's
    WindowGroupLimit applies ``rank <= quota`` map-side, so the single
    exchange carries at most ``k × per_cluster`` rows per partition,
    never a crowded cluster's full population.
    """
    from pyspark.sql import Window

    from vearch_spark.operators.ivf import CLUSTER_COL, _nearest_centroid_udf

    assigned = df.withColumn(
        CLUSTER_COL, _nearest_centroid_udf(centroids)(F.col(vec_col))
    )
    w = Window.partitionBy(CLUSTER_COL).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        assigned.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= int(per_cluster))
        .drop("_rank")
    )


def temperature_rates(
    counts: dict[str, int], alpha: float = 0.3, target_fraction: float = 0.5
) -> dict[str, float]:
    """Temperature-based mixing rates (the multilingual-pretraining
    recipe: sampling probability p_s ∝ n_s^alpha): convert per-source
    corpus sizes into deterministic per-source keep-rates such that the
    output is ``target_fraction`` of the corpus with source s
    represented ∝ n_s^alpha. alpha=1 reproduces natural proportions;
    alpha→0 flattens toward uniform across sources — upsampling the
    tail is capped at rate 1.0 (this engine mixes by *filtering*, so a
    source can't exceed its own size; the overflow stays with the big
    sources, matching how filtering pipelines apply the recipe).

    Pure driver-side arithmetic on the counts — combine with
    :func:`hash_sample` so the row-level decisions stay deterministic
    and layout-independent.
    """
    if not counts:
        return {}
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    total = sum(counts.values())
    weights = {s: float(n) ** alpha for s, n in counts.items()}
    wsum = sum(weights.values())
    target = target_fraction * total
    return {
        s: min(1.0, (weights[s] / wsum) * target / counts[s])
        for s in counts
        if counts[s] > 0
    }


def temperature_mix_sample(
    df: DataFrame,
    alpha: float = 0.3,
    target_fraction: float = 0.5,
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """One-call temperature mixing: count per source (one map-side-
    combined aggregation), derive rates, keep rows via the
    deterministic id-hash filter. Scale shape: one tiny agg action +
    one narrow filter pass — the counts relation is |sources| rows."""
    counts = {
        r[stratum_col]: r["count"]
        for r in df.groupBy(stratum_col).count().collect()
    }
    # a NULL stratum is its own source ("unlabeled"): it can't key the
    # create_map in hash_sample (and None breaks the sorted() there),
    # so its temperature rate rides through default_rate instead — the
    # map lookup on a NULL stratum returns NULL and coalesces to it
    null_count = counts.pop(None, 0)
    null_key = object()  # collision-proof stand-in inside the rate calc
    all_counts: dict = dict(counts)
    if null_count:
        all_counts[null_key] = null_count
    rates = temperature_rates(all_counts, alpha, target_fraction)
    null_rate = rates.pop(null_key, 0.0)
    return hash_sample(
        df, rates, id_col=id_col, stratum_col=stratum_col, default_rate=null_rate
    )


def embedding_outliers(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    z_threshold: float = 3.0,
    cluster_col: str | None = None,
) -> DataFrame:
    """Embedding-space outlier scoring — the semantic-noise gate of a
    training-data pipeline (mislabeled pairs, corrupt decodes, and
    off-distribution rows sit far from every semantic mode).

    Each row is assigned to its nearest centroid (the SAME trained
    coarse quantizer that serves ANN pruning and cluster-balanced
    sampling — one KMeans fit, three uses), its squared distance to
    that centroid is computed JVM-side (sequential-fold parity with the
    DuckDB oracle), and the per-cluster z-score flags rows more than
    ``z_threshold`` sample standard deviations out.

    Scale shape: assignment is one Arrow-batched narrow pass; the
    centroid join is a broadcast of a (k, dim) relation; the per-cluster
    moments are one map-side-combined aggregation over (cluster, dist)
    — two scans, one tiny shuffle, no row ever leaves its partition
    with more than two doubles attached. ``cluster_col`` names a
    PRE-COMPUTED assignment column on ``df`` (pass the trained index's
    own ``IVFFlatIndex.assigned`` relation — one fit, four uses: ANN
    pruning, diversity sampling, kNN join, outlier scoring) and the
    Arrow assignment pass disappears; the column must come from the
    SAME centroids or the z-scores group by the wrong Voronoi cells.
    """
    import numpy as np

    from vearch_spark.functions.distance import score_expr
    from vearch_spark.operators.ivf import CLUSTER_COL, _nearest_centroid_udf
    from vearch_spark.schema import Metric

    c = np.asarray(centroids, dtype=np.float64)
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c[i]]) for i in range(len(c))],
        f"{CLUSTER_COL} int, _centroid array<double>",
    )
    if cluster_col is not None:
        assigned = df.withColumn(CLUSTER_COL, F.col(cluster_col))
    else:
        assigned = df.withColumn(
            CLUSTER_COL, _nearest_centroid_udf(c)(F.col(vec_col))
        )
    assigned = assigned.join(F.broadcast(cents), on=CLUSTER_COL)
    scored = assigned.withColumn(
        "_dist", score_expr(vec_col, "_centroid", Metric.L2)
    ).drop("_centroid")
    stats = scored.groupBy(CLUSTER_COL).agg(
        F.avg("_dist").alias("_mu"),
        F.stddev("_dist").alias("_sigma"),
    )
    out = scored.join(F.broadcast(stats), on=CLUSTER_COL).select(
        F.col(id_col),
        F.col(CLUSTER_COL),
        F.round("_dist", 6).alias("dist"),
        F.round(
            F.when(
                F.col("_sigma").isNull() | (F.col("_sigma") == 0.0), F.lit(0.0)
            ).otherwise((F.col("_dist") - F.col("_mu")) / F.col("_sigma")),
            4,
        ).alias("z"),
    )
    return out.withColumn("is_outlier", (F.col("z") > float(z_threshold)).cast("int"))


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic shuffled-shard export order — the training-data
    writer's contract: every dataloader epoch must see the SAME
    pseudo-random document order, independent of Spark partitioning,
    task scheduling, or input file layout.

    shard(id)    = md5-bucket("{seed}:{id}") mod n_shards
    pos-in-shard = rank by that same hash (ties by id)

    Both are pure functions of (id, seed) — re-running the export, on
    any cluster size, reproduces byte-identical shards, and any engine
    with md5 recomputes the assignment (the DuckDB oracle does).
    Changing ``seed`` is a full reshuffle. Output: the input columns
    plus (shard, pos).

    Scale shape: one narrow projection plus ONE shuffle (the rank
    window on shard) — the same exchange the physical shard write
    needs anyway, so ordering is free; no driver participation.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = hash_bucket(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy(F.col("_key"), F.col(id_col))
    return (
        df.withColumn("_key", key)
        .withColumn("shard", (F.col("_key") % int(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop("_key")
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> None:
    """Materialize :func:`shuffle_shards` as the physical export:
    ``partitionBy(shard)`` parquet with rows sorted by ``pos`` inside
    each shard file — a dataloader streams shard k in the deterministic
    shuffled order with zero read-time work."""
    out = shuffle_shards(df, n_shards, id_col=id_col, seed=seed)
    (
        out.repartition(int(n_shards), F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def domain_cap(
    df: DataFrame,
    url_col: str = "url",
    cap: int = 100,
    id_col: str = "doc_id",
    seed: int = 0,
    public_suffixes=None,
) -> DataFrame:
    """Per-domain document cap — the crawl-curation rule that stops a
    single site from dominating a training mix (boilerplate farms,
    mirrors, SEO spam): keep at most ``cap`` docs per REGISTRABLE
    domain (functions/text.py registrable_domain — co.uk-style ccSLDs
    grouped correctly), chosen by the same deterministic md5 rank as
    :func:`shuffle_shards`, so the kept set is a pure function of
    (seed, id) — reproducible on any cluster and recomputable by any
    engine with md5 (the DuckDB oracle does).

    ``public_suffixes`` (optional): an iterable of Public Suffix List
    rule lines switches the domain key to the PSL lookup
    (functions/text.py registrable_domain_psl) — platform subdomains
    like ``a.github.io`` / ``b.github.io`` then cap independently,
    and wildcard/exception rules apply. Default stays the pure-JVM
    regex heuristic, which any SQL oracle reproduces verbatim.

    Scale shape: one narrow JVM projection (regex host/domain — no
    Python) plus ONE shuffle (the rank window on domain). Domains are
    high-cardinality so the window partitions well; a pathological
    single-domain corpus degrades to one partition of that domain's
    rows only — the cap itself bounds what survives.

    Output: the input columns plus (host, domain), kept rows only.
    """
    from pyspark.sql import Window

    from vearch_spark.functions.text import (
        registrable_domain,
        registrable_domain_psl,
        url_host,
    )

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    domain_of = (
        (lambda h: registrable_domain_psl(h, public_suffixes))
        if public_suffixes is not None
        else registrable_domain
    )
    w = Window.partitionBy("domain").orderBy("_rk", id_col)
    return (
        df.withColumn("host", url_host(url_col))
        .withColumn("domain", domain_of(F.col("host")))
        .withColumn(
            "_rk",
            hash_bucket(
                F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
            ),
        )
        .withColumn("_pos", F.row_number().over(w))
        .where(F.col("_pos") <= cap)
        .drop("_rk", "_pos")
    )
