"""Streaming corpus ingest with incremental dedup (foreachBatch).

The streaming form of ``dedup.dedup_against_corpus``: a crawl stream is
deduplicated per micro-batch — within the batch exactly (first id per
content fingerprint), then against the durable corpus built by every
previous batch — and only the clean remainder is appended. The corpus
carries its own dedup INDEX so no batch ever re-reads or re-shingles
corpus text:

    {path}/docs      clean documents                (append per batch)
    {path}/index     (doc_id, fp, sig[128])         (append per batch)
    {path}/postings  (doc_id, band, bh)             (append per batch)
    {path}/rejects   matched rows + match metadata  (append per batch)

Per-batch cost: one shingle/signature pass over the BATCH, an equi join
of batch fingerprints against the index, a band join of batch bands
against the postings, and a signature-overlap verify — O(batch + IO of
the index relations), never a corpus text rescan. Near matches are
gated by the classic MinHash estimate (fraction of agreeing signature
slots, E[match] = Jaccard, σ ≈ 1/√num_hashes ≈ 0.09 at 128) instead of
the batch operator's exact shingle Jaccard — the corpus index stores
1 KB of signature per doc, not its shingle set. At 100 TB the postings
relation should be written bucketed by ``bh`` (bucket-pruned join);
here it is a plain parquet append — the join is still narrow
(3 longs/row).

Exactly-once: batch writes are idempotent per epoch — each relation is
written under ``_epoch=N`` subdirectories, a replayed epoch OVERWRITES
its own subdirectory (dynamic partition overwrite), and the matching
reads EXCLUDE the running epoch's own partition, so a crash between the
four appends re-runs cleanly even when the batch holds in-batch
near-duplicates that the first attempt already indexed. Reads glob the
roots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vearch_spark.operators.dedup import (
    _minhash_bands,
    _rows_per_band,
    banded_pairs,
    minhash_signature_fast,
    word_shingles,
)

_EPOCH = "_epoch"


class CorpusDeltaDedup:
    """Streaming corpus builder with exact + near incremental dedup.

    ``attach(stream_df)`` wires the handler into ``foreachBatch``;
    ``process_batch`` is the same handler callable directly with a
    static DataFrame (batch form — the tests' deterministic path).
    """

    def __init__(
        self,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 128,
        bands: int = 32,
        shingle_n: int = 3,
        jaccard_threshold: float = 0.5,
        shingle_hash: str = "xxhash64",
    ) -> None:
        _rows_per_band(num_hashes, bands)  # reject bad bands before any write
        self.path = path.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.jaccard_threshold = float(jaccard_threshold)
        self.shingle_hash = shingle_hash

    # ------------------------------------------------------------ reads

    def _read(
        self, spark, sub: str, exclude_epoch: int | None = None
    ) -> DataFrame | None:
        import os

        root = f"{self.path}/{sub}"
        if not os.path.isdir(root) or not any(
            n.startswith(f"{_EPOCH}=") for n in os.listdir(root)
        ):
            return None
        df = spark.read.parquet(root)
        if exclude_epoch is not None:
            # replay correctness: a crashed epoch's own first-attempt
            # partition must be invisible while the epoch re-runs —
            # otherwise its rows match THEMSELVES (same id) or EACH
            # OTHER (in-batch near-dups that were clean the first time)
            # and the replay drops them from the corpus. The epoch
            # filter is a partition-directory prune, not a row filter.
            df = df.where(F.col(_EPOCH) != int(exclude_epoch))
        return df

    def docs(self, spark) -> DataFrame | None:
        """The accumulated clean corpus (None before the first batch)."""
        return self._read(spark, "docs")

    def rejects(self, spark) -> DataFrame | None:
        """Audit relation: every dropped row with its match metadata."""
        return self._read(spark, "rejects")

    # ----------------------------------------------------------- derive

    def _sig_relation(self, df: DataFrame) -> DataFrame:
        """(id, fp, sig) for a batch — one Arrow pass; empty-shingle
        docs (blank text) carry a NULL sig and only exact-dedup."""
        sh = word_shingles(F.col(self.text_col), self.shingle_n)
        return df.select(
            F.col(self.id_col).alias("_did"),
            F.md5(F.col(self.text_col)).alias("_fp"),
            F.when(
                F.size(sh) > 0,
                minhash_signature_fast(
                    sh, self.num_hashes, shingle_hash=self.shingle_hash
                ),
            ).alias("_sig"),
        )

    def _postings(self, sigrel: DataFrame) -> DataFrame:
        return _minhash_bands(
            sigrel.where(F.col("_sig").isNotNull()), self.num_hashes, self.bands, "_did"
        )

    # ------------------------------------------------------------ write

    def _append(self, df: DataFrame, sub: str, epoch: int) -> None:
        (
            df.withColumn(_EPOCH, F.lit(int(epoch)))
            .write.mode("overwrite")
            .partitionBy(_EPOCH)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{self.path}/{sub}")
        )

    # ------------------------------------------------------------- core

    def process_batch(self, batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession

        # 1. within-batch exact dedup: first (lowest) id per fingerprint
        wfp = Window.partitionBy(F.md5(F.col(self.text_col))).orderBy(
            F.col(self.id_col)
        )
        batch = (
            batch.withColumn("_rk", F.row_number().over(wfp))
            .where(F.col("_rk") == 1)
            .drop("_rk")
        )
        batch = batch.persist()
        try:
            sigrel = self._sig_relation(batch).persist()

            index = self._read(spark, "index", exclude_epoch=epoch)
            if index is None:
                matched = None
            else:
                # the epoch exclusion above is the replay fix; the
                # id-equal guards below stay as defense-in-depth (an
                # upstream that re-sends an id across DIFFERENT epochs
                # is an update/replay, never a new doc to reject)
                exact = (
                    sigrel.select("_did", "_fp")
                    .join(
                        index.select(
                            F.col("fp").alias("_fp"),
                            F.col("doc_id").alias("match_id"),
                        ),
                        "_fp",
                    )
                    .where(F.col("_did") != F.col("match_id"))
                    .select(
                        "_did",
                        "match_id",
                        F.lit("exact").alias("match_type"),
                        F.lit(1.0).alias("jaccard_est"),
                    )
                )
                # postings may be absent even when the index exists: an
                # all-blank corpus writes index rows (NULL sigs) but no
                # posting — the near arm then has nothing to join
                posts = self._read(spark, "postings", exclude_epoch=epoch)
                cand = None
                if posts is not None:
                    cand = banded_pairs(
                        self._postings(sigrel), posts,
                        keys=["_b", "_bh"], id_col="_did", max_bucket=None,
                    ).select(F.col("id_a").alias("_did"), F.col("id_b").alias("_mid"))
                # verify: fraction of agreeing signature slots — the
                # unbiased MinHash Jaccard estimator (no corpus text)
                est = (
                    F.size(
                        F.filter(
                            F.zip_with(
                                F.col("_sig"), F.col("_msig"), lambda a, b: a == b
                            ),
                            lambda x: x,
                        )
                    )
                    / F.lit(float(self.num_hashes))
                )
                arms = exact
                if cand is not None:
                    near = (
                        cand.join(sigrel.select("_did", "_sig"), "_did")
                        .join(
                            index.select(
                                F.col("doc_id").alias("_mid"),
                                F.col("sig").alias("_msig"),
                            ),
                            "_mid",
                        )
                        .withColumn("jaccard_est", est)
                        .where(F.col("jaccard_est") >= self.jaccard_threshold)
                        .select(
                            "_did",
                            F.col("_mid").alias("match_id"),
                            F.lit("near").alias("match_type"),
                            "jaccard_est",
                        )
                    )
                    arms = arms.unionByName(near)
                wbest = Window.partitionBy("_did").orderBy(
                    F.col("match_type").asc(),
                    F.col("jaccard_est").desc(),
                    F.col("match_id").asc(),
                )
                # EAGER lineage cut, not a lazy persist: every append
                # below mutates the very directories the index/postings
                # scans read — any re-evaluation after the index append
                # would match a batch doc against ITSELF. The checkpoint
                # freezes the pre-write answer (micro-batch-sized).
                matched = (
                    arms
                    .withColumn("_rk", F.row_number().over(wbest))
                    .where(F.col("_rk") == 1)
                    .drop("_rk")
                    .localCheckpoint(eager=True)
                )

            if matched is None:
                clean = batch
                rejects = None
            else:
                clean = batch.join(
                    matched.select(F.col("_did").alias(self.id_col)),
                    self.id_col,
                    "left_anti",
                )
                rejects = batch.join(
                    matched.withColumnRenamed("_did", self.id_col), self.id_col
                )

            # matched is checkpointed, so clean/rejects read frozen
            # match results; clean itself is cut too (its anti-join
            # plan still roots at the index scan otherwise)
            clean = clean.localCheckpoint(eager=True)
            # reuse the batch's signature pass — never re-shingle
            clean_sigs = sigrel.join(
                clean.select(F.col(self.id_col).alias("_did")), "_did", "semi"
            ).persist()
            self._append(clean, "docs", epoch)
            self._append(
                clean_sigs.select(
                    F.col("_did").alias("doc_id"),
                    F.col("_fp").alias("fp"),
                    F.col("_sig").alias("sig"),
                ),
                "index",
                epoch,
            )
            self._append(self._postings(clean_sigs), "postings", epoch)
            if rejects is not None:
                self._append(rejects, "rejects", epoch)
        finally:
            for rel in ("batch", "sigrel", "clean", "clean_sigs", "matched"):
                obj = locals().get(rel)
                if obj is not None and hasattr(obj, "unpersist"):
                    obj.unpersist()

    def attach(self, stream_df: DataFrame):
        """``stream_df.writeStream.foreachBatch(...)`` wiring; caller
        sets trigger/checkpoint and starts it."""
        return stream_df.writeStream.foreachBatch(self.process_batch)
