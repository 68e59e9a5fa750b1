package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Deduplication operators for LLM training data, SURVEY.md §2d.
  *
  * Shared shape: per-row signature (codegen custom Expression) →
  * bucket/band shuffle → candidate pairs within buckets → exact verify.
  * No all-pairs comparison anywhere: candidate generation is always
  * bounded by a bucketing key, which is what keeps these ops alive at
  * 100 TB (pairs are generated per band-bucket, and band buckets are
  * uniformly hash-distributed).
  */
object Dedup {

  private[operators] val tokens: Column = split(trim(lower(col("text"))), "\\s+")

  /** Materialize a signature/index table once before it is used on both
    * sides of a self-join. Without this, Catalyst duplicates the whole
    * signature subtree into each join branch (the codegen shingle/
    * minhash/winnow pass runs twice — confirmed the 2.5-8.6x regression
    * in round 2's bench). At 100 TB the equivalent is writing the
    * signature table to storage before the candidate join; locally
    * MEMORY_AND_DISK caching is the same design at session scope.
    *
    * Persist ONLY subtrees that are (a) expensive to build and (b) read
    * more than once by the plan. A cheap signature read through the
    * cache costs more than recomputing it inside the parquet scan —
    * persisting simhash's one-expression signature regressed that query
    * 6.5x in round 3. Every call site cites which reads it pays for.
    *
    * Cache lifecycle is owned by the CALLER: these operators return
    * lazy DataFrames, so they cannot unpersist behind their own result.
    * Run-once entry points (Bench/Verify/Explain) clear the session
    * cache between queries; a library caller looping over corpora
    * should `spark.sharedState.cacheManager.clearCache()` (or
    * `catalog.clearCache()`) between runs, else disk-backed blocks
    * accumulate for the session. */
  private[operators] def materialized(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Word 3-gram shingles (falls back to whole text when too short). */
  private[operators] def shingles(k: Int = 3): Column =
    when(size(tokens) >= k,
      transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", slice(tokens, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", tokens)))

  /** Exact dedup by content hash; groups shuffle on a 128-bit digest,
    * never on raw text (shuffle key stays 16 bytes at 100 TB). */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  /** MinHash + banded LSH near-dup detection.
    *
    * numPerm-wide signature, `bands` bands of numPerm/bands rows hashed
    * to a band key; docs sharing any band key become candidates; these
    * are verified with exact shingle-set Jaccard >= `threshold`.
    * Output: the VERIFIED near-dup pairs (a_id, b_id, jaccard) — exact
    * values a SQL oracle reproduces with all-pairs set Jaccard at gate
    * scale. Default 24 bands x 8 rows: P(miss) ~ 2e-5 at jaccard 0.88+
    * (where every true pair on this corpus sits — the distribution is
    * bimodal: >= 0.88 or < 0.3) while keeping the false-candidate
    * rate at sub-threshold jaccard near zero (r=8 bands collide with
    * probability j^8, so the 0.2-0.3 mass contributes ~nothing —
    * r=4 drowned the verify stage in low-jaccard candidates).
    */
  def dedupMinhashLsh(documents: DataFrame, numPerm: Int = 192, bands: Int = 24,
                      threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm): a remainder silently drops " +
        "tail permutations, and bands > numPerm degenerates to all-pairs")
    val rowsPerBand = numPerm / bands
    // Single codegen'd pass builds shingles + signature, materialized
    // once so the band self-join reads the cached signature table on
    // both sides; the verify stage below recomputes shingles only for
    // CANDIDATE docs (joining raw text first), so the corpus is
    // shingled exactly once.
    val docs = materialized(documents
      .select(col("doc_id"),
        F.minhash(F.shingleStrings(col("text"), 3), numPerm).as("sig")))

    val banded = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))

    val cands = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

    cands
      .join(documents.select(col("doc_id").as("a_id"), col("text").as("text_a")), "a_id")
      .join(documents.select(col("doc_id").as("b_id"), col("text").as("text_b")), "b_id")
      .withColumn("sh_a", F.shingleStrings(col("text_a"), 3))
      .withColumn("sh_b", F.shingleStrings(col("text_b"), 3))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash LSH on the allocation-free fast path: hashed shingles
    * straight from text bytes (ShingleHashes) → MinHash over longs →
    * same banding — no token/shingle strings materialize anywhere, and
    * the Jaccard verify runs the sorted-merge intersect kernel. Same
    * verified-pairs output shape as [[dedupMinhashLsh]] (identical
    * values absent 64-bit shingle-hash collisions). */
  def dedupMinhashLshFast(documents: DataFrame, numPerm: Int = 192, bands: Int = 24,
                          threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    // Materialized signature table: banding reads `sig` and the verify
    // joins read `shh` from the same cached pass — the corpus is
    // shingle-hashed exactly once.
    val docs = materialized(documents
      .select(col("doc_id"),
        F.shingleHashes(col("text"), 3, sortedDistinct = true).as("shh"))
      .withColumn("sig", F.minhashHashed(col("shh"), numPerm)))

    val banded = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))

    val cands = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

    val inter = F.sortedIntersect(col("shh_a"), col("shh_b"))
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("shh").as("shh_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("shh").as("shh_b")), "b_id")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("shh_a")) + size(col("shh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** INCREMENTAL near-dup ingestion — the production face of
    * [[dedupMinhashLshFast]] for a continuously growing corpus: dedup
    * today's ingest batch against the standing corpus WITHOUT ever
    * joining the corpus to itself. Docs with `doc_id % batchMod == 0`
    * stand in for the new batch; the rest is the already-deduped
    * corpus. Output: one row per NEW doc — its smallest near-dup
    * partner in the corpus (audit column), that pair's jaccard, and
    * the keep verdict. Batch-internal duplicates are deliberately NOT
    * flagged here: the batch runs its own [[dedupMinhashLshFast]]
    * pass; this operator answers only "is it already in the corpus".
    *
    * Scale shape: the banded-signature table is the corpus's stored
    * LSH index — at 100 TB it is written once and APPENDED per batch,
    * never recomputed (here both sides are derived in-line from one
    * materialized signature pass so the operator is self-contained
    * and oracle-reproducible). The candidate join touches only band
    * buckets the new batch hashes into, so per-ingest cost scales
    * with |batch| + matched buckets, not corpus size; the corpus
    * never self-joins. */
  def dedupIncremental(documents: DataFrame, batchMod: Int = 10,
                       numPerm: Int = 192, bands: Int = 24,
                       threshold: Double = 0.5): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(batchMod.toLong)) === 0L
    // ONE materialized signature pass feeds both sides (self-contained
    // + oracle-reproducible); production stores the corpus side instead.
    val docs = materialized(corpusSignatures(documents, numPerm))
    probeCorpus(docs.filter(isNew), docs.filter(!isNew),
      numPerm, bands, threshold)
  }

  /** Dedup threshold tuning curve — how many near-dup pairs would a
    * given jaccard cutoff flag? The knob-tuning audit behind every
    * "why 0.8?" review: one banded-candidate pass at the 0.5 floor
    * (where band recall is ~1 — the same floor the production faces
    * use), pairs bucketed by their ROUNDED jaccard decile. The curve
    * is read top-down: a cutoff at bucket b flags Σ_{b'≥b} pairs.
    * Bucketing uses the rounded-4dp jaccard (+1e-9 nudge, the tfidf
    * boundary idiom) so both engines bucket identically; 1.0 folds
    * into the top [0.9, 1.0] bucket via least(). Banding is 96×2
    * (not the production 24×8): at the 0.5 floor 2-row bands leave a
    * miss probability of (1−0.25)^96 ≈ 1e-12 where 8-row bands would
    * miss ~91 % of j=0.5 pairs — the tuning audit must SEE the pairs
    * the production cutoff is being tuned over. The wider candidate
    * volume is the audit's price, paid once per tuning run. */
  def dedupThresholdCurve(documents: DataFrame): DataFrame =
    dedupMinhashLshFast(documents, bands = 96, threshold = 0.5)
      .select(expr(
        "least(CAST(floor(jaccard * 10 + 1e-9) AS BIGINT), 9L) * 1000").as("bucket_lo_bp"))
      .groupBy(col("bucket_lo_bp")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket_lo_bp"))

  /** Doc-level CROSS-CORPUS contamination — the document-granularity
    * complement of the span-level `pipeline_decontaminate`: is a
    * held-out/benchmark doc a near-duplicate of anything in the
    * training corpus? (The train-test leak auditors check before any
    * eval number is trusted.) Docs with `doc_id % heldMod == heldRes`
    * stand in for the held-out set; the rest is the training corpus.
    * Pure composition of the [[probeCorpus]] machinery — the held-out
    * side probes the training side's banded LSH index, the training
    * corpus never self-joins, and per-audit cost scales with
    * |held-out| + matched buckets (the benchmark is the small side,
    * exactly like the decontaminate broadcast argument). Banding is
    * 96×2 like [[dedupThresholdCurve]], NOT the production 24×8: this
    * audit's contract is the 0.5 floor, where 8-row bands would miss
    * ~91 % of j=0.5 pairs and silently report real contamination
    * clean — 2-row bands leave a (1−0.25)⁹⁶ ≈ 1e-12 miss probability.
    * The wider candidate volume is bounded by the small held-out
    * side, the same price the tuning curve pays. */
  def dedupCrossCorpus(documents: DataFrame, heldMod: Int = 7, heldRes: Int = 3,
                       numPerm: Int = 192, bands: Int = 96,
                       threshold: Double = 0.5): DataFrame = {
    val isHeld = pmod(col("doc_id"), lit(heldMod.toLong)) === lit(heldRes.toLong)
    val sigs = materialized(corpusSignatures(documents, numPerm))
    probeCorpus(sigs.filter(isHeld), sigs.filter(!isHeld), numPerm, bands, threshold)
      .select(col("doc_id"), col("dup_of").as("contaminated_by"), col("jaccard"),
        col("dup_of").isNotNull.as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** The stored-LSH-index row for a corpus: per doc its sorted distinct
    * 3-shingle hash set and minhash signature. This is the table a
    * production pipeline writes once and appends per ingest batch;
    * [[probeCorpus]] reads it as the standing side. */
  def corpusSignatures(documents: DataFrame, numPerm: Int = 192): DataFrame =
    documents
      .select(col("doc_id"),
        F.shingleHashes(col("text"), 3, sortedDistinct = true).as("shh"))
      .withColumn("sig", F.minhashHashed(col("shh"), numPerm))

  /** Probe core of [[dedupIncremental]]: verdicts for `batchSigs`
    * (new docs) against `corpusSigs` (the standing index), both in
    * [[corpusSignatures]] layout with disjoint doc_ids. Banded
    * candidate join → exact jaccard verify → smallest corpus partner
    * per new doc → keep = no partner ≥ threshold. The corpus side
    * never self-joins; cost ~ |batch| + matched band buckets. */
  def probeCorpus(batchSigs: DataFrame, corpusSigs: DataFrame,
                  numPerm: Int = 192, bands: Int = 24,
                  threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    def banded(sigs: DataFrame) = sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
    val cands = banded(batchSigs).as("x")
      .join(banded(corpusSigs).as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        // self-pair guard: on an epoch REPLAY the probed index already
        // holds the batch's own kept docs — a doc must never dup
        // itself, or the replayed epoch would drop everything it kept
        // the first time and rewrite itself empty
        col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val inter = F.sortedIntersect(col("shh_a"), col("shh_b"))
    val matches = cands
      .join(batchSigs.select(col("doc_id").as("new_id"), col("shh").as("shh_a")), "new_id")
      .join(corpusSigs.select(col("doc_id").as("old_id"), col("shh").as("shh_b")), "old_id")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("shh_a")) + size(col("shh_b")) - inter))
      .filter(col("jaccard") >= threshold)
    val top = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("new_id")).orderBy(col("old_id"))))
      .filter(col("rn") === 1)
      .select(col("new_id").as("doc_id"), col("old_id").as("dup_of"),
        round(col("jaccard"), 4).as("jaccard"))
    batchSigs.select(col("doc_id"))
      .join(top, Seq("doc_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .orderBy(col("doc_id"))
  }

  /** Ingest-stream face of [[dedupIncremental]]: a `foreachBatch`
    * writer that, per micro-batch, (1) signs the batch, (2) probes the
    * standing LSH index under `indexDir` (every `*.parquet` subdir, in
    * [[corpusSignatures]] layout — seed it with the corpus signatures
    * before starting), (3) hands the keep-verdicts to `onVerdicts`,
    * and (4) appends the KEPT docs' signatures as
    * `indexDir/b<batchId>` so later batches dedup against them — the
    * self-growing corpus index. The per-epoch directory is written
    * with overwrite mode, so a replayed epoch rewrites the same path
    * instead of double-appending (same idempotency rule as the
    * exactly-once sink's epoch ledger). Probing is per-batch bounded
    * work against a stored index; no streaming state, no watermark.
    * OWNERSHIP CONTRACT: epoch dirs are keyed by the stream's
    * batchId, so the index belongs to ONE logical stream (identified
    * by its checkpoint). Starting a DIFFERENT stream against the same
    * indexDir restarts at batch 0 and overwrites earlier epochs — on
    * restart reuse the original checkpointLocation, or point a new
    * stream at a fresh indexDir. */
  def dedupIncrementalStream(docs: DataFrame, indexDir: String,
                             numPerm: Int = 192, bands: Int = 24,
                             threshold: Double = 0.5)
                            (onVerdicts: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val batchSigs = materialized(corpusSignatures(batch, numPerm))
      try {
        // exclude this epoch's OWN delta dir from the probe input: on a
        // REPLAY it already holds the batch's kept signatures, and
        // probing it would let batch-mates dup each other (both kept
        // the first time, both dropped on replay — the epoch rewrites
        // empty, silent index data loss). Excluding it makes the
        // replayed probe see exactly the first run's index — and,
        // since the write target is then never a probe input, the
        // overwrite is safe without an eager materialization.
        val epochs = StoredArtifacts.listEpochs(spark, indexDir,
        prefix = "", exclude = Set(s"b$batchId"))
        require(epochs.nonEmpty, s"no signature epochs under $indexDir — " +
          "seed the index with the corpus signatures before streaming")
        val index = spark.read.parquet(epochs: _*)
        val verdicts = materialized(
          probeCorpus(batchSigs, index, numPerm, bands, threshold))
        try {
          onVerdicts(verdicts, batchId)
          batchSigs.join(verdicts.filter(col("keep")).select(col("doc_id")), "doc_id")
            .write.mode("overwrite").parquet(s"$indexDir/b$batchId")
        } finally verdicts.unpersist()
      } finally batchSigs.unpersist()
    }

  /** SimHash near-dup: candidates share one of four bands of the
    * signature, verified by Hamming distance <= maxHamming. Fast path:
    * 64-bit xxhash signature (16-bit bands). `portable`: 60-bit
    * md5-token-hash signature (15-bit bands) that a SQL oracle
    * recomputes bit-for-bit — signature, banding, Hamming verify and
    * partner assignment are all mirrored exactly. */
  def dedupSimhash(documents: DataFrame, maxHamming: Int = 6,
                   portable: Boolean = false): DataFrame = {
    val bandBits = if (portable) 15 else 16
    val bandMask = (1L << bandBits) - 1
    // NOT materialized: the signature is one codegen expression over the
    // scan — recomputing it per read is cheaper than five
    // InMemoryTableScans of columnar cache (persisting it here was
    // round 3's 6.5x regression).
    val docs = documents.select(col("doc_id"), F.simhash(tokens, portable).as("sim"))
    val banded = docs.select(col("doc_id"), col("sim"),
        posexplode(array((0 to 3).map(b =>
          shiftrightunsigned(col("sim"), b * bandBits).bitwiseAND(lit(bandMask))): _*)))
      .select(col("doc_id"), col("sim"), col("pos").as("band_id"), col("col").as("band_val"))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.sim").as("sim_a"),
        col("y.doc_id").as("b_id"), col("y.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
    // Each verified pair flips into BOTH partner rows via one explode —
    // the band self-join runs once. (The unionAll(cands, flip(cands))
    // formulation planned the whole join pipeline into each Union
    // branch: 2x the most expensive stage, at any scale.)
    val partners = cands.select(explode(array(
        struct(col("a_id").as("doc_id"), col("b_id").as("partner")),
        struct(col("b_id").as("doc_id"), col("a_id").as("partner")))).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.partner").as("partner"))
      .groupBy(col("doc_id")).agg(min(col("partner")).as("dup_partner"))
    docs.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sim").as("simhash"), col("dup_partner"))
      .orderBy(col("doc_id"))
  }

  /** Token-set Jaccard dedup with a signature-banded candidate stage:
    * MinHash over the distinct tokens → banded LSH buckets generate
    * candidates, then exact token-set Jaccard verifies via the
    * sorted-merge intersect kernel. `blockKeys` (e.g. lang/source)
    * compose metadata blocking with banding: the block columns are
    * FOLDED INTO the 8-byte band hash, so block-AND-band semantics
    * cost no extra join keys and no string replication in the shuffle.
    * 32 bands x 4 rows → >0.99 recall at threshold 0.8. */
  def dedupNgramJaccard(documents: DataFrame, threshold: Double = 0.8,
                        numPerm: Int = 128, bands: Int = 32,
                        blockKeys: Seq[String] = Nil): DataFrame = {
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    // Materialized signature table (token strings pruned away: only the
    // id, block keys, hashed token set and minhash signature persist);
    // banding and both verify joins read from this single cached pass.
    val docs = materialized(documents.select((Seq(col("doc_id")) ++ blockKeys.map(col) ++ Seq(
        array_distinct(tokens).as("tok_set"),
        sort_array(array_distinct(transform(array_distinct(tokens),
          t => xxhash64(t)))).as("tok_hashes"))): _*)
      .withColumn("sig", F.minhash(col("tok_set"), numPerm))
      .drop("tok_set"))
    val banded = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64((blockKeys.map(col) :+
            slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))): _*))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val inter = F.sortedIntersect(col("h_a"), col("h_b"))
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("tok_hashes").as("h_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("tok_hashes").as("h_b")), "b_id")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("h_a")) + size(col("h_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Block-then-band composition (the production default): metadata
    * bounds the similarity-degenerate case, banding bounds the
    * big-block case. */
  def dedupNgramJaccardComposed(documents: DataFrame, threshold: Double = 0.8): DataFrame =
    dedupNgramJaccard(documents, threshold, blockKeys = Seq("lang", "source"))

  /** Candidate stage of [[dedupNgramJaccardBlocked]], exposed for the
    * oversized-block spec: returns (materialized doc table, candidate
    * pairs). Blocks at or under `maxBlockSize` contribute every
    * within-block pair (exact); larger blocks switch to banded MinHash
    * LSH *within the block* (block keys folded into the band hash), so
    * a hot (lang, source, len_bucket) block generates O(collisions)
    * candidates instead of O(block²). */
  private[graft] def blockedCandidates(documents: DataFrame, maxBlockSize: Int,
      numPerm: Int, bands: Int): (DataFrame, DataFrame) = {
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    val byBlock = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"), col("len_bucket"))
    val docs = materialized(documents.select(col("doc_id"), col("lang"), col("source"),
        (col("n_chars") / 100).cast("int").as("len_bucket"),
        sort_array(array_distinct(transform(array_distinct(tokens),
          t => xxhash64(t)))).as("tok_hashes"))
      .withColumn("block_n", count(lit(1)).over(byBlock)))
    val small = docs.filter(col("block_n") <= maxBlockSize)
    val candsSmall = small.as("x").join(small.as("y"),
        col("x.lang") === col("y.lang") &&
        col("x.source") === col("y.source") &&
        col("x.len_bucket") === col("y.len_bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val cands = if (maxBlockSize == Int.MaxValue) candsSmall else {
      val big = docs.filter(col("block_n") > maxBlockSize)
        .withColumn("sig", F.minhashHashed(col("tok_hashes"), numPerm))
      val banded = big.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(col("lang"), col("source"), col("len_bucket"),
              slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
        .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
      val candsBig = banded.as("x").join(banded.as("y"),
          col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      candsSmall.unionAll(candsBig)
    }
    (docs, cands)
  }

  /** Attribute-blocked variant (classic record-linkage blocking on
    * (lang, source, length)) — kept for corpora where metadata blocking
    * is cheaper than signatures; block sizes grow with corpus, so the
    * banded [[dedupNgramJaccard]] is the default scale path. The
    * optional `maxBlockSize` guards the hot-block case: oversized
    * blocks band within the block instead of forming all pairs
    * (default off → output byte-identical to exact all-pairs blocking,
    * which is what the oracle mirrors). */
  def dedupNgramJaccardBlocked(documents: DataFrame, threshold: Double = 0.8,
                               maxBlockSize: Int = Int.MaxValue,
                               numPerm: Int = 128, bands: Int = 32): DataFrame = {
    val (docs, cands) = blockedCandidates(documents, maxBlockSize, numPerm, bands)
    val inter = F.sortedIntersect(col("h_a"), col("h_b"))
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("tok_hashes").as("h_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("tok_hashes").as("h_b")), "b_id")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("h_a")) + size(col("h_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Asymmetric CONTAINMENT near-dup detection — the complement of
    * Jaccard the exact-substring literature pairs with it (Lee et al.
    * report both): containment = |A∩B| / min(|A|,|B|) flags a short
    * doc embedded inside a long one (quote inclusion, boilerplate
    * wrapping, excerpt pages), which symmetric Jaccard DILUTES
    * toward 0 as the size gap grows. Same blocked candidate
    * generation and single-pass verify as
    * [[dedupNgramJaccardBlocked]]; emits both scores so the audit
    * shows exactly the pairs containment catches and Jaccard
    * misses. */
  def dedupContainment(documents: DataFrame, threshold: Double = 0.8,
                       maxBlockSize: Int = Int.MaxValue,
                       numPerm: Int = 128, bands: Int = 32): DataFrame = {
    val (docs, cands) = blockedCandidates(documents, maxBlockSize, numPerm, bands)
    val inter = F.sortedIntersect(col("h_a"), col("h_b"))
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("tok_hashes").as("h_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("tok_hashes").as("h_b")), "b_id")
      .withColumn("inter", inter)
      .withColumn("containment",
        col("inter").cast("double") / least(size(col("h_a")), size(col("h_b"))))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        round(col("containment"), 4).as("containment"),
        round(col("inter").cast("double") /
          (size(col("h_a")) + size(col("h_b")) - col("inter")), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Winnowing-fingerprint dedup: docs sharing >= `minShared` selected
    * fingerprints are near-dup candidates, verified by fingerprint-set
    * overlap ratio. The explode/group candidate generation is the
    * inverted-index pattern: pairs only form inside one fingerprint
    * bucket, never globally. */
  def dedupFingerprint(documents: DataFrame, minShared: Int = 3,
                       overlap: Double = 0.5, maxDocFreq: Int = 20,
                       portable: Boolean = false): DataFrame = {
    // One winnowing pass over the corpus feeding ONE linear pipeline:
    // no self-join, no window sort, no persisted intermediate — the
    // winnow kernel runs exactly once per doc per run.
    val exploded = documents.select(col("doc_id"),
        F.fingerprint(col("text"), 20, 4, portable).as("fp"))
      .select(col("doc_id"), size(col("fp")).cast("long").as("nfp"), explode(col("fp")).as("f"))
    // Stop-fingerprint removal (standard winnowing-index practice): a
    // gram shared by more than maxDocFreq docs is boilerplate and would
    // blow the bucket pair stage quadratically; true near-dups still
    // share plenty of rare grams. The df-cap rides the SAME groupBy that
    // builds the posting list: collectCapped keeps maxDocFreq + 1
    // members at most, so `size <= maxDocFreq` separates complete
    // buckets from boilerplate while a hot gram costs O(cap) memory at
    // every aggregation stage (map-side partials included) — no
    // unbounded hot-key bucket anywhere, which is what survives 100 TB.
    // size >= 2 also drops singleton grams (most of the index) before
    // they shuffle anywhere near the pair stage.
    val buckets = exploded
      .groupBy(col("f"))
      .agg(F.collectCapped(col("doc_id"), col("nfp"), maxDocFreq + 1).as("ds"))
      .filter(size(col("ds")).between(2, maxDocFreq))
    // In-bucket pair expansion: <= maxDocFreq^2/2 combos per gram.
    val pairs = buckets
      .select(explode(col("ds")).as("x"), col("ds"))
      .select(col("x"), explode(col("ds")).as("y"))
      .filter(col("x.id") < col("y.id"))
    pairs
      .groupBy(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .agg(count(lit(1)).as("shared"),
        first(col("x.aux")).as("na"), first(col("y.aux")).as("nb"))
      .filter(col("shared") >= minShared)
      .withColumn("overlap_ratio",
        round(col("shared").cast("double") / least(col("na"), col("nb")), 4))
      .filter(col("overlap_ratio") >= overlap)
      .select(col("a_id"), col("b_id"), col("shared"), col("overlap_ratio"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Connected components over near-dup pairs: iterative min-label
    * propagation with pointer halving — each round a node adopts the
    * min of (its label, its neighbors' labels, its label's label).
    * The label-of-label hop doubles the propagation distance per
    * round, so convergence is O(log diameter) instead of O(diameter).
    *
    * Per-round state is truncated with `localCheckpoint` by default
    * (fast, executor-storage-pinned); pass `checkpointDir` on a real
    * cluster to checkpoint to reliable storage instead — an executor
    * loss mid-job then recovers rather than failing the query.
    * Convergence is read from an `observe` metric computed inside the
    * checkpoint action itself: one Spark job per round, no separate
    * isEmpty/count pass.
    *
    * Input: (a_id, b_id) pairs. Output: (doc_id, cluster_id) with
    * cluster_id = min doc_id of the component; keep-one dedup keeps
    * doc_id == cluster_id. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25,
                  checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    // Symmetrize with one explode per pair, not unionAll(pairs, flip):
    // `pairs` is often a full near-dup pipeline (dedupClusters feeds the
    // banded-Jaccard output here) and the Union formulation would run
    // that pipeline twice inside this one checkpoint job.
    val edges = ckpt(pairs.select(explode(array(
        struct(col("a_id"), col("b_id")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id")))).as("e"))
      .select(col("e.a_id").as("a_id"), col("e.b_id").as("b_id")))
    // Initialize each node to min(id, min neighbor): the same shuffle a
    // distinct() would cost, but it fuses the whole first propagation
    // round into initialization — one fewer join-round to convergence.
    // Right-size the iteration's shuffles from the ACTUAL edge count:
    // every round's joins/aggs inherit spark.sql.shuffle.partitions,
    // which the session sizes for corpus-scale scans (thousands on a
    // real cluster) — but round state here is edge-scale, and tiny
    // rounds spread over many near-empty tasks pay scheduler overhead
    // per round instead of doing work (measured: the same sf0.1 query
    // swings 1.5-6 s at 32 partitions purely on task dispatch; an
    // interleaved same-JVM A/B put the win at ~30%). One
    // partition per ~2M edges, clamped to the session setting — the
    // same rule that picks 32 at sf0.1 picks thousands at 100 TB. The
    // count is one cheap job over the already-checkpointed edges.
    //
    // The smaller width is scoped to a CHILD session (shared context,
    // cache and checkpoint state; its own SQLConf): no session-global
    // conf mutation, so concurrent queries and concurrent dupClusters
    // calls are untouched. Edge rows cross sessions through the
    // already-checkpointed RDD — nothing upstream recomputes, and the
    // per-round row conversion is edge-scale (the only case where the
    // child session engages is when edges are small). A non-numeric
    // session setting (e.g. AQE-managed "auto" on some runtimes)
    // simply skips the clamp.
    val sessionParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(Long.MaxValue)
    val target = math.max(1L, math.min(sessionParts, edges.count() / 2000000L + 1L))
    val loop = if (target < sessionParts) {
      val s = spark.newSession()
      // newSession() derives SQLConf from SparkConf DEFAULTS, not the
      // caller's runtime session — copy the caller's modified entries
      // (ANSI mode, codegen flags, ...) so only shuffle width differs
      spark.conf.getAll.foreach { case (k, v) =>
        scala.util.Try(s.conf.set(k, v))
      }
      s.conf.set("spark.sql.shuffle.partitions", target.toString)
      s
    } else spark
    def rebind(to: org.apache.spark.sql.SparkSession, df: DataFrame): DataFrame =
      if (df.sparkSession eq to) df else to.createDataFrame(df.rdd, df.schema)
    val loopEdges = rebind(loop, edges)
    var labels = ckpt(loopEdges.groupBy(col("a_id").as("id"))
      .agg(least(col("a_id"), min(col("b_id"))).as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = loopEdges
        .join(labels.select(col("id").as("b_id"), col("label").as("nl")), "b_id")
        .groupBy(col("a_id").as("id")).agg(min(col("nl")).as("nmin"))
      // Persisted: the pointer-halving self-join below reads `stepped`
      // on both sides — without the cache the neighbor-min join+agg
      // subtree would execute twice per round (the same duplicated-
      // subtree defect the LSH signature tables had).
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("lbl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pointer halving: follow one hop through the label table (label
      // ids are always node ids, so the self-join is total)
      val hopped = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("hop")), Seq("lbl"), "left")
        .select(col("id"), col("label"),
          least(col("lbl"), coalesce(col("hop"), col("lbl"))).as("new_label"))
      val obs = org.apache.spark.sql.Observation()
      val next = hopped
        .observe(obs, coalesce(sum(when(col("new_label") < col("label"), 1L)
          .otherwise(0L)), lit(0L)).as("changed"))
        .select(col("id"), col("new_label").as("label"))
      labels = ckpt(next)
      stepped.unpersist(false) // next is checkpointed; round state is done
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      i += 1
    }
    // hand the result back in the CALLER's session (via the checkpoint
    // RDD) so downstream planning keeps the caller's shuffle width
    rebind(spark, labels)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end near-dup clustering: verified Jaccard near-dup pairs →
    * connected components → cluster summary (size, kept
    * representative). The pair stage is the exact-verified
    * [[dedupNgramJaccardBlocked]] output, so a SQL oracle reproduces
    * the whole chain (pairs + a recursive min-label fixpoint). */
  def dedupClusters(documents: DataFrame): DataFrame = {
    val pairs = dedupNgramJaccardBlocked(documents).select(col("a_id"), col("b_id"))
    dupClusters(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("cluster_id"))
  }

  /** Embedding-cosine near-dup detection: candidates restricted to a
    * shared random-hyperplane bucket in any of `numTables` independent
    * LSH tables (OR-amplification: P(miss) = (1-p^planes)^tables, with
    * p = 1 - theta/pi — ~1e-5 for cosine 0.99 at 6 planes x 8 tables),
    * verified by exact cosine >= `threshold`. Output: one row per
    * vector with its verified duplicate partner (min vec_id) or null —
    * candidates are a subset of all pairs and the verify is exact, so a
    * SQL oracle reproduces this from all-pairs cosine at gate scale.
    * At 100 TB, planes scale as log2(corpus/bucket-target); all-pairs
    * never runs. */
  def dedupEmbedding(embeddings: DataFrame, numPlanes: Int = 6,
                     threshold: Double = 0.95, numTables: Int = 8): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    // Materialized bucket table: the numTables hyperplane projections
    // run once; both sides of the bucket self-join read the cache.
    val banded = materialized(vecs.select(col("vec_id"),
        posexplode(array((0 until numTables).map(t =>
          F.hyperplaneBucket(col("embedding"), numPlanes, t * numPlanes)): _*)))
      .select(col("vec_id"), col("pos").as("table_id"), col("col").as("bucket")))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.table_id") === col("y.table_id") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val verified = cands
      .join(vecs.select(col("vec_id").as("a_id"), col("embedding").as("va")), "a_id")
      .join(vecs.select(col("vec_id").as("b_id"), col("embedding").as("vb")), "b_id")
      .withColumn("cos", F.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
    // One explode flips each verified pair into both partner rows — the
    // bucket join + cosine verify pipeline plans (and runs) once, where
    // unionAll(verified, flip) would duplicate it into each Union branch.
    val partners = verified.select(explode(array(
        struct(col("a_id").as("vec_id"), col("b_id").as("partner")),
        struct(col("b_id").as("vec_id"), col("a_id").as("partner")))).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.partner").as("partner"))
      .groupBy(col("vec_id")).agg(min(col("partner")).as("dup_partner"))
    vecs.select(col("vec_id"))
      .join(partners, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_partner"), col("dup_partner").isNotNull.as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embedding space, then dedup ONLY within each cluster — the
    * pairwise cosine is scoped to cluster size, never the corpus. The
    * quantizer is the oracle-proven sampled coarse quantizer shared
    * with [[Ann.annIvfSampled]] (centroids = smallest portable
    * md5(vec_id) hashes; argmax-cosine assignment, one broadcast cross
    * — no corpus shuffle). Within a cluster, a pair with cosine >=
    * `threshold` is a semantic duplicate; per the paper the member
    * FARTHEST from the centroid is kept (low centroid-cosine = the
    * informative outlier), so the higher-centroid-cosine member is
    * marked the dup (tie → higher vec_id, deterministic). Centroid
    * cosines are rounded at creation (6 dp) so the keep-rule compares
    * engine-portable values and a SQL oracle replays the whole chain.
    *
    * Output: one row per vector — its cluster, rounded centroid
    * cosine, the minimum partner it lost to (null if kept), verdict.
    *
    * Scale: this IS the SemDeDup design point — at 100 TB nlist grows
    * with the corpus (target cluster size stays constant, sqrt-n rule
    * or corpus/target), the cluster id is the partitioning key, and
    * the quadratic term is bounded by target-cluster-size² per
    * cluster. Candidate volume is cluster-bounded by construction, so
    * unlike LSH banding it cannot explode on a globally-similar
    * corpus; the trade is recall across cluster boundaries (the
    * paper's accepted loss). The assignment table is persisted once
    * for the two sides of the in-cluster self-join ([[materialized]]
    * discipline — at cluster scale it is the stored cluster index). */
  def dedupSemantic(embeddings: DataFrame, nlist: Int = 16,
                    threshold: Double = 0.95): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val cents = Ann.sampledCentroids(vecs, nlist)
    // assignment with the winning centroid cosine retained (rounded at
    // creation — the keep-rule's comparison key must be portable)
    val assigned = materialized(vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("list_id"),
        F.cosine(col("embedding"), col("c_vec")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(F.topk(col("ccos"), col("list_id"), 1).as("top"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        element_at(col("top"), 1).getField("id").as("list_id"),
        round(element_at(col("top"), 1).getField("score"), 6).as("cent_cos")))
    val x = assigned.as("x"); val y = assigned.as("y")
    val pairs = x.join(y,
        col("x.list_id") === col("y.list_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .filter(F.cosine(col("x.embedding"), col("y.embedding")) >= threshold)
    // keep-rule: the member closer to the centroid loses (higher
    // cent_cos); exact tie → the higher vec_id loses
    val losers = pairs.select(
        when(col("x.cent_cos") > col("y.cent_cos"),
          struct(col("x.vec_id").as("vec_id"), col("y.vec_id").as("partner")))
        .when(col("y.cent_cos") > col("x.cent_cos"),
          struct(col("y.vec_id").as("vec_id"), col("x.vec_id").as("partner")))
        .otherwise(
          struct(col("y.vec_id").as("vec_id"), col("x.vec_id").as("partner"))).as("l"))
      .select(col("l.vec_id").as("vec_id"), col("l.partner").as("partner"))
      .groupBy(col("vec_id")).agg(min(col("partner")).as("dup_partner"))
    assigned.select(col("vec_id"), col("list_id"), col("cent_cos"))
      .join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"), col("cent_cos"),
        col("dup_partner"), col("dup_partner").isNotNull.as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** QUALITY-AWARE cluster representative — pick the BEST document per
    * near-dup cluster instead of [[dedupClusters]]' min-id keeper: the
    * curation refinement that keeps the cleanest copy of every
    * duplicated page (boilerplate-stripped mirrors, truncated
    * re-crawls and OCR-damaged copies all lose to the original under
    * a quality score; min-id keeps whichever crawled first). Keeper =
    * argmax (p_keep, then min doc_id) over each cluster's members,
    * with p_keep from the fixed-weight [[TextOps.textQualityLr]]
    * scorer — engine-identical 4-dp doubles, so the argmax is
    * deterministic on both sides.
    *
    * Scale shape: the cluster labeling is [[dupClusters]]' existing
    * banded near-dup + connected-components machinery (never
    * all-pairs); the quality score is row-local; the argmax is one
    * clusters-sized struct-max aggregate. */
  /** LEAKAGE-SAFE train/eval SPLIT — assign whole NEAR-DUP CLUSTERS
    * to splits, not documents: a doc-granular hash split puts one
    * copy of a duplicated page in train and another in eval, and the
    * eval number silently measures memorization (the train-test leak
    * the decontamination literature exists for — splitting at
    * cluster granularity makes it structurally impossible).
    * Singletons are their own cluster (cluster_id = doc_id); the
    * split hash is the portable md5 of the CLUSTER id, so every
    * member lands together by construction — and the output's
    * `spanning_clusters` column (clusters seen in BOTH splits) gates
    * that guarantee at exactly 0 through the oracle.
    *
    * Scale shape: cluster labeling is the existing banded+CC
    * machinery; the assignment is row-local on the docs-sized
    * (doc, cluster) frame (materialized once — the audit aggregates
    * read it twice); both audits are split/cluster-sized combinable
    * aggregates. */
  def leakageSafeSplit(documents: DataFrame, trainPermille: Int = 800): DataFrame = {
    val labels = dupClusters(
      dedupNgramJaccardBlocked(documents).select(col("a_id"), col("b_id")))
    val assigned = documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(pmod(conv(substring(md5(concat(col("cluster_id").cast("string"),
          lit(":split"))), 1, 15), 16, 10).cast("long"), lit(1000L))
          < trainPermille, "train").otherwise("eval"))
      .localCheckpoint()
    val spanning = assigned.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("spanning_clusters"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(broadcast(spanning))
      .orderBy(col("split"))
  }

  def dedupBestKeeper(documents: DataFrame): DataFrame = {
    val labels = dupClusters(
      dedupNgramJaccardBlocked(documents).select(col("a_id"), col("b_id")))
    val quality = graft.operators.TextOps.textQualityLr(documents)
      .select(col("doc_id"), col("p_keep"))
    labels.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("p_keep"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("b.nid")).as("keep_id"), col("b.p_keep").as("keep_quality"))
      .orderBy(col("cluster_id"))
  }

  /** EDIT-DISTANCE NEAR-DUP PAIRS over a short derived field — the
    * title/URL-grade fuzzy dedup (OCR noise, trailing-punct variants,
    * case drift) that shingle Jaccard over-fragments on: candidate
    * pairs form only inside (lang, length-band, 2-char-prefix)
    * blocks, each block capped at `maxBlockSize` rows (the
    * fingerprint-family bound — candidates ≤ blocks·cap²/2 BY
    * CONSTRUCTION), then exact Levenshtein ≤ `maxDist` verifies each
    * candidate row-locally (O(titleLen²) per pair, a constant).
    * Blocking is the stated recall tradeoff (an edit in the first
    * two chars or across a length-band edge escapes the block — the
    * classic multi-pass/sorted-neighborhood extension point, same
    * contract as dedup_ngram_blocked); distance-0 pairs always
    * co-block. The oracle mirrors the SAME blocked generation, so
    * the gate is exact, not recall-fuzzy. */
  def dedupEditDistance(documents: DataFrame, maxDist: Int = 3,
                        titleLen: Int = 40,
                        maxBlockSize: Int = 64): DataFrame =
    editBlockPairs(editTitles(documents, titleLen), prefixBlockKey,
      maxBlockSize)
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("doc_id_a"), col("doc_id_b"))

  /** The (doc_id, lang, title) frame both edit-distance faces block. */
  private def editTitles(documents: DataFrame, titleLen: Int): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        lower(trim(substring(col("text"), 1, titleLen))).as("title"))
      .filter(col("title") =!= "" && col("lang").isNotNull)

  /** Pass-1 key: (lang, length div 8 band, 2-char PREFIX). */
  private def prefixBlockKey: Column =
    concat_ws(":", col("lang"),
      expr("CAST(length(title) div 8 AS STRING)"),
      substring(col("title"), 1, 2))

  /** Pass-2 (ROTATED) key: (lang, OFFSET length band, 2-char SUFFIX)
    * — each component rotated against pass 1's failure modes: a
    * first-two-chars edit shares the suffix, and a pair straddling a
    * pass-1 band edge (multiples of 8) sits mid-band at offset +4
    * (a length-L vs L±d pair for d ≤ 3 splits across BOTH bandings
    * only if it straddles a multiple of 8 AND a multiple-of-8-plus-4,
    * impossible for d ≤ 4). */
  private def suffixBlockKey: Column =
    concat_ws(":", col("lang"),
      expr("CAST((length(title) + 4) div 8 AS STRING)"),
      expr("right(title, 2)"))

  /** Pass-3 (MID-ANCHOR q-gram) key: (lang, length band, the 2 chars
    * at the title field's fixed midpoint) — closes the two-pass blind
    * spot the r11 contract stated: a pair edited at BOTH ends (first
    * two chars AND last two) escapes the prefix and suffix keys but
    * shares the untouched middle. The anchor is a FIXED position
    * (chars 20–21 of the 40-char title field), not length-relative,
    * so substitution edits never move it; titles shorter than the
    * anchor share the empty q-gram inside their (lang, band) block —
    * small blocks by construction, still capped. Remaining stated
    * miss: an INDEL before the anchor shifts the mid-gram (inherent
    * to positional q-grams — full q-gram inverted blocking is the
    * unbounded alternative), or 3 substitutions hitting prefix,
    * middle and suffix at once. */
  private def midBlockKey: Column =
    concat_ws(":", col("lang"),
      expr("CAST(length(title) div 8 AS STRING)"),
      substring(col("title"), 20, 2))

  /** One blocked pass: cap each block at `maxBlockSize` rows (by
    * doc_id rank — candidates ≤ blocks·cap²/2 BY CONSTRUCTION), then
    * ordered within-block pairs WITH both titles (so the union of
    * passes can dedup before paying Levenshtein). */
  private def editBlockPairs(titles: DataFrame, blockKey: Column,
                             maxBlockSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = titles.withColumn("blk", blockKey)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxBlockSize)
    // both pair sides read the blocked frame — materialize so the
    // title window runs once, not once per side
    val tm = materialized(t)
    val a = tm.select(col("blk"), col("doc_id").as("doc_id_a"),
      col("title").as("ta"))
    val b = tm.select(col("blk"), col("doc_id").as("doc_id_b"),
      col("title").as("tb"))
    a.join(b, Seq("blk"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("ta"), col("tb"))
  }

  /** MULTI-PASS [[dedupEditDistance]] — the rotated-re-blocking
    * extension its recall bound names: pass 1 blocks on the prefix
    * key, pass 2 on the rotated suffix key, pass 3 (round 12) on the
    * fixed mid-anchor q-gram key; candidates UNION + pair-dedup
    * BEFORE the Levenshtein verify (each pair pays the O(titleLen²)
    * kernel once even when several passes surface it). Recall covers
    * the single-pass blind spots — an edit in the first two chars
    * (same suffix → pass 2 co-blocks), a pass-1 band-edge pair (the
    * offset band is mid-band there; see [[suffixBlockKey]] for why
    * d ≤ 3 pairs cannot straddle both bandings), and now a DOUBLE
    * edit touching both ends (untouched middle → pass 3 co-blocks;
    * see [[midBlockKey]]) — at exactly 3× the bounded candidate
    * budget (3·blocks·cap²/2). Remaining stated miss: indels
    * shifting the mid anchor, or edits at prefix+middle+suffix
    * simultaneously. The oracle mirrors the same three-pass
    * generation, so the gate stays exact. */
  def dedupEditDistanceMultipass(documents: DataFrame, maxDist: Int = 3,
                                 titleLen: Int = 40,
                                 maxBlockSize: Int = 64): DataFrame = {
    val titles = materialized(editTitles(documents, titleLen))
    val cand = editBlockPairs(titles, prefixBlockKey, maxBlockSize)
      .union(editBlockPairs(titles, suffixBlockKey, maxBlockSize))
      .union(editBlockPairs(titles, midBlockKey, maxBlockSize))
      .distinct()
    cand
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }
}
