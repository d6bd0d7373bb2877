package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the 100 TB scale path
  * for document dedup (north-star extension, SURVEY §7.2 phase 8; the
  * exact n-gram Jaccard baseline it approximates is
  * `queries/TextOps.d6JaccardNearDup`).
  *
  * Pipeline: word 3-shingles → K minhash values → B bands of R rows →
  * band-signature bucket join → candidate pairs → exact Jaccard verify.
  *
  * Scale design:
  *   - the signature step is ONE hash-aggregate (K min() columns over the
  *     exploded shingles, partial-aggregated map-side) — no K-way row
  *     explosion and no per-hash shuffle;
  *   - the bucket join is an equi-join on (band, signature), so candidate
  *     generation is a hash join whose cost tracks the number of true
  *     collisions, never the O(n²) pair space;
  *   - the exact-Jaccard verify re-joins shingles only for candidate
  *     pairs (LSH output), keeping verification cost proportional to the
  *     candidate count.
  *
  * All hashes are [[PortableHash.hex60]] so the DuckDB oracle replays the
  * pipeline value-for-value.
  */
object MinHashDedup {

  // K=16 hashes in B=8 bands of R=2: candidate probability at Jaccard s
  // is 1-(1-s²)⁸ ≈ 0.90 at s=0.5 and 0.996 at s=0.7. R=2 admits more
  // false candidates than deeper bands, but the exact-Jaccard verify
  // step filters them, and verification cost tracks candidate count.
  val K = 16      // minhash functions
  val R = 2       // rows per band
  val B: Int = K / R

  // The K hash functions are ONE md5 per shingle followed by K affine
  // rehashes h_k = (A_k·h + B_k) mod P over the Mersenne prime P=2³¹−1
  // (the standard minhash family). md5 dominated the profile 16× before;
  // the affine products stay < 2⁶² so int64 arithmetic is exact and the
  // DuckDB oracle replays it bit-for-bit. Coefficients are seeded from
  // [[PortableHash.hex60]] so both engines derive identical constants.
  val P: Long = 2147483647L
  val coeffA: IndexedSeq[Long] = (0 until K).map(k => PortableHash.hex60(s"A$k") % (P - 1) + 1)
  val coeffB: IndexedSeq[Long] = (0 until K).map(k => PortableHash.hex60(s"B$k") % P)

  /** (id, shingle_set) — per-document array of DISTINCT word 3-shingles;
    * documents shorter than 3 tokens contribute their whole text as one
    * shingle. Dedup is `array_distinct` (per-row, no shuffle) — an
    * explode+distinct would shuffle every shingle string across the
    * cluster just to dedup within documents. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // shingles via slice + zip_with, NOT per-element element_at lambdas:
    // the optimizer freely duplicates this expression (e.g.
    // InferFiltersFromGenerate pushes a size()>0 copy beneath the
    // projection), and an element_at form re-runs `split` per element
    // when inlined — O(tokens²) per copy, profiled ~7x slower. The
    // slice/zip_with form stays O(tokens) per evaluation no matter how
    // many times it is duplicated or inlined.
    val ws = split(col(textCol), " ")
    val n = size(ws)
    val grams = zip_with(
      zip_with(slice(ws, lit(1), n - 2), slice(ws, lit(2), n - 2), (a, b) => concat_ws(" ", a, b)),
      slice(ws, lit(3), n - 2),
      (ab, c) => concat_ws(" ", ab, c))
    docs.repartition(col(idCol)).select(
      col(idCol).as("id"),
      array_distinct(when(n >= 3, grams).otherwise(array(col(textCol)))).as("shset"))
  }

  /** (id, shingle) — exploded form of [[shingleSets]]. */
  def shingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleSets(docs, idCol, textCol)
      .select(col("id"), explode(col("shset")).as("shingle"))

  /** (id, mh: array<long>) — one row per document, ZERO shuffles: the
    * K-min fold runs as a row-local codegen'd expression
    * (`graft.functions.MinHashSignature`) over the per-document shingle
    * hash array, instead of exploding shingles into a K-column
    * aggregate. One md5 per shingle (the K variants are affine
    * rehashes computed inside the expression). */
  def signatureFromSets(sets: DataFrame): DataFrame = {
    graft.functions.SketchFunctions.register(sets.sparkSession)
    sets.select(col("id"),
      graft.functions.SketchFunctions.minhashSig(
        graft.functions.SketchFunctions.hex60Array(col("shset"))).as("mh"))
  }

  /** (id, hsh: array<long>, sz) — the HASHED shingle sets: the one
    * expensive pass over document text (split → 3-shingle → distinct →
    * md5 per shingle) a sweep needs. Every table a sweep consumes — the
    * minhash signatures/band table (candidate generation), the exploded
    * shingle hashes (exact-Jaccard verify) and the set sizes — is a
    * row-local derivation of this frame, so sweeps persist IT and pay
    * the text pass once; before r19 each derived table re-ran the whole
    * chain (3 corpus text passes per sweep). */
  private def hashedSets(sets: DataFrame): DataFrame = {
    graft.functions.SketchFunctions.register(sets.sparkSession)
    sets.select(col("id"),
      graft.functions.SketchFunctions.hex60Array(col("shset")).as("hsh"),
      size(col("shset")).cast("long").as("sz"))
  }

  /** [[signatureFromSets]] over an already-hashed (id, hsh, ...) frame —
    * row-local (the K affine rehashes fold over the hash array). */
  private def signatureFromHashes(hs: DataFrame): DataFrame =
    hs.select(col("id"),
      graft.functions.SketchFunctions.minhashSig(col("hsh")).as("mh"))

  /** Distinct candidate pairs (id_a < id_b) off a band table. */
  private def pairsFromBands(bs: DataFrame): DataFrame =
    bs.as("a").join(bs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** (id, band, sig) — band signature = md5 of the comma-joined minhash
    * values, so bucket keys are fixed-width strings. */
  def bandSignatures(sigs: DataFrame): DataFrame = {
    val bands = (0 until B).map { b =>
      val cols = (b * R until (b + 1) * R)
        .map(k => element_at(col("mh"), k + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    sigs.select(col("id"), explode(array(bands: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Distinct candidate pairs (id_a < id_b) sharing any band bucket. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    candidatePairsFromSets(shingleSets(docs, idCol, textCol))

  def candidatePairsFromSets(sets: DataFrame): DataFrame = {
    // persist the band table before self-joining: both join sides would
    // otherwise recompute the whole shingle→hash→signature chain (B
    // small rows per doc — cache cost is negligible next to the chain).
    // Lifecycle: the returned plan READS this cache lazily, so it cannot
    // be unpersisted here; callers that loop over corpora should
    // `spark.catalog.clearCache()` between runs (Bench/Verify do)
    val bs = bandSignatures(signatureFromSets(sets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairsFromBands(bs)
  }

  /** Exact shingle-set Jaccard over candidate `pairs`, filtered to
    * `>= threshold`, over (id, sh) hash and (id, sz) size tables (every
    * sweep derives these from its persisted hashed sets; the index-backed
    * sweep reads them from tables). Set sizes come straight from the
    * per-row shingle arrays (no aggregation shuffle); only the
    * intersection count needs the exploded join — and that join carries
    * `hex60(shingle)` longs (8 bytes) instead of raw shingle strings
    * (~25+ bytes), cutting the verify phase's shuffle bytes ~4× at a
    * 2⁻⁶⁰ per-pair collision risk. The DuckDB oracle joins on the same
    * hashes, so results stay bit-identical by construction. */
  private def verifyJaccardFrom(pairs: DataFrame, sh: DataFrame,
                                sizes: DataFrame, threshold: Double): DataFrame = {
    val inter = pairs
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("id_a") === col("za.id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("za.sz") + col("zb.sz") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs with exact Jaccard attached (see [[verifyJaccard]]),
    * over one corpus. The hashed shingle sets persist EAGERLY (count())
    * before the band table and the verify tables derive from them: the
    * pair join + the three verify reads land in one job whose concurrent
    * stages would otherwise race-compute the same partitions of a lazy
    * cache (the ConnectedComponents eager-persist precedent). Cache
    * lifecycle: callers clearCache between runs (Bench/Verify do). */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    val hs = hashedSets(shingleSets(docs, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hs.count()
    val bs = bandSignatures(signatureFromHashes(hs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccardFrom(pairsFromBands(bs),
      hs.select(col("id"), explode(col("hsh")).as("sh")),
      hs.select(col("id"), col("sz")),
      threshold)
  }

  /** INCREMENTAL near-dup detection: every pair touching `newDocs` —
    * new-vs-corpus plus within-new — exactly the pairs
    * `nearDuplicates(corpus ∪ newDocs)` emits minus the corpus-internal
    * ones, WITHOUT generating a single corpus×corpus candidate. This is
    * the continuous-ingest shape: when 0.1% of a 100 TB corpus arrives,
    * re-pairing the whole corpus is 10⁶× the work actually needed; here
    * the corpus contributes one pass to (re)build its band table — which
    * a production deployment precomputes and keeps bucketed by
    * (band, sig) — and the batch probes it with a hash equi-join.
    *
    * Doc ids must be disjoint between the two inputs. Pair orientation
    * follows the batch convention (id_a < id_b), so results compare
    * directly against the one-shot run (spec-pinned equal). */
  def nearDuplicatesAgainst(corpus: DataFrame, newDocs: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double): DataFrame =
    nearDuplicatesAgainstWithCaches(corpus, newDocs, idCol, textCol, threshold)._1

  /** [[nearDuplicatesAgainst]] plus the band-table caches it left
    * persisted, so looping callers (the per-batch streaming gate) can
    * release them after consuming the result instead of clearing the
    * whole shared cache. */
  /** Both incremental sweeps assume corpus and batch doc ids are
    * DISJOINT — a replayed micro-batch (checkpoint restart) whose ids
    * already sit in the corpus would otherwise double every shared id in
    * the verification tables and silently fabricate pairs with
    * over-counted Jaccard. This probe turns that into an error: one
    * column-pruned pass over the corpus id column against the broadcast
    * batch ids, short-circuited at the first hit. Production gates that
    * have established id discipline upstream can opt out per call
    * (`validateDisjoint = false`) to skip the per-batch pass. */
  private def requireDisjointIds(corpusIds: DataFrame, newDocs: DataFrame,
                                 idCol: String): Unit = {
    // no broadcast hint: a typical micro-batch broadcasts anyway (AQE),
    // but a bulk backfill batch must degrade to a shuffle join rather
    // than hit the broadcast size ceiling inside a validation probe
    val clash = corpusIds.toDF("id")
      .join(newDocs.select(col(idCol).as("id")), Seq("id"))
      .limit(1).count()
    require(clash == 0L,
      "incremental near-dup sweep: batch contains doc ids already present " +
        "in the corpus/index (replayed batch?) — shared ids would silently " +
        "corrupt the Jaccard verification; dedup ids upstream or pass " +
        "validateDisjoint = false after establishing id discipline")
  }

  private[graft] def nearDuplicatesAgainstWithCaches(
      corpus: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      validateDisjoint: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    // both sessions: under foreachBatch the new-docs batch lives in a
    // cloned session with its own function registry (see Decontaminate)
    graft.functions.SketchFunctions.register(corpus.sparkSession)
    graft.functions.SketchFunctions.register(newDocs.sparkSession)
    if (validateDisjoint) requireDisjointIds(corpus.select(col(idCol)), newDocs, idCol)
    // ONE persisted text pass per side (eager — the sweep's joins read
    // each side several ways in one job; see nearDuplicates): bands,
    // verify hashes and sizes all derive row-locally from it
    val hsC = hashedSets(shingleSets(corpus, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hsC.count()
    val hsN = hashedSets(shingleSets(newDocs, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hsN.count()
    // both band tables persist for the same reason candidatePairsFromSets
    // persists: each is read by two joins below (lifecycle: caller
    // clearCache or unpersist the returned caches)
    val bandsC = bandSignatures(signatureFromHashes(hsC))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsN = bandSignatures(signatureFromHashes(hsN))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cross = bandsN.as("n").join(bandsC.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .select(least(col("n.id"), col("c.id")).as("id_a"),
        greatest(col("n.id"), col("c.id")).as("id_b"))
    val within = bandsN.as("a").join(bandsN.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    (verifyJaccardFrom(cross.union(within).distinct(),
      hsC.select(col("id"), explode(col("hsh")).as("sh"))
        .unionByName(hsN.select(col("id"), explode(col("hsh")).as("sh"))),
      hsC.select(col("id"), col("sz"))
        .unionByName(hsN.select(col("id"), col("sz"))),
      threshold), Seq(bandsC, bandsN, hsC, hsN))
  }

  /** The corpus side of the incremental sweep at rest: the band table
    * (candidate generation), the shingle-hash table (exact-Jaccard
    * verification), and the per-document set sizes. Everything a batch
    * probe needs WITHOUT touching corpus text again. `caches` holds the
    * frames [[buildDedupIndex]] left persisted (the hashed-sets base) so
    * a wave driver can release the index DETERMINISTICALLY when its loop
    * ends ([[release]]) instead of leaving the widest cached frame
    * resident until a global clearCache (the r19 32-core residency
    * pathology). Loaded at-rest indexes carry no caches. */
  case class DedupIndex(bands: DataFrame, shingleHashes: DataFrame,
                        sizes: DataFrame, caches: Seq[DataFrame] = Nil) {
    def release(): Unit = caches.foreach(_.unpersist())
  }

  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String): DedupIndex = {
    graft.functions.SketchFunctions.register(corpus.sparkSession)
    // ONE persisted text pass (eager: a consumer's first job typically
    // joins all three index tables at once, and concurrent stages over a
    // lazy cache race-compute the same partitions); the three tables are
    // row-local derivations. Lifecycle: callers release() when their
    // loop is done (or clearCache between runs — the
    // candidatePairsFromSets convention) — per-wave drivers reuse the
    // SAME index frames across waves, which is the point
    val hs = hashedSets(shingleSets(corpus, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hs.count()
    DedupIndex(
      bandSignatures(signatureFromHashes(hs)),
      hs.select(col("id"), explode(col("hsh")).as("sh")),
      hs.select(col("id"), col("sz")),
      caches = Seq(hs))
  }

  /** [[nearDuplicates]] served from an in-memory [[DedupIndex]] — the
    * wave drivers' seed-pair derivation: candidate generation and
    * verification all read the index's ONE persisted text pass instead
    * of re-shingling the corpus under a second (plan-aliased) cache
    * entry. Returns the band cache this call persists alongside the
    * pairs so the caller releases it as soon as the pairs are
    * materialized. Emits exactly [[nearDuplicates]]' rows: same hashes,
    * same band table, same verify arithmetic (oracle-pinned by every
    * consumer's own SQL). */
  private[graft] def nearDuplicatesFromIndexWithCaches(index: DedupIndex,
      threshold: Double): (DataFrame, Seq[DataFrame]) = {
    // persist the band table before self-joining (the
    // candidatePairsFromSets rationale: both join sides would re-derive
    // the signature fold); released by the caller via the handle
    val bs = index.bands
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (verifyJaccardFrom(pairsFromBands(bs),
      index.shingleHashes, index.sizes, threshold), Seq(bs))
  }

  /** Persist a dedup index as three BUCKETED tables
    * (`<prefix>_bands/_shingles/_sizes`): bands bucketed+sorted by its
    * probe key (band, sig), shingles and sizes by the verify key (id).
    * Bucketing is the at-rest point: a per-batch probe joined on the
    * bucket key reads the corpus side IN PLACE — only the (tiny) batch
    * side shuffles into bucket layout — so sweeping a 0.1% delta never
    * re-shuffles the 99.9%. Rebuild cadence: the index is append-only
    * per ingested batch (new rows land in the same bucket scheme);
    * compaction re-runs [[saveDedupIndex]]. */
  def saveDedupIndex(index: DedupIndex, prefix: String, buckets: Int = 64): Unit = {
    index.bands.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "sig").sortBy("band", "sig")
      .saveAsTable(s"${prefix}_bands")
    index.shingleHashes.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${prefix}_shingles")
    index.sizes.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${prefix}_sizes")
  }

  def loadDedupIndex(spark: org.apache.spark.sql.SparkSession,
                     prefix: String): DedupIndex =
    DedupIndex(spark.table(s"${prefix}_bands"),
      spark.table(s"${prefix}_shingles"), spark.table(s"${prefix}_sizes"))

  /** [[nearDuplicatesAgainst]] with the corpus side served ENTIRELY from
    * a prebuilt [[DedupIndex]] — the production shape of the streaming
    * ingest gate: corpus text is never read, the batch probes the
    * bucketed band table and verifies against the bucketed shingle
    * hashes. Emits the same pairs as the from-text sweep (spec-pinned). */
  def nearDuplicatesAgainstIndex(index: DedupIndex, newDocs: DataFrame,
                                 idCol: String, textCol: String,
                                 threshold: Double,
                                 validateDisjoint: Boolean = true): DataFrame =
    nearDuplicatesAgainstIndexWithCaches(
      index, newDocs, idCol, textCol, threshold, validateDisjoint)._1

  /** [[nearDuplicatesAgainstIndex]] plus the batch band-table cache it
    * left persisted — same contract as [[nearDuplicatesAgainstWithCaches]]
    * so a foreachBatch loop releases one cache per micro-batch instead of
    * accumulating them (or nuking caller-owned tables via clearCache). */
  private[graft] def nearDuplicatesAgainstIndexWithCaches(
      index: DedupIndex, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      validateDisjoint: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    val s = sweepAgainstIndex(index, newDocs, idCol, textCol, threshold,
      validateDisjoint)
    (s.pairs, s.caches)
  }

  /** One batch sweep against a prebuilt index, with the batch's OWN
    * index rows exposed as `delta` — the accumulating-ingest contract:
    * the caller lands `delta` at rest (appended to the corpus index) so
    * the NEXT batch's sweep covers this batch's docs without ever
    * re-reading their text. `delta` includes every batch doc — kept,
    * dropped, or contaminated — because the drop policy needs pairs
    * against docs that themselves lost an earlier gate (a near-dup of a
    * dropped doc is still a near-dup of the corpus). */
  private[graft] case class BatchSweep(pairs: DataFrame, delta: DedupIndex,
                                       caches: Seq[DataFrame])

  private[graft] def sweepAgainstIndex(
      index: DedupIndex, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      validateDisjoint: Boolean = true): BatchSweep = {
    graft.functions.SketchFunctions.register(newDocs.sparkSession)
    if (validateDisjoint) requireDisjointIds(index.sizes.select(col("id")), newDocs, idCol)
    // ONE persisted text pass over the batch (eager — see nearDuplicates)
    val hsN = hashedSets(shingleSets(newDocs, idCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hsN.count()
    val bandsN = bandSignatures(signatureFromHashes(hsN))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cross = bandsN.as("n").join(index.bands.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .select(least(col("n.id"), col("c.id")).as("id_a"),
        greatest(col("n.id"), col("c.id")).as("id_b"))
    val within = bandsN.as("a").join(bandsN.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val shN = hsN.select(col("id"), explode(col("hsh")).as("sh"))
    val sizesN = hsN.select(col("id"), col("sz"))
    BatchSweep(
      verifyJaccardFrom(cross.union(within).distinct(),
        index.shingleHashes.unionByName(shN), index.sizes.unionByName(sizesN),
        threshold),
      DedupIndex(bandsN, shN, sizesN), Seq(bandsN, hsN))
  }
}
