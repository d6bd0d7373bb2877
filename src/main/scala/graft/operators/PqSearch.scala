package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DotProduct

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * quantization for nearest neighbor search"): split the D-dim embedding
  * into `m` subvectors, fit an independent k-means codebook per subspace,
  * and store each vector as `m` small codes — here 4 × (16-way) codes =
  * 4 bytes against 256 bytes of float32, a 64× compression. Queries score
  * candidates by asymmetric distance computation (ADC): one
  * query-to-centroid distance table per subspace (m·k entries), each
  * candidate's distance approximated as the sum of its m table entries —
  * a table lookup per subspace instead of a D-dim dot product.
  *
  * Completes the vector tier: [[IvfSearch]] routes (which lists to scan),
  * [[VectorQuant]] SQ8 compresses 4× with per-dimension scalar codes, PQ
  * is the memory-bound regime's codec (codes fit in cache at corpus sizes
  * where even SQ8 spills). The standard production stack is IVF routing
  * over PQ codes with exact re-ranking — composable from these parts
  * (v8 demonstrates the rerank stage).
  *
  * Determinism: training reuses [[IvfSearch.kmeansFit]]'s deterministic
  * Lloyd per subspace (lowest-id init, (dist, cid) tie-break, round-6
  * means), encoding ties break on the lower code id, and the ADC sum is
  * evaluated in fixed left-assoc subspace order — so the whole
  * train→encode→ADC chain replays bit-for-bit in the DuckDB oracle (i2).
  */
object PqSearch {

  private def dist2(a: Column, b: Column): Column = DotProduct.dist2(a, b)

  /** Per-subspace codebooks: `books(s)` is the (cid, centroid) list for
    * subspace s over dims [s·subDim, (s+1)·subDim). */
  case class Codebooks(m: Int, subDim: Int, books: Seq[Seq[(Int, Seq[Double])]])

  /** Fit m independent codebooks — ONE persisted corpus projection
    * shared by all m subspace Lloyd fits: each fit's jobs re-slice the
    * cached (id, emb) base (a row-local projection off cache) instead of
    * re-reading and re-casting the source m times and holding m sliced
    * caches. The fits themselves are [[IvfSearch]]'s deterministic Lloyd,
    * unchanged. */
  def train(corpus: DataFrame, idCol: String, embCol: String,
            m: Int, k: Int, iters: Int, roundDecimals: Int): Codebooks = {
    DotProduct.register(corpus.sparkSession) // fitPrepared's dist2 probes
    val base = corpus
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // EAGER cache population: the parallel fits below all scan `base`
      // concurrently, and a lazily persisted frame only materializes
      // per-partition at first touch — concurrent first readers would
      // race-compute the same partitions (the profiled CC union race)
      base.count()
      val dim = base.select(size(col("emb"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sub = dim / m
      // the m subspace fits are INDEPENDENT jobs over one shared cache:
      // submit them from a small thread pool so one fit's driver
      // roundtrips (per-iteration centroid collects) back-fill the
      // cores the others leave idle (guide §2.6 — overlap independent
      // jobs). Each fit is the same deterministic Lloyd; assembling by
      // subspace index keeps the codebook order identical to the
      // sequential form.
      //
      // The fits run with AQE off and a shuffle width sized to the Lloyd
      // loop's OWN reduce state: every exchange inside an iteration
      // carries only partially aggregated per-(centroid, dimension)
      // means — at most mapParts·k·dim rows regardless of corpus size —
      // so session-width rounds are stages of near-empty tasks, and
      // AQE's materialize-and-replan cycle per exchange adds more
      // scheduling for shapes that are fixed and known. Reduce rows ≈
      // mapParts·k·dim (dim bounded at a conservative 1024) are sized to
      // ~64 MB of 24-byte entries per partition, so a 100 TB corpus with
      // 100k scan partitions gets a proportionally wider reduce; the
      // session width is the cap. The heavy per-row work (k·dim distance
      // terms per vector) lives in the MAP stages over the cached base's
      // partitioning, which this does not touch. One scope wraps ALL
      // fits (narrowed before the pool spawns, restored after every fit
      // joined); the pool threads only run fitPrepared, which never
      // narrows, so they never wait on the scope's lock.
      val mapParts = base.rdd.getNumPartitions.toLong
      val books = ShuffleWidth.narrowed(base.sparkSession,
          mapParts * k * 1024L * 24L / (64L << 20) + 1L) { _ =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fits = (0 until m).map { s =>
            scala.concurrent.Future {
              IvfSearch.fitPrepared(
                base.select(col("id"),
                  slice(col("emb"), s * sub + 1, sub).as("emb")),
                k, iters, roundDecimals)
            }
          }
          // await ALL fits before leaving (collecting failures, first
          // rethrown after): an early throw would let the enclosing
          // finally chain restore the session conf and unpersist `base`
          // while sibling fits still run (pool.shutdown() does not
          // cancel in-flight work) — stray jobs would then recompute
          // the unpersisted base under the restored conf
          val done = fits.map(f => scala.util.Try(
            scala.concurrent.Await.result(f,
              scala.concurrent.duration.Duration.Inf)))
          done.map(_.get)
        } finally pool.shutdown()
      }
      Codebooks(m, sub, books)
    } finally base.unpersist()
  }

  /** Persist codebooks at rest: (s, cid, centroid) rows — m·k rows of
    * subDim doubles, tiny next to any corpus. Parity with
    * [[IvfSearch.saveIndex]]: at deployment scale you train ONCE, store
    * the codebooks (and the encoded corpus, via any table sink), and
    * every later session encodes/scores from the loaded artifact — the
    * m training passes never rerun. */
  def saveCodebooks(cb: Codebooks, spark: org.apache.spark.sql.SparkSession,
                    path: String): Unit = {
    import spark.implicits._
    val rows = for { s <- 0 until cb.m; (cid, c) <- cb.books(s) } yield (s, cid, c)
    rows.toDF("s", "cid", "centroid")
      .repartition(1) // m·k rows
      .write.mode("overwrite").parquet(path)
  }

  /** Reconstitute saved codebooks; exact inverse of [[saveCodebooks]]
    * (doubles ride parquet bit-exactly, so a loaded book encodes and
    * ADC-scores identically to the in-memory original — pinned by
    * PqSearchSpec's round-trip). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                    path: String): Codebooks = {
    val rows = spark.read.parquet(path)
      .select(col("s"), col("cid"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(rows.nonEmpty, s"no codebook rows at $path")
    val m = rows.map(_._1).max + 1
    val books = (0 until m).map { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(t => t._2 -> t._3).toSeq
    }
    val subDim = books.head.head._2.size
    Codebooks(m, subDim, books)
  }

  /** (id, c0..c{m-1}): per-subspace nearest-codeword ids. ONE corpus scan —
    * all m·k literal-centroid comparisons fuse into the projection (no
    * joins, no shuffle); ties break toward the lower code id via the
    * (distance, cid) struct ordering. */
  def encode(corpus: DataFrame, idCol: String, embCol: String,
             cb: Codebooks): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    val base = corpus.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("emb"))
    (0 until cb.m).foldLeft(base) { (df, s) =>
      val sl = slice(col("emb"), s * cb.subDim + 1, cb.subDim)
      val scored = cb.books(s).map { case (cid, c) =>
        struct(dist2(sl, typedLit(c)).as("d"), lit(cid).as("cid"))
      }
      df.withColumn(s"c$s", least(scored: _*).getField("cid"))
    }.drop("emb")
  }

  /** ADC top-k for a bounded query set. The |queries|·m·k distance table
    * is built ENGINE-side from driver-collected query slices and literal
    * centroids (so each entry is the same sequential-fold dot arithmetic
    * the oracle's `list_dot_product` computes), broadcast against the code
    * columns, and summed in fixed left-assoc subspace order — no FP
    * reassociation anywhere. The scan side touches only the m code
    * columns: the point of PQ — candidate scoring never reads the
    * original embeddings. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, cb: Codebooks,
              idCol: String, embCol: String, topK: Int): DataFrame = {
    val tables = distanceTables(queries, cb, idCol, embCol)
    // the first subspace join supplies the q_id expansion itself (every
    // candidate matches one t0 row per query) — no separate cross join
    // pass over the candidate set
    var scored = encoded.join(
      broadcast(tables.filter(col("s") === 0)
        .select(col("q_id"), col("cid").as("tc0"), col("d").as("d0"))),
      col("c0") === col("tc0"))
    (1 until cb.m).foreach { s =>
      val t = broadcast(tables.filter(col("s") === s)
        .select(col("q_id").as(s"tq$s"), col("cid").as(s"tc$s"), col("d").as(s"d$s")))
      scored = scored.join(t,
        col("q_id") === col(s"tq$s") && col(s"c$s") === col(s"tc$s"))
    }
    finishAdc(scored, cb, topK, tables)
  }

  /** ADC top-k restricted to per-query candidate lists — the IVF-routed
    * composition. `candidates` is a (q_id, id) pair frame (e.g. the
    * members of each query's probed inverted lists, from
    * [[IvfSearch.route]] joined to the inverted file); pairs must be
    * distinct. Scoring touches only those pairs' code columns — the
    * routed stack never reads an unrouted vector's codes, let alone its
    * embedding. Same fixed-order ADC arithmetic and (adc, id) tie-break
    * as [[adcTopK]]. */
  def adcTopKWithin(queries: DataFrame, candidates: DataFrame,
                    encoded: DataFrame, cb: Codebooks,
                    idCol: String, embCol: String, topK: Int): DataFrame = {
    val tables = distanceTables(queries, cb, idCol, embCol)
    // candidates supply the (q_id, id) expansion; every subspace join —
    // including s=0 — is keyed on q_id AND the code column
    var scored = candidates
      .select(col("q_id").cast("long").as("q_id"), col("id"))
      .join(encoded, "id")
    (0 until cb.m).foreach { s =>
      val t = broadcast(tables.filter(col("s") === s)
        .select(col("q_id").as(s"tq$s"), col("cid").as(s"tc$s"), col("d").as(s"d$s")))
      scored = scored.join(t,
        col("q_id") === col(s"tq$s") && col(s"c$s") === col(s"tc$s"))
    }
    finishAdc(scored, cb, topK, tables)
  }

  /** Per-(query, subspace, codeword) distance table: |queries|·m·k rows,
    * built ENGINE-side from driver-collected query slices and literal
    * centroids (so each entry is the same sequential-fold dot arithmetic
    * the oracle's `list_dot_product` computes), persisted for the m
    * broadcast joins that consume it. Caller releases via the frame
    * handed to [[finishAdc]]. */
  private def distanceTables(queries: DataFrame, cb: Codebooks,
                             idCol: String, embCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    DotProduct.register(spark)
    val qRows = queries
      .select(col(idCol).cast("long").as("q_id"),
        col(embCol).cast("array<double>").as("q_emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val tableRows = for {
      (qid, qemb) <- qRows.toSeq
      s <- 0 until cb.m
      (cid, c) <- cb.books(s)
    } yield (qid, s, cid, qemb.slice(s * cb.subDim, (s + 1) * cb.subDim), c)
    val tables = tableRows.toDF("q_id", "s", "cid", "qs", "c")
      .withColumn("d", dist2(col("qs"), col("c")))
      .select(col("q_id"), col("s"), col("cid"), col("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tables.count()
    tables
  }

  /** Shared ADC tail: fixed left-assoc subspace sum, (adc, id) ranked
    * top-k, bounded materialize, table release. */
  private def finishAdc(scored: DataFrame, cb: Codebooks, topK: Int,
                        tables: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    val adc = (1 until cb.m).foldLeft(col("d0"))((acc, s) => acc + col(s"d$s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("id"))
    val out = scored.filter(col("id") =!= col("q_id"))
      .withColumn("adc", adc)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("id").as("neighbor"), col("adc"),
        col("rk").cast("long").as("rk"))
    // bounded result (|queries|·topK): materialize, then release the table
    val res = spark.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)
    tables.unpersist()
    res
  }
}
