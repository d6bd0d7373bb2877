package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * cluster-pruned alternative to hyperplane LSH (`AnnSearch`): a coarse
  * k-means quantizer assigns every vector to its nearest centroid, and a
  * query scans only the `nprobe` nearest inverted lists.
  *
  * Scale design: training iterations are assignment jobs over the corpus
  * (broadcast centroids — k·dim doubles — against a partitioned corpus;
  * the per-iteration driver collect is k rows of means, never data).
  * Search cost is |lists probed| / k of the corpus per query versus
  * LSH's collision-driven candidates; IVF wins when the corpus clusters,
  * LSH when it doesn't. Everything is deterministic: initial centroids
  * are the k lowest-id vectors, and ties in assignment break on centroid
  * id — no RNG anywhere (same property the oracle-checked operators
  * rely on).
  */
object IvfSearch {

  private def dot(a: Column, b: Column): Column = DotProduct.dotProduct(a, b)

  /** Squared L2 distance — the shared left-assoc expansion the oracles
    * replay; single definition lives next to the expression. */
  private def dist2(a: Column, b: Column): Column = DotProduct.dist2(a, b)

  /** Deterministic Lloyd's k-means over the embedding column. Returns
    * (centroid_id, centroid) rows collected to the driver (k·dim values).
    *
    * `roundDecimals >= 0` rounds every updated centroid mean to that many
    * decimals after each iteration — the engine-portability convention
    * (NOTES "round(x,4) avgs"): cross-row double means are summation-order
    * dependent at the last ulp, and rounding makes the fitted centroids —
    * and therefore every downstream assignment — bit-identical between
    * Spark and the DuckDB oracle replay. */
  private def projection(corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"))

  def kmeansFit(corpus: DataFrame, idCol: String, embCol: String,
                k: Int, iters: Int, roundDecimals: Int = -1): Seq[(Int, Seq[Double])] = {
    DotProduct.register(corpus.sparkSession)
    // every iteration runs an assignment job AND a mean job over the
    // corpus — persist the projected (id, emb) once so 2·iters passes hit
    // cache instead of re-reading and re-casting the source (at cluster
    // scale: cache or checkpoint the training projection, never re-scan
    // the lake per Lloyd step)
    val e = projection(corpus, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitPrepared(e, k, iters, roundDecimals)
    finally e.unpersist()
  }

  /** Lloyd loop over an already-prepared (id, emb) projection whose
    * UPSTREAM the caller has persisted (either the projection itself, or
    * — as [[PqSearch.train]] does — one shared base the projection
    * slices from, so m subspace fits reuse a single cache). */
  private[graft] def fitPrepared(e: DataFrame, k: Int, iters: Int,
                                 roundDecimals: Int): Seq[(Int, Seq[Double])] = {
    var centroids: Seq[(Int, Seq[Double])] = e.orderBy("id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](1) }
    for (_ <- 0 until iters) {
      val assigned = assign(e, centroids)
      // element-wise mean per cluster: posexplode to (cid, pos, val),
      // per-dimension avg — the SAME round(avg(...)) aggregate the
      // unrolled oracle replays, bit for bit — then assemble the k·dim
      // mean rows into arrays ON THE DRIVER. The assembly used to be a
      // second groupBy (collect_list + array_sort + transform): a whole
      // extra exchange per Lloyd iteration spent ordering k·dim rows the
      // driver is about to collect anyway. (r19 also measured the
      // "one wide groupBy of dim sum(element_at) columns" form: SLOWER —
      // 65 aggregate exprs re-planned per iteration cost more than the
      // exchange they saved.)
      val mean = if (roundDecimals >= 0) round(avg(col("col")), roundDecimals)
                 else avg(col("col"))
      val updated = assigned
        .select(col("centroid_id"), posexplode(col("emb")))
        .groupBy(col("centroid_id"), col("pos")).agg(mean.as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // a cluster that lost all members keeps its previous centroid
      centroids = centroids.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    centroids
  }

  /** (id, emb, centroid_id): nearest centroid per vector. */
  def assign(e: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val scored = centroids.map { case (cid, c) =>
      struct(dist2(col("emb"), typedLit(c)).as("d"), lit(cid).as("cid"))
    }
    e.withColumn("best", least(scored: _*))
      .select(col("id"), col("emb"), col("best.cid").as("centroid_id"))
  }

  /** IVF index: (vec_id, centroid_id) + the centroid table. The
    * `assignments` table IS the inverted file and stays persisted (that is
    * the point of an index — probes read it repeatedly); release it with
    * [[Index.close]] when done. */
  case class Index(centroids: Seq[(Int, Seq[Double])], assignments: DataFrame) {
    def close(): Unit = assignments.unpersist()
  }

  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
                 k: Int, iters: Int, roundDecimals: Int = -1): Index = {
    DotProduct.register(corpus.sparkSession)
    val e = projection(corpus, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cs = fitPrepared(e, k, iters, roundDecimals)
      // materialize the inverted file while the training projection is
      // still cached — the final assignment pass reads cache, and the
      // persisted assignments table is what probes hit afterwards
      val assignments = assign(e, cs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assignments.count()
      Index(cs, assignments)
    } finally e.unpersist()
  }

  /** Persist an index at rest: the centroid table (k·dim doubles — tiny)
    * and the inverted file, PARTITIONED BY centroid_id so each inverted
    * list is its own parquet directory. Build once, query many times —
    * at corpus scale the index outlives the session that trained it, and
    * the partition layout lets a probe read `nprobe/k` of the corpus
    * from disk: the probe join broadcasts the (tiny) probed-list side,
    * so dynamic partition pruning drops the unprobed lists at the SCAN,
    * which is the at-rest analog of the in-memory inverted file. */
  def saveIndex(index: Index, path: String): Unit = {
    val spark = index.assignments.sparkSession
    import spark.implicits._
    index.centroids.toDF("centroid_id", "centroid")
      .repartition(1) // k rows
      .write.mode("overwrite").parquet(s"$path/centroids")
    index.assignments
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/assignments")
  }

  /** Reconstitute a saved index. The assignments read lazily from the
    * partitioned parquet (no cache is taken — callers probing in a tight
    * loop can persist; one-shot probes rely on partition pruning);
    * [[Index.close]] on a loaded index is a no-op. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val cs = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    Index(cs, spark.read.parquet(s"$path/assignments")
      .select(col("id"), col("emb"), col("centroid_id")))
  }

  /** Routing stage alone: (q_id, q_emb, centroid_id) — the `nprobe`
    * nearest inverted lists per query. Centroid count is tiny, so this is
    * a per-row sort over a literal array (no join, no shuffle). Exposed
    * separately so compositions can score the routed lists with something
    * other than exact cosine — the production stack routes here and then
    * scores PQ codes ([[PqSearch.adcTopKWithin]]) before an exact rerank. */
  def route(queries: DataFrame, index: Index, idCol: String, embCol: String,
            nprobe: Int): DataFrame = {
    DotProduct.register(queries.sparkSession)
    val q = queries
      .select(col(idCol).as("q_id"), col(embCol).cast("array<double>").as("q_emb"))
    val probes = index.centroids.map { case (cid, c) =>
      struct(dist2(col("q_emb"), typedLit(c)).as("d"), lit(cid).as("cid"))
    }
    q.withColumn("probe",
        explode(slice(array_sort(array(probes: _*)), 1, nprobe)))
      .select(col("q_id"), col("q_emb"), col("probe.cid").as("centroid_id"))
  }

  /** FILTERED approximate cosine top-k ("filtered vector search"):
    * like [[approxTopK]], but a candidate only qualifies if its `meta`
    * row's `matchCol` equals the QUERY's `matchCol` value — constrained
    * retrieval (nearest same-class / same-tenant / same-language
    * neighbors), the serving pattern ANN systems bolt on as a WHERE
    * clause. This is the PRE-filter strategy: the predicate cuts the
    * candidate set between probe and scoring, so top-k never spends its
    * budget on excluded vectors (a POST-filter — rank first, filter
    * after — silently returns < k rows whenever the filter bites, and
    * inflating k to compensate re-scores the whole list).
    *
    * `meta` is keyed by `idCol` and carries `matchCol` for the CORPUS
    * side; the query's own `matchCol` column supplies its match value
    * (queries need not exist in `meta` — serving-time vectors carry
    * their own constraint, and a missing column fails analysis loudly
    * instead of silently dropping the query). Scale shape: routing
    * broadcasts as usual; the predicate lands on the candidate set via
    * one equi-join against `meta` — at deployment you denormalize hot
    * filter columns INTO the inverted file at build time (the k6
    * postings pattern) and the join disappears; keeping `meta` separate
    * here means one index serves any metadata without rebuild. */
  /** The exact-cosine scoring and per-query ranking tail every probe
    * variant shares (candidates carry q_id, q_emb, id, emb): round-6
    * cosine, (cos desc, id) window, rk <= k. ONE copy so the three
    * entry points cannot drift in rounding or tie semantics. */
  private def scoreAndRank(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands.withColumn("cos",
      round(dot(col("q_emb"), col("emb")) /
        (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("emb"), col("emb")))), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("neighbor"), col("cos"),
        col("rk").cast("long").as("rk"))
  }

  def approxTopKFiltered(queries: DataFrame, index: Index, idCol: String,
                         embCol: String, k: Int, nprobe: Int,
                         meta: DataFrame, matchCol: String): DataFrame = {
    DotProduct.register(queries.sparkSession)
    // one row per id: duplicate meta rows would duplicate candidates and
    // let one neighbor occupy several of the k ranks. min() rather than
    // dropDuplicates — an id carrying CONFLICTING match values then
    // resolves the same way on every run instead of nondeterministically
    val m = meta.select(col(idCol).as("id"), col(matchCol).as("m_match"))
      .groupBy(col("id")).agg(min(col("m_match")).as("m_match"))
    val qm = queries.select(col(idCol).as("q_id"), col(matchCol).as("q_match"))
    val probed = route(queries, index, idCol, embCol, nprobe).join(qm, "q_id")
    val cands = broadcast(probed)
      .join(index.assignments, Seq("centroid_id"))
      .join(m, Seq("id"))
      .filter(col("id") =!= col("q_id") && col("m_match") === col("q_match"))
    scoreAndRank(cands, k)
  }

  /** Approximate cosine top-k WITHIN an allowed id set ("metadata-
    * filtered vector search"): [[approxTopK]]'s probe, with the
    * candidate set cut to `allowed` (any frame carrying an `idCol`
    * column — a tenant's collection, a language slice, an ACL grant)
    * by a semi-join BETWEEN probe and scoring. Like
    * [[approxTopKFiltered]] this is the PRE-filter strategy — the top-k
    * budget is spent entirely inside the allowed subset, where a
    * post-filter silently returns < k rows whenever the filter bites —
    * but the constraint is an arbitrary id SET rather than equality on
    * the query's own metadata value ("search these docs" vs "search my
    * class"). Scale shape: the probed inverted lists are the only
    * corpus rows touched; the semi-join is left unhinted so Catalyst/
    * AQE broadcast a small slice and shuffle a huge one — at deployment
    * the hot filter columns denormalize INTO the inverted file at build
    * time (the k6 postings pattern) and the join becomes a pushed
    * predicate on the list scan. */
  def approxTopKWithin(queries: DataFrame, index: Index, idCol: String,
                       embCol: String, k: Int, nprobe: Int,
                       allowed: DataFrame): DataFrame = {
    DotProduct.register(queries.sparkSession)
    val probed = route(queries, index, idCol, embCol, nprobe)
    val cands = broadcast(probed)
      .join(index.assignments, Seq("centroid_id"))
      .join(allowed.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .filter(col("id") =!= col("q_id"))
    scoreAndRank(cands, k)
  }

  /** Two-stage probe over the BINARY-QUANTIZED storage tier: probe the
    * `nprobe` nearest lists, COARSE-rank the candidates by sign-bit
    * Hamming distance (1 bit/dim — the 64×-compressed scan a BQ-encoded
    * inverted file runs, integer-exact on both engines), keep the top
    * `pool` per query (ham asc, id tie-break), then EXACT-rerank the
    * pool through the shared [[scoreAndRank]] tail. The IVF face of the
    * v8 SQ8 two-stage shape: at deployment the lists store 8 bytes per
    * 64-dim vector for the coarse pass, and full precision is touched
    * for `pool` rows per query only. */
  def approxTopKBq(queries: DataFrame, index: Index, idCol: String,
                   embCol: String, k: Int, nprobe: Int, pool: Int): DataFrame = {
    DotProduct.register(queries.sparkSession)
    val probed = route(queries, index, idCol, embCol, nprobe)
    val cands = broadcast(probed)
      .join(index.assignments, Seq("centroid_id"))
      .filter(col("id") =!= col("q_id"))
      .withColumn("ham", size(filter(
        zip_with(col("q_emb"), col("emb"),
          (a, b) => (a > lit(0.0)) =!= (b > lit(0.0))), x => x)).cast("long"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("id"))
    val shortlist = cands.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= pool)
    scoreAndRank(shortlist, k)
  }

  /** Approximate cosine top-k: probe the `nprobe` nearest inverted lists
    * per query, exact cosine within them. */
  def approxTopK(queries: DataFrame, index: Index, idCol: String, embCol: String,
                 k: Int, nprobe: Int): DataFrame = {
    DotProduct.register(queries.sparkSession)
    val probed = route(queries, index, idCol, embCol, nprobe)
    val cands = broadcast(probed)
      .join(index.assignments, Seq("centroid_id"))
      .filter(col("id") =!= col("q_id"))
    scoreAndRank(cands, k)
  }
}
