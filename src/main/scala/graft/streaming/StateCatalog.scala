package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Every rolling state table [[StreamOps]] keeps under a gate's
  * `statePath`, declared once: its directory name, its kind, and its
  * schema (a function of the writer's id type where the table carries
  * ids). Every land, replay read, as-of read, prune and compaction goes
  * through a declaration, so the rules below live here only.
  *
  * Every kind lands `batch_id`-partitioned (plus `shard` for the sharded
  * segment logs) with dynamic partition overwrite, so a checkpoint replay
  * of batch b rewrites its own partition instead of appending a duplicate.
  *
  *  - '''Snapshot''': each wave lands the FULL table. Its `batch_id=<b>`
  *    directory is materialized even when the table is empty, so the
  *    listing tells an empty frontier from a pruned one. After the land
  *    every partition but the newest two is deleted: keep=2 is the latest
  *    plus the previous one, which is exactly what a replay of the newest
  *    batch reads (Structured Streaming only replays the newest
  *    uncommitted batch); a crash mid-prune leaves extra partitions, never
  *    missing ones. A wave reads the latest snapshot strictly below its
  *    batch id, chosen by the partition DIRECTORY listing (metadata only,
  *    never a row-level max), or its seed on a cold start. As of frontier
  *    `a` (inclusive) is the latest snapshot at or below `a`; when none is
  *    left there but later ones exist, `a` was pruned and the read fails
  *    loudly rather than answer from the seed's epoch.
  *  - '''Log''': append-only data, each row stamped with the wave that
  *    landed it. A wave replays `batch_id < b`, so a replayed batch never
  *    sees its own rows; as of `a` is `batch_id <= a`. Nothing supersedes
  *    a row; [[StreamOps.maintain]] merges small files per partition
  *    ([[graft.sources.Sources.compactParquet]]), keeping every row.
  *  - '''Tombstones''': the (id, dead_batch) log of superseded or deleted
  *    versions; its own `batch_id` is the wave that killed the version,
  *    which is what as-of reads cut on. A segment merge drops the named
  *    versions and then clears the log; it is never file-compacted.
  *
  * Declaration order is [[StreamOps.maintainSteps]]' order: its prune
  * steps follow the snapshots, its compaction steps the logs. */
private[graft] object StateCatalog {

  sealed trait Kind
  case object Snapshot extends Kind
  case object Log extends Kind
  case object Tombstones extends Kind

  /** One state table; `what` names a snapshot in its as-of failure. */
  final case class Table(name: String, kind: Kind,
      schema: DataType => StructType, sharded: Boolean = false,
      what: String = "") {

    def dir(statePath: String): String = s"$statePath/$name"

    def partitions: Seq[String] =
      if (sharded) Seq("batch_id", "shard") else Seq("batch_id")

    def exists(spark: SparkSession, statePath: String): Boolean =
      pathExists(spark, dir(statePath))

    def hasData(spark: SparkSession, statePath: String): Boolean =
      hasParquetData(spark, dir(statePath))

    def empty(spark: SparkSession, idType: DataType = LongType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(idType))

    /** Every landed row with its partition columns, read with the
      * declared schema: an absent or data-file-less directory is an
      * empty frame, never a schema-inference error. */
    def read(spark: SparkSession, statePath: String,
        idType: DataType = LongType): DataFrame = {
      val full = partitions.foldLeft(schema(idType)) { (st, p) =>
        st.add(p, if (p == "batch_id") LongType else IntegerType)
      }
      if (exists(spark, statePath)) spark.read.schema(full).parquet(dir(statePath))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
    }

    /** A schema-inferring read, for serves that do not know the writer's
      * id type (`batch_id` reads as an int there). */
    def inferred(spark: SparkSession, statePath: String): DataFrame =
      spark.read.parquet(dir(statePath))

    /** Replay read: the rows of the waves strictly below `batchId`. */
    def before(spark: SparkSession, statePath: String, batchId: Long,
        idType: DataType = LongType): DataFrame =
      read(spark, statePath, idType).filter(col("batch_id") < batchId)
        .drop("batch_id")

    /** As-of read of a log: the waves at or below `asOf`, `batch_id` kept. */
    def through(spark: SparkSession, statePath: String, asOf: Long,
        idType: DataType = LongType): DataFrame =
      read(spark, statePath, idType).filter(col("batch_id") <= asOf)

    /** The latest snapshot strictly below `before`, or `seed`. */
    def latest(spark: SparkSession, statePath: String, before: Long,
        idType: DataType, seed: => DataFrame): DataFrame =
      pick(spark, statePath, idType, seed,
        landedBatches(spark, dir(statePath)).filter(_ < before).maxOption)

    /** The snapshot as of frontier `asOf` (inclusive), or `seed` when no
      * snapshot has landed at all; a pruned frontier fails loudly. */
    def asOf(spark: SparkSession, statePath: String, asOf: Long,
        idType: DataType, seed: => DataFrame): DataFrame = {
      val landed = landedBatches(spark, dir(statePath))
      val last = landed.filter(_ <= asOf).maxOption
      if (last.isEmpty && landed.nonEmpty)
        sys.error(s"${what}AsOf: no $what snapshot at or before batch $asOf " +
          "(pruned? retention keeps the last two snapshots)")
      pick(spark, statePath, idType, seed, last)
    }

    private def pick(spark: SparkSession, statePath: String,
        idType: DataType, seed: => DataFrame, last: Option[Long]): DataFrame =
      last match {
        case None => seed.select(schema(idType).fieldNames.toSeq.map(col): _*)
        case Some(b) => read(spark, statePath, idType)
          .filter(col("batch_id") === b).drop("batch_id")
      }

    /** Land one wave. A snapshot also materializes its partition
      * directory and prunes to the newest two. A frame that already
      * carries `batch_id` lands as it is. */
    def land(df: DataFrame, statePath: String, batchId: Long): Unit = {
      landDelta(df, dir(statePath), batchId, partitions)
      if (kind == Snapshot) {
        val spark = df.sparkSession
        val part = new Path(s"${dir(statePath)}/batch_id=$batchId")
        val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(part)) fs.mkdirs(part)
        prune(spark, statePath)
      }
    }

    /** Delete every snapshot partition but the newest two. Returns
      * (partitions before, partitions after). */
    def prune(spark: SparkSession, statePath: String): (Long, Long) = {
      require(kind == Snapshot, s"$name is not a snapshot table")
      val fs = new Path(dir(statePath))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = batchDirs(spark, dir(statePath)).sortBy(-_._1)
      val deleted = parts.drop(2).count { case (_, d) => fs.delete(d, true) }
      (parts.size.toLong, (parts.size - deleted).toLong)
    }

    /** Merge each partition's small files toward `targetBytes`. Returns
      * (files before, files after); an absent directory is (0, 0). */
    def compact(spark: SparkSession, statePath: String,
        targetBytes: Long): (Long, Long) = {
      require(kind == Log, s"$name is not an append-only log")
      if (!exists(spark, statePath)) (0L, 0L)
      else graft.sources.Sources.compactParquet(spark, dir(statePath), targetBytes)
    }
  }

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private def idPair(a: String, b: String): DataType => StructType =
    t => st(a -> t, b -> t)

  private def tombstones(name: String) =
    Table(name, Tombstones, t => st("id" -> t, "dead_batch" -> LongType))

  /** The banded media fingerprint: (doc_id, b0..b{n-1}) plus the
    * exploded (t, bv) probe key, with the band count taken from
    * [[graft.multimodal.MediaOps.MmNdBands]]. */
  private val ndBands: DataType => StructType = _ =>
    st(("doc_id" -> LongType) +:
      (0 until graft.multimodal.MediaOps.MmNdBands).map(t => s"b$t" -> (LongType: DataType)) :+
      ("t" -> IntegerType) :+ ("bv" -> LongType): _*)
  private val ndPairs: DataType => StructType = _ =>
    st("doc_a" -> LongType, "doc_b" -> LongType, "hamming" -> IntegerType)

  val Labels = Table("labels", Snapshot, idPair("id", "component"), what = "label")
  val Rep = Table("rep", Snapshot, t => st("component" -> t, "n_docs" -> LongType,
    "q_sum" -> LongType, "best_q_e6" -> LongType, "best_doc" -> t), what = "rep")
  val SemLabels = Table("sem_labels", Snapshot, idPair("id", "component"),
    what = "semLabels")
  val Kanon = Table("kanon", Snapshot, _ => st("level" -> IntegerType,
    "source" -> StringType, "lang" -> StringType, "len_class" -> LongType,
    "sz" -> LongType), what = "kanon")
  val Bm25Stats = Table("bm25_stats", Snapshot,
    _ => st("n" -> LongType, "sumdl" -> LongType), what = "stats")
  val Pr = Table("pr", Snapshot, t => st("id" -> t, "pr" -> LongType),
    what = "pagerank")

  val IvfAssign = Table("ivf_assign", Log, t => st("id" -> t,
    "emb" -> ArrayType(DoubleType), "centroid_id" -> IntegerType))
  val SemAssign = Table("sem_assign", Log, IvfAssign.schema)
  val Bm25Postings = Table("bm25_postings", Log, t => st("term" -> StringType,
    "id" -> t, "dli" -> IntegerType, "tf" -> LongType), sharded = true)
  val Bm25Doclens = Table("bm25_doclens", Log, t => st("id" -> t, "dli" -> LongType))
  val FuzzyVariants = Table("fuzzy_variants", Log, _ => st("term" -> StringType,
    "df" -> LongType, "variant" -> StringType), sharded = true)
  val PosPostings = Table("pos_postings", Log, t => st("id" -> t,
    "pos" -> IntegerType, "term" -> StringType), sharded = true)
  val PosDocs = Table("pos_docs", Log, t => st("id" -> t))
  val Pairs = Table("pairs", Log,
    t => st("id_a" -> t, "id_b" -> t, "jaccard" -> DoubleType))
  val Bands = Table("bands", Log,
    t => st("id" -> t, "band" -> IntegerType, "sig" -> StringType))
  val Shingles = Table("shingles", Log, t => st("id" -> t, "sh" -> LongType))
  val Sizes = Table("sizes", Log, t => st("id" -> t, "sz" -> LongType))
  val PrEdges = Table("pr_edges", Log, idPair("src", "dst"))
  val ImgFp = Table("img_fp", Log, ndBands)
  val ImgNd = Table("img_nd", Log, ndPairs)
  val AudFp = Table("aud_fp", Log, ndBands)
  val AudNd = Table("aud_nd", Log, ndPairs)
  val VidFp = Table("vid_fp", Log, ndBands)
  val VidNd = Table("vid_nd", Log, ndPairs)
  val SpanGrams = Table("span_grams", Log,
    _ => st("id" -> LongType, "pos" -> IntegerType, "gh" -> LongType))
  val SpanEvents = Table("span_events", Log,
    _ => st("id" -> LongType, "pos" -> IntegerType))
  val SpanDoclens = Table("span_doclens", Log,
    _ => st("id" -> LongType, "n_tokens" -> LongType))

  val Bm25Tombstones = tombstones("bm25_tombstones")
  val PosTombstones = tombstones("pos_tombstones")
  val IvfTombstones = tombstones("ivf_tombstones")
  val IvfBaseTombstones = tombstones("ivf_base_tombstones")

  val tables: Seq[Table] = Seq(Labels, Rep, SemLabels, Kanon, Bm25Stats, Pr,
    IvfAssign, SemAssign, Bm25Postings, Bm25Doclens, FuzzyVariants,
    PosPostings, PosDocs, Pairs, Bands, Shingles, Sizes, PrEdges,
    ImgFp, ImgNd, AudFp, AudNd, VidFp, VidNd,
    SpanGrams, SpanEvents, SpanDoclens,
    Bm25Tombstones, PosTombstones, IvfTombstones, IvfBaseTombstones)

  def apply(name: String): Table = tables.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no state table named $name"))

  /** Existence via the Hadoop FileSystem API, which resolves the path's
    * own scheme (file://, hdfs://, s3a://, …); a `java.io.File` probe is
    * always false for non-local URIs and would read state as empty. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True iff `path` holds at least one parquet data file (recursive): a
    * directory can exist with only empty lands in it, and a schema-less
    * read of it fails with an opaque 'Unable to infer schema'. */
  def hasParquetData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      found = f.getLen > 0 && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }
    found
  }

  private def batchDirs(spark: SparkSession, path: String): Seq[(Long, Path)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("batch_id=")) n.stripPrefix("batch_id=").toLongOption.map(_ -> s.getPath)
      else None
    }
  }

  /** The landed `batch_id=<n>` partitions of `path`, by directory
    * listing — metadata only, never a row scan. */
  def landedBatches(spark: SparkSession, path: String): Seq[Long] =
    batchDirs(spark, path).map(_._1)

  /** Land a batch-scoped frame at `path` with dynamic partition
    * overwrite, under a `land <dir> b=<n>` job label. */
  def landDelta(df: DataFrame, path: String, batchId: Long,
      partitions: Seq[String] = Seq("batch_id")): Unit =
    graft.operators.JobLabel(df.sparkSession,
      s"land ${path.split('/').takeRight(1).mkString} b=$batchId") {
      (if (df.columns.contains("batch_id")) df
       else df.withColumn("batch_id", lit(batchId)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitions: _*)
        .parquet(path)
    }
}
