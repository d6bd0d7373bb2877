package graft.operators

import org.apache.spark.sql.SparkSession

/** The one place graft changes a session's shuffle width. Small
  * iterative loops (the [[ConnectedComponents]] rounds, the
  * [[PqSearch]] Lloyd fits, the [[BpeTrain]] merge rounds) and the
  * per-wave bodies behind `StreamOps.withBatchShuffleWidth` run their
  * shuffles narrower than the session default and with AQE off: their
  * exchanges carry a bounded, known state, so session-width stages of
  * near-empty tasks and AQE's per-stage materialize-and-replan cycle are
  * pure scheduling overhead at that size.
  *
  * Session conf is shared mutable state — a stream's micro-batches run
  * on the stream's own thread against the shared session — so every
  * narrow holds one JVM-wide lock for its whole body. Two rules follow,
  * and every narrowed body keeps them:
  *  - a narrowed body never blocks on another thread that narrows (it
  *    would wait on a lock its own thread holds). [[PqSearch.train]]'s
  *    pool threads run inside its scope and only call
  *    [[IvfSearch.fitPrepared]], which does not narrow;
  *  - lock order is the ScaleOps artifact family lock, then this lock,
  *    never the reverse: a family build may narrow (PqSearch training),
  *    but no narrowed body reaches `ScaleOps.withFamilyLock`.
  */
private[graft] object ShuffleWidth {

  private val PartsKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  /** JVM monitors are reentrant: a scope nested on the same thread (CC
    * inside a narrowed wave body) takes it again without blocking. */
  private object Lock

  /** Runs `body` with AQE off and the session's shuffle width capped at
    * `max(1, min(current, want))`, then restores exactly the width and
    * AQE setting it found, on every exit path. `body` receives the
    * effective width, or `None` when the session width is not numeric
    * (some deployments set a value like "auto"; it is left as is).
    *
    * Because every narrower holds the lock, the recorded values are
    * never another thread's transient narrow, and a nested scope
    * restores its enclosing scope's width — so restoring what it found
    * is exact, and a width the application set between two scopes
    * survives the second. */
  def narrowed[T](spark: SparkSession, want: Long)(body: Option[Int] => T): T =
    Lock.synchronized {
      val prevParts = spark.conf.get(PartsKey)
      val prevAqe = spark.conf.get(AqeKey)
      // everything fallible (the width parse included) runs before the
      // first set, and both sets sit inside the try
      val width = scala.util.Try(prevParts.toLong).toOption
        .map(p => math.max(1L, math.min(p, want)).toInt)
      try {
        spark.conf.set(AqeKey, "false")
        width.foreach(w => spark.conf.set(PartsKey, w.toString))
        body(width)
      } finally {
        spark.conf.set(AqeKey, prevAqe)
        spark.conf.set(PartsKey, prevParts)
      }
    }

  /** The session's current shuffle width, read without the lock, or
    * `None` when it is not numeric. */
  def current(spark: SparkSession): Option[Long] =
    scala.util.Try(spark.conf.get(PartsKey).toLong).toOption
}
