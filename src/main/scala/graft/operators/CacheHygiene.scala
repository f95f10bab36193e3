package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session cache hygiene for loop-shaped operators.
  *
  * Iterative operators (BPE training, connected components) bound their
  * lineage with `localCheckpoint`, and `Dataset.unpersist` CANNOT release
  * the RDD-level cache a `localCheckpoint` pins — without a scoped guard
  * the truncation generations leak into `getPersistentRDDs` for the
  * session's lifetime, accumulating pinned blocks per call in a long-lived
  * session (exactly the failure a 1000-executor deployment would hit after
  * a day of queries). Both loop owners route their cleanup through here.
  */
object CacheHygiene {

  // JVM-wide mutex over cleanup scopes: the guard diffs the GLOBAL
  // persistent-RDD set, so two concurrent scopes would each unpersist the
  // other's entries at scope end — fatal for the lineage-TRUNCATED caches
  // (localCheckpoint) these loops pin, which cannot be recomputed once
  // dropped. Production query flows are single-threaded per session
  // (Bench, Verify, the sims), so the lock is uncontended there; it
  // exists for concurrent multi-query harnesses (the test registry sweep).
  private val cleanupLock = new java.util.concurrent.locks.ReentrantLock()

  /** Scoped cache-hygiene guard: diffs the persistent-RDD set around `f`
    * and drops ONLY the entries `f` created. Callers must ensure nothing
    * the caller can observe depends on those caches: either `f` returns
    * driver-side data (Vocab's merge tables) or the returned plan was
    * decoupled first (see [[spillToTempParquet]]). Scopes are JVM-mutex'd
    * (see [[cleanupLock]]); reentrant, so nested scopes keep working. */
  def withRddCleanup[A](spark: SparkSession)(f: => A): A = {
    cleanupLock.lock()
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try f finally {
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !before.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
      }
    } finally cleanupLock.unlock()
  }

  // JVM-lifetime temp dirs live under one root, removed by one shutdown
  // hook. Created lazily so plain batch jobs never pay for the hook.
  private[graft] lazy val jvmTempRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_jvm").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    root
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** A fresh dir (absolute path) under [[jvmTempRoot]], swept at JVM
    * exit — for files a returned plan still reads (spills, the registry's
    * streaming-sim state and sinks), so repeated invocations in one
    * process never orphan directories past process exit. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(jvmTempRoot.toPath, prefix)
      .toString

  /** Decouple a BOUNDED result from the caches it reads: collect and
    * rebuild as a driver-local relation. Only for outputs whose row count
    * is bounded by construction (a one-row diff, a k-row top-k) — never
    * corpus-cardinality data; use [[spillToTempParquet]] for those. */
  def materializeLocal(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Decouple a loop result from its loop caches: write `df` to a
    * JVM-lifetime temp parquet dir and read it back. The returned plan
    * references FILES, not any persisted or checkpoint-pinned RDD, so it
    * survives [[withRddCleanup]] dropping every cache the loop created —
    * and re-consumption never replays the loop. Intended for working-set
    * sized data (a dup-cluster label table, ids+label at 16 B/row), not
    * corpus-sized relations; the spill files live until JVM exit. */
  def spillToTempParquet(df: DataFrame, prefix: String): DataFrame = {
    val path = s"${tempDir(prefix)}/data"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
