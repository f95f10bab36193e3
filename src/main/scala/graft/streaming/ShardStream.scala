package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SketchState, Shard}

/** Streaming token-budget sharding — arriving documents are packed into
  * training shards the moment they land, and every assignment equals
  * the one the one-shot [[Shard.byBudget]] pass over the whole corpus
  * would have made.
  *
  * Arrival contract (the [[ScdStream]] family's, on the ORDER column):
  * batches split on the `orderCol` VALUE — every id in a batch exceeds
  * every id already ingested. That is the natural shape for
  * monotonically-assigned document ids, and it is what makes the
  * incremental assignment exact: the global exclusive prefix sum at a
  * new row is (accumulated weight of everything before it) + (its
  * in-batch exclusive prefix), so carrying ONE number forward — the
  * accumulated total weight — reproduces the one-shot sum bit for bit
  * ([[Shard.byBudget]]'s `startWeight` seed).
  *
  * State is a SINGLE ROW `(watermark, total_weight)` under the
  * crash-safe [[SketchState]] swap. The sink is one subdirectory PER
  * BATCH, named by the batch's minimum id and written with
  * mode("overwrite") — so a crash between sink write and state swap is
  * healed by replaying the batch: the replay OVERWRITES the same
  * subdirectory with byte-identical content (the assignment is a pure
  * function of the batch and the unadvanced state), then advances the
  * state. A batch at-or-below the watermark is detected and skipped
  * (its subdirectory already carries the final assignment) —
  * effectively-once without any coordination.
  *
  * Per poll: one range shuffle of the BATCH (never the accumulated
  * corpus) plus two metadata-sized jobs; the read is a recursive scan
  * of the sink — the accumulated corpus is never re-sharded. */
object ShardStream {

  private def stPath(stateDir: String) = s"$stateDir/state"
  private def sinkPath(stateDir: String) = s"$stateDir/sink"

  /** Shard one batch (`orderCol` long ids, `weightCol` long weights).
    * Returns the number of rows sharded (0 for an empty or replayed
    * batch). */
  def ingestBatch(spark: SparkSession, batch: DataFrame, orderCol: String,
                  weightCol: String, budget: Long,
                  stateDir: String): Long = {
    require(budget > 0, s"budget must be positive, got $budget")
    val stP = stPath(stateDir)
    val b = batch.select(col(orderCol).cast("long").as("__ord"),
      col(weightCol).cast("long").as("__w"))
    val agg = b.agg(min(col("__ord")), max(col("__ord")),
      coalesce(sum(col("__w")), lit(0L)), count(lit(1))).collect()(0)
    val n = agg.getLong(3)
    if (n == 0L) return 0L
    val (lo, hi, w) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val (watermark, total) = SketchState.readOpt(spark, stP)
      .map { st => val r = st.collect()(0); (r.getLong(0), r.getLong(1)) }
      .getOrElse((Long.MinValue, 0L))
    if (lo <= watermark) {
      // replay of an already-committed batch: its sink subdir already
      // holds the final assignment — advancing anything would corrupt
      require(hi <= watermark,
        s"batch straddles the watermark ($lo..$hi vs $watermark): " +
          "arrival must split on the order-column value")
      return 0L
    }
    val assigned = Shard.byBudget(
      batch.select(col(orderCol), col(weightCol)), orderCol, weightCol,
      budget, startWeight = total)
    assigned.write.mode("overwrite")
      .parquet(s"${sinkPath(stateDir)}/batch_$lo")
    val spark2 = spark
    import spark2.implicits._
    SketchState.write(Seq((hi, total + w)).toDF("watermark", "total_w"),
      stP)
    n
  }

  /** Every assignment made so far — row-identical to the one-shot
    * [[Shard.byBudget]] over the union of all ingested batches. */
  def readShards(spark: SparkSession, stateDir: String): DataFrame = {
    val root = new Path(sinkPath(stateDir))
    spark.read.option("recursiveFileLookup", "true")
      .parquet(root.toString)
  }
}
