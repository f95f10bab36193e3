package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one top-k rank of the vector family ([[Similarity]], [[Quantize]]):
  * every operator there is a candidate relation plus a score column, and
  * ranks through [[cut]]. The rank filter sits directly on the window, so
  * Catalyst plans the map-side `WindowGroupLimit` (each partition forwards
  * only its local top k), which PlanShapeSpec asserts per operator. */
private[operators] object TopK {

  /** `row_number` over (`keys`; `order`, then `id` ascending) as column
    * `rank`, rows past `k` dropped. The `id` tiebreak makes the order
    * total, so per-part top-k lists merge exactly. */
  def cut(scored: DataFrame, k: Int, order: Column,
          keys: Seq[String] = Seq("query_id"),
          id: String = "neighbor_id"): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order, col(id).asc)))
      .filter(col("rank") <= k)

  /** Per-query top-k by `score`: `query_id, rank, neighbor_id`, then the
    * `carry` columns, then `score` rounded to `digits` under its own
    * name. Ties on the raw score break on ascending `neighbor_id`. */
  def rank(scored: DataFrame, score: String, ascending: Boolean, k: Int,
           digits: Int, carry: Column*): DataFrame = {
    val s = col(score)
    cut(scored, k, if (ascending) s.asc else s.desc)
      .select((Seq(col("query_id"), col("rank"), col("neighbor_id")) ++
        carry :+ round(s, digits).as(score)): _*)
  }
}
