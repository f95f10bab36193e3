package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a pre-built [[BloomFilter]], as a codegen'd
  * kernel. The filter rides the plan as a REFERENCE OBJECT (a [[Kernel]]
  * constant, like the PQ codebook): tasks get it with their closure, the
  * generated code is one static [[probe]] call, and no filter bytes
  * appear in the generated source.
  *
  * The filter answers "possibly in the set" with no false negatives —
  * callers that need exact semantics confirm positives against the real
  * relation afterward (Contamination.overlapVsBenchmarkBloom: the bloom
  * gates which rows enter the exact join; the OUTPUT is identical to the
  * exact operator, spec-pinned, so the filter only ever changes COST).
  * Spark's own sketch library builds the filter (`df.stat.bloomFilter`,
  * a distributed aggregate), so construction scales with the set. */
object BloomProbe {

  def probe(key: Long, filter: BloomFilter): Boolean =
    filter.mightContainLong(key)

  def mightContain(key: Column, filter: BloomFilter): Column =
    Kernel.call("bloom_might_contain", this, "probe", BooleanType,
      Seq(key -> Seq(LongType)), filter)
}
