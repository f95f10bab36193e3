package graft.tools

import graft.omm.OmmFixtures

/** Force-regenerate the OMM fixture parquet (ignores the `_GENERATED`
  * marker — use after editing OmmFixtures so stale committed fixtures are
  * never silently reused). Run: `sbt "runMain graft.tools.GenFixtures"`. */
object GenFixtures {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    OmmFixtures.generate(spark)
    println(s"[gen-fixtures] regenerated ${OmmFixtures.dir}")
    spark.stop()
  }
}
