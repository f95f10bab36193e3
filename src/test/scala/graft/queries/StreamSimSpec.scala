package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CacheHygiene

/** The registry's streaming-sim harness: every temp dir
  * `CacheHygiene.tempDir` hands out is swept at JVM exit, the sims keep
  * their state there, and the two arrival split shapes. */
class StreamSimSpec extends SparkSpec {
  import spark.implicits._

  private val sf = graft.RegistrySweep.sf

  test("every state dir lies under the JVM temp root, and a JVM that " +
    "creates one leaves nothing behind at exit") {
    val dirs = Seq("a_stream", "a_stream", "b_stream")
      .map(CacheHygiene.tempDir)
    assert(dirs.distinct.size === 3)
    dirs.foreach { d =>
      val p = Paths.get(d)
      assert(p.isAbsolute && Files.isDirectory(p))
      assert(p.getParent === CacheHygiene.jvmTempRoot.toPath,
        s"$d is outside the JVM-exit sweep root")
    }
    // a child JVM with its own tmpdir (the shared one is written by the
    // concurrent test JVMs): it fills a state dir and exits normally
    val tmp = Files.createTempDirectory("streamsim_sweep")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-Xmx64m",
        s"-Djava.io.tmpdir=$tmp",
        "-cp", System.getProperty("java.class.path"),
        "graft.queries.StreamSimSweepProbe")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toVector
    assert(proc.waitFor() === 0, out.mkString("\n"))
    val created = out.filter(_.startsWith("created ")).map(_.drop(8))
    assert(created.size === 1 && created.head.startsWith(tmp.toString),
      s"probe output: $out")
    val left = Files.list(tmp).iterator().asScala.toVector
    assert(left.isEmpty, s"left behind after JVM exit: $left")
    Files.delete(tmp)
  }

  test("sims of both split shapes keep their state in harness dirs") {
    val root = CacheHygiene.jvmTempRoot.getAbsolutePath
    // q230: event_id % 3 arrivals; q245: doc_id-value thirds
    Seq("act_stream" -> TestdataQueries.q230StreamingActive(spark, sf),
        "shard_stream" -> TestdataQueries.q245StreamingShards(spark, sf))
      .foreach { case (prefix, df) =>
        val state = df.inputFiles.map(new java.net.URI(_).getPath)
          .filterNot(_.startsWith(sf))
        assert(state.nonEmpty, s"$prefix: the read must scan its state")
        assert(state.forall(p =>
          p.startsWith(root + "/" + prefix) && p.endsWith(".parquet")),
          s"$prefix state outside a harness dir: ${state.toSeq}")
        assert(df.count() > 0)
      }
  }

  test("modSplits and idThirds: the batches a sim ingests") {
    val df = Seq(-7L, -1L, 0L, 2L, 5L, 9L, 10L, 31L).toDF("id")
      .union(Seq(Option.empty[Long]).toDF("id"))
    def ids(b: org.apache.spark.sql.DataFrame) =
      b.as[Option[Long]].collect().toSeq.flatten.sorted
    // a negative key's remainder matches no batch, as `% 3` in the oracles
    val mods = StreamSim.modSplits(df, col("id")).map(ids)
    assert(mods === Seq(Seq(0L, 9L), Seq(10L, 31L), Seq(2L, 5L)))
    // cuts from the actual min (-7) and span (39): -7 + 13 = 6, -7 + 26 = 19
    val thirds = StreamSim.idThirds(df, "id").map(ids)
    assert(thirds === Seq(Seq(-7L, -1L, 0L, 2L, 5L), Seq(9L, 10L), Seq(31L)))
  }
}

/** Child-JVM body for [[StreamSimSpec]]: creates one temp state dir,
  * writes a file into it and exits; the JVM-exit sweep must remove both. */
object StreamSimSweepProbe {
  def main(args: Array[String]): Unit = {
    val dir = CacheHygiene.tempDir("probe_stream")
    Files.write(Paths.get(dir, "part-00000.parquet"), Array[Byte](1, 2, 3))
    println(s"created $dir")
  }
}
