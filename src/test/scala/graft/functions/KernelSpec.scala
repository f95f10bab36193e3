package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

/** The one kernel node: input types are checked under the kernel's own
  * name, generated code compiles for every kernel family and agrees with
  * interpreted eval, and plans built separately from equal constants are
  * the same plan. */
class KernelSpec extends SparkSpec {

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // a 2×2 PQ codebook over 4-dim vectors, rebuilt on every call
  private def codebook: Seq[(Int, Seq[Double])] =
    Seq(0 -> Seq(0.0, 0.0, 0.0, 0.0), 1 -> Seq(1.0, 1.0, 1.0, 1.0))

  private def bloom: BloomFilter = {
    val f = BloomFilter.create(100, 0.01)
    (0L until 50L).foreach(f.putLong)
    f
  }

  // range input: a local relation would be evaluated by the optimizer
  private def rows: DataFrame = spark.range(40).select(
    col("id"),
    concat(lit("Café "), col("id").cast("string")).as("s"),
    split(concat(lit("a b c "), col("id").cast("string")), " ").as("ts"),
    array((0 until 4).map(i => (col("id") % 3 + i).cast("double")): _*)
      .as("v"),
    array((0 until 4).map(i => (col("id") % 5).cast("float")): _*).as("f"))

  private def kernels: Seq[Column] = Seq(
    HashKernels.polyHash(col("s"), 31L, 1000003L),
    HashKernels.cdcCuts(col("ts"), 31L, 1000003L, 2, 0),
    HashKernels.winnowFingerprints(col("ts"), 2, 2, 31L, 1000003L),
    TextKernels.boundedLevenshtein(col("s"), lit("Cafe 1"), 3),
    TextKernels.nfcNormalize(col("s")),
    TextKernels.letterUnits(col("s")),
    TextKernels.slideGrams(col("ts"), 2),
    TextKernels.wordShingles(col("ts"), 2),
    TextKernels.charEntropyNats(col("s")),
    VecKernels.dot(col("v"), col("f")),
    VecKernels.l2sq(col("f"), col("v")),
    PqKernels.encodeCol(col("v"), codebook, 2, 2),
    PqKernels.adcTablesCol(col("f"), codebook, 2, 2),
    PqKernels.nearestListsCol(col("v"), codebook, 4, 1),
    PqKernels.residualCol(col("f"), codebook, 4),
    BloomProbe.mightContain(col("id"), bloom),
    ProtoWire.fromProto(ProtoWire.toProto(struct(
      col("id").as("deviation_case_id"), lit("R").as("route_id"),
      lit(1).as("direction_id"), lit(null).cast("string").as("start_date"),
      col("s").as("start_time"), lit("CANCELED").as("status"),
      lit(1).as("schema_version"), lit("t").as("trip_id"),
      lit("a").as("deviation_cases_type"),
      lit("b").as("affected_departures_type"), lit("x").as("title"),
      lit("d").as("description"), lit("c").as("category"),
      lit("e").as("sub_category")))))

  test("generated code compiles for every kernel and agrees with " +
    "interpreted eval") {
    val compiled = withConf("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val df = rows.select(kernels: _*)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("*(") &&
        l.contains("bounded_levenshtein")), s"plan:\n$plan")
      df.collect().map(_.toString).sorted.toSeq
    }
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      rows.select(kernels: _*).collect().map(_.toString).sorted.toSeq
    }
    assert(compiled === interpreted)
  }

  test("a wrong input type fails analysis under the kernel's name") {
    val df = spark.range(1).select(col("id").cast("int").as("i"),
      lit("x").as("s"), array(lit(1), lit(2), lit(3), lit(4)).as("ints"))
    def rejected(kernel: Column, name: String): Unit = {
      val e = intercept[AnalysisException](df.select(kernel))
      assert(e.getMessage.contains(name), e.getMessage)
    }
    rejected(VecKernels.dot(col("s"), col("ints")), "vec_dot")
    rejected(PqKernels.encodeCol(col("ints"), codebook, 2, 2), "pq_encode_k")
    rejected(BloomProbe.mightContain(col("s"), bloom), "bloom_might_contain")
    rejected(HashKernels.polyHash(col("i"), 31L, 1000003L), "poly_hash")
    rejected(ProtoWire.toProto(struct(col("i"), col("s"))),
      "trip_cancellation_to_proto")
  }

  /** Two DataFrames over `base`, each built by `kernel` from freshly built
    * constants, are the same plan; once the first is cached the second
    * reads its InMemoryRelation. */
  private def reusedAcrossRebuilds(kernel: () => Column): Unit = {
    val base = rows
    val first = base.select(kernel().as("k"))
    val second = base.select(kernel().as("k"))
    assert(first.sameSemantics(second))
    first.persist()
    try {
      val plan = second.queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty,
        s"plan:\n$plan")
    } finally first.unpersist(blocking = true)
  }

  test("plans built from equal codebooks are the same plan and share a " +
    "cache") {
    reusedAcrossRebuilds(() => PqKernels.encodeCol(col("v"), codebook, 2, 2))
  }

  test("plans built from equal Bloom filters are the same plan and share " +
    "a cache") {
    reusedAcrossRebuilds(() => BloomProbe.mightContain(col("id"), bloom))
  }
}
