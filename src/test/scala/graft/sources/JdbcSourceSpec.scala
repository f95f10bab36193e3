package graft.sources

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.omm.{CancellationPipeline => P, OmmFixtures => F}
import graft.operators.CacheHygiene

/** S1 integration smoke over an embedded Derby database (the only JDBC
  * engine on this classpath): proves the option plumbing end-to-end — the
  * full snapshot pipeline reads its 11 tables THROUGH the JDBC source and
  * reproduces the parquet-path golden row count — and that Catalyst pushes
  * the snapshot's filters into the JDBC scans (`PushedFilters`), so a real
  * database only streams relevant rows (the reference pushes the whole
  * query down as SQL text; we push the per-table predicates). */
class JdbcSourceSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:ommdb;create=true"
  // Derby uppercases unquoted identifiers; quote to keep the fixture names
  private def quoted(t: String): String = s""""$t""""

  /** Spark's built-in DerbyDialect maps StringType → CLOB, and Derby
    * rejects both comparisons and VARCHAR/CLOB null binds on CLOB columns.
    * A real deployment (SQL Server) maps strings to VARCHAR, so mirror
    * that for the smoke DB. */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType) = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(512)", java.sql.Types.VARCHAR))
      case _ => None
    }
  }

  private lazy val loadIntoDerby: Unit = {
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect)
    F.ensure(spark)
    JdbcSource.referenceNames.keys.foreach { t =>
      spark.read.parquet(F.path(t))
        .write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", quoted(t)).save()
    }
  }

  test("snapshot pipeline over JDBC-loaded tables matches the parquet path") {
    loadIntoDerby
    val jdbcTables = JdbcSource.loadTables(spark, url, nameFor = quoted)
    val snap = P.snapshot(jdbcTables, P.FromNow, F.now, F.today, F.lookback)
    assert(snap.count() === 16, "JDBC path must reproduce the golden NOW snapshot")
    val deduped = P.dedup(P.parse(snap, F.zone))
    assert(deduped.count() === 6, "full pipeline over JDBC must match golden dedup")
  }

  test("snapshot filters push down into the JDBC scans") {
    loadIntoDerby
    val jdbcTables = JdbcSource.loadTables(spark, url, nameFor = quoted)
    val plan = P.snapshot(jdbcTables, P.FromNow, F.now, F.today, F.lookback)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("PushedFilters:"), "no pushdown in JDBC scan")
    assert(plan.contains("*EqualTo(language_code,fi)") ||
      plan.contains("EqualTo(language_code,fi)"), "F1 not pushed to the DB")
    assert(plan.contains("IsNull(IsReplacedById)"), "F6 not pushed to the DB")
  }

  test("a full poll runs through the JDBC table loader (service wiring)") {
    loadIntoDerby
    val base = CacheHygiene.tempDir("jdbcpoll")
    val r = graft.streaming.CancellationStream.pollOnce(spark,
      tablesDir = null, s"$base/sink", s"$base/state", P.FromNow,
      java.time.Instant.parse("2024-05-15T09:00:00Z"), 1800L, F.zone,
      tableLoader = Some(s => JdbcSource.loadTables(s, url, nameFor = quoted)))
    assert(r.sent === 6, "poll through JDBC must emit the golden dedup count")
  }

  test("single-table read honors extra JDBC options") {
    loadIntoDerby
    val df = JdbcSource.table(spark, url, quoted("deviation_cases"),
      Map("fetchsize" -> "100"))
      .filter(col("deviation_case_id") > 10L)
    assert(df.count() === 7)
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("GreaterThan(deviation_case_id,10)"),
      "predicate not pushed into the JDBC scan")
  }
}
