package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Column profile (Datasheet.columnProfile), normalized-dedup groups
  * (Dedup.normalizedDupGroups), and the streaming categorical balance
  * (BalanceStream): hand fixtures and batch equivalence. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("columnProfile: exact nulls/distincts/min/max per column") {
    val df = Seq(
      (1L, Some("en"), 10L), (2L, Some("fr"), 20L),
      (3L, None, 10L), (4L, Some("en"), 30L)
    ).toDF("id", "lang", "n")
    val got = Datasheet.columnProfile(df, Seq("id", "lang", "n"))
      .collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq("id", 4L, 0L, 0.0, 4L, "1", "4"),
      Seq("lang", 4L, 1L, 0.25, 2L, "en", "fr"),
      Seq("n", 4L, 0L, 0.0, 3L, "10", "30")))
  }

  test("normalizedDupGroups: case/punct/ws variants collapse, raw " +
    "variants counted, punct-only rows excluded") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO   world."),
      (4L, "hello world"),              // byte-dup of 2
      (5L, "different text"), (6L, "?!?! ..."), (7L, "-- !! --"),
      (8L, "foo, bar"), (9L, "foo , bar"),   // strip leaves "foo  bar"
      (10L, "?! ?!"), (11L, "!! !!")         // strip leaves only spaces
    ).toDF("doc_id", "text")
    val got = Dedup.normalizedDupGroups(docs, col("doc_id"), col("text"))
      .collect().map(_.toSeq).toSet
    // {1,2,3,4}: 4 members, 3 distinct raw texts; {8,9}: the post-strip
    // whitespace re-collapse makes "foo  bar" == "foo bar"; 5 is a
    // singleton (dropped); 6/7/10/11 normalize to EMPTY (excluded —
    // space-only keys must not form a punctuation mega-group)
    assert(got === Set(Seq(1L, 4L, 3L), Seq(8L, 2L, 2L)))
  }

  test("BalanceStream: accumulated counts equal one-shot; read equals " +
    "the batch chi-square") {
    val docs = Seq(
      (1L, "s1", "en"), (2L, "s1", "en"), (3L, "s1", "fr"),
      (4L, "s2", "fr"), (5L, "s2", "fr"), (6L, "s2", "en")
    ).toDF("doc_id", "src", "lang")
    val oneShot = Datasheet.categoricalBalance(docs, col("src"),
      col("lang")).collect().map(_.toSeq).toSet
    val state = CacheHygiene.tempDir("bal_spec")
    (0 until 3).foreach { b =>
      graft.streaming.BalanceStream.ingestBatch(spark,
        docs.filter(col("doc_id") % 3 === b),
        col("src"), col("lang"), state)
    }
    val streamed = graft.streaming.BalanceStream
      .readBalance(spark, state).collect().map(_.toSeq).toSet
    assert(streamed === oneShot && oneShot.nonEmpty)
  }
}
