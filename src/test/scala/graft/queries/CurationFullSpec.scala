package graft.queries

import graft.SparkSpec
import graft.operators.CacheHygiene

/** q242's end-to-end curation composition on a hand corpus where every
  * stage has a designed witness:
  *  - doc 50 is the benchmark holdout (doc_id % 50 == 0): never trains;
  *  - doc 1 duplicates the holdout text → survives every dedup stage,
  *    then decontamination drops it (100 % shingle overlap);
  *  - docs 2/3 are byte-identical → raw exact dedup keeps 2;
  *  - doc 4 is doc 2 re-rendered (case + punctuation) → normalized
  *    dedup keeps 2;
  *  - docs 5/6 differ by ONE token of 55 (Jaccard ≈ 0.893 ≥ 0.8) →
  *    near-dup CC keeps the min-id representative 5;
  *  - doc 7 is digits/punctuation (quality ≈ 0.009) → quality floor;
  *  - docs 8/9 are identical single-token CJK (normalized key EMPTY —
  *    the latin strip cannot speak about them) → raw dedup keeps 8,
  *    which then BYPASSES normalized dedup and, with < 3 tokens, is
  *    vacuously clean in decontamination;
  *  - survivor counts per lang (en 2, fr 2, de 2, es 1, zh 1) are
  *    exactly proportional to the q226 targets, so every rebalance
  *    rate is the full scale and the hash-keep keeps all 8 — making
  *    the expected output independent of the keep-hash values;
  *  - total tokens 227 < budget 2000 → every survivor lands in shard 0.
  */
class CurationFullSpec extends SparkSpec {
  import spark.implicits._

  private val docs: Seq[(Long, String, String)] = Seq(
    (50L, "en", "the quick brown fox jumps over the lazy dog while the rain falls on the quiet town and the river runs to the sea"),
    (1L, "en", "the quick brown fox jumps over the lazy dog while the rain falls on the quiet town and the river runs to the sea"),
    (2L, "en", "a calm morning of coffee and code in the old library where students read books about distant stars and the history of ideas"),
    (3L, "en", "a calm morning of coffee and code in the old library where students read books about distant stars and the history of ideas"),
    (4L, "en", "A CALM MORNING OF COFFEE, AND CODE IN THE OLD LIBRARY WHERE STUDENTS READ BOOKS ABOUT DISTANT STARS AND THE HISTORY OF IDEAS."),
    (5L, "en", "the garden path winds through tall green trees and past a small pond that reflects the bright summer sky while birds sing in the hedges and a gentle breeze carries the scent of roses across the wooden bridge toward the meadow where children play beside the stream under the watchful gaze of the old oak"),
    (6L, "en", "the garden path winds through tall green trees and past a small pond that reflects the bright summer sky while birds sing in the hedges and a gentle breeze carries the scent of roses across the stone bridge toward the meadow where children play beside the stream under the watchful gaze of the old oak"),
    (7L, "en", "12345 67890 ++--"),
    (8L, "zh", "中文文档质量评估样本内容很长的一段文字没有空格"),
    (9L, "zh", "中文文档质量评估样本内容很长的一段文字没有空格"),
    (10L, "fr", "le matin de la ville and the market opens of with bread et fromage while people walk of the narrow streets and talk about the news of the day in cafes"),
    (11L, "fr", "la montagne se dresse and the snow covers of the peaks while skiers glide down the slopes and the village lights glow in the evening air of winter"),
    (12L, "de", "der wald ist still and the moss covers of the stones while hikers follow the trail and the stream murmurs beside the path in the cool shade of the firs"),
    (13L, "de", "die stadt erwacht and the trams roll of the rails while workers cross the bridges and the bakeries fill the air with the smell of fresh bread each morning"),
    (14L, "es", "el mar brilla and the waves touch of the sand while fishermen mend the nets and the gulls circle above the boats in the warm light of the afternoon sun"))

  test("every stage drops exactly its designed victims; survivors " +
    "shard deterministically") {
    val dir = CacheHygiene.tempDir("curation_full")
    docs.toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TestdataQueries.q242CurationFull(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val expected = Set(
      (2L, 23L, 0L),   // raw-dup winner over 3, normalized winner over 4
      (5L, 55L, 0L),   // near-dup cluster representative over 6
      (8L, 1L, 0L),    // CJK pass-through, raw-dup winner over 9
      (10L, 31L, 0L), (11L, 28L, 0L),  // fr
      (12L, 30L, 0L), (13L, 29L, 0L),  // de
      (14L, 30L, 0L))                  // es
    assert(got === expected)
  }
}
