package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Pins what `graft.Bench` decides without a SparkSession: the
  * three-clause `contended` flag, and that the last stdout line stays one
  * parseable JSON object inside the driver's 2,000-character tail capture
  * however many queries fail. */
class BenchSpec extends AnyFunSuite {
  import Bench.{QRes, contended}

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  test("contended: spread clause — median above 3x the min, with 2+ reps") {
    assert(contended(Seq(1.0, 5.0, 6.0), 0L, 0L, ncpus = 8))
    assert(!contended(Seq(1.0, 2.0, 2.9), 0L, 0L, ncpus = 8))
    // one spiked rep out of three leaves the median honest
    assert(!contended(Seq(1.0, 1.1, 9.0), 0L, 0L, ncpus = 8))
    // a single rep has no spread
    assert(!contended(Seq(9.0), 0L, 0L, ncpus = 8))
  }

  test("contended: steal clause — stolen CPU-seconds above 25% of the rep wall") {
    // 3 s of reps: the limit is 0.75 s = 75 jiffies
    assert(contended(Seq(1.0, 1.0, 1.0), 80L, 0L, ncpus = 8))
    assert(!contended(Seq(1.0, 1.0, 1.0), 70L, 0L, ncpus = 8))
  }

  test("contended: foreign-CPU clause — other CPU above 15% of wall x ncpus") {
    // 3 s × 8 cpus × 0.15 = 3.6 s = 360 jiffies
    assert(contended(Seq(1.0, 1.0, 1.0), 0L, 400L, ncpus = 8))
    assert(!contended(Seq(1.0, 1.0, 1.0), 0L, 300L, ncpus = 8))
    assert(!contended(Seq(1.0, 1.0, 1.0), 0L, 400L, ncpus = 32))
  }

  test("contended: an unreadable witness (-1) or no reps never flags") {
    assert(!contended(Seq(1.0, 1.0, 1.0), -1L, -1L, ncpus = 8))
    assert(!contended(Seq.empty, 1000L, 1000L, ncpus = 8))
  }

  private val run = """"reps":3,"sf":"/root/testdata/sf0.1","cpus":"32",""" +
    """"elapsed_sec":1724.999,"load_start":31.5,"load_end":30.25,""" +
    """"steal_start":3555655,"steal_end":3559976,"uptime_sec":93832.62"""
  private val names = (0 until 264).map(i => f"q$i%03d_streaming_concentration")

  test("the summary line for 264 failed queries is one JSON object under " +
    "2,000 characters, with n_errors and at most 10 failing names") {
    val results = names.map(n => QRes(n, -1.0, -1.0, Seq.empty, 30.0, -1L,
      -1L, contended = false, "na", """"scans":-1"""))
    val errors = names.map(n => n -> ("IllegalStateException: " + "x" * 177))
    assert(errors.forall(_._2.length === 200))
    val line = Bench.summary(results, errors.map(_._1), 0, run,
      "BENCH_DETAIL.json")
    assert(!line.contains('\n'))
    assert(line.length < 2000, s"${line.length} chars")
    val js = mapper.readTree(line)
    assert(js.isObject)
    assert(js.get("n_errors").asInt === 264)
    assert(js.get("errors").size === 10)
    // the full messages stay in the detail file
    val detail = mapper.readTree(Bench.detail(results, errors, Seq.empty,
      complete = true, run))
    assert(detail.get("errors").size === 264)
    assert(detail.get("errors").get(names.last).asText === errors.last._2)
  }

  test("the summary line stays under 2,000 characters with 10 slowest, " +
    "10 contended and 10 failing names") {
    val results = names.map(n => QRes(n, 9.999, 1.0, Seq(1.0, 9.999, 12.0),
      30.0, 999999L, 999999L, contended = true, "deadbeef", """"scans":1"""))
    val line = Bench.summary(results, names, 264, run, "BENCH_DETAIL.json")
    assert(line.length < 2000, s"${line.length} chars")
    val js = mapper.readTree(line)
    assert(js.get("slowest").size === 10)
    assert(js.get("contended").size === 10)
    assert(js.get("n_skipped").asInt === 264)
  }
}
