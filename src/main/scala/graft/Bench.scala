package graft

import Harness.{json => q, loadavg, stealJiffies}

/** Benchmark main (driver contract): run every registered query against
  * SPARK_GRAFT_SF_DIR. A query that throws is reported explicitly in
  * "errors" (and as -1 in its per-query line) instead of being silently
  * folded into the total — a bench can't look green with broken queries.
  *
  * Output layout (round-7 fix): the driver captures only the LAST ~2000
  * characters of stdout, so the round-6 single giant JSON line (with
  * "total" printed FIRST) self-truncated — BENCH_r06.json had parsed:null
  * and the front ~30 query timings missing. Now:
  *  - one SHORT JSON line per query as it completes, carrying the median,
  *    the raw per-rep times, and /proc/loadavg at completion (rep-level
  *    contention evidence lives in stdout and in the detail file);
  *  - the FULL result (all queries, reps, loadavg, uptime) is written to
  *    BENCH_DETAIL.json in the working directory;
  *  - the LAST line is a compact summary (total, counts, start/end load,
  *    the 10 slowest query medians) small enough to always survive the
  *    tail capture and parse. A contended run (e.g. round-6 q44 46.5 s vs
  *    2.4 s idle) is now diagnosable from the artifact alone: loadavg >>
  *    ncpus at the slow query's completion line says "box was busy",
  *    divergent reps inside one query say "transient spike".
  *
  * Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * MEDIAN is reported: single-shot numbers at codegen-dominated fixture
  * scale swing ±2× with run order and JIT state, which made round-over-round
  * comparison noise-bound. The median of 3 is stable across consecutive
  * bench invocations.
  *
  * Round-8: the artifact RESISTS contention instead of merely recording it.
  * Round-7 forensics: a single contended window let one 836 s rep (q57,
  * load 7.2) and neighbors set official medians 6–16× above idle-box truth.
  * Three countermeasures, all per query:
  *  - ADAPTIVE REPS: if max(rep)/min(rep) > 3 after the base reps, up to 2
  *    extra reps run — a transient spike gets outvoted by the honest
  *    majority instead of owning the median of 3;
  *  - MEDIAN AND MIN are both reported. min is the contention-immune bound
  *    (a busy box can only make a rep slower, never faster), so a reader
  *    comparing rounds has a number no co-tenant can inflate;
  *  - a "contended": true flag when the spread stays > 3× even after the
  *    extra reps, backed by the per-query /proc/stat CPU-steal delta
  *    (field 8 of the aggregate cpu line — on this firecracker VM steal,
  *    i.e. the hypervisor running someone else on our vCPU, is the real
  *    confounder; loadavg only sees our own runqueue).
  *
  * Round-16: contended queries are additionally RE-MEASURED in a detected
  * low-steal window after the main pass (`quiet_min` in BENCH_DETAIL) —
  * the r15 q92/q156 manual forensics, automated. See the quiet-window
  * block in main for the acceptance rule and budget.
  *
  * Round-17: the whole run is BUDGET-AWARE (r16's driver artifact was
  * timeout-killed ~200/260 queries in; r15's full run fit in 1519 s, so
  * the external ceiling is ~1800 s and this main must land under it on
  * its own):
  *  - SPARK_GRAFT_BENCH_BUDGET_SEC (default 1500) is a hard wall for the
  *    WHOLE main, measured from entry;
  *  - a query whose FIRST rep exceeds SPARK_GRAFT_BENCH_SLOW_REP_SEC
  *    (default 8) runs 2 steady-state reps instead of 3 — the ~15
  *    multi-poll streaming sims dominate the suite, and their medians at
  *    2 reps equal their mins, which is the number read anyway;
  *  - past 70% of the main-pass share of the budget every query drops to
  *    2 reps; past 90%, to 1 (coverage beats reps — a 260/260 artifact
  *    with thin reps is strictly more useful than a rich 200/260 one);
  *  - BENCH_DETAIL.json is rewritten INCREMENTALLY after every query and
  *    every quiet re-measure, so even an external kill leaves a
  *    full-evidence artifact for everything that ran;
  *  - the quiet-window pass budget is derived from the time REMAINING
  *    (capped by SPARK_GRAFT_BENCH_QUIET_SEC), not a flat 900 s.
  *  Quiet-window targets now also include DRIFT: any query whose min
  *  regressed > 20% vs the prior committed BENCH_DETAIL.json floor
  *  (min of its min and accepted quiet_min) gets a quiet verdict even
  *  when no contention flag fired — the r16 q57/q125/q55 pattern, where
  *  real steal flew under the StealFrac flag and unexplained floor
  *  regressions shipped without a verdict. Drift targets run FIRST
  *  (ordered by regression ratio), since they carry a round-over-round
  *  claim the contended-only ones don't.
  *
  * Round-18 (the r17 starvation forensics — 188 flagged queries, 0 quiet
  * verdicts, because the contended main pass alone overran the whole
  * wall and the single end-of-run quiet pass got `budget − elapsed` = 0):
  *  - CALIBRATION: 2–3 fixed cheap probes (SPARK_GRAFT_BENCH_CALIB,
  *    default q1_agg,q13_sort,q197_attribution) run best-of-3 at bench
  *    start and again at the end; `calib` = median(probe min / prior
  *    committed floor) is the measured host-throughput factor (the
  *    ops31 manual attribution, automated). The DRIFT trigger compares
  *    CALIBRATION-NORMALIZED floors — min > 1.2 × priorFloor ×
  *    max(1, calib) — so a box running 2× slow no longer flags half the
  *    suite, and a floor that regressed beyond the box's own drift still
  *    does. Both factors land in the artifact (`calib` block) so
  *    round-over-round totals can be read normalized.
  *  - INTERLEAVED quiet re-measure: a query that finishes flagged
  *    (drift-normalized or contended) is re-measured IMMEDIATELY, while
  *    the budget still exists — gated on predictive headroom (elapsed +
  *    Σ remaining prior floors × calib + the quiet attempt's own cost
  *    estimate must fit inside the wall minus the stop margin), so
  *    coverage is never sacrificed for verdicts. The end-of-run pass
  *    only retries what interleaving could not accept (plus QUIET_ALL).
  *  - PREDICTIVE rep pacing: before each query, if the remaining prior
  *    floors × calib predict a main-pass overrun at the planned rep
  *    count, reps drop ahead of the overrun (the old rule only reacted
  *    to elapsed share AFTER the budget was already spent).
  *  - TRUE hard wall (r17 ADVICE): once elapsed exceeds
  *    SPARK_GRAFT_BENCH_WALL_SEC (default 1.18 × budget — above the soft
  *    target so coverage is never traded away early, below the ~1800 s
  *    external kill) minus the stop margin, remaining queries are
  *    recorded as SKIPPED in the artifact (`skipped` list) and the main
  *    loop breaks — an overrun ends with a complete, self-describing
  *    artifact instead of relying on the external kill.
  *  - FLOOR LEDGER: BENCH_FLOORS.json (SPARK_GRAFT_BENCH_FLOORS) keeps
  *    the best CLEAN floor per query across ALL runs, keyed by plan
  *    fingerprint — BENCH_DETAIL only remembers the last run, so one
  *    contended round inflated every drift reference (r17's q242 47.6 s
  *    "floor" would mask any regression under ~57 s). Clean evidence
  *    (accepted quiet_min, or uncontended min) ratchets a floor down;
  *    a changed fingerprint re-bases it; contended-without-verdict runs
  *    commit nothing; two CONSECUTIVE clean verdicts above 1.2× the
  *    floor re-base it (the fingerprint only sees the final DataFrame's
  *    plan shape, so it cannot prove a query never changed — a
  *    twice-confirmed slowdown is documented in two artifacts and then
  *    becomes the baseline instead of flagging forever). Ledger floors
  *    take precedence as the drift / pacing / calibration reference.
  *  - CONTENDED gains a load-without-steal clause (the r17 q242 blind
  *    spot: one 47.6 s rep at loadavg 10.3 with steal_d 295 →
  *    contended:false): per query, `other_d` = non-idle non-steal CPU
  *    jiffies minus THIS JVM's own jiffies — foreign processes on the
  *    box. other_d above OtherFrac of the query's wall × ncpus capacity
  *    flags it, the signal loadavg sees but steal does not.
  *
  * Between queries the JVM is returned to a known-clean state so query k's
  * number does not depend on queries 1..k-1 (round-5 forensics: q44 read
  * 22.9 s in the 66-query bench vs 7.0 s standalone, and untouched queries
  * drifted ±2 s round-over-round — shared-JVM residue, not the operators):
  *  - `clearCache` drops catalog-tracked Dataset persists;
  *  - `getPersistentRDDs` + unpersist drops what clearCache cannot see —
  *    `localCheckpoint` RDDs and any RDD-level persist;
  *  - `System.gc()` + a short settle lets the ContextCleaner reclaim
  *    broadcast blocks (broadcasts are reference-collected, so without an
  *    explicit GC they accumulate across all 66 queries and the heavy tail
  *    pays the heap pressure).
  */
object Bench {
  /** One floor-ledger entry: the best CLEAN floor seen, the final-plan
    * fingerprint it was measured under, and `conf` — the streak of
    * consecutive clean verdicts that still exceeded 1.2 × floor. */
  case class Floor(floor: Double, fp: String, conf: Int)

  /** The ledger update rule for one clean observation, pure so
    * BenchLedgerSpec can pin it. `cleanFloor` must already be clean
    * evidence (accepted quiet_min or uncontended min) — contended
    * observations must not reach this function at all. */
  private[graft] def ledgerStep(prior: Option[Floor], cleanFloor: Double,
      fp: String): Floor = prior match {
    case Some(Floor(old, pfp, conf)) if pfp == fp =>
      if (cleanFloor <= 1.2 * old)
        // at-or-near the floor: ratchet down, any streak is broken
        Floor(math.min(old, cleanFloor), pfp, 0)
      else if (conf + 1 >= 2)
        // second consecutive clean verdict above the floor: the
        // slowdown is confirmed and documented in two artifacts —
        // re-base instead of flagging forever
        Floor(cleanFloor, pfp, 0)
      else Floor(old, pfp, conf + 1)
    // new query, or the plan fingerprint changed: new baseline
    case _ => Floor(cleanFloor, fp, 0)
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec(): Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    // the TRUE hard wall sits ABOVE the soft budget: pacing and the quiet
    // reserve aim at budgetSec, but voluntarily skipping queries at the
    // soft target would trade coverage the external kill (~1800 s on the
    // driver) still allows — so the wall defaults to 1.18 × budget
    // (1770 s at the default), an emergency stop that beats the kill
    // while never under-running the plan
    val wallSec = sys.env.get("SPARK_GRAFT_BENCH_WALL_SEC")
      .map(_.toDouble).getOrElse(budgetSec * 1.18)
    val slowRepSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_REP_SEC", "8").toDouble
    // the main pass may spend up to this much; the rest is the quiet
    // pass's reserve (it shrinks further if the main pass overruns)
    val mainBudgetSec = budgetSec * 0.75
    val spark = Session()
    val ncpus = spark.sparkContext.defaultParallelism
    Harness.warmUp(spark, sfDir)

    // drop every form of cached state a query (or rep) can leave behind;
    // see the class doc for why clearCache alone is not enough
    def resetJvmState(settle: Boolean): Unit = {
      Harness.reset(spark)
      if (settle) {
        System.gc()
        Thread.sleep(100)
      }
    }

    // sbt's in-process `run` replaces System.out with a logger that
    // prefixes every line with "[info] " — which breaks a per-line
    // json.loads in the capturing driver (every BENCH_r1..r6 artifact has
    // parsed:null). FileDescriptor.out is the real fd 1, untouched by the
    // logger swap: JSON written here reaches the capture raw.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

    // the contention witnesses (Harness.loadavg, Harness.stealJiffies) are
    // read per query, not once at the end: that is what lets the artifact
    // distinguish "slow operator" from "busy box" after the fact, and the
    // steal delta sees the hypervisor co-tenancy loadavg cannot — the
    // adjudicated confounder of rounds 6–7.
    def uptimeSec(): Double =
      try scala.io.Source.fromFile("/proc/uptime").mkString.split(' ')(0).toDouble
      catch { case _: Throwable => -1.0 }
    // total BUSY jiffies across all cpus (user+nice+system+irq+softirq —
    // not idle/iowait/steal/guest): with the JVM's own jiffies subtracted,
    // the delta across a query is CPU burned by FOREIGN processes on this
    // box — the co-tenancy signal loadavg sees but steal does not (the
    // r17 q242 blind spot: load 10.3, steal_d 295, contended:false).
    def busyJiffies(): Long =
      try scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu "))
        .map { l =>
          val f = l.trim.split("\\s+")
          f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong
        }.getOrElse(-1L)
      catch { case _: Throwable => -1L }
    // this JVM's own utime+stime (all threads). /proc/self/stat's comm
    // field may contain spaces, so parse after the closing paren.
    def selfJiffies(): Long =
      try {
        val s = scala.io.Source.fromFile("/proc/self/stat").mkString
        val rest = s.substring(s.lastIndexOf(')') + 2).split(' ')
        rest(11).toLong + rest(12).toLong // fields 14,15 (1-based in stat)
      } catch { case _: Throwable => -1L }
    def otherDelta(busy0: Long, self0: Long): Long = {
      val b1 = busyJiffies(); val s1 = selfJiffies()
      if (b1 >= 0 && busy0 >= 0 && s1 >= 0 && self0 >= 0)
        math.max(0L, (b1 - busy0) - (s1 - self0))
      else -1L
    }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000 // ms precision, short JSON

    // STATIC-plan fingerprint: preorder nodeName walk of the prepared
    // physical plan (AQE wrapper unwrapped to its INITIAL plan — the df
    // is never executed for this, so no runtime re-planning has
    // happened; subqueries included), hashed. The walk must run on
    // executedPlan, not sparkPlan: EnsureRequirements only runs in the
    // preparation phase, so sparkPlan carries no Exchange nodes at all.
    // Node names carry no expression ids, so the fingerprint is stable
    // across sessions — equal fp across rounds means the FORMULATION
    // did not change, and a timing drift must be environmental (the
    // r12→r14 q92 question, answerable from artifacts alone from this
    // round on). Captured from the last rep's DataFrame, so
    // side-effecting (streaming-ingest) queries are never re-run for
    // it; accessing executedPlan only plans. Caveat: spill-terminal
    // queries (CacheHygiene.spillToTempParquet pattern) return a
    // read-back scan, so several of them share one fingerprint — their
    // inner-DAG drift is covered by plan specs, not this hash.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case s: QueryStageExec => unwrap(s.plan)
      case other => other
    }
    def planWalk(p: SparkPlan): Seq[String] = {
      val h = unwrap(p)
      h.nodeName +: (h.children.flatMap(planWalk) ++
        h.subqueries.flatMap(planWalk))
    }
    def planInfo(df: org.apache.spark.sql.DataFrame): (String, String) =
      try {
        val names = planWalk(df.queryExecution.executedPlan)
        val sha = java.security.MessageDigest.getInstance("SHA-1")
          .digest(names.mkString("|").getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        val scans = names.count(_.contains("Scan"))
        val xchg = names.count(_ == "Exchange")
        val bcast = names.count(_ == "BroadcastExchange")
        (sha, s""""scans":$scans,"xchg":$xchg,"bcast":$bcast""")
      } catch { case _: Throwable => ("na", """"scans":-1""") }

    // Prior committed floors (min of min and accepted quiet_min per
    // query) parsed from the LAST round's BENCH_DETAIL.json before this
    // run overwrites it — the reference for the drift-triggered quiet
    // re-measure. The format is this file's own emission, so a strict
    // regex is reliable; parse failures just mean an empty reference.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val priorFloor: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(detailPath)), "UTF-8")
      val entryRe = ("\"([^\"]+)\":\\{\"median\":[^,]*,\"min\":(-?[0-9.eE+]+)," +
        "\"reps\":\\[[^\\]]*\\],\"load\":[^,]*,\"steal_d\":[^,]*," +
        "(?:\"other_d\":-?\\d+,)?" + // r18+ emission; absent in r17 files
        "\"contended\":(?:true|false)" +
        "(?:,\"quiet_min\":(-?[0-9.eE+]+),\"quiet_steal_d\":-?\\d+," +
        "\"quiet_reps\":\\d+(?:,\"quiet_why\":\"[^\"]*\")?)?,\"plan\":").r
      entryRe.findAllMatchIn(txt).flatMap { m =>
        val mn = m.group(2).toDouble
        val qm = Option(m.group(3)).map(_.toDouble).filter(_ >= 0)
        val floor = qm.fold(mn)(math.min(mn, _))
        if (mn >= 0) Some(m.group(1) -> floor) else None
      }.toMap
    } catch { case _: Throwable => Map.empty }

    // Persistent fingerprint-keyed floor LEDGER (r18): BENCH_DETAIL only
    // remembers the LAST run, so one contended round inflates every
    // reference floor and hides the next real regression (r17's q242:
    // a 47.6 s contended min as "prior floor" would mask any regression
    // under ~57 s). The ledger keeps the best CLEAN floor per query —
    // an accepted quiet_min or an uncontended min — keyed by the plan
    // fingerprint: clean evidence only ever ratchets it DOWN; a changed
    // fingerprint re-bases it (an intentional reformulation is a new
    // baseline, not a regression, so it stops flagging after one run).
    // The file lives in the repo root and is committed, so floors carry
    // across rounds and boxes; calibration normalizes box speed at
    // compare time. Ledger floors take precedence over the detail file.
    // Entry: floor seconds, plan fingerprint, and `conf` = consecutive
    // runs whose CLEAN floor still exceeded 1.2 × this floor. The
    // fingerprint only sees the FINAL DataFrame's plan shape (multi-job
    // streaming sims can share one), so fp equality cannot prove "the
    // query never changed" — after TWO consecutive steal-clean verdicts
    // above the floor, the regression is confirmed-and-documented in two
    // artifacts and the ledger re-bases, instead of flagging forever.
    val floorsPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS", "BENCH_FLOORS.json")
    val ledgerPrior: Map[String, Floor] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(floorsPath)), "UTF-8")
      val re = ("\"([^\"]+)\":\\{\"floor\":(-?[0-9.eE+]+),\"fp\":\"([^\"]*)\"" +
        "(?:,\"conf\":(\\d+))?\\}").r
      re.findAllMatchIn(txt)
        .map(m => m.group(1) -> Floor(m.group(2).toDouble, m.group(3),
          Option(m.group(4)).map(_.toInt).getOrElse(0))).toMap
    } catch { case _: Throwable => Map.empty[String, Floor] }
    val priorFloorAll: Map[String, Double] =
      priorFloor ++ ledgerPrior.map { case (n, f) => n -> f.floor }

    val loadStart = loadavg()
    val stealStart = stealJiffies()
    var errors = Map.empty[String, String]
    // a rep's spread counts as contaminated when max/min exceeds this: an
    // honest fixture-scale rep varies ±2× with JIT state; 3× is outside that
    val SpreadLimit = 3.0
    val ExtraReps = 2
    // steal-aware verdict: hypervisor co-tenancy that inflates EVERY rep
    // evenly never trips the median/min spread (r13: a query with ~219
    // stolen CPU-seconds recorded spread 1.28 and flew under the flag), so
    // a query is also contended when its stolen CPU-seconds (steal_d/100,
    // USER_HZ=100) exceed this fraction of its summed rep wall-time
    val StealFrac = 0.25
    // load-without-steal clause: foreign processes burning more than this
    // fraction of the box's total CPU capacity (wall × ncpus) during a
    // query flag it contended even when steal and spread stay quiet. At
    // 0.15 on 32 cpus that is ~5 foreign runqueue slots sustained — the
    // r17 q242 window (load 10.3) trips it with 2× margin, while an
    // idle-box run's daemon ticks sit orders of magnitude under it.
    val OtherFrac = 0.15
    case class QRes(name: String, median: Double, min: Double,
                    times: Vector[Double], load: Double, stealD: Long,
                    otherD: Long, contended: Boolean,
                    planFp: String, planCounts: String)
    case class Quiet(min: Double, stealD: Long, reps: Int, why: String)

    // CALIBRATION (ops31, automated): fixed cheap probes, best-of-3 each,
    // against their prior committed floors → a measured host-throughput
    // factor for THIS run. Runs before the main pass (calibStart — used
    // to normalize the drift trigger and the predictive pacing) and after
    // it (calibEnd — so a box that changed speed mid-run is visible in
    // the artifact). Empty SPARK_GRAFT_BENCH_CALIB disables.
    val calibProbeNames = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB",
        "q1_agg,q13_sort,q197_attribution")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .filter(SparkEntry.queries.contains)
    def calibPass(): Map[String, Double] =
      calibProbeNames.flatMap { name =>
        val fn = SparkEntry.queries(name)
        // one UNTIMED warm rep first: the start-of-run pass otherwise
        // charges these probes' codegen/JIT warmup to the host factor
        // (measured: calib_start 1.36 vs calib_end 0.43 on one quiet
        // box — the delta was warmup, not throughput)
        try { resetJvmState(settle = false); fn(spark, sfDir).count() }
        catch { case _: Throwable => () }
        val best = (0 until 3).foldLeft(Double.MaxValue) { (b, _) =>
          resetJvmState(settle = false)
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count()
            math.min(b, (System.nanoTime() - t0) / 1e9) }
          catch { case _: Throwable => b }
        }
        if (best < Double.MaxValue) Some(name -> best) else None
      }.toMap
    def calibFactor(probes: Map[String, Double]): Double = {
      val ratios = probes.toSeq
        .flatMap { case (n, t) =>
          priorFloorAll.get(n).filter(_ > 0).map(t / _) }
        .sorted
      if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    }
    val calibStartProbes = calibPass()
    val calibStart = calibFactor(calibStartProbes)
    // normalization never LOOSENS below the raw floor: a faster box
    // (calib < 1) still flags any raw >20% regression
    val calibUsed = math.max(1.0, calibStart)
    rawOut.println(s"""{"calib_start":${r3(calibStart)},"probes":${calibStartProbes.toSeq.sortBy(_._1).map { case (n, t) => s"${q(n)}:${r3(t)}" }.mkString("{", ",", "}")}}""")

    // incremental artifact: rewritten after EVERY query and quiet
    // re-measure, so an external kill leaves full evidence for
    // everything that ran (the r16 driver artifact died with its detail
    // file never written)
    val quietAcc = scala.collection.mutable.LinkedHashMap.empty[String, Quiet]
    val skippedAcc = scala.collection.mutable.ArrayBuffer.empty[String]
    var calibEnd = -1.0
    var calibEndProbes = Map.empty[String, Double]
    def calibJson(): String = {
      def probes(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (n, t) => s"${q(n)}:${r3(t)}" }.mkString("{", ",", "}")
      s""""calib":{"start":${r3(calibStart)},"end":${r3(calibEnd)},"used":${r3(calibUsed)},"probes_start":${probes(calibStartProbes)},"probes_end":${probes(calibEndProbes)}}"""
    }
    def writeDetail(results: Seq[QRes], done: Boolean): Unit = {
      val total = results.collect { case r if r.median >= 0 => r.median }.sum
      val totalMin = results.collect { case r if r.min >= 0 => r.min }.sum
      val flagship = results.find(_.name == "omm_envelope")
      val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }
        .mkString("{", ",", "}")
      val entries = results.map { r =>
        val quietPart = quietAcc.get(r.name)
          .map(qq => s""","quiet_min":${qq.min},"quiet_steal_d":${qq.stealD},"quiet_reps":${qq.reps},"quiet_why":${q(qq.why)}""")
          .getOrElse("")
        s"""${q(r.name)}:{"median":${r.median},"min":${r.min},"reps":[${r.times.mkString(",")}],"load":${r.load},"steal_d":${r.stealD},"other_d":${r.otherD},"contended":${r.contended}$quietPart,"plan":{"fp":${q(r.planFp)},${r.planCounts}}}"""
      }.mkString("{", ",", "}")
      val skipped = skippedAcc.map(q).mkString("[", ",", "]")
      val detail =
        s"""{"metric":"total","value":$total,"value_min":$totalMin,"flagship_sec":${r3(flagship.map(_.median).getOrElse(-1.0))},"flagship_min":${r3(flagship.map(_.min).getOrElse(-1.0))},"unit":"sec","complete":$done,"queries":$entries,"errors":$es,"n_errors":${errors.size},"n_contended":${results.count(_.contended)},"n_quiet_accepted":${quietAcc.valuesIterator.count(_.min >= 0)},"skipped":$skipped,"n_skipped":${skippedAcc.size},${calibJson()},"reps":$reps,"sf":${q(sfDir)},"cpus":"$ncpus","budget_sec":$budgetSec,"elapsed_sec":${r3(elapsedSec())},"load_start":$loadStart,"load_end":${loadavg()},"steal_start":$stealStart,"steal_end":${stealJiffies()},"uptime_sec":${uptimeSec()}}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"detail write failed: $e") }
    }
    // SPARK_GRAFT_BENCH_ONLY=q92_...,q140_... restricts the run — the
    // quiet-window re-measure loop (drift forensics) without paying the
    // full sweep; unset = every registered query (the driver contract)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val resultsAcc = scala.collection.mutable.ArrayBuffer.empty[QRes]

    // ---- quiet-window machinery (shared by the interleaved re-measure
    // and the end-of-run pass). A window opens when a 2 s /proc/stat
    // probe shows ≤ 40 stolen jiffies AND foreign processes burned under
    // OtherFrac of capacity during the probe; a rep is ACCEPTED only if
    // the steal AND foreign-CPU during it stayed under the same verdict
    // thresholds — an accepted quiet_min is a clean floor by construction.
    val quietCapSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_SEC", "900").toDouble
    def quietWindowOpen(): Boolean = {
      val s0 = stealJiffies(); val b0 = busyJiffies(); val j0 = selfJiffies()
      Thread.sleep(2000)
      val s1 = stealJiffies()
      val oth = otherDelta(b0, j0)
      s0 >= 0 && s1 >= 0 && s1 - s0 <= 40 &&
        (oth < 0 || oth / 100.0 <= OtherFrac * 2.0 * ncpus)
    }
    def quietMeasure(name: String, why: String, deadline: Long): Unit = {
      val fn = SparkEntry.queries(name)
      val prior = quietAcc.get(name)
      var accepted = Vector.empty[Double]
      var stealTot = prior.map(_.stealD).getOrElse(0L)
      var attempts = prior.map(_.reps).getOrElse(0)
      // bail fast on a box with NO quiet windows: 8 consecutive closed
      // 2 s probes with nothing accepted yet (≈16 s) says the window
      // isn't coming — stop burning this target's allowance; a later
      // pass (or round) retries. Once one rep IS accepted, keep probing
      // to the deadline for the second.
      var closedProbes = 0
      while (accepted.size < 2 && System.nanoTime() < deadline &&
             (accepted.nonEmpty || closedProbes < 8)) {
        if (quietWindowOpen()) {
          closedProbes = 0
          resetJvmState(settle = false)
          val s0 = stealJiffies(); val b0 = busyJiffies(); val j0 = selfJiffies()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val wall = (System.nanoTime() - t0) / 1e9
          val d = { val s1 = stealJiffies(); if (s1 >= 0 && s0 >= 0) s1 - s0 else -1L }
          val oth = otherDelta(b0, j0)
          attempts += 1
          if (d >= 0) stealTot += d
          if (ok && d >= 0 && d / 100.0 <= StealFrac * wall &&
              (oth < 0 || oth / 100.0 <= OtherFrac * wall * ncpus))
            accepted = accepted :+ wall
        } else closedProbes += 1
      }
      val qm = if (accepted.isEmpty) -1.0 else accepted.min
      rawOut.println(s"""{"q":${q(name)},"quiet_min":${r3(qm)},"quiet_steal_d":$stealTot,"quiet_reps":$attempts,"quiet_why":${q(why)}}""")
      quietAcc(name) = Quiet(qm, stealTot, attempts, why)
      writeDetail(resultsAcc.toSeq, done = false)
    }

    // ---- predictive pacing state: the sum of prior committed floors of
    // queries NOT yet run, calibration-scaled, is the best available
    // estimate of the minimum time still needed for full coverage.
    // Queries with no prior floor (new this round) are estimated at 1 s.
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    var remFloorKnown = toRun.flatMap(t => priorFloorAll.get(t._1)).sum
    var remFloorUnknown = toRun.count(t => !priorFloorAll.contains(t._1))
    def predictedRemainMain(repsEach: Int): Double =
      (remFloorKnown * calibUsed + remFloorUnknown * 1.0) * repsEach
    // stop margin: summary emission + spark.stop + the end calibration
    val StopMarginSec = 45.0
    var walled = false

    toRun.foreach { case (name, fn) =>
      // TRUE hard wall (r17 ADVICE): no further query starts once the
      // wall is reached — remaining queries are recorded as skipped so
      // the artifact says so explicitly instead of relying on the
      // external kill to tell the story
      if (walled || elapsedSec() > wallSec - StopMarginSec) {
        walled = true
        skippedAcc += name
      } else {
      priorFloorAll.get(name) match {
        case Some(f) => remFloorKnown -= f
        case None => remFloorUnknown -= 1
      }
      // full reset + GC before each query so its reps start from the same
      // heap/broadcast state regardless of position in the alphabet
      resetJvmState(settle = true)
      val stealQ0 = stealJiffies()
      val busyQ0 = busyJiffies()
      val selfQ0 = selfJiffies()
      var failed = false
      var lastDf: org.apache.spark.sql.DataFrame = null
      def runRep(): Double = {
        // drop persisted relations left by a previous rep of the same query:
        // cache lookup is by canonicalized plan, so without this a
        // persist-using query's reps 2..n would read rep 1's cache and the
        // median would under-report its real cost
        resetJvmState(settle = false)
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          df.count()
          lastDf = df
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            failed = true
            -1.0
        }
      }
      // budget-aware target rep count: coverage beats reps. Past 70% of
      // the main-pass budget everything drops to 2 reps, past 90% to 1;
      // and a query whose FIRST rep is slow (the streaming sims) caps at
      // 2 regardless — its median at 3 reps equals its min anyway, and
      // those third reps alone cost the r16 run minutes it didn't have.
      val pace = elapsedSec() / mainBudgetSec
      var target =
        if (pace >= 0.9) 1
        else if (pace >= 0.7) math.min(reps, 2)
        else reps
      // PREDICTIVE pacing (r18): drop reps BEFORE the overrun, not after.
      // If running this query plus everything still queued at k reps each
      // (prior floors × calibration) won't fit in the main-pass share,
      // reduce k now — the r17 run only reacted once elapsed share was
      // already spent, which is exactly how its quiet pass starved.
      locally {
        val selfCost = priorFloorAll.get(name).map(_ * calibUsed).getOrElse(1.0)
        def fits(k: Int): Boolean =
          elapsedSec() + selfCost * k + predictedRemainMain(k) <= mainBudgetSec
        if (target > 2 && !fits(target)) target = 2
        if (target > 1 && !fits(2)) target = 1
      }
      var times = Vector.empty[Double]
      var i = 0
      while (!failed && i < target) {
        val t = runRep()
        if (t >= 0) {
          times = times :+ t
          if (i == 0 && t > slowRepSec && target > 2) target = 2
        }
        i += 1
      }
      def median(ts: Vector[Double]): Double = ts.sorted.apply(ts.size / 2)
      def spreadOk(ts: Vector[Double]): Boolean =
        ts.size < 2 || ts.max / ts.min.max(1e-9) <= SpreadLimit
      def stealSoFar(): Long = {
        val s1 = stealJiffies()
        if (s1 >= 0 && stealQ0 >= 0) s1 - stealQ0 else -1L
      }
      def stealHigh(ts: Vector[Double]): Boolean = {
        val wall = ts.sum
        val d = stealSoFar()
        d >= 0 && wall > 0 && d / 100.0 > StealFrac * wall
      }
      // adaptive reps: a transient contention spike that owned one of 3 reps
      // gets outvoted by honest extras; stop once the median is within
      // SpreadLimit of the contention-immune min (median trustworthy again)
      // AND the stolen-CPU fraction is back under StealFrac — sustained
      // steal inflates every rep evenly, so the extras give the query more
      // chances to land a quiet rep that pulls min (the headline companion)
      // down even when the median stays polluted
      var extras = 0
      while (!failed && target > 1 && extras < ExtraReps &&
             elapsedSec() < 0.9 * mainBudgetSec &&
             ((!spreadOk(times) &&
               median(times) / times.min.max(1e-9) > SpreadLimit) ||
              stealHigh(times))) {
        val t = runRep()
        if (t >= 0) times = times :+ t
        extras += 1
      }
      val med = if (failed || times.isEmpty) -1.0 else median(times)
      val mn = if (times.isEmpty) -1.0 else times.min
      // contended = EITHER the median is still more than SpreadLimit above
      // the contention-immune min after the extra reps (transient spike the
      // extras could not outvote), OR the query's stolen CPU-seconds exceed
      // StealFrac of its summed rep wall-time (even steal the spread test
      // is blind to). Raw max/min spread is NOT used: it can never clear
      // once one rep spiked, so it would over-report. The spread clause
      // needs >= 2 reps by construction; the steal clause is meaningful
      // for ANY rep count — its whole point is catching even inflation a
      // single rep cannot reveal through spread.
      // ... OR (r18) foreign processes burned more than OtherFrac of the
      // box's CPU capacity during the query (other_d vs wall × ncpus) —
      // load-without-steal the first two clauses are both blind to (the
      // r17 q242 hole: one 47.6 s rep, load 10.3, steal_d 295, no flag).
      val otherD = otherDelta(busyQ0, selfQ0)
      val otherHigh = {
        val wall = times.filter(_ >= 0).sum
        otherD >= 0 && wall > 0 && otherD / 100.0 > OtherFrac * wall * ncpus
      }
      val contended = !failed && times.nonEmpty &&
        ((times.size >= 2 &&
          median(times) / times.min.max(1e-9) > SpreadLimit) ||
         stealHigh(times) || otherHigh)
      val load = loadavg()
      val stealD = stealSoFar()
      val (fp, pc) =
        if (failed || lastDf == null) ("na", """"scans":-1""")
        else planInfo(lastDf)
      lastDf = null
      // one short evidence line per query, printed BEFORE the summary so a
      // tail capture keeps the summary; the detail file keeps everything
      rawOut.println(s"""{"q":${q(name)},"median":${r3(med)},"min":${r3(mn)},"reps":[${times.map(r3).mkString(",")}],"load":$load,"steal_d":$stealD,"other_d":$otherD,"contended":$contended,"fp":${q(fp)}}""")
      resultsAcc += QRes(name, med, mn, times, load, stealD, otherD,
        contended, fp, pc)
      writeDetail(resultsAcc.toSeq, done = false)
      // INTERLEAVED quiet re-measure (r18): a flagged query gets its
      // verdict NOW, while budget demonstrably remains — the r17 single
      // end-pass starved to zero verdicts exactly when the run was
      // contended enough to need them. Gated on predictive headroom so a
      // verdict never costs coverage: the attempt fits only if minimum
      // completion of everything still queued fits after it.
      val driftNow = !failed && mn >= 0 && priorFloorAll.get(name)
        .exists(pf => pf > 0 && mn > 1.2 * pf * calibUsed)
      if (driftNow || contended) {
        val why =
          if (driftNow && contended) "drift+contended"
          else if (driftNow) "drift" else "contended"
        val estQuiet = 2.2 * math.max(0.0, mn) + 12.0
        val headroom = (budgetSec - StopMarginSec) - elapsedSec() -
          predictedRemainMain(1)
        if (headroom > estQuiet) {
          val allowSec = math.min(headroom,
            math.max(24.0, 3.5 * math.max(0.0, mn) + 10.0))
          quietMeasure(name, why, System.nanoTime() + (allowSec * 1e9).toLong)
        }
      }
      }
    }
    if (walled) writeDetail(resultsAcc.toSeq, done = false)
    val results: Seq[QRes] = resultsAcc.toSeq
    // END-OF-RUN QUIET PASS: with the interleaved re-measures (above)
    // having first claim on the budget, this pass only RETRIES what
    // interleaving could not accept (no accepted quiet_min yet) plus, in
    // SPARK_GRAFT_BENCH_QUIET_ALL=1 mode, every other successful query.
    // It spends what the wall has LEFT (minus the stop margin), capped by
    // SPARK_GRAFT_BENCH_QUIET_SEC; targets the budget never reached keep
    // their quiet_min −1 with attempt counts — an explicit budget-skip
    // verdict, never a silent one.
    // DRIFT = min regressed > 20% vs the prior committed floor,
    // CALIBRATION-NORMALIZED (this run's measured host factor): on a box
    // running 2× slow, only queries beyond the box's own drift flag.
    val drift: Seq[(QRes, Double)] = results
      .filter(_.min >= 0)
      .flatMap(r => priorFloorAll.get(r.name)
        .filter(pf => pf > 0 && r.min > 1.2 * pf * calibUsed)
        .map(pf => r -> r.min / pf))
      .sortBy(-_._2)
    val driftNames = drift.map(_._1.name).toSet
    def accepted(name: String): Boolean =
      quietAcc.get(name).exists(_.min >= 0)
    val quietTargets: Seq[(QRes, String)] =
      (if (sys.env.get("SPARK_GRAFT_BENCH_QUIET_ALL").contains("1"))
        results.filter(_.median >= 0).map { r =>
          r -> (if (driftNames(r.name)) "drift"
                else if (r.contended) "contended" else "all")
        }
      else drift.map { case (r, _) =>
        r -> (if (r.contended) "drift+contended" else "drift")
      } ++ results.filter(r => r.contended && !driftNames(r.name))
        .map(r => r -> "contended"))
        .filterNot { case (r, _) => accepted(r.name) }
    val quietCapSec2 = math.max(0.0, math.min(quietCapSec,
      budgetSec - elapsedSec() - StopMarginSec))
    val quietDeadline = System.nanoTime() + (quietCapSec2 * 1e9).toLong
    quietTargets.foreach { case (r, why) =>
      if (System.nanoTime() < quietDeadline) {
        // per-target allowance inside the shared deadline, so one slow
        // target cannot starve every target behind it in the list
        val allow = math.max(24.0, 3.5 * math.max(0.0, r.min) + 10.0)
        quietMeasure(r.name, why, math.min(quietDeadline,
          System.nanoTime() + (allow * 1e9).toLong))
      } else if (!quietAcc.contains(r.name)) {
        // explicit budget-skip verdict (r17 left these rows silent)
        quietAcc(r.name) = Quiet(-1.0, 0L, 0, why + ":budget-skip")
        writeDetail(results, done = false)
      }
    }

    // end calibration: the same probes again, so the artifact records
    // whether the box changed speed across the run
    calibEndProbes = calibPass()
    calibEnd = calibFactor(calibEndProbes)

    // ledger commit: clean evidence only. An accepted quiet_min is clean
    // by construction; an uncontended min is clean by the three-clause
    // verdict. A contended query with no quiet verdict commits nothing —
    // its min can only be inflated, and inflation must never become the
    // reference floor (the r17 q242 lesson). Same fingerprint ratchets
    // down; a changed fingerprint re-bases to this run's clean floor.
    locally {
      val updated = results.foldLeft(ledgerPrior) { (lg, r) =>
        val quiet = quietAcc.get(r.name).map(_.min).filter(_ >= 0)
        val clean: Option[Double] = quiet match {
          case Some(qm) if r.min >= 0 => Some(math.min(qm, r.min))
          case Some(qm) => Some(qm)
          case None if !r.contended && r.min >= 0 => Some(r.min)
          case None => None
        }
        clean match {
          case Some(f) if r.planFp != "na" =>
            lg + (r.name -> ledgerStep(lg.get(r.name), f, r.planFp))
          case _ => lg
        }
      }
      if (updated != ledgerPrior) try {
        val body = updated.toSeq.sortBy(_._1).map { case (n, fl) =>
          s"${q(n)}:{\"floor\":${r3(fl.floor)},\"fp\":${q(fl.fp)}" +
            (if (fl.conf > 0) s""","conf":${fl.conf}}""" else "}")
        }.mkString("{\n", ",\n", "\n}\n")
        val tmp = java.nio.file.Paths.get(floorsPath + ".tmp")
        java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(floorsPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => () } // best-effort: never fail a bench
    }

    val loadEnd = loadavg()
    val stealEnd = stealJiffies()
    val total = results.collect { case r if r.median >= 0 => r.median }.sum
    // contention-immune companion total: a co-tenant can only inflate reps,
    // never deflate them, so sum-of-mins is the floor no busy box can move
    val totalMin = results.collect { case r if r.min >= 0 => r.min }.sum
    // flagship (the reference's own envelope pipeline) surfaced as a
    // headline field so the 4 s slow-poll-budget check is machine-readable
    // per round without digging into the per-query map
    val flagship = results.find(_.name == "omm_envelope")
    val flagshipSec = r3(flagship.map(_.median).getOrElse(-1.0))
    val flagshipMin = r3(flagship.map(_.min).getOrElse(-1.0))
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

    // final (complete) artifact on disk — the incremental writer has been
    // keeping it current all run; this stamps "complete": true
    writeDetail(results, done = true)

    // compact trailing summary: total LAST on stdout, slowest-10 medians
    // in-line (q44-class outliers are thus always in-artifact), bounded
    // size (~600 chars for 91 queries) so the 2000-char tail always holds
    // a parseable JSON object even with sbt's epilogue after it
    val slow = results.filter(_.median >= 0).sortBy(-_.median).take(10)
      .map { r => s"${q(r.name)}:${r3(r.median)}" }.mkString("{", ",", "}")
    // contended queries by name (capped at 10 to keep the tail bounded):
    // for these, trust "min"/"value_min", not the median — the per-query
    // lines above carry the rep + steal evidence
    val contendedNames = results.filter(_.contended).take(10)
      .map(r => q(r.name)).mkString("[", ",", "]")
    spark.stop()
    // print the summary AFTER spark.stop() so no late executor/log line can
    // land between it and the end of the capture window
    rawOut.println(s"""{"metric":"total","value":${r3(total)},"value_min":${r3(totalMin)},"flagship_sec":$flagshipSec,"flagship_min":$flagshipMin,"unit":"sec","n_queries":${results.size},"errors":$es,"n_errors":${errors.size},"n_contended":${results.count(_.contended)},"n_quiet":${quietAcc.size},"n_quiet_accepted":${quietAcc.valuesIterator.count(_.min >= 0)},"n_drift":${drift.size},"n_skipped":${skippedAcc.size},"calib_start":${r3(calibStart)},"calib_end":${r3(calibEnd)},"budget_sec":$budgetSec,"elapsed_sec":${r3(elapsedSec())},"contended":$contendedNames,"reps":$reps,"sf":${q(sfDir)},"load_start":$loadStart,"load_end":$loadEnd,"steal_start":$stealStart,"steal_end":$stealEnd,"slowest":$slow,"detail":${q(detailPath)}}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
