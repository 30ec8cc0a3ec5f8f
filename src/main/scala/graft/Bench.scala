package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def newSession(): SparkSession = Sessions.local(cpus.toInt, "graft-bench")
    var spark = newSession()
    var restarts = 0
    // one fatal query must not poison the rest of the bench: an
    // OOM-class failure stops the local SparkContext, after which every
    // subsequent query dies instantly with "stopped SparkContext" and
    // the whole tail of the artifact is garbage (the failure mode the
    // first widened-32x run hit). Revive the session and drop the dead
    // context's cached intermediates; the restart count is reported.
    def session(): SparkSession = {
      if (spark.sparkContext.isStopped) {
        restarts += 1
        Intermediates.clear()
        spark = newSession()
      }
      spark
    }
    // JSON string escaper (the Verify.q contract): quote, backslash and
    // EVERY control char — an exception message with \b or \f would
    // otherwise invalidate the artifact, which the driver's json.load
    // silently zeroes
    def jstr(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    // warm the JVM / codegen once (entry), then the BENCH dir's parquet
    // footers and page cache — entry() reads sf0.001, so without this
    // the alphabetically first measured query absorbed sfDir's
    // first-touch costs into its recorded time and every ratio built on it
    try {
      SparkEntry.entry(spark).count()
      Tables.starTables.foreach(t => Tables.load(spark, sfDir, t).count())
    } catch { case _: Throwable => }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // elapsed is reported even on failure (time-to-failure is real wall
    // time and keeps the per-query list complete across rounds), but a
    // failed run NEVER enters a ratio series or a warm/base map — `ok`
    // gates that (a time-to-failure masquerading as a measurement is
    // how a scaling artifact lies)
    def run(name: String, dir: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(session(), dir).count(); true }
        catch { case e: Throwable =>
          val raw = Option(e.getMessage).getOrElse("").take(120)
          // a 120-char cut can split a surrogate pair; drop the orphan
          val cut = if (raw.nonEmpty && Character.isHighSurrogate(raw.last))
            raw.dropRight(1) else raw
          failed += jstr(s"$name@$dir:${e.getClass.getSimpleName}:$cut")
          false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // SPARK_GRAFT_BENCH_SKIP: comma-separated query names to leave out
    // of the registry pass — the drift-attribution knob (run the
    // common subset with a suspect family's fixtures never built in
    // this JVM, e.g. SKIP=q93_...,...,q99_... for the round-7 q9x
    // accretion hypothesis). Skipped names are recorded in the
    // artifact so a filtered run can never masquerade as a full one.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip).map(n => n -> run(n, sfDir))
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val resultTimes = results.map { case (n, (t, _)) => n -> t }

    // FRESH-JVM steady state, emitted INTO the artifact (round-8 judge
    // prescription #2: the official tier pass recorded a degraded-JVM
    // 64× — q26 warm 14.24 s where every fresh JVM reads ~2.8 s — and
    // the correcting evidence lived only in PLANS.md prose). Forks one
    // child JVM per tier (same flags/classpath as this forked run),
    // runs the third-decade heavies min-of-3 with per-query eviction,
    // and parses QBench's QBJSON line. A child that times out or dies
    // records an error object instead of numbers — never silence.
    def steadyBlock(dir: String, qs: Seq[String],
        key: String = "steady"): String = {
      if (qs.isEmpty || sys.env.getOrElse("SPARK_GRAFT_STEADY", "1") != "1")
        return ""
      val budget = sys.env.getOrElse("SPARK_GRAFT_STEADY_BUDGET_SEC", "1200").toLong
      try {
        import scala.jdk.CollectionConverters._
        val javaBin = System.getProperty("java.home") + "/bin/java"
        // drop agent/debug/JFR flags before forking: a fixed jdwp port
        // or an in-use JFR recording path makes the child fail to START,
        // and the steady artifact would degrade to an opaque error. An
        // env override replaces the inherited flags entirely.
        val jvmArgs = sys.env.get("SPARK_GRAFT_STEADY_JVM_ARGS") match {
          case Some(o) => o.split(' ').map(_.trim).filter(_.nonEmpty).toSeq
          case None => java.lang.management.ManagementFactory.getRuntimeMXBean
            .getInputArguments.asScala.toSeq.filterNot { a =>
              a.startsWith("-agentlib:") || a.startsWith("-agentpath:") ||
              a.startsWith("-javaagent:") || a.startsWith("-Xrunjdwp") ||
              a.startsWith("-XX:StartFlightRecording") ||
              a.startsWith("-XX:FlightRecorderOptions")
            }
        }
        val cmd = Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.QBench") ++
          qs ++ Seq("3")
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_QB_EVICT", "1")
        val p = pb.start()
        val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val pump = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
          var l = br.readLine()
          while (l != null) { lines.add(l); l = br.readLine() }
        })
        pump.setDaemon(true)
        pump.start()
        // keep a bounded tail of the child's stderr: when the child dies
        // the error object carries the diagnostic instead of discarding it
        val errTail = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val errPump = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getErrorStream, "UTF-8"))
          var l = br.readLine()
          while (l != null) {
            errTail.add(l)
            while (errTail.size > 5) errTail.poll()
            l = br.readLine()
          }
        })
        errPump.setDaemon(true)
        errPump.start()
        val done = p.waitFor(budget, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) {
          p.destroyForcibly()
          s""","$key":{"error":"timeout ${budget}s"}"""
        } else {
          pump.join(5000)
          errPump.join(1000)
          lines.asScala.toSeq.reverse.find(_.startsWith("QBJSON ")) match {
            case Some(l) if p.exitValue() == 0 =>
              s""","$key":${l.stripPrefix("QBJSON ")}"""
            case _ =>
              val diag = jstr(errTail.asScala.mkString(" | ").takeRight(400))
              s""","$key":{"error":"exit ${p.exitValue()}","stderr_tail":"$diag"}"""
          }
        }
      } catch { case e: Throwable =>
        s""","$key":{"error":"${jstr(e.getClass.getSimpleName)}"}"""
      }
    }

    // scale-stress tiers: rebuild the fixture N× up (disjoint key
    // shards — ScaleFixture scaladoc) and re-run the expensive tail in the
    // SAME warm JVM, so ratio ≈ data-scaling behavior, not setup noise.
    // A time budget bounds each tier; queries it skips are reported.
    //
    // Two passes per tier: the first pays any shared-intermediate builds
    // for the scaled dir (cold), the second measures the query alone
    // (warm). The ratio DENOMINATOR is a dedicated warm re-run of the
    // heavy set at base scale (below) — the full-registry pass's time
    // for a seam-PRODUCING query includes its seam build, and using it
    // would mix cold-denominator ratios into a warm-vs-warm series.
    // `vsWarm` adds a second ratio series against another tier's warm
    // times (the scaling curve: sf2's ratio_vs_sf1 over 3.2× data vs
    // sf1's ratio_vs_base over 10× — convexity between decades is the
    // 100× predictor).
    def scaleTier(label: String, factor: Int, budgetSec: Double,
        queries: Seq[String], base: Map[String, Double],
        vsWarm: Option[(String, Map[String, Double])],
        perQueryEvict: Boolean = false): (String, Map[String, Double]) = {
      val dst = ScaleFixture.defaultDst(sfDir, factor)
      val b0 = System.nanoTime()
      try {
        // evict the previous tier's cached intermediates before this one
        // runs: three data scales' working sets do not fit one JVM, and
        // the ratios must measure the engine, not cross-tier eviction
        Intermediates.dropExcept(dst)
        ScaleFixture.build(session(), sfDir, dst, factor)
        val buildSec = (System.nanoTime() - b0) / 1e9
        // per-query cold+warm PAIRS (not two global passes): a budget
        // truncation then still yields warm ratios for every query that
        // ran, instead of a full cold pass and zero ratios — the failure
        // mode the first factor-32 run hit (10 colds = 485 s > budget,
        // warm pass never started)
        var spent = 0.0
        var attempted = 0
        val cold = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val warm = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        for (n <- queries if spent < budgetSec) {
          attempted += 1
          val (tc, okc) = run(n, dst); spent += tc
          if (okc) {
            cold += (n -> tc)
            // STEADY-STATE warm: up to 3 reps, stop once a rep fails to
            // improve >10% on the previous, publish the minimum. One
            // warm rep right after the cold rep measured eviction/GC
            // residue, not the query (round-6 close-run: s9 read e2 1.74
            // published vs 0.57 at 3-rep steady state — the published
            // table must be the authoritative number, no prose caveat)
            var best = Double.MaxValue
            var prev = Double.MaxValue
            var reps = 0
            var settled = false
            while (reps < 3 && !settled && spent < budgetSec) {
              val (tw, okw) = run(n, dst); spent += tw
              if (!okw) settled = true
              else {
                best = math.min(best, tw)
                settled = tw >= prev * 0.9
                prev = tw
                reps += 1
              }
            }
            if (best < Double.MaxValue) warm += (n -> best)
          }
          // at the top factor each query measures against its OWN
          // working set: a prior query's cached seam is unevictable
          // storage that squeezes execution memory into OOM at 32x
          // data (cold pays the seam build either way; warm ran
          // against the warm seam before the evict)
          if (perQueryEvict) Intermediates.dropAll()
        }
        val skipped = queries.drop(attempted)
        val warmMap = warm.toMap
        // fresh-JVM steady state for this tier's third-decade subset —
        // runs regardless of budget truncation (own budget, own JVM)
        val steadyJson =
          steadyBlock(dst, queries.filter(ScaleFixture.thirdDecadeQueries.toSet))
        // ratios are strictly warm-vs-warm; a budget-truncated warm pass
        // (or a failed run) yields no ratio rather than a wrong number
        def ratiosVs(ref: Map[String, Double]): Seq[(String, Double)] =
          cold.toSeq.flatMap { case (n, _) =>
            warmMap.get(n) match {
              case Some(t) if t > 0 && ref.getOrElse(n, -1.0) > 0 =>
                Some(n -> t / ref(n))
              case _ => None
            }
          }
        val extra = vsWarm.map { case (refLabel, ref) =>
          s""""ratio_vs_$refLabel":${json(ratiosVs(ref))},"""
        }.getOrElse("")
        (s""","$label":{"factor":$factor,"build_sec":$buildSec,""" +
          s""""queries":${json(cold.toSeq)},"warm":${json(warm.toSeq)}$steadyJson,""" +
          s""""ratio_vs_base":${json(ratiosVs(base))},$extra""" +
          s""""skipped":[${skipped.map("\"" + _ + "\"").mkString(",")}]}""",
          warmMap)
      } catch { case e: Throwable =>
        (s""","$label":{"factor":$factor,"error":"${e.getClass.getSimpleName}"}""",
          Map.empty)
      }
    }
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_SCALE_BUDGET_SEC", "600").toDouble
    // warm-base pass over the heavy set: the full-registry pass above
    // left every memoized seam resident, so these re-runs are TRUE warm
    // numbers — the registry pass's own time for whichever query first
    // built a seam included that build and is not a valid warm
    // denominator. Failed queries stay out (run() gates on ok).
    val known = SparkEntry.queries.keySet
    // same steady-state rule as the tiers (min of up to 3 reps, stop
    // when a rep stops improving >10%): the ratio must be steady-vs-
    // steady on BOTH sides, or a noisy single-rep denominator skews
    // every exponent built on it
    def steadyRun(n: String, dir: String): Option[Double] = {
      var best = Double.MaxValue
      var prev = Double.MaxValue
      var reps = 0
      var settled = false
      while (reps < 3 && !settled) {
        val (t, ok) = run(n, dir)
        if (!ok) settled = true
        else {
          best = math.min(best, t)
          settled = t >= prev * 0.9
          prev = t
          reps += 1
        }
      }
      if (best < Double.MaxValue) Some(best) else None
    }
    val warmBase = ScaleFixture.heavyQueries.filter(known)
      .flatMap(n => steadyRun(n, sfDir).map(n -> _))
    val base = resultTimes.toMap ++ warmBase // heavy set overridden warm
    // fresh-JVM base point for the third-decade curve: the same
    // steady-vs-steady series as the tiers, with zero shared-JVM state
    val steadyBase = steadyBlock(sfDir,
      ScaleFixture.thirdDecadeQueries.filter(known), key = "steady_base")
    // perQueryEvict on EVERY tier: without it, earlier queries' seam
    // checkpoints stay resident and inflate later queries' measurements
    // (q64@10x measured 41 s warm inside the tier vs 7 s isolated —
    // the number must measure the query, not its neighbors' leftovers)
    val (sf1, warm1) =
      if (factor <= 1) ("", Map.empty[String, Double])
      else scaleTier("sf1", factor, budgetSec, ScaleFixture.heavyQueries, base,
        None, perQueryEvict = true)
    // second decade: the convexity points. Runs ALL 25 heavies at
    // factor 32 in the same JVM (cheap-first, so a budget cut drops
    // only the expensive tail into `skipped`); vsWarm against the sf1
    // tier gives each query's second-decade ratio directly.
    val factor2 = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR2", "32").toInt
    val budget2 = sys.env.getOrElse("SPARK_GRAFT_SCALE2_BUDGET_SEC", "1200").toDouble
    val (sf2, warm2) =
      if (factor2 <= factor || warm1.isEmpty) ("", Map.empty[String, Double])
      else scaleTier("sf2", factor2, budget2, ScaleFixture.heavyQueries, base,
        Some("sf1" -> warm1), perQueryEvict = true)
    // third curve point (the 100× predictor's third decade): the 10
    // heaviest scaling stories run at the top factor — the working set
    // there IS the harness memory ceiling, measured, not asserted.
    // Budget sized for 10 queries × (cold + steady-state warm reps).
    val factor3 = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR3", "64").toInt
    val budget3 = sys.env.getOrElse("SPARK_GRAFT_SCALE3_BUDGET_SEC", "1500").toDouble
    val sf3 =
      if (factor3 <= factor2 || warm2.isEmpty) ""
      else scaleTier("sf3", factor3, budget3, ScaleFixture.thirdDecadeQueries,
        base, Some("sf2" -> warm2), perQueryEvict = true)._1
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":[${failed.map("\"" + _ + "\"").mkString(",")}]"""
    val restartsJson = if (restarts == 0) "" else s""","context_restarts":$restarts"""
    val skipJson = if (skip.isEmpty) ""
      else s""","bench_skip":[${skip.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
    // round-over-round drift as a FIRST-CLASS number: against the
    // previous round's committed artifact (tools/bench_prev_round.json,
    // refreshed at each round close), emit the common-subset totals —
    // the +16% r6->r7 registry-wide drift was only visible by diffing
    // two artifacts by hand, so it went unattributed for a round
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "tools/bench_prev_round.json")
    val driftJson = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)), "UTF-8")
      // line-format artifact: extract the flat "queries" object
      val qre = """"queries":\{([^}]*)\}""".r
      val pairs = qre.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val prev = """"([^"]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(pairs)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val cur = resultTimes.toMap
      val common = prev.keySet.intersect(cur.keySet).toSeq.sorted
      if (common.isEmpty) "" else {
        val a = common.map(cur).sum
        val b = common.map(prev).sum
        s""","common_prev":{"n":${common.size},"total":$a,"prev_total":$b,"ratio":${a / b}}"""
      }
    } catch { case _: Throwable => "" }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(resultTimes)},"warm_base":${json(warmBase)},"sf":"${jstr(sfDir)}"$failedJson$restartsJson$skipJson$driftJson$steadyBase$sf1$sf2$sf3}"""
    println(line)
    // durable machine-readable copy: the driver's BENCH artifact keeps
    // only the tail of stdout, which loses the base section once the
    // scale tiers grow — judges/rounds diff this file instead of prose
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tools/bench_full_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"bench artifact write failed: $e") }
    // LAST stdout line: a compact summary guaranteed to fit the driver's
    // bounded stdout tail, so BENCH_rNN.json.parsed stops being null
    // (round-9 judge finding #3 — the full line above exceeds the tail
    // once the tier sections grow, truncating its head mid-JSON). The
    // queries map here carries the most expensive rows only; the full
    // per-query map lives in the line above and in `full_artifact`.
    val top = resultTimes.sortBy(-_._2).take(25).sortBy(_._1)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${resultTimes.size},"queries":${json(top)},"sf":"${jstr(sfDir)}","full_artifact":"${jstr(outPath)}"$restartsJson$driftJson}""")
    spark.stop()
  }
}
