package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Intermediates, ScaleFixture, SparkEntry, Tables}
import graft.sources.Snapshots

/** The benchmark's JVM side: one closed-loop client driving the engine
  * through its public entry points, as one workload, for a time window.
  *
  * `run.py` writes the plan (workload, seed-derived query orders and DML
  * inputs, paths) and reads back `result.json`; correctness of every
  * answer is checked there, outside the timed calls.
  *
  * Usage: perfbench.Main <plan.json>
  *        perfbench.Main fixture <srcDir> <dstDir> <factor>
  *
  * The second form only builds a scaled fixture, in a JVM of its own, so
  * that no measured run carries the build's heap and cache effects.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args(0) == "fixture") {
      val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors, "perfbench-fixture")
      try ScaleFixture.build(spark, args(1), args(2), args(3).toInt) finally spark.stop()
      return
    }
    val plan = Json.read(args(0))
    val work = plan.get("work").asText
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = plan.get("cpus").asInt
    val spark = graft.Sessions.local(cpus, "perfbench")
    val sessionStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (plan.get("trace").asBoolean) {
      val t = new Tracer(spark); t.install(); Some(t)
    } else None
    val client = new Client(spark, tracer)
    val out = mutable.LinkedHashMap[String, Any](
      "session_start_s" -> sessionStart,
      "env" -> Map("master" -> spark.sparkContext.master,
        "spark" -> spark.version,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)))
    val workload = plan.get("workload").asText
    // each workload fills `out` with its set-up timings and per-pass
    // records; passes repeat until the window has elapsed (at least one)
    try {
      if (workload == "dml_mix") new DmlMix(spark, client, plan).run(out)
      else new QueryMix(spark, client, plan).run(out)
    } catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    out("ops") = client.records.toSeq
    out("peak_rss_mb") = peakRssMb()
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
    val w = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try w.write(Json.write(out)) finally w.close()
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Data, position-delete and equality-delete files the latest snapshots
    * of `tables` reference. */
  def fileCounts(spark: SparkSession, tables: Seq[String]): Map[String, Any] = Map(
    "data_files" -> tables.map(Snapshots.dataFiles(spark, _).size).sum,
    "delete_files" -> tables.map(Snapshots.deleteFiles(spark, _).size).sum,
    "eq_delete_files" -> tables.map(Snapshots.eqDeleteFiles(spark, _).size).sum)

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Runs ops one after another and records each: kind (query, write or
  * read), layer, name, pass, wall seconds, and under tracing what the op
  * caused in Spark.
  */
final class Client(spark: SparkSession, val tracer: Option[Tracer]) {
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0L

  def op[A](kind: String, layer: String, name: String, pass: Int,
      extra: => Map[String, Any] = Map.empty)(body: Long => A): Either[String, A] =
    // pass 0 is warm-up: not recorded, not traced
    if (pass == 0) attempt(body(0)) else synchronized {
      nextId += 1
      val id = nextId
      val startUs = tracer.map(_.nowUs()).getOrElse(0L)
      tracer.foreach(_.begin(id, layer, startUs))
      val t0 = System.nanoTime()
      val r = attempt(body(id))
      val wall = (System.nanoTime() - t0) / 1e9
      val endUs = startUs + (wall * 1e6).toLong
      val traced = tracer.map { t =>
        val c = t.end(id, endUs)
        val jobsUs = Intervals.unionLength(c.jobIntervals.toSeq.map { case (s, e) =>
          (math.max(s * 1000L, startUs), math.min(e * 1000L, endUs)) })
        val resident = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        c.toMap ++ Map("driver_gap_s" -> math.max(0.0, wall - jobsUs / 1e6),
          "resident_bytes" -> resident)
      }
      records += Map("id" -> id, "kind" -> kind, "layer" -> layer, "name" -> name,
        "pass" -> pass, "wall_s" -> wall, "error" -> r.left.toOption,
        "trace" -> traced) ++ extra
      r
    }

  private def attempt[A](body: => A): Either[String, A] =
    try Right(body) catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }

  /** The manifest-resolution step of a snapshot read, timed on its own
    * (and, traced, as a child span with the jobs it started). */
  def resolve(id: Long)(read: => DataFrame): (DataFrame, Double, Long) = {
    val t0 = tracer.filter(_ => id > 0).map(_.nowUs())
    val (df, s) = Main.timed(read)
    val jobs = (for (t <- tracer; u <- t0) yield {
      t.child(id, "snapshots.read_resolve", u, u + (s * 1e6).toLong)
      t.jobsSoFar(id)
    }).getOrElse(0L)
    (df, s, jobs)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var open = false
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > reach) { total += e - s; reach = e; open = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}

/** `heavy_x10`: registry queries, each pass in its own seed-shuffled
  * order, every answer written as parquet for the oracle check, then
  * committed to a fresh snapshot table of its pass and read back
  * `readbacks` times.
  */
final class QueryMix(spark: SparkSession, client: Client, plan: JsonNode) {
  private val work = plan.get("work").asText
  private val readbacks = plan.get("readbacks").asInt
  private val queries = SparkEntry.queries
  private val family: Map[String, String] = Seq(
    "relational" -> graft.operators.Relational.all,
    "analytic" -> graft.operators.Analytic.all,
    "temporal" -> graft.operators.Temporal.all,
    "text" -> graft.operators.TextAnalysis.all,
    "dedup" -> graft.operators.Dedup.all,
    "similarity" -> graft.operators.Similarity.all)
    .flatMap { case (f, specs) => specs.map(_.name -> f) }.toMap

  private def query(name: String, dir: String, outDir: String, pass: Int): Option[StructType] =
    client.op("query", s"operators.${family.getOrElse(name, "other")}", name, pass) { id =>
      val df = queries(name)(spark, dir)
      df.write.mode("overwrite").parquet(outDir)
      // read the eager analysis only after the write: read before it, it
      // slowed the write by 0.3-1 s per query (Spark 4.1, local[4])
      client.tracer.foreach(_.analyzedOnly(id, df.queryExecution))
      df.schema
    }.toOption

  def run(out: mutable.Map[String, Any]): Unit = {
    // per pass, the query names in the order they run
    val orders = plan.get("queries").elements.asScala
      .map(_.elements.asScala.map(_.asText).toSeq).toSeq
    val names = orders.head.sorted
    // the 10x fixture is input data, built once per checkout before this
    // JVM started
    val dataDir = plan.get("fixture").asText
    out("data_dir") = dataDir
    val answers = mutable.ArrayBuffer.empty[Map[String, Any]]
    // warm-up: one unrecorded pass over the same data, so code generation,
    // JIT and file caches are warm before the window (a pass over the 1x
    // source tables instead left the first measured pass 40% slow)
    out("warmup_s") = Main.timed(names.foreach(q => answer(q, dataDir, 0, answers)))._2
    // set-up, repeated: open the input tables (each load reads the
    // footers to infer its schema)
    out("prep_s") = (1 to plan.get("setup_reps").asInt).map { _ =>
      Main.timed(Tables.starTables.foreach(t => Tables.load(spark, dataDir, t).schema))._2
    }

    val deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = plan.get("min_passes").asInt
    var pass = 0
    while (pass < orders.size && (pass < minPasses || System.nanoTime() < deadline)) {
      pass += 1
      orders(pass - 1).foreach(q => answer(q, dataDir, pass, answers))
      val slots = names.map(q => s"$q/p$pass")
      val tables = slots.map(s => s"$work/tables/$s").filter(t => new java.io.File(t).exists)
      val plainBytes = slots.map(s => Main.bytesUnder(spark, s"$work/answers/$s")).sum
      val tableBytes = tables.map(Main.bytesUnder(spark, _)).sum
      passes += Map("pass" -> pass, "table_bytes" -> tableBytes, "plain_bytes" -> plainBytes,
        "user_bytes" -> plainBytes, "written_bytes" -> tableBytes) ++ Main.fileCounts(spark, tables)
    }
    // a traced run times a fresh build of the fixture after the window,
    // so the build touches neither the window nor the data it reads
    if (plan.has("fresh_fixture")) out("fixture_build_s") = Main.timed(ScaleFixture.build(spark,
      plan.get("fixture_src").asText, plan.get("fresh_fixture").asText,
      plan.get("fixture_factor").asInt))._2
    out("answers") = answers.toSeq
    out("oracle") = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    out("passes") = passes.toSeq
  }

  /** Run query `q`, then persist its answer; pass 0 (warm-up) is not
    * recorded. */
  private def answer(q: String, dataDir: String, pass: Int,
      answers: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val dir = s"$work/answers/$q/p$pass"
    val answered = query(q, dataDir, dir, pass)
    // the working set must not carry over between queries: every query
    // rebuilds its seams
    Intermediates.dropAll()
    answered.foreach { schema =>
      if (pass > 0) answers += Map("name" -> q, "pass" -> pass, "dir" -> dir)
      persist(q, pass, dir, schema, answers)
    }
  }

  /** Commit the answer to a snapshot table and read it back `readbacks`
    * times; each read must give the same multiset of rows as the plain
    * parquet answer. */
  private def persist(q: String, pass: Int, dir: String, schema: StructType,
      answers: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val table = s"$work/tables/$q/p$pass"
    val committed = client.op("write", "snapshots.commit", q, pass) { _ =>
      Snapshots.commit(spark.read.schema(schema).parquet(dir), table, overwrite = true)
    }
    if (committed.isRight) {
      lazy val want = spark.read.schema(schema).parquet(dir).collect().map(_.toString).sorted.toSeq
      (1 to readbacks).foreach { k =>
        var resolved = (0.0, 0L)
        val back = client.op("read", "snapshots.read", q, pass, Map("readback" -> k,
            "resolve_s" -> resolved._1, "resolve_jobs" -> resolved._2)) { id =>
          val (df, s, jobs) = client.resolve(id)(Snapshots.read(spark, table))
          resolved = (s, jobs)
          df.collect()
        }
        if (pass > 0) back.foreach { rows =>
          answers += Map("name" -> q, "pass" -> pass, "readback" -> k,
            "roundtrip" -> (rows.map(_.toString).sorted.toSeq == want))
        }
      }
    }
  }

}

/** `dml_mix`: a fresh snapshot table per pass, seeded from `orders`, then
  * one round of an append, a MOR delete, a merge, an equality upsert and
  * maintenance, beside reads and a change feed whose rows go to files for
  * the model check in `run.py`.
  */
final class DmlMix(spark: SparkSession, client: Client, plan: JsonNode) {
  private val work = plan.get("work").asText
  private val dml = plan.get("dml")
  private val orderSchema = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")

  /** A generated batch, read with its known schema (no inference job). */
  private def batch(path: String): DataFrame = spark.read.schema(orderSchema).parquet(path)

  private def seed(table: String, path: String): Double = {
    Main.timed {
      FileSystem.get(new Path(table).toUri, spark.sparkContext.hadoopConfiguration)
        .delete(new Path(table), true)
      Snapshots.commit(batch(path), table)
    }._2
  }

  private def agg(df: DataFrame): Array[Row] =
    df.groupBy("o_orderstatus").agg(
      count(lit(1)).as("n"), sum("o_orderkey").as("sum_key"),
      sum("o_custkey").as("sum_cust"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
      sum(expr("unix_seconds(cast(o_orderdate AS TIMESTAMP))")).as("sum_date_s"))
      .collect()

  private def dump(path: String, rows: Array[Row]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try rows.foreach(r => w.println(r.toSeq.map {
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
      case null => "\\N"
      case v => v.toString
    }.mkString("\t"))) finally w.close()
  }

  def run(out: mutable.Map[String, Any]): Unit = {
    val passes = dml.get("passes").elements.asScala.toSeq
    // warm-up: an unrecorded round on a table of its own, run as a
    // measured pass runs it, so code generation and JIT are warm before
    // the window
    val (_, warm) = Main.timed {
      val t = s"$work/warm"
      seed(t, dml.get("table_seed").asText)
      try playRound(t, dml.get("warm"), 0, None) catch { case _: RoundFailed => }
    }
    out("warmup_s") = warm
    val reps = plan.get("setup_reps").asInt
    val prep = mutable.ArrayBuffer.empty[Double]
    (1 to reps).foreach(k => prep += seed(s"$work/table-p1", dml.get("table_seed").asText))
    val deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
    val done = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = plan.get("min_passes").asInt
    var pass = 0
    while (pass < passes.size && (pass < minPasses || System.nanoTime() < deadline)) {
      pass += 1
      val table = s"$work/table-p$pass"
      if (pass > 1) prep += seed(table, dml.get("table_seed").asText)
      val seeded = Main.bytesUnder(spark, table)
      val round = passes(pass - 1)
      val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
      val completed = try { playRound(table, round, pass, Some(checks)); true }
        catch { case _: RoundFailed => false }
      val live = s"$work/live-p$pass"
      Snapshots.read(spark, table).write.mode("overwrite").parquet(live)
      val userBytes = if (!completed) 0L else
        Seq("append", "merge", "upsert").map(k => Main.bytesUnder(spark, round.get(k).asText)).sum
      val tableBytes = Main.bytesUnder(spark, table)
      done += Map("pass" -> pass, "completed" -> completed, "checks" -> checks.toSeq,
        "table_bytes" -> tableBytes, "plain_bytes" -> Main.bytesUnder(spark, live),
        "user_bytes" -> userBytes, "written_bytes" -> (tableBytes - seeded)) ++
        Main.fileCounts(spark, Seq(table))
    }
    out("prep_s") = prep.toSeq
    out("passes") = done.toSeq
  }

  private final class RoundFailed extends Exception

  /** One round; `checks` receives the files the model check reads. */
  private def playRound(table: String, r: JsonNode, pass: Int,
      checks: Option[mutable.ArrayBuffer[Map[String, Any]]]): Unit = {
    def write[A](layer: String, name: String)(body: => A): A =
      client.op("write", s"snapshots.$layer", name, pass, counts)(_ => body)
        .fold(_ => throw new RoundFailed, identity)
    def counts: Map[String, Any] =
      if (client.tracer.isEmpty) Map.empty else Main.fileCounts(spark, Seq(table))
    def read(tag: String): Unit = {
      var resolved = (0.0, 0L)
      val rows = client.op("read", "snapshots.read", "read", pass, Map("at" -> tag,
          "resolve_s" -> resolved._1, "resolve_jobs" -> resolved._2)) { id =>
        val (df, s, jobs) = client.resolve(id)(Snapshots.read(spark, table))
        resolved = (s, jobs)
        agg(df)
      }.fold(_ => throw new RoundFailed, identity)
      checks.foreach { c =>
        val f = s"$work/check-p$pass-$tag.tsv"
        dump(f, rows)
        c += Map("at" -> tag, "file" -> f)
      }
    }
    def feed(tag: String, from: Long, to: Long): Unit = {
      val rows = client.op("read", "snapshots.change_feed", "change_feed", pass,
          Map("at" -> tag)) { _ =>
        Snapshots.changeFeed(spark, table, from, to).collect()
      }.fold(_ => throw new RoundFailed, identity)
      checks.foreach { c =>
        val f = s"$work/check-p$pass-$tag.tsv"
        dump(f, rows.map(row => Row.fromSeq(
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority", "_change_type").map(c => row.get(row.fieldIndex(c))))))
        c += Map("at" -> tag, "file" -> f)
      }
    }
    val from = Snapshots.versions(spark, table).last
    write("commit", "append")(Snapshots.commit(batch(r.get("append").asText), table))
    read("after_append")
    write("delete_mor", "delete_mor")(
      Snapshots.deleteWhereMor(spark, table, expr(r.get("delete").asText)))
    read("after_delete")
    write("merge", "merge")(
      Snapshots.merge(spark, table, batch(r.get("merge").asText), "o_orderkey"))
    read("after_merge")
    val upserted = write("upsert_eq", "upsert_eq")(
      Snapshots.upsertEq(spark, table, batch(r.get("upsert").asText), Seq("o_orderkey")))
    read("after_upsert")
    feed("feed", from, upserted)
    // maintenance: its first step folds the equality sidecars
    // (purgeEqDeletes), which a merge or MOR delete would refuse
    write("maintain", "maintain")(Snapshots.maintain(spark, table))
  }
}
