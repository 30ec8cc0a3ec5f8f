package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._

/** Manifest-level data skipping for the snapshot format (the
  * Delta/Iceberg stats-pruning shape): per-file column min/max/null
  * stats, collected from the parquet FOOTERS the writer already
  * produced — no second pass over the data — and stored as sidecar
  * lines under `<table>/stats/`, keyed by the file's entry
  * ([[TablePaths]]: root-relative under the table root). Readers prune the
  * manifest's file list against a predicate BEFORE the scan, so a
  * selective query on a 100 TB table opens only the files whose ranges
  * can match; row-group pruning inside the surviving files is then the
  * stock parquet path.
  *
  * The sidecar design deliberately leaves the manifest protocol
  * untouched: rebase commits (merge/compact/delete) carry files by
  * path, and their stats travel with the path. A file with no stats
  * line (pre-stats history) simply never prunes — skipping is a pure
  * optimization, never a correctness dependency. Pruning is
  * CONSERVATIVE: any predicate shape the evaluator does not recognize
  * keeps the file.
  *
  * Supported stats domains: integral (long), fractional (double),
  * string (UTF8), date (days), timestamp (micros). Everything else is
  * not collected.
  */
object FileStats {

  /** Per-file, per-column range. `min`/`max` are None when every value
    * in the file is NULL (parquet min/max ignore nulls).
    */
  final case class ColRange(tag: Char, min: Option[Any], max: Option[Any],
      hasNulls: Boolean, allNulls: Boolean)

  private def fs(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pseudo-column name of the row-count-only sentinel line (a space
    * is illegal in a real field name, so it can never shadow one).
    */
  private[graft] val RowsSentinel = " rows"

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Read footers of freshly-written `files` and append one stats
    * sidecar under `<table>/stats/`. Driver-side footer reads — a few
    * KB per file, bounded by the commit's file count (the same loop a
    * manifest write already does); at larger file counts this would be
    * one mapPartitions over paths.
    */
  def record(spark: SparkSession, table: String, files: Seq[String]): Unit =
    try {
      if (files.isEmpty) return
      // a footer that cannot be read yields no stats for that file (it
      // will simply never prune) — stats collection must NEVER fail the
      // write that triggered it
      val tp = TablePaths(spark, table)
      val lines = files.flatMap { f =>
        val entry = tp.relativize(f)
        try fileLines(spark, f, entry, tp.resolve(entry))
        catch { case scala.util.control.NonFatal(_) => Seq.empty }
      }
      if (lines.isEmpty) return
      val f = fs(spark, table)
      val out = f.create(
        new Path(s"$table/stats/stats-${java.util.UUID.randomUUID}.tsv"), false)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"FileStats.record skipped for $table: $e")
    }

  /** One TSV line per (file, supported top-level column):
    * b64(entry) \t b64(col) \t tag \t rows \t nulls \t b64(min) \t b64(max)
    * (min/max empty when all values are NULL).
    */
  private def fileLines(spark: SparkSession, file: String, entry: String,
      readAs: String): Seq[String] = {
    val reader = FooterSchemas.open(spark.sparkContext.hadoopConfiguration, file)
    try {
      import scala.jdk.CollectionConverters._
      // this loop already holds every fresh file's footer — seed the
      // FooterSchemas memo under the path readers resolve the entry to,
      // so the table's first read never re-opens it
      FooterSchemas.seed(spark, readAs, reader.getFooter.getFileMetaData)
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // (tag, min, max, nulls, statsOk) accumulated across row groups
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Char, Any, Any, Long, Boolean)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val pathParts = c.getPath.toArray
        if (pathParts.length == 1) { // top-level leaf only
          val name = pathParts(0)
          val pt = c.getPrimitiveType
          val tag: Char = pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              pt.getLogicalTypeAnnotation match {
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => 'D'
                case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => 'T'
                case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => ' '
                case _ => 'I'
              }
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => 'F'
            case PrimitiveTypeName.BINARY
                if pt.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => 'S'
            case _ => ' '
          }
          if (tag != ' ') {
            val st = c.getStatistics
            val ok = st != null && !st.isEmpty
            val (mn, mx) =
              if (ok && st.hasNonNullValue)
                (toDomain(tag, st.genericGetMin.asInstanceOf[AnyRef]),
                  toDomain(tag, st.genericGetMax.asInstanceOf[AnyRef]))
              else (null, null)
            val nulls = if (ok) st.getNumNulls else -1L
            acc.get(name) match {
              case None => acc(name) = (tag, mn, mx, nulls, ok)
              case Some((t0, m0, x0, n0, ok0)) =>
                val mergedMin = minOf(tag, m0, mn)
                val mergedMax = maxOf(tag, x0, mx)
                val mergedNulls =
                  if (n0 < 0 || nulls < 0) -1L else n0 + nulls
                acc(name) = (t0, mergedMin, mergedMax, mergedNulls, ok0 && ok)
            }
          }
        }
      }
      val lines = acc.toSeq.collect { case (name, (tag, mn, mx, nulls, true)) =>
        Seq(b64(entry), b64(name), tag.toString, rows.toString,
          nulls.toString,
          Option(mn).map(v => b64(v.toString)).getOrElse(""),
          Option(mx).map(v => b64(v.toString)).getOrElse("")
        ).mkString("\t")
      }
      // a file with no stats-eligible column (schema anchors, exotic
      // types) still has an exact ROW COUNT worth recording — one
      // sentinel line under RowsSentinel (a space-prefixed name no
      // real field can have), so COUNT(*) metadata answers and
      // row-count statistics keep covering it
      if (lines.nonEmpty) lines
      else Seq(Seq(b64(entry), b64(RowsSentinel), "I", rows.toString,
        "0", "", "").mkString("\t"))
    } finally reader.close()
  }

  /** Parquet footer generic values → the per-tag comparison domain
    * (I/D/T → Long, F → Double, S → String).
    */
  private def toDomain(tag: Char, v: AnyRef): Any = (tag, v) match {
    case (_, null) => null
    case ('S', b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case ('F', n: java.lang.Number) => n.doubleValue()
    case (_, n: java.lang.Number) => n.longValue() // I, D (days), T (micros)
    case _ => null
  }

  private[sources] def cmp(tag: Char, a: Any, b: Any): Int = tag match {
    case 'F' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case 'S' => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    case _   => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  // a null endpoint means an ALL-NULL row group — it contributes no
  // non-null values, so the merge SKIPS it rather than poisoning the
  // file's range to null (which parseDetail would read back as
  // allNulls=true and wrongly prune a file that has real values)
  private def minOf(tag: Char, a: Any, b: Any): Any =
    if (a == null) b else if (b == null) a
    else if (cmp(tag, a, b) <= 0) a else b
  private def maxOf(tag: Char, a: Any, b: Any): Any =
    if (a == null) b else if (b == null) a
    else if (cmp(tag, a, b) >= 0) a else b

  /** All recorded stats for `table`: resolved path → column → range. */
  def load(spark: SparkSession, table: String): Map[String, Map[String, ColRange]] =
    loadDetail(spark, table).map { case (p, cols) => p -> cols.map { case (c, d) => c -> d.range } }

  /** One column's exact footer counters alongside its range: `rows` is
    * the file's total row count (identical across the file's lines),
    * `nulls` is the column's null count, −1 when any row group lacked
    * it. Exactness is what separates the metadata-only AGGREGATE path
    * from the conservative pruning path: pruning may widen, counts may
    * not.
    */
  final case class ColDetail(rows: Long, nulls: Long, range: ColRange)

  /** All recorded stats with exact counters: resolved path → column →
    * detail, each key resolved once ([[TablePaths.resolve]]); torn
    * lines yield nothing.
    */
  def loadDetail(spark: SparkSession, table: String): Map[String, Map[String, ColDetail]] = {
    val tp = TablePaths(spark, table)
    statsLines(spark, table).flatMap { case (_, line) =>
      try parseDetail(line)
      catch { case scala.util.control.NonFatal(_) => None }
    }.groupBy(_._1)
      .map { case (p, xs) =>
        tp.resolve(p) -> xs.map(x => x._2 -> ColDetail(x._3, x._4, x._5)).toMap
      }
  }

  /** Every stats line of `table`, with the name of the file holding it. */
  private def statsLines(spark: SparkSession, table: String): Seq[(String, String)] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/stats")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("stats-"))
      .flatMap { p =>
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(p.getName -> _).toList
        finally in.close()
      }
  }

  /** Carry `from`'s stats to a fork at `to`: each line re-keyed from
    * `from`'s spelling to `to`'s (the parent's files become absolute
    * entries of the branch), so pruning keeps working there.
    */
  private[sources] def carry(spark: SparkSession, from: String, to: String): Unit = {
    val (src, dst) = (TablePaths(spark, from), TablePaths(spark, to))
    val f = fs(spark, to)
    statsLines(spark, from).groupBy(_._1).foreach { case (name, lines) =>
      val body = lines.map { case (_, line) =>
        val cols = line.split("\t", -1)
        if (cols.length > 1) cols(0) = b64(dst.relativize(src.resolve(unb64(cols(0)))))
        cols.mkString("\t")
      }.mkString("", "\n", "\n")
      Snapshots.writeSide(f, new Path(s"$to/stats/$name"), body, replace = true)
    }
  }

  private def parseDetail(line: String): Option[(String, String, Long, Long, ColRange)] =
    line.split("\t", -1) match {
      case Array(pathB, colB, tagS, rowsS, nullsS, mnB, mxB) =>
        val tag = tagS.head
        def parse(s: String): Option[Any] =
          if (s.isEmpty) None
          else Some(tag match {
            case 'F' => unb64(s).toDouble
            case 'S' => unb64(s)
            case _   => unb64(s).toLong
          })
        val rows = rowsS.toLong
        val nulls = nullsS.toLong
        val mn = parse(mnB)
        Some((unb64(pathB), unb64(colB), rows, nulls, ColRange(tag, mn, parse(mxB),
          hasNulls = nulls != 0, // -1 (unknown) counts as "may have"
          allNulls = rows > 0 && mn.isEmpty)))
      case _ => None
    }

  /** The subset of `files` that MAY contain rows matching `predicate`.
    * Conservative: files without stats, and predicate shapes outside
    * the evaluator, always survive.
    */
  def prune(spark: SparkSession, table: String, files: Seq[String],
      predicate: Column): Seq[String] = {
    val stats = load(spark, table)
    if (stats.isEmpty) return files
    // The Column must be RESOLVED before the walk: the raw converter
    // yields a ColumnNode wrapper (not a Catalyst comparison tree), and
    // analysis + optimization also fold the implicit literal casts
    // (col("i32") === 500L) into plain literals the range check can
    // read. Schema comes from one footer; no data is read. Any failure
    // to recover a Filter condition falls back to keeping every file.
    val expr: Expression = try {
      // driver-side footer schema: a schema-less spark.read pays an
      // inference JOB just to translate the predicate
      val probeScan = scala.util.Try(FooterSchemas.of(spark, files.head))
        .map(s => spark.read.schema(s).parquet(files.head))
        .getOrElse(spark.read.parquet(files.head))
      val probe = probeScan.filter(predicate)
      val plan = probe.queryExecution.optimizedPlan
      plan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse {
        plan match {
          // a contradiction (id > 875 AND id = 1) optimizes the Filter
          // away entirely, leaving an empty LocalRelation: NO file can
          // match
          case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
              if lr.data.isEmpty => return Seq.empty
          case _ => return files
        }
      }
    } catch { case scala.util.control.NonFatal(_) => return files }
    val ranged = files.filter { f =>
      stats.get(f) match {
        case None         => true
        case Some(ranges) => mayMatch(ranges, expr)
      }
    }
    // point predicates on bloom-spec'd columns cut what ranges cannot
    // (high-cardinality keys on non-clustered layouts); conservative
    // like everything above
    BloomSkip.prune(spark, table, ranged, Seq(expr))
  }

  /** Test seam: (kept, total) of the most recent source-filter prune —
    * how V2 specs observe that manifest-level skipping engaged.
    */
  @volatile private[graft] var lastSourcePrune: Option[(Int, Int)] = None

  /** Test seam: (kept, total) of the most recent RUNTIME (DPP-style)
    * prune on a plain snapshot read — how specs observe that join-time
    * file skipping engaged.
    */
  @volatile private[graft] var lastRuntimePrune: Option[(Int, Int)] = None

  /** File skipping for the DataSourceV2 path: Spark's file sources push
    * RESOLVED Catalyst expressions (SupportsPushDownCatalystFilters) —
    * prune the pinned manifest file list against them before the
    * parquet scan is built. The seq is implicitly conjunctive.
    * Conservative exactly like the Column path.
    */
  private[graft] def pruneResolved(spark: SparkSession, table: String,
      files: Seq[String], filters: Seq[Expression]): Seq[String] = {
    val stats = load(spark, table)
    val ranged =
      if (stats.isEmpty || filters.isEmpty) files
      else files.filter { f =>
        stats.get(f) match {
          case None         => true
          case Some(ranges) => filters.forall(mayMatch(ranges, _))
        }
      }
    // bloom probe on the range survivors — see BloomSkip (no-op unless
    // the table has a bloom spec AND a point predicate participates)
    val kept = BloomSkip.prune(spark, table, ranged, filters)
    lastSourcePrune = Some((kept.size, files.size))
    kept
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.name)
    case a: AttributeReference => Some(a.name)
    // only a LOSSLESS widening cast is safe to unwrap: an up-cast
    // preserves values and order, so comparing the file's narrow-domain
    // range against the wider-typed literal cannot prune a matching
    // row. A truncating/narrowing cast (double→int, long→int) changes
    // which values compare equal — CAST(d AS INT) = 5 matches d=5.5 —
    // so it stays wrapped → conservative keep.
    case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
      attrName(c.child)
    case _ => None
  }

  /** Literal → (tag, domain value); None when the literal's type has no
    * stats domain (→ conservative keep).
    */
  private def litDomain(l: Literal): Option[(Char, Any)] = {
    import org.apache.spark.sql.types._
    if (l.value == null) return None
    l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(('I', l.value.asInstanceOf[Number].longValue()))
      case FloatType | DoubleType =>
        Some(('F', l.value.asInstanceOf[Number].doubleValue()))
      case StringType => Some(('S', l.value.toString)) // UTF8String.toString
      case DateType => Some(('D', l.value.asInstanceOf[Number].longValue()))
      // both timestamp flavors carry epoch micros; the session is
      // pinned to UTC so the NTZ and UTC-adjusted domains coincide
      case TimestampType | TimestampNTZType =>
        Some(('T', l.value.asInstanceOf[Number].longValue()))
      case _ => None
    }
  }

  /** Can `(lo, hi)` and the literal satisfy `op`? Domains must agree,
    * except integral stats vs fractional literal (compared as double).
    */
  private def rangeVs(r: ColRange, lit: (Char, Any), op: Char): Boolean = {
    if (r.allNulls) return false // no non-null value can match any comparison
    if (r.min.isEmpty || r.max.isEmpty) return true // unknown range
    val (ltag, lval) = lit
    // unify domains: I-vs-F in either direction compares as double
    // (values in the I/F domains are only ever Long or Double)
    def asD(v: Any): Double = v match {
      case l: Long   => l.toDouble
      case d: Double => d
    }
    val (lo, hi, v, tag) =
      if (r.tag == ltag) (r.min.get, r.max.get, lval, r.tag)
      else if ((r.tag == 'I' && ltag == 'F') || (r.tag == 'F' && ltag == 'I'))
        (asD(r.min.get), asD(r.max.get), asD(lval), 'F')
      else return true // incomparable domains: keep
    op match {
      case '=' => cmp(tag, lo, v) <= 0 && cmp(tag, v, hi) <= 0
      case '<' => cmp(tag, lo, v) < 0   // some value < v exists
      case '≤' => cmp(tag, lo, v) <= 0
      case '>' => cmp(tag, hi, v) > 0   // some value > v exists
      case '≥' => cmp(tag, hi, v) >= 0
      case _   => true
    }
  }

  /** Conservative three-valued pruning: true = the file may contain a
    * matching row.
    */
  private def mayMatch(ranges: Map[String, ColRange], e: Expression): Boolean = {
    // the V2 pushdown path hands ANALYZED (not optimizer-folded)
    // expressions, so a literal may arrive cast-wrapped — fold any
    // attribute-free deterministic subtree to a literal before testing
    def asLit(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case f if f.foldable && f.deterministic =>
        try Some(Literal.create(f.eval(InternalRow.empty), f.dataType))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    def test(attr: Expression, lit: Expression, op: Char): Boolean =
      (attrName(attr), asLit(lit)) match {
        case (Some(n), Some(l)) =>
          ranges.get(n) match {
            case Some(r) => litDomain(l) match {
              case Some(d) => rangeVs(r, d, op)
              case None    => true
            }
            case None => true // no stats for this column
          }
        case _ => true
      }
    e match {
      // the optimizer folds contradictions/tautologies to bare literals
      // (id > 875 AND id = 1 → false): honor them instead of "unknown"
      case Literal(null, org.apache.spark.sql.types.BooleanType) => false
      case Literal(v, org.apache.spark.sql.types.BooleanType) =>
        v.asInstanceOf[Boolean]
      case And(l, r) => mayMatch(ranges, l) && mayMatch(ranges, r)
      case Or(l, r)  => mayMatch(ranges, l) || mayMatch(ranges, r)
      // operand order is unknown (attr op lit / lit op attr): test both
      // readings — the non-applicable one is conservatively true, so
      // the conjunction keeps exactly the applicable answer
      case EqualTo(a, b)            => test(a, b, '=') && test(b, a, '=')
      case GreaterThan(a, b)        => test(a, b, '>') && test(b, a, '<')
      case GreaterThanOrEqual(a, b) => test(a, b, '≥') && test(b, a, '≤')
      case LessThan(a, b)           => test(a, b, '<') && test(b, a, '>')
      case LessThanOrEqual(a, b)    => test(a, b, '≤') && test(b, a, '≥')
      case In(a, vs) => vs.exists(v => test(a, v, '='))
      // an IN list past the optimizer's inSetConversionThreshold (10)
      // arrives as InSet, its values already in the Catalyst domain
      case InSet(a, hset) => hset.exists(v => test(a, Literal(v, a.dataType), '='))
      case IsNull(a) => attrName(a).flatMap(ranges.get)
        .forall(r => r.hasNulls || r.allNulls)
      case IsNotNull(a) => attrName(a).flatMap(ranges.get)
        .forall(r => !r.allNulls)
      case _ => true // unknown shape: keep
    }
  }
}
