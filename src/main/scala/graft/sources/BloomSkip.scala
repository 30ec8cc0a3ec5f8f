package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Cast, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-assisted manifest skipping for POINT predicates — the file
  * layer min/max ranges cannot cut: an equality lookup on a
  * high-cardinality column that is NOT range-clustered (a user id on a
  * time-partitioned table, an order key after compaction mixed runs)
  * overlaps every file's [min,max], so range pruning keeps everything
  * and a 100 TB table opens every file for one key.
  *
  * Spark-first mechanics — no custom format, no sidecar bytes:
  *  - WRITE: tables opt in via [[Snapshots.setBloomSpec]]
  *    (column → expected NDV). Every subsequent data write for the
  *    table — commit, bucketed commit, CTAS staging, SQL INSERT (all
  *    route through the same DataFrame writes) and the SQL DML task
  *    writer — sets the stock parquet writer options
  *    (`parquet.bloom.filter.enabled#col`,
  *    `parquet.bloom.filter.expected.ndv#col`), so the blooms are
  *    PARQUET-NATIVE: inside the data file, readable by any engine,
  *    sized by parquet from NDV × fpp (1% default).
  *  - PRUNE: after FileStats range pruning, equality/IN predicates on
  *    spec'd columns probe each surviving candidate's bloom
  *    ([[ParquetFileReader.getBloomFilterDataReader]] — a footer +
  *    bloom-header read, no data pages). A file is dropped only when
  *    EVERY probed block's bloom rejects EVERY candidate value of some
  *    conjunct. Files older than the spec, columns without a bloom,
  *    unrecognized shapes, any read failure: conservative keep —
  *    skipping is an optimization, never a correctness dependency
  *    (the same contract as FileStats).
  *
  * Scale envelope: the probe is one bounded metadata read per
  * SURVIVING candidate. Up to [[DistributedThreshold]] (1024)
  * candidates the driver loops; above it the probe fans out as a Spark
  * job over the path list (executors open only footers+bloom headers),
  * so a 10⁶-file table costs one short metadata stage, never a
  * driver-side file-count loop. IN lists longer than [[MaxValues]]
  * (256) skip bloom probing entirely — cost is values × blocks per
  * file, and a long IN is a join's job, not a bloom's.
  */
object BloomSkip {

  /** Test seam: (kept, total) of the most recent bloom prune. */
  @volatile private[graft] var lastBloomPrune: Option[(Int, Int)] = None

  /** Hadoop Configuration is not serializable; minimal wrapper for the
    * distributed probe (the stock spark-core one is spark-private).
    */
  private final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** The most candidates the driver probes itself. */
  private val DistributedThreshold = 1024

  /** The longest IN list a bloom probe takes. */
  private val MaxValues = 256

  /** The subset of `files` that MAY contain rows matching the
    * conjunctive `exprs`, per their parquet bloom filters. Only
    * equality/IN conjuncts over columns in the table's bloom spec
    * participate; everything else is ignored (other pruning layers own
    * those shapes). More than `distributedThreshold` files probe in a
    * Spark job, the rest on the driver.
    */
  private[graft] def prune(spark: SparkSession, table: String,
      files: Seq[String], exprs: Seq[Expression],
      distributedThreshold: Int = DistributedThreshold): Seq[String] = {
    if (files.isEmpty || exprs.isEmpty) return files
    val spec = Snapshots.bloomSpec(spark, table)
    if (spec.isEmpty) return files
    val probes = probesOf(exprs, spec.keySet)
    if (probes.isEmpty) return files
    val hconf = spark.sparkContext.hadoopConfiguration
    val kept =
      if (files.size <= distributedThreshold)
        files.filter(f => mayContain(hconf, f, probes))
      else {
        val sc = spark.sparkContext
        val bc = sc.broadcast(new SerializableConf(new Configuration(hconf)))
        val slices = math.min(files.size, sc.defaultParallelism * 4)
        val hits = sc.parallelize(files, slices)
          .filter(f => mayContain(bc.value.value, f, probes))
          .collect().toSet // hit LIST collects, never file contents
        files.filter(hits)
      }
    lastBloomPrune = Some((kept.size, files.size))
    kept
  }

  /** Conjunctive probe set: column → candidate values (a file must
    * possibly contain AT LEAST ONE value of EVERY listed column, else
    * no row can satisfy the conjunction). Values stay in the Catalyst
    * domain (Long/Int/Double/Float/UTF8String); translation to the
    * file's physical domain happens per column chunk.
    */
  private def probesOf(exprs: Seq[Expression],
      cols: Set[String]): Seq[(String, Seq[Any])] = {
    def unwrap(e: Expression): Expression = e match {
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
        unwrap(c.child)
      case other => other
    }
    def lit(e: Expression): Option[Any] = e match {
      case Literal(v, _) => Option(v)
      case f if f.foldable && f.deterministic =>
        try Option(f.eval(InternalRow.empty))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    def attr(e: Expression): Option[String] = unwrap(e) match {
      case a: AttributeReference if cols.contains(a.name) => Some(a.name)
      case _ => None
    }
    def walk(e: Expression): Seq[(String, Seq[Any])] = e match {
      case CAnd(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, b) =>
        (attr(a), lit(b)) match {
          case (Some(n), Some(v)) => Seq(n -> Seq(v))
          case _ => (attr(b), lit(a)) match {
            case (Some(n), Some(v)) => Seq(n -> Seq(v))
            case _ => Nil
          }
        }
      case In(a, vs) if vs.nonEmpty && vs.length <= MaxValues =>
        attr(a) match {
          case Some(n) =>
            val lits = vs.flatMap(lit)
            // every IN member must be a non-null literal, or the list
            // is incomplete and pruning on it would be unsound
            if (lits.length == vs.length) Seq(n -> lits) else Nil
          case None => Nil
        }
      // the optimizer converts IN lists past inSetConversionThreshold
      // (10) to InSet — values are already in the Catalyst domain
      case is: InSet
          if is.hset.nonEmpty && is.hset.size <= MaxValues &&
            !is.hset.contains(null) =>
        attr(is.child) match {
          case Some(n) => Seq(n -> is.hset.toSeq)
          case None => Nil
        }
      case _ => Nil
    }
    exprs.flatMap(walk)
  }

  /** One bounded metadata read: true when every conjunct's value list
    * has at least one possibly-present value in some row group (or the
    * file/column carries no bloom — conservative).
    */
  private def mayContain(conf: Configuration, file: String,
      probes: Seq[(String, Seq[Any])]): Boolean =
    try {
      val reader = FooterSchemas.open(conf, file)
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        probes.forall { case (col, values) =>
          // the conjunct may match if ANY block possibly holds ANY value
          var sawBloom = false
          val hit = blocks.exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == col) match {
              case None => true // column absent (pre-ALTER file): keep
              case Some(ccmd) =>
                val bf = reader.getBloomFilterDataReader(b).readBloomFilter(ccmd)
                if (bf == null) true // no bloom written: keep
                else {
                  sawBloom = true
                  val tpe = ccmd.getPrimitiveType.getPrimitiveTypeName
                  values.exists { v =>
                    hashOf(bf, tpe, v) match {
                      case Some(h) => bf.findHash(h)
                      case None    => true // untranslatable value: keep
                    }
                  }
                }
            }
          }
          hit || !sawBloom
        }
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => true }

  /** Catalyst literal value → parquet bloom hash in the column chunk's
    * PHYSICAL domain. None when the translation is not value-exact
    * (then the caller keeps the file).
    */
  private def hashOf(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      tpe: PrimitiveTypeName, v: Any): Option[Long] = (tpe, v) match {
    case (PrimitiveTypeName.INT64, n: java.lang.Number) =>
      Some(bf.hash(n.longValue()))
    case (PrimitiveTypeName.INT32, n: java.lang.Number) =>
      val l = n.longValue()
      // a widened predicate literal outside the physical domain can
      // never alias into a valid int32 hash — conservative keep (range
      // pruning owns the impossible-value case)
      if (l >= Int.MinValue && l <= Int.MaxValue) Some(bf.hash(l.toInt))
      else None
    case (PrimitiveTypeName.DOUBLE, n: java.lang.Number) =>
      Some(bf.hash(n.doubleValue()))
    case (PrimitiveTypeName.FLOAT, n: java.lang.Number) =>
      Some(bf.hash(n.floatValue()))
    case (PrimitiveTypeName.BINARY, s: UTF8String) =>
      Some(bf.hash(Binary.fromConstantByteArray(s.getBytes)))
    case (PrimitiveTypeName.BINARY, s: String) =>
      Some(bf.hash(Binary.fromString(s)))
    case _ => None
  }
}
