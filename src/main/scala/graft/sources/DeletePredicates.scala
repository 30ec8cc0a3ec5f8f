package graft.sources

import org.apache.parquet.example.data.Group
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scan-side delete predicates: the small-delete-file route of the
  * snapshot format's merge-on-read. When the outstanding sidecars fit
  * the delete bounds (`graft.snapshot.deleteBroadcastBytes` /
  * `eqDeleteBroadcastBytes`), the driver reads them
  * ([[PositionDeletes.readOnDriver]]) and the scan filters its own rows
  * with one of these expressions — a membership test inside the scan's
  * stage, with no exchange and no extra job. Above the bounds, and for
  * any sidecar the driver read cannot serve, the readers keep the
  * anti-join, which is also the oracle these predicates are tested
  * against (`DeleteRouteEquivalenceSpec`).
  *
  * Both expressions print a fixed-size summary, never their contents,
  * so the plan does not grow with the number of hit files or keys.
  */

/** Deleted positions of a sidecar list, as encoded deletion vectors
  * per RAW data-file path — the `file_path` string each sidecar
  * recorded, compared exactly as the anti-join compares it with
  * `_metadata.file_path`. Equality is the sidecar list: sidecars are
  * immutable, so one list names one content, and two reads of one state
  * plan equal expressions (exchange reuse) without comparing positions.
  * Travels in the task closure: v1 rows are re-encoded on the driver,
  * so the payload is the compact vectors either way.
  */
private[graft] final class PositionSet(val sidecars: Seq[String],
    val byFile: Map[String, Array[Array[Byte]]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case p: PositionSet => p.sidecars == sidecars
    case _ => false
  }
  override def hashCode: Int = sidecars.hashCode
  override def toString: String = s"${sidecars.size} sidecar(s), ${byFile.size} file(s)"
}

private[graft] object PositionSet {
  /** Sorted, distinct ordinals of one file's vectors (stacked sidecars
    * may each hold one for the same file).
    */
  def ordinals(dvs: Iterable[Array[Byte]]): Array[Long] = {
    val all = dvs.iterator.map(DeleteVectors.decode).toArray
    if (all.length == 1) all(0)
    else {
      val a = all.flatten
      java.util.Arrays.sort(a)
      a.distinct
    }
  }
}

/** TRUE when the row at (`file`, `pos`) — `_metadata.file_path`,
  * `_metadata.row_index` — is deleted by `set`. Never NULL: a NULL
  * input is not deleted, as a NULL join key matches nothing. A task
  * decodes a file's vectors once, on its first row, then binary-searches
  * the sorted ordinals per row (`RowIdentityReader`'s rule). The
  * generated code calls [[isDeleted]] on the child values, so the scan
  * never materializes a row for it.
  */
private[graft] case class PositionDeleted(file: Expression, pos: Expression,
    set: PositionSet) extends BinaryExpression {
  override def left: Expression = file
  override def right: Expression = pos
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "position_deleted"
  override def toString: String = s"$prettyName($file, $pos, $set)"

  @transient private lazy val byUtf8: java.util.HashMap[UTF8String, Array[Array[Byte]]] = {
    val m = new java.util.HashMap[UTF8String, Array[Array[Byte]]](set.byFile.size * 2)
    set.byFile.foreach { case (f, dvs) => m.put(UTF8String.fromString(f), dvs) }
    m
  }
  @transient private lazy val decoded = new java.util.HashMap[UTF8String, Array[Long]]()
  @transient private var lastFile: UTF8String = _
  @transient private var lastDeleted: Array[Long] = _

  def isDeleted(f: UTF8String, p: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(f)) {
      lastFile = f.clone()
      lastDeleted = decoded.get(lastFile)
      if (lastDeleted == null) {
        val dvs = byUtf8.get(lastFile)
        lastDeleted =
          if (dvs == null) Array.emptyLongArray else PositionSet.ordinals(dvs)
        decoded.put(lastFile, lastDeleted)
      }
    }
    lastDeleted.length > 0 && java.util.Arrays.binarySearch(lastDeleted, p) >= 0
  }

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    val p = pos.eval(input)
    f != null && p != null && isDeleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("positionDeleted", this)
    val f = file.genCode(ctx)
    val p = pos.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${f.code}
      ${p.code}
      boolean ${ev.value} = !${f.isNull} && !${p.isNull} &&
        $self.isDeleted(${f.value}, ${p.value});""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PositionDeleted = copy(file = newLeft, pos = newRight)
}

/** The key rows of an equality-sidecar list, each mapped to the largest
  * scope (version) any of the sidecars gives it. A key is one internal
  * value for a single key column, a `List` of them for a composite key.
  * Travels as a broadcast variable (decoded once per executor); equality
  * is the (scope, sidecar) list, as for [[PositionSet]].
  */
private[graft] final class EqKeySet(val sidecars: Seq[(Long, String)], val keyCount: Int,
    val scopes: Broadcast[java.util.HashMap[Any, java.lang.Long]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case e: EqKeySet => e.sidecars == sidecars
    case _ => false
  }
  override def hashCode: Int = sidecars.hashCode
  override def toString: String = s"${sidecars.size} sidecar(s), $keyCount key(s)"
}

private[graft] object EqKeySet {
  /** Key types the driver read decodes to exactly the internal value a
    * scan produces, and whose JVM value equality is SQL join equality.
    * Float and double differ (-0.0 joins 0.0, NaN joins NaN under
    * Spark's normalization), binary compares by reference, decimals and
    * collated strings by value-class rules, complex types nest all of
    * these, and dates and timestamps carry calendar/INT96 conversions
    * the driver read does not repeat. Those keys keep the anti-join.
    */
  def supports(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** Field `i` of a driver-read sidecar row as the internal value of
    * `t` (one of [[supports]]); null when absent.
    */
  def value(t: DataType, g: Group, i: Int): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else t match {
      case BooleanType => g.getBoolean(i, 0)
      case ByteType => g.getInteger(i, 0).toByte
      case ShortType => g.getInteger(i, 0).toShort
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case _: StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
    }
}

/** TRUE when the row's key (`children.init`) is in `set` with a scope at
  * or above the row's file add-version (`children.last`): "deleted iff
  * addV(file) <= maxScope(key)". Never NULL: a NULL key component or
  * add-version is not deleted, as in the join. The generated code
  * passes the boxed child values to [[isDeleted]].
  */
private[graft] case class EqKeyDeleted(children: Seq[Expression], set: EqKeySet)
    extends Expression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "eq_key_deleted"
  override def toString: String = s"$prettyName(${children.mkString(", ")}, $set)"

  @transient private lazy val scopes = set.scopes.value

  /** `key` holds the key values, none NULL. */
  def isDeleted(key: Array[AnyRef], addV: Long): Boolean = {
    val scope = scopes.get(if (key.length == 1) key(0) else key.toList)
    scope != null && addV <= scope.longValue
  }

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input))
    !values.contains(null) &&
      isDeleted(values.init.map(_.asInstanceOf[AnyRef]).toArray, values.last.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("eqKeyDeleted", this)
    val gens = children.map(_.genCode(ctx))
    val keys = ctx.freshName("keys")
    val anyNull = gens.map(g => s"${g.isNull}").mkString(" || ")
    val fill = children.init.zip(gens).zipWithIndex.map { case ((c, g), i) =>
      val boxed = CodeGenerator.boxedType(c.dataType)
      val v = if (CodeGenerator.isPrimitiveType(c.dataType)) s"$boxed.valueOf(${g.value})" else g.value
      s"$keys[$i] = $v;"
    }.mkString("\n")
    ev.copy(isNull = FalseLiteral, code = code"""
      ${gens.map(_.code).reduce(_ + _)}
      boolean ${ev.value} = false;
      if (!($anyNull)) {
        Object[] $keys = new Object[${children.length - 1}];
        $fill
        ${ev.value} = $self.isDeleted($keys, ${gens.last.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EqKeyDeleted = copy(children = newChildren)
}
