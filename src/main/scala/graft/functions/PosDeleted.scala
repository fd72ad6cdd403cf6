package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-membership test of a POSITIONAL DELETION VECTOR (the Delta
  * deletion-vector / Iceberg v2 positional-delete read side): given the
  * scan's raw `_metadata.file_path` and a row's parquet `row_index`, answer
  * whether the (file, position) pair is deleted — a per-row UTF8String
  * equality check + binary search, NO join and NO per-row allocation.
  *
  * This is what makes positional merge-on-read strictly cheaper to READ
  * than the key-based twin: the key form pays one broadcast anti-join per
  * covering set per scan; this form is a codegen'd scalar predicate inside
  * the same whole-stage span as the scan itself, with cost independent of
  * how many rows were deleted or how wide the key column is. The vector is
  * small by the MOR contract ([[graft.io.VersionedTable.morDetail]] meters
  * it; compaction absorbs it), so shipping it inside the expression — which
  * rides the per-stage broadcast task binary — is the same distribution
  * path Spark uses for any literal-bearing predicate.
  *
  * Per-file memo: a parquet scan task reads one file's rows consecutively,
  * so the (file → positions) lookup caches the last RAW path's array and
  * normalizes the path to the vector's table-relative key (split at the
  * dir's unique last component, `dirTag`) only on a file CHANGE — the hot
  * path is one UTF8String equality + binary search per row, with zero
  * per-row string manipulation (`graft.Profile deletion-vectors` measures the
  * difference). Instances are deserialized per task, so the mutable memo
  * is single-threaded by construction.
  */
case class PosDeleted(left: Expression, right: Expression,
                      dirTag: String, dv: Map[String, Array[Long]])
  extends BinaryExpression with Predicate {

  override def prettyName: String = "pos_deleted"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pos_deleted expects (string, bigint), got ($l, $r)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  @transient private var lastFile: UTF8String = _
  @transient private var lastArr: Array[Long] = _

  /** Task-side hot path (also the codegen call target). */
  def deleted(file: UTF8String, pos: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      // clone: the scan may hand back a buffer-backed UTF8String it reuses
      lastFile = file.clone()
      // normalize the absolute path to the vector's key once per FILE:
      // <dir's last component>/<path under the dir> — the last occurrence
      // of "/<dirTag>/" is the dir itself (hive segments carry `col=`
      // prefixes, attempt names are version+commitId+random unique)
      val p = file.toString
      val marker = "/" + dirTag + "/"
      val i = p.lastIndexOf(marker)
      val key = if (i < 0) p else dirTag + "/" + p.substring(i + marker.length)
      lastArr = dv.getOrElse(key, null)
    }
    lastArr != null && java.util.Arrays.binarySearch(lastArr, pos) >= 0
  }

  override def nullSafeEval(file: Any, pos: Any): Any =
    deleted(file.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("posDv", this, classOf[PosDeleted].getName)
    nullSafeCodeGen(ctx, ev, (f, p) => s"${ev.value} = $ref.deleted($f, $p);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  // VALUE equality over the vector map: Array equality is identity-based,
  // so the derived case-class equals would make two semantically identical
  // predicates from separate plan builds compare UNEQUAL — canonicalized
  // plan comparison (and through it exchange/subquery reuse) would get
  // false negatives on covered scans. hashCode must stay consistent;
  // vectors are small by the MOR contract, so full-content hashing is fine.
  override def equals(other: Any): Boolean = other match {
    case o: PosDeleted =>
      left == o.left && right == o.right && dirTag == o.dirTag &&
        dv.keySet == o.dv.keySet &&
        dv.forall { case (k, a) => java.util.Arrays.equals(a, o.dv(k)) }
    case _ => false
  }

  override def hashCode(): Int =
    (left, right, dirTag,
      dv.toSeq.sortBy(_._1).map { case (k, a) =>
        (k, java.util.Arrays.hashCode(a)) }).hashCode()

  // elide the vector map from plan strings: the derived rendering would
  // embed every position of every file into explain/canonicalized output
  private def elided: String =
    s"pos_deleted($left, $right, $dirTag, ${dv.size} files/" +
      s"${dv.valuesIterator.map(_.length.toLong).sum} positions)"
  override def toString: String = elided
  override def simpleString(maxFields: Int): String = elided
  override def sql: String =
    s"pos_deleted(${left.sql}, ${right.sql}, '$dirTag', <vector>)"
}
