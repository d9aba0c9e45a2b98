package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Is the row of data file `left` (`_metadata.file_path`) at position
  * `right` (`_metadata.row_index`) marked by that file's deletion
  * vector? A delete records, per data file it hit, the positions
  * of the rows it removed as a bitset (Iceberg v3 / Delta Lake deletion
  * vectors); every read drops them with this one predicate over its scan —
  * no join, no broadcast, no Spark job. The vectors ride by reference
  * (`ctx.addReferenceObj`, as [[ZRangeContains]]' bounds do), so every
  * read shares one generated source; the generated code looks a file's
  * vector up when the path changes, then tests one bit per row. */
case class RowDeleted(left: Expression, right: Expression, vectors: RowDeleted.Vectors)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_row_deleted"

  override def toString: String = s"$prettyName($left, $right, files=${vectors.files})"

  override protected def nullSafeEval(path: Any, pos: Any): Any =
    RowDeleted.marks(vectors.of(path.asInstanceOf[UTF8String]), pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvs", vectors, classOf[RowDeleted.Vectors].getName)
    val seen = ctx.addMutableState("UTF8String", "dvSeen", forceInline = true)
    val last = ctx.addMutableState("UTF8String", "dvPath", forceInline = true)
    val bits = ctx.addMutableState("long[]", "dvBits", forceInline = true)
    // a scan hands every row of one file the same path object, so the
    // per-row test is a reference compare; the bytes are compared (and
    // the vector looked up) only when the object changes
    nullSafeCodeGen(ctx, ev, (path, pos) =>
      s"""
         |if ($path != $seen) {
         |  if ($last == null || !$last.equals($path)) {
         |    $last = $path.clone();
         |    $bits = $ref.of($last);
         |  }
         |  $seen = $path;
         |}
         |${ev.value} = $bits != null && ($pos >>> 6) < $bits.length &&
         |  ($bits[(int) ($pos >>> 6)] & (1L << $pos)) != 0;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : RowDeleted = copy(left = newLeft, right = newRight)
}

object RowDeleted {

  /** Deletion vectors keyed by normalized data-file path. */
  final class Vectors(byFile: Map[String, Array[Long]]) extends Serializable {
    def files: Int = byFile.size
    /** The vector of the file a scan spells `path`, or null. */
    def of(path: UTF8String): Array[Long] = byFile.getOrElse(fileKey(path.toString), null)
  }

  /** The store's key for a scan's `_metadata.file_path` (a URI string):
    * decoded and normalized like manifest paths. */
  def fileKey(uri: String): String = graft.table.SnapshotStore.normalizePath(
    new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString)

  def marks(bits: Array[Long], pos: Long): Boolean =
    bits != null && (pos >>> 6) < bits.length && (bits((pos >>> 6).toInt) & (1L << pos)) != 0

  /** Keeps the rows of a parquet scan that no vector marks. */
  def live(byFile: Map[String, Array[Long]]): Column =
    !GraftColumnBridge.column(RowDeleted(
      GraftColumnBridge.expression(col("_metadata.file_path")),
      GraftColumnBridge.expression(col("_metadata.row_index")), new Vectors(byFile)))
}
