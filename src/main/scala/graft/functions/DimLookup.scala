package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A lookup dimension probed in place: `key` → the dim row of that key, as a
  * struct of the dim's value columns. A miss or a null key is null.
  *
  * The reference's lookupprocessor loads the CSV into a map and probes it
  * once per record (processor/lookupprocessor/csv.go:88-114,
  * processor.go:293-312); this is the same map. It is built on the driver
  * and reaches the tasks as the kernel's state, a codegen reference object
  * inside the stage's task binary, so a lookup adds no job and no
  * exchange. The probe is one hash of the key's bytes, O(1) for any dim
  * size (a literal `map` would be a linear key scan per row,
  * `GetMapValueUtil.getValueEval`).
  */
object DimLookup {

  /** An immutable key → row hash table over all-string rows. Equality is
    * identity: the optimizer hashes and compares expressions often, and a
    * structural comparison would walk the whole dim each time.
    */
  final class Table(val fields: Seq[String],
                    rows: java.util.HashMap[UTF8String, InternalRow]) extends Serializable {
    val schema: StructType = StructType(fields.map(StructField(_, StringType)))
    def get(key: UTF8String): InternalRow = rows.get(key)
    override def toString: String = s"[${fields.mkString(",")}] ${rows.size} keys"
  }

  /** The table of a dim whose header is `columns` and whose key column is
    * `key`: each row's other columns (nulls allowed) by its key. A null key
    * is left out, as it never matches in an equi-join; a repeated key
    * keeps its last row.
    */
  def table(columns: Seq[String], key: Int, rows: Seq[Seq[String]]): Table = {
    val values = columns.indices.filter(_ != key)
    val m = new java.util.HashMap[UTF8String, InternalRow](math.max(16, rows.size * 2))
    rows.foreach { r =>
      if (r(key) != null)
        m.put(UTF8String.fromString(r(key)),
          new GenericInternalRow(values.map(i => UTF8String.fromString(r(i)): Any).toArray))
    }
    new Table(values.map(columns), m)
  }

  /** Column-facing API: the dim row of `key` as a struct, null on a miss
    * (so nullable whatever the key's nullability).
    */
  def of(key: Column, table: Table): Column =
    Kernel.invoke(table, "get", table.schema, Seq(key), returnNullable = true)
}
