package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output fingerprint: the row count, plus the XOR
  * and the exact sum of a 64-bit hash of every row.
  *
  * Floating-point cells are rounded to 10 significant digits
  * (`%.9e`, with -0.0 folded into 0.0) before hashing, so a sum whose
  * last bits depend on the shuffle order still fingerprints the same;
  * map cells are hashed as their entries sorted by key. Arrays keep
  * their order: an array built without an ordering is a
  * nondeterministic output, and the recorder rejects it. */
object Fingerprint {

  def of(df: DataFrame): String = {
    val n = df.columns.length
    // positional names: outputs may carry duplicate or dotted names
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cells = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val xor = if (r.isNullAt(1)) 0L else r.getLong(1)
    val total = if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString
    s"rows=${r.getLong(0)};xor=$xor;sum=$total"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), k).as("k"),
          norm(e.getField("value"), v).as("v"))))
    case s: StructType =>
      if (s.fields.isEmpty) c
      else struct(s.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
