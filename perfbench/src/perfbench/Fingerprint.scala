package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output fingerprint: the row count plus the sums of the
  * low and high 32-bit halves of every row's all-column `xxhash64` (the sums
  * cannot overflow below 2^31 rows, so the fold is ANSI-safe and does not
  * depend on partitioning). Floating values are rounded to float precision
  * first, because summation order, and with it the last bits of a double
  * aggregate, varies with task scheduling. Maps hash as their sorted
  * entries. */
object Fingerprint {

  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => floating(e)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case _: MapType => true
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    // `+ 0` folds -0.0 into 0.0
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(e, _) if floating(e) => transform(c, x => norm(x, e))
    case StructType(fs) if floating(t) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case m: MapType =>
      norm(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", m.keyType),
          StructField("value", m.valueType)))))
    case _ => c
  }

  /** One job: `rows:lowSum:highSum`. */
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"),
      f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("_h"))
      .agg(count(lit(1)), sum(col("_h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("_h"), 32)))
      .collect()(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  /** The same shape over a directory of documents (a keyed file store):
    * one "row" per file, hashed over its name and content. */
  def ofFiles(dir: String): String = {
    val fs = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
    val hs = fs.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
      java.nio.ByteBuffer.wrap(md.digest()).getLong
    }
    s"${hs.size}:${hs.map(_ & 0xffffffffL).sum}:${hs.map(_ >>> 32).sum}"
  }

  def rows(fp: String): Long =
    scala.util.Try(fp.takeWhile(_ != ':').toLong).getOrElse(0L)
}
