package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a whole result: the row count and the sum
  * of `xxhash64` over every column of every row, as an exact decimal.
  * Doubles are rounded to 9 decimals first (the normalization
  * tools/local_compare.py applies). Because the digest reads every column,
  * Catalyst can prune none of the query's work, unlike `count()`. */
object Fingerprint {

  final case class Value(rows: Long, hashSum: String) {
    override def toString: String = s"$rows\t$hashSum"
  }

  /** The one-row frame that computes the digest of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    named.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("rows"), sum(col("h")).as("hash_sum"))
  }

  def read(fp: DataFrame): Value = {
    val r = fp.collect().head
    Value(r.getLong(0), Option(r.getDecimal(1)).fold("null")(_.toPlainString))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c, 9)
    case FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(e, _) if needs(e) => transform(c, x => normalize(x, e))
    case s: StructType if needs(s) =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    // xxhash64 rejects maps: hash their entries in key order instead
    case MapType(k, v, _) =>
      transform(array_sort(map_entries(c)), e => struct(
        normalize(e.getField("key"), k).as("key"), normalize(e.getField("value"), v).as("value")))
    case _ => c
  }

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needs(e)
    case s: StructType => s.fields.exists(f => needs(f.dataType))
    case _ => false
  }
}
