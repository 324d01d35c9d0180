package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-independent digest of a query result.
  *
  * Each row hashes to 64 bits over its columns in name order, every value
  * rendered as a string (doubles keep all their digits, so the digest is
  * as strict as the DuckDB comparison, which compares exact values). The
  * row hashes are summed, so neither row order nor partitioning changes
  * the result. The digest also covers the row count and the sorted column
  * names and types.
  */
object Digest {
  private val NullMark = "\u0000null"

  private def canon(c: Column, t: DataType): Column = t match {
    case BinaryType => coalesce(base64(c), lit(NullMark))
    case _          => coalesce(c.cast(StringType), lit(NullMark))
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val header = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val rowHash =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    val r = df.select(rowHash.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
      .head()
    val n = r.getLong(0)
    val s = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    val folded = s.mod(BigInt(2).pow(64))
    f"n=$n%d;h=${folded.toString(16)};cols=${header.hashCode & 0xffffffffL}%08x"
  }

  /** Row order and partitioning leave the digest unchanged; a changed
    * value, a value moved to another column, or a lost row change it. */
  def selfTest(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val base = Seq[(Int, java.lang.Double, String, Seq[Long], Map[String, Int], Array[Byte])](
      (1, 0.1 + 0.2, "a", Seq(1L, 2L), Map("k" -> 1), Array[Byte](1, 2)),
      (2, null, null, Nil, Map.empty, Array.emptyByteArray),
      (3, -0.0, "b", Seq(3L), Map("k" -> 2, "j" -> 3), null),
      (4, Double.NaN, "c", null, null, Array[Byte](-1)))
      .toDF("i", "d", "s", "arr", "m", "bin")
      .withColumn("st", struct(col("i"), col("s")))
    val d = of(base)
    def same(what: String, df: DataFrame): Unit =
      assert(of(df) == d, s"digest self-test: $what changed the digest")
    def differs(what: String, df: DataFrame): Unit =
      assert(of(df) != d, s"digest self-test: $what left the digest unchanged")
    same("reversed row order", base.orderBy(col("i").desc))
    same("repartitioning", base.repartition(3, col("s")))
    same("column order", base.select(base.columns.reverse.map(col).toIndexedSeq: _*))
    differs("a changed double", base.withColumn("d", when(col("i") === 1, lit(0.3)).otherwise(col("d"))))
    differs("a lost row", base.filter(col("i") =!= 4))
    differs("values moved between columns",
      base.withColumn("s", when(col("i") === 1, lit("b")).when(col("i") === 3, lit("a"))
        .otherwise(col("s"))))
    println("digest self-test: PASS")
  }
}
