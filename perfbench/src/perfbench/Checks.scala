package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks, run off the clock. */
object Checks {
  final case class Digest(rows: Long, digest: String)

  /** Row count and an order-insensitive digest: the sum of every row's
    * xxhash64, widened so the sum cannot overflow. Columns are renamed
    * by position (outputs may repeat a name) and maps are hashed as
    * their sorted entries (hashing refuses map columns). */
  def digest(df: DataFrame): Digest = {
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"`c$i`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = renamed.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Digest(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Freivalds' test: C·r must equal A·(B·r) for a seeded vector r, up
    * to a relative tolerance. A wrong product passes with probability
    * near zero; the test costs three matrix-vector products. */
  def freivalds(spark: SparkSession, a: DataFrame, b: DataFrame, c: DataFrame,
                n: Long, seed: Long, relTol: Double = 1e-9): (Boolean, String) = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val r = (0L until n).map(j => (j, rnd.nextDouble())).toDF("k", "r")
    def mv(m: DataFrame, x: DataFrame): DataFrame =
      m.join(broadcast(x), m("j") === x("k"))
        .groupBy(m("i")).agg(sum(m("v") * x("r")).as("r"))
        .select(col("i").as("k"), col("r"))
    def vec(x: DataFrame): Array[Double] = {
      val out = new Array[Double](n.toInt)
      x.collect().foreach(row => out(row.getLong(0).toInt) = row.getDouble(1))
      out
    }
    val lhs = vec(mv(c, r))
    val rhs = vec(mv(a, mv(b, r)))
    val scale = math.max(rhs.map(math.abs).max, 1e-300)
    val err = lhs.zip(rhs).map { case (x, y) => math.abs(x - y) }.max / scale
    (err <= relTol, f"max relative residual $err%.3e (tolerance $relTol%.0e)")
  }

  /** The checks must catch what they exist to catch: a one-row change
    * to a table output, and a one-cell change to a product. */
  def selfTest(spark: SparkSession): Seq[(String, Boolean)] = {
    import graft.operators.MatrixOps
    val base = spark.range(0, 1000).selectExpr("id", "id * 3 AS v", "CAST(id AS STRING) AS s")
    val moved = base.selectExpr("id", "IF(id = 517, v + 1, v) AS v", "s")
    val shuffled = base.repartition(7).sortWithinPartitions(col("s").desc)
    val a = MatrixOps.genDense(spark, 32, 11)
    val b = MatrixOps.genDense(spark, 32, 12)
    val c = MatrixOps.multiply(a, b)
    val cBad = c.withColumn("v", when(col("i") === 5 && col("j") === 9, col("v") + 1.0)
      .otherwise(col("v")))
    Seq(
      "digest_flags_one_row_change" -> (digest(base) != digest(moved)),
      "digest_ignores_row_order" -> (digest(base) == digest(shuffled)),
      "digest_counts_a_dropped_row" -> (digest(base).rows != digest(base.filter("id <> 3")).rows),
      "freivalds_accepts_product" -> freivalds(spark, a, b, c, 32, 7)._1,
      "freivalds_flags_one_cell_change" -> !freivalds(spark, a, b, cBad, 32, 7)._1)
  }
}
