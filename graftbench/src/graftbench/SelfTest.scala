package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Digests of a few frames for the benchmark's own tests: the same rows
  * in another order and partitioning, and near-miss variants that must
  * digest differently. */
object SelfTest {
  def run(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    val base = Seq[(Long, String, Option[Double], Seq[Int])](
      (1L, "a", Some(1.5), Seq(1, 2)), (2L, null, None, Seq.empty),
      (3L, "c", Some(-2.25), Seq(3)), (4L, "a", Some(1.5), Seq(1, 2)))
      .toDF("id", "s", "d", "arr")
    val variants = Map(
      "base" -> base,
      "shuffled" -> base.orderBy(rand(7)).repartition(3),
      "value_changed" -> base.withColumn("d",
        when(col("id") === 3L, lit(-2.5)).otherwise(col("d"))),
      "row_dropped" -> base.filter(col("id") =!= 4L),
      "null_moved" -> Seq[(String, String)](("x", null)).toDF("a", "b"),
      "null_moved_other" -> Seq[(String, String)]((null, "x")).toDF("a", "b"))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(Json.write(variants.map { case (k, df) => k -> Board.digest(df) }))
    finally w.close()
  }
}
