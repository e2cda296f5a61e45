package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.MemoStats

/** The board workloads: a batch of `SparkEntry.queries` over one
  * scale-factor directory. Every pass starts cold — `clearCache`, a GC
  * and `spark.newSession()`, so session-keyed memos rebuild while the
  * JIT and the SparkContext stay warm — and runs the queries in the
  * seeded order. A query's time is its construction (the library call
  * that returns the frame, with every job it launches) plus the
  * execution of an all-column digest of the frame. */
object Board {

  /** Order-insensitive digest over every output column:
    * (rows, Σ pmod(h, 2³¹−1), xor h) with h = xxhash64(to_json(row)). */
  def digest(df: DataFrame): Seq[Long] = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def freshSession(spark: SparkSession): SparkSession = {
    spark.catalog.clearCache()
    System.gc()
    spark.newSession()
  }

  /** `queries` are (layer, query) pairs; the layer names the spans. */
  def run(spark: SparkSession, tracer: Tracer, layered: Seq[(String, String)],
      dataDir: String, verifyDir: String, seconds: Double): Map[String, Any] = {
    def t = System.nanoTime()
    val queries = layered.map(_._2)
    val layer = layered.map(_.swap).toMap

    // verification pass: also the warm-up. Outputs go to parquet for
    // the DuckDB oracle; the digest recorded here is what every timed
    // pass must reproduce. Traced runs also time count() beside the
    // all-column digest of the same frame.
    tracer.on = false
    val vs = freshSession(spark)
    val vm0 = MemoStats.snapshot
    val verified = queries.map { q =>
      try {
        val df = SparkEntry.queries(q)(vs, dataDir)
        df.write.mode("overwrite").parquet(s"$verifyDir/$q")
        val d0 = t
        val dg = digest(df)
        val d1 = t
        val countS = if (tracer.enabled) { df.count(); (t - d1) / 1e9 } else 0.0
        q -> Map("digest" -> dg, "digest_s" -> (d1 - d0) / 1e9, "count_s" -> countS)
      } catch {
        case e: Exception =>
          q -> Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    }.toMap
    val vm1 = MemoStats.snapshot

    // as many passes as fit in `seconds`; at least one, and in a traced
    // run at least an untraced and a traced one
    val minPasses = if (tracer.enabled) 2 else 1
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val start = t
    var p = 0
    while (p < minPasses || (t - start) / 1e9 < seconds) {
      // traced runs alternate untraced and traced passes
      tracer.on = tracer.enabled && p % 2 == 1
      val s = freshSession(spark)
      val m0 = MemoStats.snapshot
      val cpu0 = Cpu.seconds
      val p0 = t
      val qs = queries.map { q =>
        try {
          val c0 = t
          val df = tracer.span(s"${layer(q)}.$q.construct", p) {
            SparkEntry.queries(q)(s, dataDir)
          }
          val c1 = t
          val dg = tracer.span(s"${layer(q)}.$q.execute", p) { digest(df) }
          val c2 = t
          Map("query" -> q, "construct_s" -> (c1 - c0) / 1e9,
            "execute_s" -> (c2 - c1) / 1e9, "digest" -> dg)
        } catch {
          case e: Exception =>
            Map("query" -> q,
              "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
      }
      val p1 = t
      val m1 = MemoStats.snapshot
      passes += Map("pass" -> p, "traced" -> tracer.on, "wall_s" -> (p1 - p0) / 1e9,
        "cpu_s" -> (Cpu.seconds - cpu0),
        "memo_built" -> (m1._1 - m0._1), "memo_ridden" -> (m1._2 - m0._2),
        "queries" -> qs)
      p += 1
    }
    tracer.on = tracer.enabled
    Map("verify" -> verified, "verify_memo_built" -> (vm1._1 - vm0._1),
      "passes" -> passes.toSeq,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }
}
