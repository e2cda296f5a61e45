package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: one workload per process.
  *
  * {{{
  * graftbench.Main --workload analyst --ops ops.json --store DIR --trace 0|1 --cpus N --out run.json
  * graftbench.Main --workload board --queries graph:q1,pipeline:q2 --data DIR --verify DIR --seconds S ... --out run.json
  * graftbench.Main --workload datagen --data DIR --sf 0.01
  * graftbench.Main --workload setup --out setup.json
  * }}}
  *
  * Writes one JSON record (setup times, per-op or per-pass timings,
  * results or digests, spans with their Spark counters); `run.py`
  * turns it into metrics and checks the outputs. */
object Main {
  private def opt(args: Seq[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`name`, v) => v }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.toSeq
    def need(n: String) = opt(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val cpus = opt(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    if (workload == "datagen" || workload == "selftest") {
      val spark = GraftSession.local(cpus)
      try {
        if (workload == "datagen")
          graft.DataGen.generate(spark, need("--data"), need("--sf").toDouble)
        else SelfTest.run(spark, need("--out"))
      } finally spark.stop()
      return
    }

    // set-up: process start to a ready session, the last step before
    // the first timed op; wall and JVM CPU seconds
    val spark: SparkSession = GraftSession.local(cpus)
    val setup = Map("wall_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "cpu_s" -> Cpu.seconds)
    if (workload == "setup") {
      writeRecord(need("--out"), setup)
      spark.stop()
      return
    }

    val traced = opt(args, "--trace").contains("1")
    val tracer = new Tracer(spark.sparkContext, traced)
    heapPools.foreach(_.resetPeakUsage())
    val memo0 = graft.functions.MemoStats.snapshot
    val body = workload match {
      case "analyst" =>
        Analyst.run(spark, tracer, need("--ops"), need("--store"))
      case "board" =>
        val queries = need("--queries").split(",").toSeq.map { lq =>
          val Array(layer, q) = lq.split(":", 2); (layer, q)
        }
        Board.run(spark, tracer, queries, need("--data"), need("--verify"),
          need("--seconds").toDouble)
      case other => sys.error(s"unknown workload $other")
    }
    val memo1 = graft.functions.MemoStats.snapshot
    tracer.finish()
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val spans = tracer.spans.toSeq.map { s =>
      val c = tracer.counters.map(_.of(s.id)).getOrElse(new Array[Long](Counter.maxId))
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> Counter.values.toSeq.map(v => v.toString -> c(v.id)).toMap)
    }
    val record = Map("workload" -> workload, "cpus" -> cpus, "setup" -> setup,
      "traced" -> traced, "jvm_peak_heap_mb" -> peakHeapMb,
      "memo_total" -> Seq(memo1._1 - memo0._1, memo1._2 - memo0._2),
      "spans" -> spans) ++ body
    writeRecord(need("--out"), record)
    spark.stop()
  }

  private def writeRecord(path: String, record: Map[String, Any]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(Json.write(record)) finally w.close()
  }
}
