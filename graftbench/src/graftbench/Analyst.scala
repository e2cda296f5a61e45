package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.importer.{BinaryGraph, GraphStore, JsonImporter}
import graft.queries.GraphQueryEngine

/** The `analyst` workload: one client, closed loop, no think time.
  * A timed bootstrap `import directory`, then the seeded stream of CLI
  * queries and `import merge`s against the one store. Every query is
  * executed the way the CLI emits it: its `limit(100)` frame collected
  * in full. Results are recorded for the ground-truth check. */
object Analyst {
  private val Traversals = Set("callgraph", "call_paths", "recursion")

  private def cell(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: Row => r.toSeq.map(cell)
    case other => other
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map(cell))

  private def query(eng: GraphQueryEngine, op: JsonNode): DataFrame = {
    val b = Json.text(op, "binary")
    def fn = op.get("function").asText
    op.get("kind").asText match {
      case "functions" => eng.queryFunctions(op.get("pattern").asText, b, 100)
      case "strings" =>
        val terms = op.get("pattern").asText.toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty).toSeq
        eng.queryStrings(terms, b, 100)
      case "binary_info" => eng.queryBinaryInfo(op.get("name").asText)
      case "stats" => eng.stats()
      case "callgraph" => eng.callgraph(fn, b, 3).limit(100)
      case "call_paths" => eng.callPaths(fn, b, 3).limit(100)
      case "sequences" => eng.callSequences(fn, b).limit(100)
      case "caller_sequences" => eng.callerSequences(fn, b).limit(100)
      case "recursion" => eng.findRecursion(fn, b, 4).limit(100)
      case "xrefs" => eng.xrefs(op.get("address").asText, b).limit(100)
      case "call_freq" => eng.callFrequencies(fn, b).limit(100)
      case other => sys.error(s"unknown op kind $other")
    }
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  def run(spark: SparkSession, tracer: Tracer, opsPath: String,
      store: String): Map[String, Any] = {
    val ops = Json.read(opsPath).elements().asScala.toVector
    val out = ArrayBuffer.empty[Map[String, Any]]
    def t = System.nanoTime()

    // bootstrap: the CLI's `import directory` with its defaults
    val boot = ops.head
    val path = boot.get("path").asText
    val c0 = Cpu.seconds
    val t0 = t
    tracer.span("importer.import", 0) {
      val raw = tracer.span("importer.read", 0) {
        JsonImporter.readAnalysis(spark, path)
      }
      tracer.span("importer.validate", 0) {
        JsonImporter.validate(raw).filter("NOT valid").isEmpty
      }
      val g = JsonImporter.buildGraph(raw)
      tracer.span("importer.save", 0) { GraphStore.save(g, store) }
    }
    val t1 = t
    var (graph, eng) = tracer.span("importer.load", 0) {
      val g = GraphStore.load(spark, store); (g, new GraphQueryEngine(g))
    }
    val t2 = t
    def stats(g: BinaryGraph) = rows(JsonImporter.stats(g))
    out += Map("id" -> 0L, "kind" -> "import", "import_s" -> (t1 - t0) / 1e9,
      "load_s" -> (t2 - t1) / 1e9, "wall_s" -> (t2 - t0) / 1e9,
      "cpu_s" -> (Cpu.seconds - c0), "bytes" -> boot.get("bytes").asLong,
      "store_bytes" -> dirBytes(store), "traced" -> tracer.on, "rows" -> stats(graph))

    var traversedSinceLoad = false
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (op <- ops.tail) {
      val id = op.get("id").asLong
      val kind = op.get("kind").asText
      // traced runs trace the 1st, 3rd, ... op of each kind and leave the
      // 2nd, 4th, ... untraced, for the overhead; merges are always traced
      tracer.on = tracer.enabled && (kind == "merge" || seen(kind) % 2 == 0)
      seen(kind) += 1
      val c0 = Cpu.seconds
      try {
        if (kind == "merge") {
          val m0 = t
          tracer.span("importer.merge", id) {
            JsonImporter.mergeAnalysis(spark, store, op.get("path").asText)
          }
          val m1 = t
          eng.close()
          val (g2, e2) = tracer.span("importer.load", id) {
            val g = GraphStore.load(spark, store); (g, new GraphQueryEngine(g))
          }
          graph = g2; eng = e2
          traversedSinceLoad = false
          val m2 = t
          out += Map("id" -> id, "kind" -> kind, "merge_s" -> (m1 - m0) / 1e9,
            "load_s" -> (m2 - m1) / 1e9, "wall_s" -> (m2 - m0) / 1e9,
            "cpu_s" -> (Cpu.seconds - c0), "bytes" -> op.get("bytes").asLong,
            "store_bytes" -> dirBytes(store), "traced" -> tracer.on, "rows" -> stats(graph))
        } else {
          val first = Traversals(kind) && !traversedSinceLoad
          if (Traversals(kind)) traversedSinceLoad = true
          val q0 = t
          val df = tracer.span(s"engine.$kind.construct", id) { query(eng, op) }
          val q1 = t
          val got = tracer.span(s"engine.$kind.execute", id) { rows(df) }
          val q2 = t
          out += Map("id" -> id, "kind" -> kind, "construct_s" -> (q1 - q0) / 1e9,
            "execute_s" -> (q2 - q1) / 1e9, "wall_s" -> (q2 - q0) / 1e9,
            "cpu_s" -> (Cpu.seconds - c0),
            "first_traversal" -> first, "traced" -> tracer.on, "rows" -> got)
        }
      } catch {
        case e: Exception =>
          out += Map("id" -> id, "kind" -> kind, "traced" -> tracer.on,
            "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    }
    tracer.on = tracer.enabled
    eng.close()
    Map("ops" -> out.toSeq)
  }
}
