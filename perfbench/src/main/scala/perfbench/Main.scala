package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** One run of one workload: `Main <config.json>`. The config names the
  * workload, its generated inputs and the output file; the run writes raw
  * timings, check results and (when traced) spans and listener events as
  * one JSON document, which `perfbench/run.py` turns into metrics. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Config(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def dbl(k: String): Double = node.get(k).asDouble()
    def bool(k: String): Boolean = node.get(k).asBoolean()
  }

  /** Operation clock for a workload: `traced` runs flip the tracer on for
    * every other operation so traced and untraced samples interleave. */
  final class Ops(val tracer: Tracer) {
    private var n = 0L
    def next(): (Long, Boolean) = {
      n += 1
      val on = tracer.traced && n % 2 == 0
      tracer.on = on
      (n, on)
    }
    def off(): Unit = tracer.on = false
    def skip(): Unit = n += 1
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config(json.readTree(Files.readString(Paths.get(args(0)))))
    val started = System.currentTimeMillis()
    val spark = session(cfg.int("cpus"), cfg.str("work_dir"))
    val tracer = new Tracer(cfg.bool("trace"))
    val listeners = if (tracer.traced) Some(new Listeners) else None
    listeners.foreach { l =>
      spark.sparkContext.addSparkListener(l.spark)
      spark.listenerManager.register(l.execution)
      spark.streams.addListener(l.streaming)
    }
    val result = try {
      cfg.str("workload") match {
        case "runner_mixed" => Mixed.run(spark, cfg, new Ops(tracer))
        case "runner_live"  => Live.run(spark, cfg, new Ops(tracer))
        case "catalog"      => Catalog.run(spark, cfg, new Ops(tracer))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally tracer.on = false
    // let the listener bus drain before the events are read
    Thread.sleep(if (tracer.traced) 500L else 0L)
    val out = result ++ Map(
      "jvm_start_ms" -> started, "done_ms" -> System.currentTimeMillis(),
      "trace" -> (tracer.dump() ++ listeners.map(_.dump()).getOrElse(Map.empty)))
    Files.writeString(Paths.get(cfg.str("out_file")), json.writeValueAsString(out))
    spark.stop()
  }
}

/** JVM-wide counters for the `jvm.*` layer metrics. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def snapshot(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble,
    "jit_ms" -> Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0d))

  /** GC and JIT time spent between two snapshots, plus the heap left
    * after a full collection at the end of the measured phase. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Map("gc_ms" -> (b("gc_ms") - a("gc_ms")), "jit_ms" -> (b("jit_ms") - a("jit_ms")),
      "heap_mb" -> heap)
  }
}
