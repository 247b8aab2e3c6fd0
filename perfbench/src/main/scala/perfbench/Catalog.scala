package perfbench

import graft.SparkEntry
import graft.plans.CacheScope
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** `catalog`: a closed loop of passes over a fixed slice of
  * `SparkEntry.queries`. Each entry is built and fully collected inside a
  * `CacheScope`; the build (work done before the DataFrame returns) and
  * the collect are timed apart. The first measured pass's outputs are
  * written for the oracle comparison, outside the timed region. */
object Catalog {

  def run(spark: SparkSession, cfg: Main.Config, ops: Main.Ops): Map[String, Any] = {
    val names = cfg.node.get("entries").elements().asScala.map(_.asText()).toList
    val tr = ops.tracer

    def pass(dir: String, measured: Boolean, keep: Boolean): Seq[Map[String, Any]] = {
      // with an even slice, shift the traced/untraced alternation every
      // pass so each entry gets both kinds of samples
      if (measured && names.size % 2 == 0) ops.skip()
      names.map { name =>
        val (op, traced) = if (measured) ops.next() else { ops.off(); (0L, false) }
        val (buildNs, collectNs, df, rows) = tr.span(name, "bench", op) {
          CacheScope(spark) {
            val b0 = System.nanoTime()
            val df = tr.span("build", "catalog", op)(SparkEntry.queries(name)(spark, dir))
            val b1 = System.nanoTime()
            val rows = tr.span("collect", "catalog", op)(df.collect())
            (b1 - b0, System.nanoTime() - b1, df, rows)
          }
        }
        ops.off()
        if (keep) spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${cfg.str("result_dir")}/$name")
        Map("op" -> op, "traced" -> traced, "entry" -> name,
          "build_ms" -> buildNs / 1e6, "collect_ms" -> collectNs / 1e6)
      }
    }

    pass(cfg.str("warm_dir"), measured = false, keep = false)
    val ready = System.currentTimeMillis()
    val jvm0 = Jvm.snapshot()
    val dir = cfg.str("data_dir")
    val minPasses = if (tr.traced) 2 else 1
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - t0 < cfg.dbl("seconds") * 1e9)
      passes += pass(dir, measured = true, keep = passes.isEmpty)
    val jvm = Jvm.delta(jvm0, Jvm.snapshot())
    Map("ready_ms" -> ready, "passes" -> passes.toList, "jvm" -> jvm,
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
  }
}
