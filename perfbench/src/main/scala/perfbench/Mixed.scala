package perfbench

import graft.compile.QueryCompiler
import graft.model._
import graft.streaming.{Clip, ManualClock, QueryJson, QueryRunner}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** `runner_mixed`: a closed loop of `processBatch` calls over staged
  * parquet micro-batches, with the registered query count held constant —
  * every query that completes is replaced by a fresh one of the same shape
  * before the next batch. The manual clock advances one second per batch,
  * so query durations are counted in batches. */
object Mixed {

  /** One generated query: shape 0-5 (the b11 mix), `user_id % 7` residue,
    * duration in batches, and its REGISTER control message. */
  final case class Q(id: String, shape: Int, residue: Int, batches: Int, message: String) {
    def spec: QuerySpec = QueryJson.parseSpec(Main.json.readTree(message).get("query"))
    /** The same query under another id (a reused pool entry). */
    def renamed(to: String): Q = copy(id = to,
      message = message.replace("\"id\": \"" + id + "\"", "\"id\": \"" + to + "\""))
  }

  def readQueries(path: String): Seq[Q] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        Q(f(0), f(1).toInt, f(2).toInt, f(3).toInt, f(4))
      }

  def run(spark: SparkSession, cfg: Main.Config, ops: Main.Ops): Map[String, Any] = {
    val files = cfg.node.get("batches").elements().asScala.map(_.asText()).toIndexedSeq
    val all = readQueries(cfg.str("queries"))
    val nActive = cfg.int("active_queries")
    val pools = all.drop(nActive).groupBy(_.shape).map { case (k, v) => k -> v.toIndexedSeq }
    val drawn = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    // the next replacement of a shape; a used-up pool is reused with fresh ids
    def replacement(shape: Int): Q = {
      val pool = pools(shape)
      val i = drawn(shape)
      drawn(shape) = i + 1
      val q = pool(i % pool.size)
      if (i < pool.size) q else q.renamed(s"${q.id}.${i / pool.size}")
    }
    val byId = mutable.HashMap.empty[String, Q]
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val done = mutable.ArrayBuffer.empty[(String, Clip, Int)] // id, clip, batch seq
    var seq = 0
    runner.onResult(c => if (c.signal.isDefined) done += ((c.queryId, c, seq)))
    val seen = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val tr = ops.tracer

    // the initial population registers directly; replacements arrive as
    // REGISTER control messages, the client-facing admission path
    all.take(nActive).foreach { q =>
      byId(q.id) = q
      require(runner.register(q.spec).isEmpty, s"query ${q.id} rejected")
    }
    def admit(q: Q, op: Long): Long = {
      byId(q.id) = q
      val t0 = System.nanoTime()
      val rejected = tr.span("handleMessage", "control", op)(runner.handleMessage(q.message))
      val ns = System.nanoTime() - t0
      require(rejected.isEmpty, s"query ${q.id} rejected: $rejected")
      ns
    }

    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmMs = mutable.ArrayBuffer.empty[Double]
    def step(measured: Boolean): Unit = {
      val (op, traced) = if (measured) ops.next() else { ops.off(); (0L, false) }
      seq += 1
      val fileIdx = (seq - 1) % files.size
      tr.span("step", "bench", op) {
        clock.advance(1000L)
        // replace every query that completed in the previous batch
        val finished = done.filter(_._3 == seq - 1).map(_._1).distinct
        val regNs = finished.map { id =>
          admit(replacement(byId(id).shape), op)
        }
        val active = runner.activeQueryIds
        active.foreach(id => seen.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += fileIdx)
        val batch = spark.read.parquet(files(fileIdx))
        val b0 = System.nanoTime()
        val clips = tr.span("processBatch", "runner", op)(runner.processBatch(batch))
        val batchNs = System.nanoTime() - b0
        if (traced) {
          tr.count("runner.active_queries", op, active.size)
          tr.count("runner.clips_per_batch", op, clips.size)
          tr.count("runner.records_per_batch", op, cfg.int("batch_records"))
          tr.count("runner.fail_clips", op, clips.count(_.signal.contains("FAIL")))
          tr.count("runner.sink_errors", op, runner.sinkErrors.toDouble)
          val lat = active.flatMap(runner.queryStats).map(_("filter_latency_ms_last"))
          if (lat.nonEmpty) tr.count("runner.filter_latency_ms", op, lat.sum.toDouble / lat.size)
        }
        if (!measured) warmMs += batchNs / 1e6
        if (measured) rows += Map("op" -> op, "traced" -> traced, "batch_ms" -> batchNs / 1e6,
          "admit_ms" -> regNs.map(_ / 1e6).toList,
          "fail_clips" -> clips.count(_.signal.contains("FAIL")))
      }
    }

    (1 to cfg.int("warm_batches")).foreach(_ => step(measured = false))
    val ready = System.currentTimeMillis()
    val jvm0 = Jvm.snapshot()
    val firstMeasured = seq + 1
    val t0 = System.nanoTime()
    // at least three measured batches, so every (shape, residue) pair completes
    while (rows.size < 3 || System.nanoTime() - t0 < cfg.dbl("seconds") * 1e9) step(measured = true)
    val jvm = Jvm.delta(jvm0, Jvm.snapshot())
    val (finOp, _) = ops.next()
    val f0 = System.nanoTime()
    tr.span("finishAll", "runner", finOp)(runner.finishAll())
    val finishMs = (System.nanoTime() - f0) / 1e6
    ops.off()

    // output check: measured completions grouped by (shape, residue,
    // batches seen), so one QueryCompiler.run checks every query of a
    // group. Each (shape, residue) pair checks one group; the pairs take
    // turns over the measured batches in which queries completed.
    val c0 = System.nanoTime()
    val completed = done.filter { case (_, c, s) => s >= firstMeasured && c.signal.contains("COMPLETE") }
    val endSeqs = completed.map(_._3).distinct.sorted
    val groups = completed.groupBy { case (id, _, _) =>
      val q = byId(id)
      (q.shape, q.residue, seen(id).toList)
    }.toSeq.sortBy { case ((shape, residue, batches), _) =>
      (shape, residue, batches.size, batches.mkString(","))
    }
    val chosen = groups.groupBy { case ((shape, residue, _), _) => (shape, residue) }.toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((_, gs), k) =>
        gs.find(_._2.exists(_._3 == endSeqs(k % endSeqs.size))).getOrElse(gs.maxBy(_._2.size))
      }
    def guarded(f: => Option[String]): Option[String] = try f catch {
      case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // the groups are checked four at a time: each check is a small job
    // whose time is mostly driver-side planning
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val pending = chosen.map { case ((shape, residue, batches), members) => Future {
      val q = byId(members.head._1)
      val data = batches.map(i => spark.read.parquet(files(i))).reduce(_ union _)
      val verdict = try Check.mixed(q, data) catch { case e: Exception => (_: Clip) => guarded(throw e) }
      members.map { case (id, clip, end) =>
        val problem = guarded(verdict(clip))
        Map("id" -> id, "shape" -> shape, "residue" -> residue, "batches" -> batches.size,
          "end_batch" -> end, "ok" -> problem.isEmpty, "detail" -> problem.getOrElse(""))
      }
    }}
    val checks = try pending.flatMap(Await.result(_, Duration.Inf)) finally pool.shutdown()
    Map("ready_ms" -> ready, "ops" -> rows.toList, "warm_batch_ms" -> warmMs.toList,
      "finish_ms" -> finishMs, "checks" -> checks.toList,
      "check_ms" -> (System.nanoTime() - c0) / 1e6, "jvm" -> jvm)
  }
}

/** Output comparisons shared by the runner workloads. */
object Check {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(json: String): Map[String, Any] =
    mapper.readValue(json, classOf[java.util.Map[String, Any]]).asScala.toMap

  private def num(v: Any): Double = v.asInstanceOf[java.lang.Number].doubleValue
  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Two-sided rank-error bound of the runner's KLL quantile sketch at
    * `k`: twice the 99%-confidence normalized rank error, so a correct
    * sketch practically never fails the check over many queries. */
  def kllBound(k: Int): Double =
    2 * org.apache.datasketches.kll.KllSketch.getNormalizedRankError(k, false)

  /** A verdict on final clips of `q` over `data`: None when the clip is
    * the correct result, else a description of the first difference. The
    * expected result is computed once, so one verdict serves every query
    * of the same shape and residue that saw the same batches. */
  def mixed(q: Mixed.Q, data: DataFrame): Clip => Option[String] = {
    val spec = q.spec
    def got(clip: Clip) = clip.records.map(parse)
    val matched = data.filter(col("user_id") % 7 === q.residue)
    def rows(df: DataFrame): Seq[Map[String, Any]] = {
      val names = df.schema.fieldNames
      df.collect().toSeq.map((r: Row) => names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)
    }
    def sameGroups(want: Seq[Map[String, Any]], key: String): Clip => Option[String] = {
      val w = want.map(r => Option(r.getOrElse(key, null)).map(_.toString) -> r).toMap
      clip => {
        val g = got(clip).map(r => Option(r.getOrElse(key, null)).map(_.toString) -> r).toMap
        if (g.keySet != w.keySet) Some(s"groups ${g.keySet} != ${w.keySet}")
        else w.collectFirst {
          case (k, wr) if num(g(k)("cnt")) != num(wr("cnt")) || !close(num(g(k)("sv")), num(wr("sv"))) =>
            s"group $k: ${g(k)} != $wr"
        }
      }
    }
    spec.aggregation match {
      case _: GroupAll => sameGroups(rows(QueryCompiler.run(data, spec)), "__all__")
      case _: GroupBy  => sameGroups(rows(QueryCompiler.run(data, spec)), "et")
      case _: CountDistinct =>
        val want = matched.select(countDistinct("user_id")).first().getLong(0)
        clip => {
          val g = got(clip)
          val v = g.headOption.flatMap(_.values.headOption).map(num)
          if (g.size == 1 && v.contains(want.toDouble)) None
          else Some(s"distinct $g != $want")
        }
      case TopK(_, k, _, _, _) =>
        val counts = matched.groupBy("event_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val top = counts.values.toSeq.sorted.reverse.take(k)
        clip => {
          val g = got(clip)
          val bad = g.find(r => !counts.get(r("et").toString).contains(num(r("cnt")).toLong))
          if (bad.isDefined) Some(s"top-k count wrong: $bad vs $counts")
          else if (g.map(r => num(r("cnt")).toLong).sorted.reverse != top)
            Some(s"top-k $g is not the top $k of $counts")
          else None
        }
      case Distribution(field, _, points, k, _) =>
        val xs = matched.select(col(field)).collect().map(_.getDouble(0)).sorted
        val n = xs.length.toDouble
        val eps = kllBound(k)
        clip => {
          val g = got(clip)
          if (g.size != points.size) Some(s"quantile count ${g.size} != ${points.size}")
          else g.collectFirst(Function.unlift { r =>
            val p = num(r("Quantile")); val v = num(r("Value"))
            val lo = java.util.Arrays.binarySearch(xs, v) match {
              case i if i >= 0 => xs.indexWhere(_ == v) / n
              case i => (-i - 1) / n
            }
            val hi = xs.count(_ <= v) / n
            if (p < lo - eps || p > hi + eps) Some(s"quantile $p -> $v has rank [$lo, $hi], eps $eps")
            else None
          })
        }
      case Raw(size) =>
        val all = matched.select("event_id").collect().map(_.getLong(0))
        val ids = all.toSet
        val want = math.min(size.toLong, all.length.toLong)
        clip => {
          val gotIds = got(clip).map(r => num(r("event_id")).toLong)
          if (gotIds.size != want) Some(s"raw returned ${gotIds.size} records, want $want")
          else if (gotIds.distinct.size != gotIds.size) Some("raw returned a record twice")
          else gotIds.find(i => !ids.contains(i)).map(i => s"raw record $i does not match")
        }
      case other => _ => Some(s"no check for $other")
    }
  }
}
