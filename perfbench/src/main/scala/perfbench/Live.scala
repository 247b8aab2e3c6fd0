package perfbench

import graft.streaming.{Clip, QueryRunner}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `runner_live`: an open loop. `runStream` serves Spark's `rate` source
  * while one sender thread replays a generated schedule of control
  * messages through `handleMessage`, each at its scheduled instant
  * whether or not the previous one has returned late. Results reach the
  * bench through `onResult` and are stamped on arrival. */
object Live {

  /** One scheduled control message: offset from the schedule start (ms),
    * query id, and the message JSON. */
  final case class Msg(atMs: Long, id: String, kind: String, json: String)

  def readSchedule(path: String): Seq[Msg] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        Msg(f(0).toLong, f(1), f(2), f(3))
      }

  def run(spark: SparkSession, cfg: Main.Config, ops: Main.Ops): Map[String, Any] = {
    val schedule = readSchedule(cfg.str("schedule"))
    val warmMs = (cfg.dbl("warm_seconds") * 1000).toLong
    val endMs = warmMs + (cfg.dbl("seconds") * 1000).toLong
    val tr = ops.tracer
    val runner = new QueryRunner(spark)
    val results = mutable.ArrayBuffer.empty[(Long, Clip)]
    runner.onResult(c => results.synchronized(results += ((Clock.us(), c))))
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", cfg.int("rows_per_second").toString).load()
      .select(col("timestamp"),
        (col("value") % 1500).as("user_id"),
        element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
          (col("value") % 5 + 1).cast("int")).as("event_type"),
        ((col("value") * 7919L) % 56000L / 100.0).as("value"))
    val streamStart = System.currentTimeMillis()
    val sq = runner.runStream(stream, triggerMs = cfg.int("trigger_ms").toLong,
      tickIntervalMs = cfg.int("tick_ms").toLong)
    val t0us = Clock.us()
    val t0 = t0us / 1000.0
    def rel(us: Long): Double = (us - t0us) / 1000.0

    // sender: traced/untraced alternates in 2 s blocks of schedule time so
    // a traced run holds both kinds of samples
    val sent = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sender = new Thread(() => {
      var stop = false
      val it = schedule.iterator
      while (!stop && it.hasNext) {
        val m = it.next()
        if (m.atMs >= endMs) stop = true
        else {
          val due = t0us + m.atMs * 1000L
          var now = Clock.us()
          while (now < due) {
            java.util.concurrent.locks.LockSupport.parkNanos((due - now) * 1000L)
            now = Clock.us()
          }
          val block = m.atMs / 2000
          val traced = tr.traced && m.atMs >= warmMs && block % 2 == 1
          tr.on = traced
          val start = Clock.us()
          val clip = tr.span("handleMessage", "control", block)(runner.handleMessage(m.json))
          val end = Clock.us()
          sent += Map("at_ms" -> m.atMs, "id" -> m.id, "kind" -> m.kind,
            "start_ms" -> rel(start), "end_ms" -> rel(end), "traced" -> traced,
            "fail" -> clip.exists(_.signal.contains("FAIL")))
        }
      }
    }, "perfbench-sender")
    sender.setDaemon(true)
    sender.start()

    Thread.sleep(math.max(0L, t0.toLong + warmMs - System.currentTimeMillis()))
    val ready = System.currentTimeMillis()
    val jvm0 = Jvm.snapshot()
    sender.join()
    Thread.sleep(math.max(0L, t0.toLong + endMs - System.currentTimeMillis()))
    val jvm = Jvm.delta(jvm0, Jvm.snapshot())
    tr.on = false
    val progress = sq.recentProgress.toList.map(Listeners.progressRow)
    sq.stop()
    val f0 = System.nanoTime()
    val forced = runner.finishAll().map(_.queryId).toSet
    val finishMs = (System.nanoTime() - f0) / 1e6

    // bench-side Bql.parse timing over the submitted texts (traced runs)
    val parseUs = if (!tr.traced) Nil else schedule.filter(_.kind != "KILL").take(2000).map { m =>
      val bql = Check.parse(m.json)("bql").toString
      val p0 = System.nanoTime()
      graft.bql.Bql.parse(bql, m.id)
      (System.nanoTime() - p0) / 1e3
    }.toList

    val clips = results.synchronized(results.toList).map { case (at, c) =>
      Map("id" -> c.queryId, "at_ms" -> rel(at), "signal" -> c.signal.orNull,
        "window" -> c.meta.get("window_number").map(_.toString.toLong).getOrElse(-1L),
        "receive_ms" -> c.meta.get("receive_time").map(_.toString.toLong - t0).getOrElse(-1L),
        "forced" -> (forced(c.queryId) && rel(at) >= endMs))
    }
    Map("ready_ms" -> ready, "t0_ms" -> t0, "warm_ms" -> warmMs, "end_ms" -> endMs,
      "sent" -> sent.toList, "clips" -> clips, "progress" -> progress,
      "bql_parse_us" -> parseUs, "sink_errors" -> runner.sinkErrors, "jvm" -> jvm,
      "finish_ms" -> finishMs, "stream_start_ms" -> streamStart,
      "rows_per_second" -> cfg.int("rows_per_second"))
  }
}
