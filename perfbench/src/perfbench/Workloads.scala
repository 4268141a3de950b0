package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Pipeline

/** Settings of one run, from the command line. */
final case class RunArgs(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
    tables: String, cores: Int, wrongExpectation: Boolean)

/** What a workload reports: work attempted, failures found by the output
  * checks, and named metrics. `lanes` holds each lane's row count for the
  * oracle check made outside the JVM. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val lanes: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val oracle: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
}

abstract class Workload(val spark: SparkSession, val tracer: Tracer, val a: RunArgs) {
  val res = new Result
  /** Output checks of finished work, run after the timed region. */
  val checks: mutable.ArrayBuffer[() => Long] = mutable.ArrayBuffer.empty
  protected def dir(name: String): String = Checks.touch(s"${a.work}/$name")
  protected def now: Long = System.currentTimeMillis()

  /** Set-up passes, each with one untimed warm-up over the workload's code path. */
  def reps: Int = 3
  /** Build inputs and make one untimed warm-up pass; called [[reps]] times. */
  def setup(rep: Int): Unit
  /** The timed region, sized from `a.seconds`. */
  def measure(): Unit
  /** Per-layer metrics of the traced run, after [[measure]]. */
  def layers(): Unit = ()

  def put(kv: (String, Double)*): Unit = kv.foreach { case (k, v) => res.metrics(k) = v }
}

/** drain_parquet, the catch-up diagnostic of the traced trickle_jdbc run: a
  * backlog written before the query starts, drained once with
  * Trigger.AvailableNow through Pipeline.sinkBatch. It reports only its
  * throughput. */
final class DrainParquet(spark: SparkSession, tracer: Tracer, a: RunArgs, streams: Streams)
    extends Workload(spark, tracer, a) {
  override def reps: Int = 1
  private val perFile = 10000
  private var drains = 0
  private var input: (String, Expect) = _

  private def publish(name: String, n: Int, seed: Long): (String, Expect) = {
    val gen = new MsgGen(seed, dbChecks = false, targets = 16)
    val e = new Expect
    val staging = dir(s"$name/staging")
    val in = dir(s"$name/in")
    (0 until n).foreach(i => gen.publish(new File(staging), new File(in), f"part-$i%05d.json", perFile, e))
    (in, e)
  }

  /** One drain of `in` into fresh output; its check is deferred. */
  private def drain(in: String, e: Expect): StreamRun = {
    drains += 1
    val out = dir(s"drain$drains/out")
    val t0 = now
    val q = streams.start(in, s"${a.work}/drain$drains/ckpt", Some(Trigger.AvailableNow()))(
      df => Pipeline.sinkBatch(df, out, Targets.schemas(16)))
    q.awaitTermination()
    checks += (() => Checks.good(e, Checks.parquetRows(spark, s"$out/good")) + Checks.dead(spark, s"$out/failed", e))
    streams.finish(q, t0, s"${a.work}/drain$drains/ckpt")
  }

  def setup(rep: Int): Unit = {
    input = publish("input", 4, a.seed)
    // warm-up: a smaller backlog from another seed, same code path
    val (wIn, wExp) = publish("warm", 1, a.seed + 1000)
    drain(wIn, wExp)
  }

  def measure(): Unit = {
    val (in, e) = input
    val r = drain(in, e)
    res.attempted += e.messages
    put("throughput_per_s" -> e.messages * 1000.0 / (r.batches.map(_.commitMs).max - r.startMs))
  }
}

/** trickle_jdbc: Pipeline.sinkBatchJdbcIsolated into embedded Derby. Three
  * catch-ups of a backlog give the drain rate; then an open loop gives the
  * commit latency: one generator thread publishes a file every 100 ms at a
  * fixed message rate while the default processing-time trigger runs. The
  * engine never idles at that rate, so the open loop's own throughput would
  * read the offered rate. */
final class TrickleJdbc(spark: SparkSession, tracer: Tracer, a: RunArgs, streams: Streams)
    extends Workload(spark, tracer, a) {
  val rate = 2000.0
  private val periodMs = 100L
  private var phases = 0

  /** One open-loop phase: publish for `seconds` at `msgsPerS`, then let the
    * query catch up and stop it. */
  final class Phase(seed: Long, msgsPerS: Double, seconds: Double) {
    phases += 1
    private val tag = s"trickle$phases"
    val exp = new Expect
    /** (file, due ms, published ms, messages) */
    val files = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
    val dead: String = s"${a.work}/$tag/dead"
    /** a database of its own, so its check can wait until timing ends */
    val derby = new Derby(s"${a.work}/$tag/derby")
    val run: StreamRun = {
      derby.createTables()
      val in = dir(s"$tag/in")
      val staging = dir(s"$tag/staging")
      val q = streams.start(in, s"${a.work}/$tag/ckpt", None)(
        df => Pipeline.sinkBatchJdbcIsolated(df, derby.url, dead, Targets.schemas(1)))
      val gen = new MsgGen(seed, dbChecks = true, targets = 1)
      val perFile = math.round(msgsPerS * periodMs / 1000.0).toInt
      val n = math.max(1, math.round(seconds * 1000 / periodMs).toInt)
      val t0 = now + 200
      val publisher = new Thread(() => {
        (0 until n).foreach { i =>
          val due = t0 + i * periodMs
          val wait = due - now
          if (wait > 0) Thread.sleep(wait)
          val name = f"f$i%06d.json"
          gen.publish(new File(staging), new File(in), name, perFile, exp)
          files += ((name, due, now, perFile))
        }
      }, "perfbench-generator")
      publisher.start()
      publisher.join()
      q.processAllAvailable()
      q.stop()
      streams.finish(q, t0, s"${a.work}/$tag/ckpt")
    }

    /** Per-message commit latency: due time of its file → commit of the
      * batch that took the file. */
    val latency: Seq[(Double, Long)] = files.toSeq.map { case (f, due, _, n) =>
      ((run.commitOf(f).getOrElse(Long.MaxValue) - due).toDouble, n.toLong) }
    def p(q: Double): Double = Stats.weightedQuantile(latency, q)
    def lagP99: Double = Stats.quantile(files.toSeq.map(f => (f._3 - f._2).toDouble), 0.99)

    /** Files published but not yet taken when each batch started. */
    def backlog: Seq[Int] = run.batches.sortBy(_.id).map { b =>
      files.count { case (f, _, pub, _) => pub < b.startMs && run.batchOfFile.get(f).forall(_ >= b.id) }
    }
    def growing: Boolean = {
      val bl = backlog
      val k = math.max(1, bl.size / 3)
      bl.takeRight(k).sum.toDouble / k > 2.0 * bl.take(k).sum / k + 2
    }

    def check(): Long = Checks.good(exp, derby.rows()) + Checks.dead(spark, dead, exp)
  }

  /** Catch-up after an outage: `files` files of 200 messages, all
    * published before the query starts, drained with Trigger.AvailableNow
    * into a fresh database. Returns (messages, messages per second from
    * query start to the last commit); the check is deferred. */
  private def catchUp(seed: Long, files: Int): (Long, Double) = {
    phases += 1
    val tag = s"catchup$phases"
    val derby = new Derby(s"${a.work}/$tag/derby")
    derby.createTables()
    val dead = s"${a.work}/$tag/dead"
    val gen = new MsgGen(seed, dbChecks = true, targets = 1)
    val exp = new Expect
    val staging = dir(s"$tag/staging")
    val in = dir(s"$tag/in")
    (0 until files).foreach(i => gen.publish(new File(staging), new File(in), f"f$i%06d.json", 200, exp))
    val t0 = now
    val q = streams.start(in, s"${a.work}/$tag/ckpt", Some(Trigger.AvailableNow()))(
      df => Pipeline.sinkBatchJdbcIsolated(df, derby.url, dead, Targets.schemas(1)))
    q.awaitTermination()
    val run = streams.finish(q, t0, s"${a.work}/$tag/ckpt")
    checks += (() => Checks.good(exp, derby.rows()) + Checks.dead(spark, dead, exp))
    (exp.messages, exp.messages * 1000.0 / (run.batches.map(_.commitMs).max - t0))
  }

  private var main: Phase = _

  def setup(rep: Int): Unit = {
    val w = new Phase(a.seed + 1000 + rep, rate, 4.0)
    checks += (() => w.check())
    catchUp(a.seed + 1500 + rep, 100)
  }

  def measure(): Unit = {
    val drains = (0 until 3).map(i => catchUp(a.seed + 500 + i, 150))
    // the per-layer metrics describe the open loop alone
    tracer.reset()
    main = new Phase(a.seed, rate, a.seconds)
    if (a.wrongExpectation) main.exp.addGood(0, "a row nobody published")
    res.attempted += drains.map(_._1).sum + main.exp.messages
    val m = main
    checks += (() => m.check())
    put("throughput_per_s" -> Stats.median(drains.map(_._2)),
      "latency_p50_ms" -> main.p(0.5),
      "latency_p95_ms" -> main.p(0.95))
    val (early, late) = main.latency.splitAt(main.latency.size / 2)
    res.notes += f"trickle: ${main.files.size} files, ${main.run.batches.size} batches, " +
      f"generator lag p99 ${main.lagP99}%.1f ms, latency p50 first half " +
      f"${Stats.weightedQuantile(early, 0.5)}%.0f ms, second half ${Stats.weightedQuantile(late, 0.5)}%.0f ms"
    res.notes += "catch-up msgs/s " + drains.map(d => f"${d._2}%.0f").mkString(" ")
  }

  /** Per-layer metrics of the sink-call spans and their micro-batches. */
  private def pipelineLayers(msgs: Long): Unit = {
    val calls = tracer.spansNamed("pipeline.sink_call")
    val st = calls.flatMap(tracer.stagesOf)
    def p(q: Double, f: Span => Double) = Stats.quantile(calls.map(f), q)
    def stageMs(kind: String) = st.filter(_.kind == kind).map(_.runMs).sum.toDouble
    val cpuMs = st.map(_.cpuNs).sum / 1e6
    put("pipeline.sink_call_ms_p50" -> p(0.5, _.durMs.toDouble),
      "pipeline.sink_call_ms_p99" -> p(0.99, _.durMs.toDouble),
      "pipeline.driver_self_ms" -> p(0.5, s => tracer.selfMs(s).toDouble),
      "pipeline.plan_ms" -> p(0.5, s => tracer.planMsOf(s).toDouble),
      "pipeline.jobs_per_batch" -> p(0.5, s => tracer.jobsOf(s).size.toDouble),
      "pipeline.stages_per_batch" -> p(0.5, s => tracer.stagesOf(s).size.toDouble),
      "pipeline.tasks_per_batch" -> p(0.5, s => tracer.stagesOf(s).map(_.tasks).sum.toDouble),
      "pipeline.executor_cpu_ms" -> cpuMs,
      "pipeline.cpu_us_per_msg" -> (if (msgs > 0) cpuMs * 1000 / msgs else 0.0),
      "pipeline.gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "pipeline.good_write_ms" -> (stageMs("good_write") + stageMs("insert")),
      "pipeline.dead_write_ms" -> stageMs("dead_write"),
      "pipeline.records_written" -> st.map(_.recordsWritten).sum.toDouble,
      "pipeline.bytes_written" -> st.map(_.bytesWritten).sum.toDouble,
      "pipeline.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "pipeline.spill_bytes" -> st.map(_.spillBytes).sum.toDouble)
    // the engine's phases, from the progress the listener received
    val used = tracer.synchronized(tracer.progress.toList).map(Batch.of).filter(_.rows > 0)
    def phase(k: String) = Stats.median(used.map(_.durations.getOrElse(k, 0L).toDouble))
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
      .foreach(k => put(s"microbatch.${k}_ms" -> phase(k)))
    put("microbatch.overhead_ms_p50" -> Stats.median(used.map(b =>
        (b.durations.getOrElse("triggerExecution", 0L) - b.durations.getOrElse("addBatch", 0L)).toDouble)),
      "microbatch.batches" -> used.size.toDouble,
      "microbatch.rows_per_batch_p50" -> Stats.median(used.map(_.rows.toDouble)))
  }

  override def layers(): Unit = {
    val committed = main.derby.rows().map(_.values.sum.toLong).sum
    val execDead = main.exp.deadRows("exec_error")
    val calls = tracer.spansNamed("pipeline.sink_call")
    val inserts = calls.map(s => tracer.stagesOf(s).filter(_.kind == "insert")
      .map(st => (st.endMs - st.startMs).toDouble).sum)
    pipelineLayers(main.exp.messages)
    put("microbatch.backlog_files_max" -> (main.backlog :+ 0).max.toDouble,
      "sink.insert_stage_ms" -> Stats.median(inserts),
      "sink.rows_committed" -> committed.toDouble,
      "sink.exec_dead" -> execDead.toDouble,
      "sink.commit_fraction" -> committed.toDouble / math.max(1L, committed + execDead),
      "sink.rows_per_s" -> committed * 1000.0 / math.max(1.0, inserts.sum),
      "generator.lag_p99_ms" -> main.lagP99,
      "generator.msgs_published" -> main.exp.messages.toDouble)
  }

  /** The p95 a ladder step must meet. */
  val ladderLimitMs = 1500.0

  /** Offered-rate ladder at x0.5, x1 and x2, 4 s each: p95 per step and the
    * highest rate whose p95 meets [[ladderLimitMs]] with no growing backlog. */
  def ladder(): Unit = {
    val steps = Seq(0.5, 1.0, 2.0).map { x =>
      val ph = new Phase(a.seed + 2000 + (x * 10).toInt, rate * x, 4.0)
      checks += (() => ph.check())
      put(s"diag.ladder_p95_ms_x$x" -> ph.p(0.95))
      (rate * x, ph.p(0.95) <= ladderLimitMs && !ph.growing)
    }
    put("diag.ladder_max_rate_msgs_per_s" -> steps.filter(_._2).map(_._1).maxOption.getOrElse(0.0))
  }
}

/** lanes_curation: a closed loop with one client running the curation
  * lanes back to back in a seed-shuffled order, clearCache after each. */
final class LanesCuration(spark: SparkSession, tracer: Tracer, a: RunArgs)
    extends Workload(spark, tracer, a) {
  val lanes: Seq[String] = Seq(
    "q_graph_bfs", "q_sim_mmr", "q_dedup_lsh_pairs", "q_text_ngrams", "q18_large_orders",
    "q_join_shuffle", "q_pipeline_batch")
  private val order = new scala.util.Random(a.seed).shuffle(lanes)
  private val defs = graft.SparkEntry.queries
  lanes.foreach(l => graft.SparkEntry.oracleSql.get(l).foreach(res.oracle(l) = _))
  /** (lane, wall s, build s, spans, pinned RDDs) of each timed run */
  private val runs = mutable.ArrayBuffer.empty[(String, Double, Double, Seq[Span], Int)]
  private var passes = 0

  /** One lane run: (wall s, build s, its spans, RDDs it left pinned after
    * clearCache). */
  private def runLane(lane: String, write: Option[String]): (Double, Double, Seq[Span], Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val df = tracer.span(s"lane.build:$lane")(defs(lane)(spark, a.tables))
    val t1 = System.nanoTime()
    tracer.span(s"lane.action:$lane")(write match {
      case Some(out) => df.write.mode("overwrite").parquet(out)
      case None => res.lanes(lane) = df.count()
    })
    val t2 = System.nanoTime()
    spark.catalog.clearCache()
    val pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    val sp = if (tracer.enabled) Seq(s"lane.build:$lane", s"lane.action:$lane").map(n => tracer.spansNamed(n).last) else Nil
    ((t2 - t0) / 1e9, (t1 - t0) / 1e9, sp, pinned)
  }

  def setup(rep: Int): Unit =
    // the first pass writes every lane's result for the oracle check
    order.foreach(l => runLane(l, if (rep == 0) Some(dir(s"lanes_out/$l")) else None))

  def measure(): Unit = {
    // One pass per 4 s of --seconds (a pass takes 3-5 s on 4 cores), and at
    // least three, so that each lane's fastest run is a min of 3. The count
    // does not depend on speed: passes still get faster as the JIT warms, so
    // a time-bound loop made fast runs faster still.
    while (passes < math.max(3, math.round(a.seconds / 4).toInt)) {
      order.foreach { l =>
        val (wall, build, sp, pinned) = runLane(l, None)
        runs += ((l, wall, build, sp, pinned))
        res.attempted += 1
      }
      passes += 1
    }
    val totals = runs.grouped(order.size).map(_.map(_._2).sum).toSeq
    // each lane's fastest run over the passes: CPU steal on a shared host
    // only adds time (the min-of-N policy of graft.Bench)
    val bestOf = runs.groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2).min }
    // latency of the client's request, one pass over the lanes
    put("throughput_per_s" -> order.size / bestOf.values.sum,
      "latency_p50_ms" -> Stats.quantile(totals.map(_ * 1000), 0.5),
      "latency_p95_ms" -> Stats.quantile(totals.map(_ * 1000), 0.95))
    res.notes += f"lanes: $passes passes, lanes_total_s per pass ${totals.map(t => f"$t%.2f").mkString(" ")}"
    res.notes += "fastest run: " + lanes.map(l => f"$l ${bestOf(l)}%.2f s").mkString(", ")
  }

  override def layers(): Unit = {
    lanes.foreach { l =>
      val rs = runs.filter(_._1 == l)
      val sp = rs.flatMap(_._4)
      val st = sp.flatMap(tracer.stagesOf)
      val n = math.max(1, rs.size)
      put(s"queries.$l.wall_s" -> Stats.median(rs.map(_._2).toSeq),
        s"queries.$l.build_s" -> Stats.median(rs.map(_._3).toSeq),
        s"queries.$l.plan_ms" -> sp.map(tracer.planMsOf).sum.toDouble / n,
        s"queries.$l.executor_run_ms" -> st.map(_.runMs).sum.toDouble / n,
        s"queries.$l.shuffle_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble / n,
        s"queries.$l.pinned_rdds" -> rs.map(_._5).maxOption.getOrElse(0).toDouble)
    }
    val sp = runs.flatMap(_._4).toSeq
    val st = sp.flatMap(tracer.stagesOf)
    val p = math.max(1, passes).toDouble
    put("queries.jobs" -> sp.map(s => tracer.jobsOf(s).size).sum / p,
      "queries.tasks" -> st.map(_.tasks).sum / p,
      "queries.gc_ms" -> st.map(_.gcMs).sum / p,
      "queries.spill_bytes" -> st.map(_.spillBytes).sum / p,
      "queries.driver_self_ms" -> sp.map(tracer.selfMs).sum / p,
      "queries.pinned_rdds" -> runs.grouped(order.size).map(_.map(_._5).sum).max.toDouble)
  }
}
