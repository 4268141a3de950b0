package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> [--tables <dir>] [--cores <n>] [--setup-before-s <s>]
  *   [--wrong-expectation 1] --out <file>
  *
  * --setup-before-s is the time the run spent before this JVM started; it
  * counts in setup_s. --wrong-expectation adds a row nobody published to
  * the expected output, to show that the checks catch it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = RunArgs(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("work")).getAbsolutePath, kv.getOrElse("tables", ""), kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("wrong-expectation", "0") == "1")
    System.setProperty("derby.system.durability", "test")
    System.setProperty("derby.stream.error.file", s"${a.work}/derby.log")

    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(spark, a.trace)
    val streams = new Streams(spark, tracer)
    val w: Workload = a.workload match {
      case "drain_parquet" => new DrainParquet(spark, tracer, a, streams)
      case "trickle_jdbc" => new TrickleJdbc(spark, tracer, a, streams)
      case "lanes_curation" => new LanesCuration(spark, tracer, a)
      case other => sys.error(s"unknown workload $other")
    }
    val repS = (0 until w.reps).map { r =>
      val t0 = System.nanoTime(); w.setup(r); (System.nanoTime() - t0) / 1e9
    }
    // set-up: everything before the first timed operation, cold pass included
    val setupS = kv.getOrElse("setup-before-s", "0").toDouble + (System.currentTimeMillis() - jvmStartMs) / 1000.0
    w.res.failed += w.checks.map(_()).sum
    w.checks.clear()
    w.res.notes += f"setup: session $sessionS%.2f s, passes ${repS.map(s => f"$s%.2f").mkString(" ")} s"

    tracer.reset()
    val gc0 = JvmClock.gcMs
    val jit0 = JvmClock.jitMs
    w.measure()
    val gcMs = JvmClock.gcMs - gc0
    val jitMs = JvmClock.jitMs - jit0
    if (a.trace) {
      tracer.quiesce()
      w.layers()
      w.put("jvm.gc_ms" -> gcMs.toDouble, "jvm.jit_ms" -> jitMs.toDouble)
      w match {
        case t: TrickleJdbc => t.ladder()
        case _ =>
      }
    }
    w.put("setup_s" -> setupS, "peak_rss_mb" -> JvmClock.peakRssMb)
    w.res.failed += w.checks.map(_()).sum
    write(new File(kv("out")), w.res)
    spark.stop()
  }

  private def write(f: File, r: Result): Unit = {
    def str(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metrics = r.metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val lanes = r.lanes.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")
    val oracle = r.oracle.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")
    val notes = r.notes.map(str).mkString(", ")
    Files.write(f.toPath, (s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {$metrics}, "lanes": {$lanes}, "oracle": {$oracle}, "notes": [$notes]}""").getBytes(UTF_8))
  }
}
