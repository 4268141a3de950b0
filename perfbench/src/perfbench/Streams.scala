package perfbench

import java.io.File
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** One finished micro-batch as the engine reported it. */
final case class Batch(id: Long, startMs: Long, durations: Map[String, Long], rows: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

object Batch {
  def of(p: StreamingQueryProgress): Batch = {
    val d = mutable.Map.empty[String, Long]
    p.durationMs.forEach((k, v) => d(k) = v.longValue)
    Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d.toMap, p.numInputRows)
  }
}

/** What one streaming query run leaves behind for the metrics: its
  * batches, which batch committed each input file, and when it started. */
final case class StreamRun(startMs: Long, batches: Seq[Batch], batchOfFile: Map[String, Long]) {
  private val byId = batches.map(b => b.id -> b).toMap
  def commitOf(file: String): Option[Long] = batchOfFile.get(file).flatMap(byId.get).map(_.commitMs)
}

/** Driving the pipeline as a file-source stream. Files are read as text,
  * one wire message per line, and every micro-batch is handed to the sink
  * call inside a span. */
final class Streams(spark: SparkSession, tracer: Tracer) {

  def start(
      inDir: String, ckpt: String, trigger: Option[Trigger])(
      sink: DataFrame => Unit): StreamingQuery = {
    val f: (DataFrame, Long) => Unit = (df, _) => tracer.span("pipeline.sink_call")(sink(df))
    val w = spark.readStream.format("text").load(inDir).withColumnRenamed("value", "body")
      .writeStream.option("checkpointLocation", ckpt).foreachBatch(f)
    trigger.foreach(w.trigger)
    w.start()
  }

  /** Batches of a finished query, from the engine's progress reports. */
  def finish(q: StreamingQuery, startMs: Long, ckpt: String): StreamRun = {
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(Batch.of)
    StreamRun(startMs, batches, sourceLog(ckpt))
  }

  /** File name → batch id, from the file source's metadata log in the
    * checkpoint (plain and compacted log files both list batchId). */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val dir = new File(ckpt, "sources/0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong).toMap
  }
}

/** The embedded Derby database behind the JDBC workload, and the checks
  * that read it back. */
final class Derby(dir: String) {
  val url = s"jdbc:derby:$dir;create=true"

  private def derbyType(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR(1024)"
      case _ => "BOOLEAN"
    }
  }

  /** Create every target table, empty. */
  def createTables(): Unit = {
    val c = DriverManager.getConnection(url)
    try Targets.all.foreach { t =>
      val st = c.createStatement()
      val cols = t.schema.fields.map(f => s"${f.name.toUpperCase} ${derbyType(f.dataType)}")
      st.execute(s"CREATE TABLE ${t.table} (${(cols ++ t.constraints).mkString(", ")})")
      st.close()
    } finally c.close()
  }

  /** Row fingerprints per target, in target order. */
  def rows(): Seq[mutable.HashMap[Long, Int]] = {
    val c = DriverManager.getConnection(url)
    try Targets.all.map { t =>
      val m = mutable.HashMap.empty[Long, Int]
      val rs = c.createStatement().executeQuery(s"SELECT * FROM ${t.table}")
      val n = t.schema.size
      while (rs.next()) {
        val cells = (1 to n).map(i => Targets.canon(rs.getObject(i) match {
          case b: java.lang.Boolean => b.booleanValue
          case other => other
        }))
        val k = Targets.hash64(cells.mkString("|"))
        m(k) = m.getOrElse(k, 0) + 1
      }
      rs.close()
      m
    } finally c.close()
  }
}

/** Output checks shared by the pipeline workloads. Each returns the number
  * of rows lost, duplicated or mis-routed against the generator's record. */
object Checks {
  def dead(spark: SparkSession, dir: String, exp: Expect): Long = {
    val got = mutable.Map.empty[String, mutable.HashMap[Long, Int]]
    if (new File(dir).exists())
      spark.read.schema("body STRING, reason STRING").json(dir).collect().foreach { r =>
        val reason = r.getString(1).takeWhile(_ != ':')
        val m = got.getOrElseUpdate(reason, mutable.HashMap.empty)
        val k = Targets.hash64(r.getString(0))
        m(k) = m.getOrElse(k, 0) + 1
      }
    (exp.dead.keySet ++ got.keySet).toSeq.map { r =>
      Expect.diff(exp.dead.getOrElse(r, mutable.HashMap.empty), got.getOrElse(r, mutable.HashMap.empty))
    }.sum
  }

  def good(want: Expect, got: Seq[mutable.HashMap[Long, Int]]): Long =
    Targets.all.indices.map(i => Expect.diff(want.good(i), got(i))).sum

  /** Row fingerprints per target of the grouped parquet sink's output. */
  def parquetRows(spark: SparkSession, dir: String): Seq[mutable.HashMap[Long, Int]] = {
    val byTag = Targets.all.zipWithIndex.map { case (t, i) => Targets.md5hex(t.query) -> i }.toMap
    val out = Targets.all.map(_ => mutable.HashMap.empty[Long, Int])
    val stray = mutable.HashMap.empty[Long, Int]
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    val tagIdx = df.columns.indexOf("__graft_query")
    val colIdx = Targets.all.map(t => t.schema.fieldNames.map(n => df.columns.indexOf(n)))
    df.collect().foreach { r =>
      val i = byTag.getOrElse(r.getString(tagIdx), -1)
      val cells = if (i >= 0) colIdx(i).map(j => if (j < 0) "null" else Targets.canon(r.get(j))) else Array("?")
      val m = if (i >= 0) out(i) else stray
      val k = Targets.hash64(cells.mkString("|"))
      m(k) = m.getOrElse(k, 0) + 1
    }
    if (stray.nonEmpty) out(0)(Long.MinValue) = stray.values.sum // counts as a mismatch
    out
  }

  def touch(dir: String): String = { new File(dir).mkdirs(); dir }
}
