package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types._

/** One INSERT target of the generated stream; `constraints` are the extra
  * table clauses of its JDBC table. */
final case class Target(query: String, schema: StructType, constraints: Seq[String]) {
  def table: String = "SINK_" + Targets.md5hex(query).toUpperCase
}

object Targets {
  private val pool: Seq[DataType] = Seq(LongType, IntegerType, DoubleType, StringType, BooleanType)
  private def suffix(t: DataType): String = t match {
    case LongType => "l"
    case IntegerType => "i"
    case DoubleType => "d"
    case StringType => "s"
    case _ => "b"
  }

  /** corrie's demo target; its JDBC table rejects quantities above 48, so
    * a few rows fail inside the database. */
  val lineSink: Target = Target(
    "INSERT INTO default.line_sink (l_orderkey, l_linenumber, l_quantity, l_returnflag) VALUES (?, ?, ?, ?);",
    StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType))),
    Seq("CHECK (L_QUANTITY <= 48)"))

  /** line_sink plus 15 targets of arity 1..8 over mixed types. A column
    * name carries its type, so a name shared by two targets has one type. */
  val all: IndexedSeq[Target] = lineSink +: (1 until 16).map { i =>
    val fields = (0 until 1 + (i * 5) % 8).map { j =>
      val t = pool((i * 7 + j * 3) % pool.size)
      StructField(s"c${j}_${suffix(t)}", t)
    }
    Target(f"INSERT INTO bench.t$i%02d (${fields.map(_.name).mkString(", ")}) " +
      s"VALUES (${fields.map(_ => "?").mkString(", ")});", StructType(fields), Nil)
  }

  /** The target registry of a deployment that knows the first `n` targets. */
  def schemas(n: Int): Map[String, StructType] = all.take(n).map(t => t.query -> t.schema).toMap
  val unknownQuery = "INSERT INTO bench.no_such_table (x) VALUES (?);"

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Order-free 64-bit fingerprint of one canonical row or body. */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x2f1b).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x51c7) & 0xffffffffL)

  /** Canonical text of one typed cell, shared by generator and checks. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }
}

/** What a set of published messages must produce: a multiset of row
  * fingerprints per target and of body fingerprints per dead-letter reason. */
final class Expect {
  val good: Array[mutable.HashMap[Long, Int]] = Array.fill(Targets.all.size)(mutable.HashMap.empty)
  val dead: mutable.Map[String, mutable.HashMap[Long, Int]] = mutable.Map.empty
  var messages = 0L

  def addGood(t: Int, row: String): Unit = bump(good(t), Targets.hash64(row))
  def addDead(reason: String, body: String): Unit =
    bump(dead.getOrElseUpdate(reason, mutable.HashMap.empty), Targets.hash64(body))
  def deadRows(reason: String): Long = dead.get(reason).map(_.values.sum.toLong).getOrElse(0L)

  private def bump(m: mutable.HashMap[Long, Int], k: Long): Unit = m(k) = m.getOrElse(k, 0) + 1
}

object Expect {
  /** Number of fingerprints by which `got` differs from `want`: each lost,
    * duplicated or mis-routed row counts. */
  def diff(want: mutable.HashMap[Long, Int], got: mutable.HashMap[Long, Int]): Long =
    (want.keySet ++ got.keySet).iterator
      .map(k => math.abs(want.getOrElse(k, 0) - got.getOrElse(k, 0)).toLong).sum
}

/** Seeded publisher of corrie wire messages. It writes the JSON itself,
  * draws targets from a Zipf law over the first `targets` targets
  * (line_sink the largest group) and injects about 1% each of
  * decode_error, unknown_query and cast_error poison. `dbChecks` adds the
  * rows the line_sink CHECK constraint rejects to the expected dead
  * letters. */
final class MsgGen(seed: Long, dbChecks: Boolean, targets: Int) {
  private val rng = new SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = (0 until targets).map(k => 1.0 / math.pow(k + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  private def str(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += alnum.charAt(rng.nextInt(alnum.length)); i += 1 }
    sb.result()
  }

  /** (JSON text, typed value) of one random cell. */
  private def cell(t: Target, f: StructField): (String, Any) =
    if (t eq Targets.lineSink) f.name match {
      case "l_orderkey" => val v = rng.nextLong(0L, 10000000L); (v.toString, v)
      case "l_linenumber" => val v = rng.nextInt(1, 8); (v.toString, v)
      case "l_quantity" => val v = rng.nextInt(1, 51); (v.toString, v.toDouble)
      case _ => val v = "ANR".charAt(rng.nextInt(3)).toString; ("\"" + v + "\"", v)
    } else f.dataType match {
      case LongType => val v = rng.nextLong(-1000000000000L, 1000000000000L); (v.toString, v)
      case IntegerType => val v = rng.nextInt(-1000000, 1000000); (v.toString, v)
      case DoubleType =>
        val txt = java.math.BigDecimal.valueOf(rng.nextLong(-100000000L, 100000000L), 2).toPlainString
        (txt, java.lang.Double.parseDouble(txt))
      case StringType => val v = str(3 + rng.nextInt(14)); ("\"" + v + "\"", v)
      case _ => val v = rng.nextBoolean(); (v.toString, v)
    }

  private def body(query: String, cells: Seq[String]): String =
    s"""{"Query":"$query","Data":[${cells.mkString(",")}]}"""

  /** Draw the next message, record its expected outcome in `exp`. */
  def next(exp: Expect): String = {
    exp.messages += 1
    val u = rng.nextDouble()
    val t = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble()) match {
      case i if i >= 0 => i
      case i => math.min(-i - 1, zipfCdf.length - 1)
    }
    val target = Targets.all(t)
    val cells = target.schema.fields.toSeq.map(f => cell(target, f))
    if (u < 0.01) {
      // cut inside the Query string, the shape a torn publish leaves
      val b = body(target.query, cells.map(_._1))
        .substring(0, 12 + rng.nextInt(target.query.length - 4))
      exp.addDead("decode_error", b); b
    } else if (u < 0.02) {
      val b = body(Targets.unknownQuery, Seq(rng.nextLong(0L, 1000000L).toString))
      exp.addDead("unknown_query", b); b
    } else if (u < 0.03) {
      val numeric = target.schema.fields.indexWhere(_.dataType != StringType)
      val txt = cells.map(_._1)
      val b =
        if (numeric >= 0) body(target.query, txt.updated(numeric, "\"x" + str(3) + "\""))
        else body(target.query, txt.dropRight(1))
      exp.addDead("cast_error", b); b
    } else {
      val b = body(target.query, cells.map(_._1))
      val rejected = dbChecks && (target eq Targets.lineSink) &&
        cells(2)._2.asInstanceOf[Double] > 48.0
      if (rejected) exp.addDead("exec_error", b)
      else exp.addGood(t, cells.map(c => Targets.canon(c._2)).mkString("|"))
      b
    }
  }

  /** Write `n` messages as one JSON-lines file into `dir`, published by an
    * atomic rename from `staging` (same file system). */
  def publish(staging: File, dir: File, name: String, n: Int, exp: Expect): File = {
    val tmp = new File(staging, name)
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(tmp), UTF_8), 1 << 16)
    try { var i = 0; while (i < n) { w.write(next(exp)); w.write('\n'); i += 1 } }
    finally w.close()
    val dst = new File(dir, name)
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst
  }
}
