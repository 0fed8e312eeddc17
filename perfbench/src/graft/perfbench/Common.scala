package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftExtensions

/** Minimal JSON encoder for the result and trace files (maps, sequences,
  * strings, numbers, booleans). */
object Json {
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Util {
  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0: Byte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Order-independent digest of a result: rows rendered as text, sorted. */
  def resultHash(rows: Array[Row]): String =
    sha256(rows.map(_.toSeq.mkString("\u0001")).sorted.iterator)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_): Unit)
      finally s.close()
    }

  /** Bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A fixed CPU-only job (SHA-256 over a fixed buffer on every core at
    * once), in milliseconds: recorded before and after the timed phase so
    * a run on a noisy or shared host can be recognised. Never used to
    * rescale a result. */
  def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
    val cores = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = Seq.fill(cores)(new Thread(() => {
        val md = MessageDigest.getInstance("SHA-256")
        var i = 0
        while (i < 24) { md.update(buf); i += 1 }
        md.digest(): Unit
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    median(Seq.fill(5)(once()))
  }

  /** Old-generation heap in MB right after a full collection. Spark frees
    * the blocks of collected datasets asynchronously, so the collection
    * runs again once that cleanup has had time to run. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def session(root: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(root.resolve("checkpoints").toString)
    s
  }

  /** A catalog SQL read inside span `span`, recording its Catalyst time
    * and the rows it returned. */
  def sqlRead(spark: SparkSession, tr: Tracer, span: String, sql: String): Array[Row] =
    tr(span) {
      val df = spark.sql(sql)
      val rows = df.collect()
      recordPlan(tr, df)
      tr.count("read.rows_returned", rows.length)
      rows
    }

  /** A whole table materialized inside span `span`; `rows` is the table's
    * row count, known from the generator. */
  def tableRead(tr: Tracer, span: String, rows: Long)(table: => DataFrame): DataFrame =
    tr(span) {
      val df = table
      val cp = df.localCheckpoint()
      recordPlan(tr, df)
      tr.count("read.rows_returned", rows)
      cp
    }

  /** Catalyst analysis + optimization + planning time of `df`'s query. */
  private def recordPlan(tr: Tracer, df: DataFrame): Unit = {
    val phases = df.queryExecution.tracker.phases
    tr.count("read.plan_s", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
  }
}
