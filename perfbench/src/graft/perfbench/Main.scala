package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a workload: built untimed by [[Workload.next]], then
  * `run` is timed and `check` (untimed) is its correctness gate. */
trait PendingOp {
  def kind: String
  /** Input rows this op completes (0 where rows are not the unit). */
  def rows: Int
  def run(): Unit
  def check(): Boolean
  /** Per-op measurements besides the latency (e.g. read-after-write). */
  def extra: Map[String, Double] = Map.empty
}

trait Workload {
  /** Generate the inputs from the seed (untimed, once). */
  def generate(): Unit
  /** Digest of the generated inputs. */
  def digest(): String
  /** One complete set-up into fresh storage; `rep` numbers the repetition. */
  def setup(rep: Int): Unit
  /** Release the storage of a set-up repetition that will not be used. */
  def discard(rep: Int): Unit
  /** Untimed reference results (oracles, ground truth). */
  def prepare(): Unit
  def next(i: Int): PendingOp
  /** Ops in one round: the seeded op mix (or maintenance cycle) that
    * repeats round after round. A run times whole rounds, at least one;
    * the end-to-end latencies are taken over the first, so every commit
    * is measured on the same ops. */
  def round: Int
  /** End-of-run checks and workload metrics. */
  def finish(): (Boolean, Map[String, Any])
}

/** Runs one workload for one seed:
  * generate → set up `reps` times (the median is `setup_s`) → prepare →
  * one warm-up op → calibration → closed loop of whole rounds of ops for
  * at least `seconds` →
  * calibration → end-of-run checks. Writes `result.json` (and, traced,
  * `spans.json` + `jobs.json`) to `--out`.
  *
  * {{{
  *   Main --workload recall_ingest --seed 1 --seconds 10 --trace 0 --out DIR
  *   Main --workload recall_ingest --seed 1 --digest      # input digest only
  * }}}
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    if (args.contains("--digest")) {
      val root = Paths.get(a.getOrElse("out", ".")).toAbsolutePath
      val spark = Util.session(root)
      try {
        val wl = workload(name, spark, new Tracer(spark.sparkContext), root, seed)
        wl.generate()
        println(s"digest $name $seed ${wl.digest()}")
      } finally spark.stop()
      return
    }
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(out)
    val ok = run(name, seed, seconds, trace, out)
    if (!ok) System.err.println("perfbench: correctness gate failed")
  }

  def workload(name: String, spark: SparkSession, tr: Tracer, root: Path,
               seed: Long): Workload = name match {
    case "recall_ingest" => new RecallIngest(spark, tr, root, seed)
    case "lakehouse_query" => new LakehouseQuery(spark, tr, root, seed)
    case "corpus_curation" => new CorpusCuration(spark, tr, root, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
                  out: Path): Boolean = {
    val (spark, sessionS) = Util.time(Util.session(out))
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val tr = new Tracer(sc)
    tr.on = trace
    try {
      val wl = workload(name, spark, tr, out, seed)
      val (_, genS) = Util.time(tr("bench.generate")(wl.generate()))
      val setupS = (0 until SetupReps).map { r =>
        val (_, s) = Util.time(tr("bench.setup")(wl.setup(r)))
        if (r < SetupReps - 1) wl.discard(r)
        s
      }
      val (_, prepareS) = Util.time(tr("bench.prepare")(wl.prepare()))
      val heap = mutable.ArrayBuffer(Util.oldGenAfterGcMb())
      val (_, warmupS) = Util.time(tr("bench.warmup") {
        val w = wl.next(-1)
        w.run()
        require(w.check(), s"$name: warm-up op failed its correctness gate")
      })
      val calibBefore = Util.calibrate()

      // closed loop, one client: the next op is issued when the previous
      // one has returned. A traced run alternates a traced and an untraced
      // round, so the tracing overhead is measured inside one run on the
      // same mix of ops.
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val minOps = if (trace) 2 * wl.round else wl.round
      val t0 = System.nanoTime()
      def elapsed: Double = (System.nanoTime() - t0) / 1e9
      var i = 0
      while (elapsed < seconds || i < minOps || i % wl.round != 0) {
        val p = wl.next(i)
        val traced = trace && (i / wl.round) % 2 == 0
        tr.on = traced
        tr.op = i
        if (trace && !traced) sc.setLocalProperty(Tracer.GroupKey, "untraced")
        val (err, lat) = Util.time(
          try { tr("bench.op")(p.run()); None }
          catch { case e: Exception => Some(e) })
        val ok = err.isEmpty && {
          try tr("bench.gate")(p.check())
          catch { case e: Exception => System.err.println(s"gate: $e"); false }
        }
        if (trace && !traced) sc.setLocalProperty(Tracer.GroupKey, null)
        err.foreach(e => System.err.println(s"op $i (${p.kind}) failed: $e"))
        ops += Map("i" -> i, "kind" -> p.kind, "lat_s" -> lat, "ok" -> ok,
          "traced" -> traced, "rows" -> p.rows, "extra" -> p.extra)
        i += 1
      }
      val timedS = elapsed
      tr.on = trace
      tr.op = -1
      val calibAfter = Util.calibrate()
      val (endOk, metrics) = tr("bench.finish")(wl.finish())
      tr.on = false
      heap += Util.oldGenAfterGcMb()
      val result = Map(
        "workload" -> name, "seed" -> seed, "trace" -> trace,
        "session_s" -> sessionS, "generate_s" -> genS, "setup_s_reps" -> setupS,
        "prepare_s" -> prepareS, "warmup_s" -> warmupS,
        "timed_s" -> timedS, "ops" -> ops, "end_ok" -> endOk,
        "heap_mb_after_gc" -> heap, "calibration_ms" -> Seq(calibBefore, calibAfter),
        "round" -> wl.round, "min_ops" -> minOps, "metrics" -> metrics)
      Files.write(out.resolve("result.json"), Json.enc(result).getBytes(UTF_8))
      if (trace) {
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        Files.write(out.resolve("spans.json"), Json.enc(tr.records).getBytes(UTF_8))
        Files.write(out.resolve("jobs.json"), Json.enc(listener.records).getBytes(UTF_8))
      }
      endOk && ops.forall(_("ok") == true)
    } finally spark.stop()
  }
}
