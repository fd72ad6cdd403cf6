package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The harness calls [[setup]] several
  * times (each into a fresh directory; the last one is used), then
  * [[prepare]], [[iteration]] and [[check]] once per iteration. Only
  * [[setup]] and [[iteration]] are timed.
  */
trait Workload {
  /** Input rows one iteration processes, the numerator of `rows_per_s`. */
  def rowsPerIteration: Long
  /** Generates the inputs from the seed and lands them under `dir`. */
  def setup(dir: String): Unit
  /** Untimed per-iteration preparation (fresh output dirs, op batches). */
  def prepare(i: Int): Unit = ()
  /** The timed work; returns per-op milliseconds when the workload has ops. */
  def iteration(i: Int, t: Trace): Map[String, Double]
  /** Output checks for iteration `i`: (checks attempted, failure messages). */
  def check(i: Int): (Int, Seq[String])
  /** Workload facts reported once, after the last iteration. */
  def summary(): Map[String, Any] = Map.empty
}

/** Runs one workload in this JVM and writes its raw measurements as JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE
  *
  * With `--trace 1` the cold iteration and every third warm iteration are
  * traced; the untraced ones in between measure the tracing overhead.
  */
object Main {
  val SetupReps = 3
  /** Two warm-up iterations plus six steady ones (see metrics.steady). */
  val MinWarm = 8

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.bench", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$work/catalog")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 cached classes is fewer than curation_dedup
      // generates; which ones a warm iteration must recompile then differs
      // from JVM to JVM (19 to 55 of 91), a 25-40 % swing in warm time that
      // no median over iterations removes. README.md records the defect.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = name match {
      case "medallion_daily" => new MedallionDaily(spark, seed, work)
      case "table_cdc"       => new TableCdc(spark, seed, work)
      case "curation_dedup"  => new CurationDedup(spark, seed, work)
      case other             => sys.error(s"unknown workload '$other'")
    }
    val trace = new Trace(spark)
    if (traced) trace.attach()
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup-$r")
      (System.nanoTime() - t0) / 1e9
    }

    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var warmStart = 0L
    var i = 0
    while (i <= MinWarm || System.nanoTime() - warmStart < seconds * 1e9) {
      w.prepare(i)
      // every third, not every other: table_cdc compacts every second cycle,
      // and tracing only one kind of cycle would bias the layers and overhead
      val on = traced && i % 3 == 0
      if (on) { trace.resync(); trace.on = true }
      val t0 = System.nanoTime()
      val ops = trace.span("iteration")(w.iteration(i, trace))
      val wallMs = (System.nanoTime() - t0) / 1e6
      if (on) { trace.drain(); trace.on = false }
      iters += Map("i" -> i, "wall_ms" -> wallMs, "ops" -> ops, "traced" -> on)
      val (n, bad) = w.check(i)
      attempted += n
      failures ++= bad.map(m => s"iteration $i: $m")
      if (i == 0) warmStart = System.nanoTime()
      i += 1
    }

    val out = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "rows_per_iteration" -> w.rowsPerIteration,
      "setup_s" -> setupS, "iterations" -> iters.toSeq,
      "checks" -> Map("attempted" -> attempted, "failed" -> failures.size,
        "messages" -> failures.take(20).toSeq),
      "summary" -> w.summary(),
      "peak_rss_kb" -> peakRssKb(),
      "trace" -> (if (traced) trace.result() else Map.empty))
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }

  /** VmHWM of this process: the peak resident set since it started. */
  private def peakRssKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return -1L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** Small file-system helpers shared by the workloads. */
object Fs {
  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(go)
      f.delete()
    }
    go(new File(path))
  }

  /** Bytes of every regular file under `path`. */
  def bytes(path: String): Long = {
    def go(f: File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(go).sum
    go(new File(path))
  }
}
