package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Pipeline
import graft.io.{JsonDocumentSink, ParquetTableFormat, StagedWarehouseSink}
import graft.sources.{Ingest, StubTickerFetcher}

/** A day of the reference's run, scaled down: poll the ticker feed, then
  * the full chain.
  * Each iteration is one day with a fresh output root; the days' poll
  * payloads are generated and landed as files during setup and read back
  * (untimed) before the day.
  */
final class MedallionDaily(spark: SparkSession, seed: Long, work: String) extends Workload {
  /** A scaled-down day: the reference polls 180 times with ~2,000 symbols
    * each, which costs 22-24 s cold and 9-11 s warm at local[4], too long
    * for several steady days in one run.
    */
  val Polls = 12
  val Symbols = 500
  val Days = 16

  private def root(i: Int) = s"$work/medallion/run-$i"
  private def asOf(i: Int): LocalDate = LocalDate.of(2026, 1, 1).plusDays(i.toLong)

  private var landing = ""
  private var expected = Map.empty[Int, Map[String, (BigDecimal, BigDecimal)]]
  private var payloads: Seq[String] = Nil
  private var serving: Option[DataFrame] = None

  override def rowsPerIteration: Long = Polls.toLong * Symbols

  /** Prices walk in whole cents, so the expected min/max are exact. */
  override def setup(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tracked = Ingest.symbols
    val universe = tracked ++ (0 until Symbols - tracked.size).map(k => f"X$k%04dUSDT")
    expected = (0 until Days).map { day =>
      val rng = new scala.util.Random(seed * 1000003L + day)
      val cents = Array.fill(universe.size)(100L + rng.nextInt(5000000))
      val lo = Array.fill(tracked.size)(Long.MaxValue)
      val hi = Array.fill(tracked.size)(0L)
      val polls = (0 until Polls).map { _ =>
        val sb = new StringBuilder("[")
        universe.indices.foreach { k =>
          cents(k) = math.max(1L, cents(k) + (cents(k) * (rng.nextDouble() - 0.5) * 0.002).round)
          if (k < tracked.size) { lo(k) = lo(k).min(cents(k)); hi(k) = hi(k).max(cents(k)) }
          if (k > 0) sb += ','
          sb ++= "{\"symbol\":\"" ++= universe(k) ++= "\",\"price\":"
          sb ++= (cents(k) / 100).toString += '.' ++= f"${cents(k) % 100}%02d" += '}'
        }
        (sb += ']').toString
      }
      Files.write(Paths.get(s"$dir/day-$day.jsonl"), polls.asJava)
      day -> tracked.indices.map(k =>
        tracked(k) -> (BigDecimal(lo(k), 2), BigDecimal(hi(k), 2))).toMap
    }.toMap
    landing = dir
  }

  override def prepare(i: Int): Unit =
    payloads = Files.readAllLines(Paths.get(s"$landing/day-${i % Days}.jsonl")).asScala.toSeq

  override def iteration(i: Int, t: Trace): Map[String, Double] = {
    val ingested = t.span("sources.ingest")(
      Ingest.ingest(spark, new StubTickerFetcher(payloads), Polls))
    val pipeline = new Pipeline(ParquetTableFormat,
      new StagedWarehouseSink(s"${root(i)}/staging", s"${root(i)}/warehouse"), JsonDocumentSink)
    serving = Some(t.span("pipeline.run")(pipeline.run(spark, ingested, root(i), asOf(i))))
    Map.empty
  }

  /** Gold equals the min/max recomputed from the generated polls; both
    * sinks hold one row per gold row.
    */
  override def check(i: Int): (Int, Seq[String]) = {
    serving.foreach(_.unpersist())
    val want = expected(i % Days)
    val d = asOf(i)
    val gold = spark.read.parquet(s"${root(i)}/gold").collect().map { r =>
      r.getAs[String]("symbol") -> (BigDecimal(r.getAs[java.math.BigDecimal]("min_value")),
        BigDecimal(r.getAs[java.math.BigDecimal]("max_value")),
        BigDecimal(r.getAs[java.math.BigDecimal]("diff")),
        (r.getAs[Int]("as_of_year"), r.getAs[Int]("as_of_month"), r.getAs[Int]("as_of_day")))
    }
    val bad = Seq.newBuilder[String]
    val got = gold.toMap
    if (gold.length != want.size || got.size != want.size)
      bad += s"gold has ${gold.length} rows, expected ${want.size}"
    val wrong = want.count { case (s, (mn, mx)) =>
      !got.get(s).contains((mn, mx, mx - mn, (d.getYear, d.getMonthValue, d.getDayOfMonth)))
    }
    if (wrong > 0) bad += s"$wrong gold rows differ from the recomputed min/max"
    val wh = spark.read.parquet(s"${root(i)}/warehouse/gold_serving").count()
    if (wh != gold.length) bad += s"warehouse has $wh rows, gold ${gold.length}"
    val docs = spark.read.text(s"${root(i)}/documents").count()
    if (docs != gold.length) bad += s"documents has $docs rows, gold ${gold.length}"
    Fs.rm(root(i))
    (3, bad.result())
  }
}

