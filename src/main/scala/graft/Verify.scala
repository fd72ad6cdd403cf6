package graft
import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always runs the full registry)
    val only = args.drop(2).headOption.map(_.split(',').toSet)
    val spark = GraftSession()
    new File(outDir).mkdirs()
    // Dump queries on a small worker pool: Spark schedules concurrent jobs
    // from independent threads fine (each query writes its own directory),
    // and 4-way overlap cuts the gate's wall time ~2-3x — insurance against
    // any external timeout on the correctness run. Results are unaffected:
    // every query is its own deterministic plan.
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_WORKERS", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    val doneCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              val msg = s"[verify] $name failed: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" | ")}"
              println(msg); System.err.println(msg); System.out.flush()
            }
            // periodic GC so the ContextCleaner reclaims per-query state
            // (see Bench.scala) without per-query stalls
            if (doneCount.incrementAndGet() % 8 == 0) System.gc()
          }
        })
      }
    tasks.foreach(_.get())
    pool.shutdown()
    writeOracleSql(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }

  /** Writes the oracle SQL map as one JSON object. Jackson escapes every
    * control character, so a tab or CR in builder-authored SQL cannot make
    * the driver's json.load fail and silently zero the correctness gate. */
  def writeOracleSql(path: String, sql: Map[String, String]): Unit =
    new ObjectMapper().writeValue(new File(path), sql.asJava)
}
