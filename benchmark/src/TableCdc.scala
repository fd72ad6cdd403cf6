package perfbench

import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.io.VersionedTable

/** Change-data-capture traffic on one partitioned versioned table, through
  * plain Spark SQL on the `bench` GraftCatalog. Each iteration is one
  * cycle: INSERT new rows, MERGE INTO a batch of keys (merge-on-read),
  * DELETE a key range, a full scan and a range read. The table declares
  * auto-compaction, so compaction fires inside some INSERTs.
  *
  * The benchmark keeps a model of the table (id -> row) and checks the
  * full scan and the range read against it by count and by an
  * order-independent checksum (sum of CRC32 over `id|v|s`).
  */
final class TableCdc(spark: SparkSession, seed: Long, work: String) extends Workload {
  val InitialRows = 20000
  val InsertRows = 1000
  val MergeRows = 1000
  val MergeNewShare = 0.2
  val DeleteSpan = 250
  val RangeSpan = 1000
  val Partitions = 4
  /** Auto-compaction fires after an INSERT once the snapshot holds this
    * many data dirs: every second cycle.
    */
  val CompactMinDirs = 3

  private val rng = new scala.util.Random(seed)
  private var table = ""
  private var root = ""
  private val model = mutable.LongMap.empty[(Long, String)]
  private var modelSum = 0L
  private var nextId = 0L
  private var setups = 0

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("p", IntegerType, false), StructField("v", LongType, false),
    StructField("s", StringType, false)))

  private def crc(id: Long, v: Long, s: String): Long = {
    val c = new CRC32
    c.update(s"$id|$v|$s".getBytes("UTF-8"))
    c.getValue
  }
  private def freshRow(): (Long, String) =
    (rng.nextInt(1000000000).toLong, rng.alphanumeric.take(8 + rng.nextInt(16)).mkString)
  private def put(id: Long, r: (Long, String)): Unit = {
    remove(id)
    model(id) = r
    modelSum += crc(id, r._1, r._2)
  }
  private def remove(id: Long): Unit =
    model.remove(id).foreach(o => modelSum -= crc(id, o._1, o._2))
  private def frame(rows: Seq[(Long, (Long, String))]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (id, (v, s)) =>
      Row(id, (id % Partitions).toInt, v, s) }, 4), schema)

  override def rowsPerIteration: Long = InsertRows + MergeRows + DeleteSpan

  override def setup(dir: String): Unit = {
    table = s"bench.db.t$setups"
    setups += 1
    root = s"$work/catalog/db/${table.split('.').last}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.sql(s"""CREATE TABLE $table (id BIGINT, p INT, v BIGINT, s STRING)
      |PARTITIONED BY (p) TBLPROPERTIES (
      |  'graft.stats.columns' = 'id',
      |  'graft.dml.mode' = 'merge-on-read',
      |  'graft.autoCompact.minDirs' = '$CompactMinDirs',
      |  'graft.autoCompact.target' = '$Partitions')""".stripMargin)
    model.clear(); modelSum = 0L
    val rows = (0L until InitialRows).map(id => id -> freshRow())
    rows.foreach { case (id, r) => put(id, r) }
    nextId = InitialRows
    frame(rows).createOrReplaceTempView("cdc_initial")
    spark.sql(s"INSERT INTO $table SELECT * FROM cdc_initial")
  }

  // ---- one cycle's batches, generated before the timed ops ------------
  private var deleteLo, rangeLo = 0L
  private var expectScan = (0L, 0L)
  private var expectRange = (0L, 0L)
  private var changedBytes = 0L
  private var got = Map.empty[String, (Long, Long)]
  private val bytesWritten = mutable.ArrayBuffer.empty[Long]
  private val userBytes = mutable.ArrayBuffer.empty[Long]
  private val scanMs = mutable.ArrayBuffer.empty[(Int, Double)]
  private var lastScanMs = 0.0

  private def rawBytes(id: Long): Long = model.get(id).map(r => 20L + r._2.length).getOrElse(0L)

  override def prepare(i: Int): Unit = {
    val inserts = (0 until InsertRows).map { _ => val id = nextId; nextId += 1; id -> freshRow() }
    val merges = (0 until MergeRows).map { _ =>
      val id = if (rng.nextDouble() < MergeNewShare) { val n = nextId; nextId += 1; n }
               else rng.nextLong(nextId)
      id -> freshRow()
    }.toMap.toSeq.sortBy(_._1)
    deleteLo = rng.nextLong(nextId - DeleteSpan)
    rangeLo = rng.nextLong(nextId - RangeSpan)
    frame(inserts).createOrReplaceTempView("cdc_insert")
    frame(merges).createOrReplaceTempView("cdc_merge")
    inserts.foreach { case (id, r) => put(id, r) }
    changedBytes = inserts.map(x => rawBytes(x._1)).sum
    merges.foreach { case (id, r) => put(id, r) }
    changedBytes += merges.map(x => rawBytes(x._1)).sum
    (deleteLo until deleteLo + DeleteSpan).foreach { id => changedBytes += rawBytes(id); remove(id) }
    expectScan = (model.size.toLong, modelSum)
    expectRange = (rangeLo until rangeLo + RangeSpan).foldLeft((0L, 0L)) { case ((n, s), id) =>
      model.get(id).map(r => (n + 1, s + crc(id, r._1, r._2))).getOrElse((n, s)) }
    bytesWritten += -Fs.bytes(root)
  }

  private val checksum = "count(*), coalesce(sum(crc32(concat_ws('|', id, v, s))), 0)"

  override def iteration(i: Int, t: Trace): Map[String, Double] = {
    def op[T](name: String)(body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = t.span(s"io.$name")(body)
      ((System.nanoTime() - t0) / 1e6, r)
    }
    def answer(sql: String) = { val r = spark.sql(sql).head(); (r.getLong(0), r.getLong(1)) }
    val (ins, _) = op("insert")(spark.sql(s"INSERT INTO $table SELECT * FROM cdc_insert"))
    val (mrg, _) = op("merge")(spark.sql(
      s"""MERGE INTO $table t USING cdc_merge m ON t.id = m.id
         |WHEN MATCHED THEN UPDATE SET v = m.v, s = m.s
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    val (del, _) = op("delete")(spark.sql(
      s"DELETE FROM $table WHERE id >= $deleteLo AND id < ${deleteLo + DeleteSpan}"))
    val (scan, all) = op("scan")(answer(s"SELECT $checksum FROM $table"))
    val (point, part) = op("point")(answer(
      s"SELECT $checksum FROM $table WHERE id >= $rangeLo AND id < ${rangeLo + RangeSpan}"))
    got = Map("scan" -> all, "point" -> part)
    lastScanMs = scan
    Map("insert" -> ins, "merge" -> mrg, "delete" -> del, "scan" -> scan, "point" -> point)
  }

  override def check(i: Int): (Int, Seq[String]) = {
    bytesWritten(bytesWritten.size - 1) += Fs.bytes(root)
    userBytes += changedBytes
    scanMs += ((pendingDeleteSets(), lastScanMs))
    val bad = Seq(
      ("full scan", got("scan"), expectScan),
      ("range read", got("point"), expectRange)).collect {
      case (what, g, w) if g != w => s"$what returned (count, checksum) $g, model has $w"
    }
    (2, bad)
  }

  private def pendingDeleteSets(): Int =
    VersionedTable.latestCommit(root).map(_.deletes.values.flatten.toSet.size).getOrElse(0)

  override def summary(): Map[String, Any] = {
    val c = VersionedTable.latestCommit(root).get
    val history = VersionedTable.history(root)
    val (filesOpened, liveFiles) =
      VersionedTable.planRangeFiles(root, "id", rangeLo, rangeLo + RangeSpan - 1)
    val fresh = s"$work/cdc-fresh"
    spark.table(table).write.parquet(fresh)
    Map(
      "table_bytes" -> Fs.bytes(root),
      "fresh_bytes" -> Fs.bytes(fresh),
      "bytes_written" -> bytesWritten.toSeq,
      "user_bytes" -> userBytes.toSeq,
      "commits" -> history.size,
      "compactions" -> history.count(_.mode == "compact"),
      "live_dirs" -> c.dirs.size,
      "live_files" -> liveFiles,
      "point_files" -> filesOpened,
      "pending_delete_sets" -> c.deletes.values.flatten.toSet.size,
      "manifest_bytes" -> Fs.bytes(s"$root/_commits"),
      "scan_ms_by_pending_sets" -> scanMs.toSeq.map { case (n, ms) => Seq(n, ms) })
  }
}
