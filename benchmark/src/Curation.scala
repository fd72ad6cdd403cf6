package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ext.{Dedup, TextAnalysis}

/** LLM-data curation over a synthetic corpus: MinHash-LSH near-duplicate
  * pairs, then dedup clusters, then quality scores of the kept documents.
  *
  * The corpus has random documents over a fixed vocabulary plus planted
  * near-duplicates (a copy of an original document with one token replaced
  * or appended) whose token-set Jaccard is at least 19/20, the threshold
  * the workload asks for. Random documents are far apart at this
  * vocabulary size, so the planted pairs are the ground truth for recall.
  */
final class CurationDedup(spark: SparkSession, seed: Long, work: String) extends Workload {
  val Docs = 2000
  val Vocab = 5000
  val MinTokens = 40
  val MaxTokens = 90
  val DupShare = 0.15
  val ThreshNum = 19
  val ThreshDen = 20

  private var input = ""
  private var texts = IndexedSeq.empty[Seq[String]]
  private var planted = Seq.empty[(Long, Long)]
  private var found: DataFrame = _
  private var labels: DataFrame = _
  private var kept = (0L, 0L)
  private val recall = mutable.ArrayBuffer.empty[Double]
  private val pairCounts = mutable.ArrayBuffer.empty[Int]
  private val clusterCounts = mutable.ArrayBuffer.empty[Int]

  override def rowsPerIteration: Long = Docs

  /** Token-set Jaccard at least ThreshNum/ThreshDen, in integers as the
    * program computes it.
    */
  private def near(a: Seq[String], b: Seq[String]): Boolean =
    ThreshDen * (a.toSet intersect b.toSet).size >= ThreshNum * (a.toSet union b.toSet).size

  override def setup(dir: String): Unit = {
    val rng = new scala.util.Random(seed)
    val words = (0 until Vocab).map(k => f"w$k%04d")
    val originals = (Docs * (1 - DupShare)).toInt
    val docs = mutable.ArrayBuffer.fill(originals)(
      Seq.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens))(words(rng.nextInt(Vocab))))
    // each near-duplicate copies a distinct original, so every seed yields
    // the same cluster structure: Docs - originals clusters of two
    val sources = rng.shuffle((0 until originals).toIndexedSeq).take(Docs - originals)
    val dups = sources.map { src =>
      val toks = docs(src)
      val copy = Iterator.continually {
        val fresh = words(rng.nextInt(Vocab))
        if (rng.nextBoolean()) toks.updated(rng.nextInt(toks.size), fresh) else toks :+ fresh
      }.find(c => near(toks, c)).get
      docs += copy
      (src.toLong, docs.size - 1L)
    }
    texts = docs.toIndexedSeq
    planted = dups.toSeq
    import spark.implicits._
    texts.zipWithIndex.map { case (t, k) => (k.toLong, t.mkString(" ")) }.toSeq
      .toDF("id", "text").repartition(4).write.parquet(s"$dir/corpus")
    input = s"$dir/corpus"
  }

  override def iteration(i: Int, t: Trace): Map[String, Double] = {
    val docs = spark.read.parquet(input)
    found = t.span("ext.minhash")(
      Dedup.minhashLshPairs(docs, "id", "text", bandSize = 8, ThreshNum, ThreshDen)
        .select("id_a", "id_b").localCheckpoint())
    labels = t.span("ext.clusters")(Dedup.dedupClusters(docs, "id", found).localCheckpoint())
    val quality = t.span("ext.quality")(
      TextAnalysis.qualityScore(docs.join(labels.filter(col("doc_id") === col("cluster")),
        col("id") === col("doc_id")).select("id", "text"), "id", "text")
        .agg(count(lit(1)), sum("n_tokens")).head())
    kept = (quality.getLong(0), quality.getLong(1))
    Map.empty
  }

  /** Every emitted pair is a true near-duplicate; the quality pass saw one
    * document per cluster with its exact token count. Recall is recorded,
    * not checked.
    */
  override def check(i: Int): (Int, Seq[String]) = {
    val pairs = found.collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    val clusters = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = Seq.newBuilder[String]
    val low = pairs.count { case (a, b) => !near(texts(a), texts(b)) }
    if (low > 0) bad += s"$low of ${pairs.length} emitted pairs have Jaccard below $ThreshNum/$ThreshDen"
    val reps = clusters.filter { case (d, c) => d == c }.keys
    val wantTokens = reps.toSeq.map(d => texts(d.toInt).size.toLong).sum
    if (kept != ((reps.size.toLong, wantTokens)))
      bad += s"quality scored (docs, tokens) $kept, clusters kept ${(reps.size, wantTokens)}"
    if (clusters.size != Docs) bad += s"clusters labelled ${clusters.size} of $Docs docs"
    recall += planted.count { case (a, b) => clusters.get(a) == clusters.get(b) }.toDouble /
      math.max(1, planted.size)
    pairCounts += pairs.length
    clusterCounts += reps.size
    (3, bad.result())
  }

  override def summary(): Map[String, Any] =
    Map("planted_pairs" -> planted.size, "recall" -> recall.toSeq,
      "pairs" -> pairCounts.toSeq, "clusters" -> clusterCounts.toSeq)
}
