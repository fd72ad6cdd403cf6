package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.io.VersionedTable
import graft.operators.ext.{Dedup, TextAnalysis}

/** Dev harness: named measurement scenarios on one [[GraftSession]] — the
  * numbers behind SCALE.md and the OPTIMIZATION_rN write-ups, the plan
  * dumps under `plans/rN/`, and ad-hoc runs of registry queries. None of it
  * is part of the declared registry.
  *
  * Usage: runMain graft.Profile <scenario> [args...]
  * With no scenario or an unknown one it prints the scenario names and
  * exits non-zero. Each scenario's own usage line is on its entry below.
  */
object Profile {
  type Scenario = (SparkSession, Seq[String]) => Unit

  val scenarios: Map[String, Scenario] = scala.collection.immutable.ListMap(
    // probe <sfDir> <query>... — row count and first rows of each query
    "probe" -> probe,
    // explain <sfDir> <outDir> <suffix> <query>... — formatted plans to files
    "explain" -> explain,
    // scale <sfDir> <k> [query...] — 1x vs kx replicated corpus
    "scale" -> scale,
    // agg-pushdown [rows] [files] [passes]
    "agg-pushdown" -> aggPushdown,
    // change-feed [sfDir] [appendsList] [replicate]
    "change-feed" -> changeFeed,
    // clusters [sfDir] | clusters --synthetic <nNodes>
    "clusters" -> clusters,
    // commit-log [depth...]
    "commit-log" -> commitLog,
    // containment [sfDir]
    "containment" -> containment,
    // deletion-vectors [sfDir] [replicate] [passes]
    "deletion-vectors" -> deletionVectors,
    // delta-dml [rowsPerStep] [steps]
    "delta-dml" -> deltaDml,
    // dsir <sfDir> <k>
    "dsir" -> dsir,
    // evo-read [sfDir]
    "evo-read" -> evoRead,
    // footer-gather [nFiles]
    "footer-gather" -> footerGather,
    // graph [millionsOfEdges...] | graph --triangles
    "graph" -> graph,
    // lexical <sfDir> <k>
    "lexical" -> lexical,
    // matview [sfDir]
    "matview" -> matview,
    // minhash [sfDir] [query...]
    "minhash" -> minhash,
    // skew [sfDir] [hotN] [salts...]
    "skew" -> skew,
    // spj-skew [hotRows] [files] [passes]
    "spj-skew" -> spjSkew,
    // versioned [sfDir] [appends] [replicate]
    "versioned" -> versioned,
    // write-order [sfDir] [batches] [replicate]
    "write-order" -> writeOrder)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !scenarios.contains(args.head)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val spark = GraftSession()
    try run(spark, args.head, args.toSeq.tail) finally spark.stop()
  }

  private def usage: String =
    s"usage: graft.Profile <scenario> [args...]; scenarios: ${scenarios.keys.mkString(", ")}"

  def run(spark: SparkSession, scenario: String, args: Seq[String]): Unit = {
    val body = scenarios.getOrElse(scenario,
      throw new IllegalArgumentException(s"unknown scenario '$scenario'; $usage"))
    clockStages(spark.sparkContext)
    body(spark, args)
  }

  // ---- shared measurement helpers ----------------------------------------

  private val stageMs = new AtomicLong
  private var clocked: Option[SparkContext] = None

  /** Adds the stage clock to `sc` once: it sums every completed stage's
    * duration for [[time]] and prints each stage over 2 s. */
  private def clockStages(sc: SparkContext): Unit = synchronized {
    if (!clocked.contains(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
            .getOrElse(0L)
          stageMs.addAndGet(ms)
          if (ms > 2000) println(f"[stage] ${si.stageId} tasks=${si.numTasks} " +
            f"${ms / 1000.0}%.1f s ${si.name.takeWhile(_ != '\n').take(60)}")
        }
      })
      clocked = Some(sc)
    }
  }

  /** Runs `body`, prints its wall time and the stage time completed
    * meanwhile (summed over concurrent stages, and only what the listener
    * bus has delivered by the time `body` returns), and returns the result
    * with the wall seconds. */
  private def time[A](label: String)(body: => A): (A, Double) = {
    val stage0 = stageMs.get()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[time] $label: $sec%.3f s (stage ${(stageMs.get() - stage0) / 1000.0}%.1f s)")
    (r, sec)
  }

  /** Total bytes of the files under `root`. */
  private def dirBytes(root: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(root))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Build (or reuse) the k×-replicated corpus of `sfDir`: replica-tagged
    * document tokens (disjoint vocabularies — local density fixed, mass ×
    * k), embeddings replicated under offset ids (per-dimension min/max
    * exactly preserved, so frozen-quantizer stats and query bounds stay
    * fixed), events shifted by 32 days per replica, every other table
    * symlinked. Shared by the scale, dsir and lexical scenarios so all scale
    * claims run one corpus recipe. Cached under /tmp per (source dir, k).
    */
  def ensureScaledCorpus(spark: SparkSession, sfDir: String, k: Int): String = {
    val scaled = s"/tmp/graft_scale_${k}x_${QuerySupport.dirTag(sfDir)}"
    if (!new java.io.File(s"$scaled/documents.parquet").exists()) {
      new java.io.File(scaled).mkdirs()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
      docs.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("doc_id") + col("__r") * maxId).as("doc_id"),
          when(col("__r") === 0, col("text")).otherwise(expr(
            "concat_ws(' ', transform(filter(split(text, ' '), t -> t != ''), " +
              "t -> concat(t, '_', cast(__r as string))))")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val maxV = emb.agg(max("vec_id")).head.getLong(0) + 1
      emb.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("vec_id") + col("__r") * maxV).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
      for (f <- new java.io.File(sfDir).listFiles()
           if f.getName != "documents.parquet" && f.getName != "embeddings.parquet"
             && f.getName != "events.parquet") {
        val link = Paths.get(s"$scaled/${f.getName}")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, f.toPath)
      }
    }
    // events: replicas offset by 32 DAYS each (and by id), so the time-series
    // family scales honestly — temporal density per hour/user is fixed,
    // windows/sessions/overlaps stay within-replica, and mass grows exactly
    // k× (naive replication would stack k copies into the same 30 days and
    // measure k²-denser overlap fixtures, not the engine). Upgraded in place
    // if an older corpus symlinked events.
    val evPath = Paths.get(s"$scaled/events.parquet")
    if (Files.isSymbolicLink(evPath)) Files.delete(evPath)
    if (!Files.exists(evPath)) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val maxE = ev.agg(max("event_id")).head.getLong(0) + 1
      val shifted = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // ns since epoch
          expr("ts + __r * cast(2764800000000000 as bigint)")
        case _ => expr("ts + make_dt_interval(__r * 32, 0, 0, 0)")
      }
      ev.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("event_id") + col("__r") * maxE).as("event_id"),
          shifted.as("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/events.parquet")
      println(s"[scale] built $scaled: ${spark.read.parquet(s"$scaled/documents.parquet").count()} docs, " +
        s"${spark.read.parquet(s"$scaled/embeddings.parquet").count()} vecs")
    }
    scaled
  }

  // ---- registry queries ---------------------------------------------------

  private def probe(spark: SparkSession, args: Seq[String]): Unit =
    args.tail.foreach { name =>
      try {
        val df = Queries.queries(name)(spark, args.head)
        println(s"[probe] $name rows=${df.count()}")
        df.show(3, truncate = false)
      } catch { case e: Throwable =>
        println(s"[probe] $name FAILED: ${e.toString.take(500)}")
      }
    }

  /** Writes `explain("formatted")` of each query — the pre-execution AQE
    * plan, the evidence trail the optimization rounds commit under
    * `plans/rN/` — to `<outDir>/<query>_<suffix>.txt`. */
  private def explain(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 4, "usage: explain <sfDir> <outDir> <suffix> <query>...")
    val Seq(sfDir, outDir, suffix) = args.take(3)
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { name =>
      try {
        val df = Queries.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.toString.take(300)}")
      }
    }
  }

  /** The empirical side of every "100 TB shape" claim: times the heavy
    * dedup/similarity family at 1× and on the k× corpus of
    * [[ensureScaledCorpus]] in one session. Linear growth in corpus mass
    * should produce ~linear growth in runtime; anything super-linear is a
    * scale bug the plan asserts missed. Commit the table to SCALE.md. */
  private def scale(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val queries = if (args.length > 2) args.drop(2) else Seq(
      "x2_minhash_lsh", "x2_containment_join", "x1_incremental_neardup",
      "x1_dedup_clusters", "x9_curation_e2e")
    val scaled = ensureScaledCorpus(spark, sfDir, k)
    for (q <- queries; (label, dir) <- Seq("1x" -> sfDir, s"${k}x" -> scaled)) {
      (1 to 2).foreach { pass =>
        time(f"scale $q%-24s $label%-4s pass$pass")(noop(Queries.queries(q)(spark, dir)))
      }
    }
  }

  /** Per-stage timing of named declared queries (bench-style), defaulting
    * to the similarity family: each query gets a cold pass + 2 warm passes. */
  private def minhash(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val queries = if (args.length > 1) args.tail
                  else Seq("x2_simhash", "x2_minhash_lsh", "x2_ngram_minhash")
    queries.foreach { q =>
      (1 to 3).foreach { i =>
        time(s"$q #$i")(noop(Queries.queries(q)(spark, dir)))
      }
    }
  }

  /** Candidate-mass measurement for the containment join: runs the declared
    * x2_containment_join and prints every plan node's numOutputRows metric,
    * so the prefix + positional filter effectiveness is read off the REAL
    * executed plan (no re-implemented probe logic to drift). */
  private def containment(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val df = Queries.queries("x2_containment_join")(spark, dir)
    val (n, sec) = time("containment collect")(df.collect().length)
    println(f"[containment] result rows=$n elapsed $sec%.2f s")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).foreach { nd =>
      nd.metrics.get("numOutputRows").foreach { m =>
        println(f"[metric] ${nd.nodeName}%-45s rows=${m.value}")
      }
    }
  }

  // ---- curation operators -------------------------------------------------

  /** Phase timing of the x1_dedup_clusters pipeline — how much is pair
    * generation vs. contraction + finish (or propagation rounds). The
    * `--synthetic <nNodes>` form stress-tests the contraction far past
    * bench scale: nNodes/50 cliques of 50 (the dense local structure
    * near-dup pair lists have) linked into one chain (the high-diameter
    * structure propagation fears), ~nNodes×24.5 edges total; asserts the
    * whole graph resolves to ONE component labeled 0. */
  private def clusters(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.headOption.contains("--synthetic")) {
      val n = args(1).toLong
      val clique = 50L
      // two independently-built sides with disjoint column names: the
      // aliased-self-join form silently resolves `a.id < b.id` to one side
      // (always false → zero pairs) on this lineage
      def side(p: String) = spark.range(n).select(col("id").as(s"${p}_id"),
        (col("id") / clique).cast("long").as(s"${p}_c"))
      // within-clique all-pairs (the dense local mass) + a chain linking
      // consecutive clique heads (the high-diameter cross-partition case)
      val pairs = side("a").join(side("b"),
          col("a_c") === col("b_c") && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
        .unionByName(spark.range(n / clique - 1).select(
          (col("id") * clique).as("id_a"), ((col("id") + 1) * clique).as("id_b")))
      val docs = spark.range(n).select(col("id").as("doc_id"))
      // materialize the pair list first so edge GENERATION cost (the clique
      // self-join) is reported separately from the clustering itself
      val (mat, _) = time(f"synthetic pair materialization n=$n edges~${n * (clique - 1) / 2 + n / clique}") {
        val m = pairs.localCheckpoint(true); m.count(); m
      }
      val (clustered, _) = time(s"dedupClusters n=$n") {
        Dedup.dedupClusters(docs, "doc_id", mat)
      }
      val distinctClusters = clustered.select("cluster").distinct().count()
      val wrong = clustered.filter(col("cluster") =!= 0L).count()
      println(s"[prof] distinct clusters = $distinctClusters, mislabeled = $wrong")
      assert(distinctClusters == 1L && wrong == 0L, "synthetic graph must resolve to one component labeled 0")
      return
    }
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val (pairsLazy, _) = time("pairs (build+checkpoints)") {
        Dedup.minhashLshPairs(docs, "doc_id", "text", 8, 19, 20)
      }
      // minhashLshPairs checkpoints its linear intermediates eagerly but the
      // candidate-join + verify TAIL stays lazy — materialize it separately
      // so tail cost doesn't masquerade as clustering cost downstream
      val (pairs, _) = time("pair tail (cand join + verify) materialization") {
        pairsLazy.localCheckpoint(true)
      }
      // dedupClusters is eager only through the star contraction (the
      // localCheckpoint + count inside clusterEdges); the single-task finish
      // and the docs join stay lazy. Split them out so the scale table can
      // attribute growth per stage: contraction vs finish+join vs output sort.
      val (clustered, _) = time("contractEdges + star count (eager part)") {
        Dedup.dedupClusters(docs, "doc_id", pairs)
      }
      val (labels, _) = time("single-task finish + docs join") {
        clustered.localCheckpoint(true)
      }
      time("output sort + noop write")(noop(labels.orderBy("doc_id")))
      System.gc()
    }
  }

  /** Skew stress for the LSH salted self-join (SCALE.md §skew): every
    * scaling corpus so far held bucket skew FIXED by construction
    * (replica-tagged vocabularies), so the `salts` sizing rule on
    * [[Dedup.minhashLshPairs]] — salts >= n_max² / (2 × task-row budget) —
    * was argued from the plan shape, never measured against a genuinely hot
    * bucket. This builds one: the base corpus plus `hotN` documents with
    * IDENTICAL boilerplate text, which all share the same key in EVERY band
    * — a single bucket emitting ~hotN²/2 candidate pairs per band.
    *
    * For each requested `salts` value the full pair pipeline runs twice
    * (pass2 warm); the PAIR SET must be identical across salts (the salting
    * is a partitioning choice, not a semantics choice), which is asserted
    * via the verified-pair count each run. Expected shape: with salts=1 the
    * hot bucket's pair space lands in ONE task (serialized); with the
    * rule-derived value the same rows spread over `salts` tasks and wall
    * time recovers to ~bucket-work / salts + the corpus-linear floor. */
  private def skew(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hotN = args.drop(1).headOption.map(_.toInt).getOrElse(10000)
    val saltsList = if (args.length > 2) args.drop(2).map(_.toInt) else Seq(1, 4, 16)
    // one hot cluster: hotN identical 40-token boilerplate docs, ids far
    // above the base corpus so no collision with its near-dup structure
    val boiler = (0 until 40).map(i => s"boiler_$i").mkString(" ")
    val hot = spark.range(hotN).select(
      (col("id") + 10000000L).as("doc_id"), lit(boiler).as("text"))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").unionByName(hot)
      .repartition(32).localCheckpoint(true)
    println(s"[skew] corpus ${corpus.count()} docs, hot bucket $hotN " +
      s"(~${hotN.toLong * (hotN - 1) / 2} pairs per band)")
    val counts = for (s <- saltsList; pass <- 1 to 2) yield {
      val (n, sec) = time(s"skew salts=$s pass$pass") {
        Dedup.minhashLshPairs(corpus, "doc_id", "text", 8, 19, 20, salts = s).count()
      }
      println(f"[skew] salts=$s%-4d pass$pass $sec%8.2f s   verified pairs $n")
      System.gc()
      n
    }
    require(counts.distinct.size == 1,
      s"verified pair counts differ across salts: ${counts.mkString(", ")}")
  }

  /** Stage decomposition of x6_dsir at a scaled corpus: background model
    * aggregate vs scoring join vs full row, to attribute any non-linear
    * step. */
  private def dsir(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val scaled = ensureScaledCorpus(spark, sfDir, k)
    for ((label, dir) <- Seq("1x" -> sfDir, s"${k}x" -> scaled)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def toks = docs.select(col("doc_id"), explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
        .withColumn("bucket", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % 1024"))
        .select("doc_id", "bucket")
      def twice(what: String)(df: DataFrame): Unit =
        (1 to 2).foreach { pass => time(f"dsir $label%-4s $what%-14s pass$pass")(noop(df)) }
      twice("explode")(toks)
      twice("bmodel")(toks.groupBy("bucket").agg(count(lit(1)).as("cb")))
      val lw = toks.groupBy("bucket").agg(count(lit(1)).as("cb")).withColumn("lw", col("cb") % 7)
      twice("score-join")(toks.join(broadcast(lw.select("bucket", "lw")), Seq("bucket"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tok"), sum("lw").as("weight")))
      twice("full-row")(TextAnalysis.dsirSelect(
        docs, docs.filter(col("doc_id") < 300), "doc_id", "text", 400))
    }
  }

  /** Empirical backing for the lexical index's 100 TB claim: BM25 PROBE
    * cost against the standing index tracks query-term POSTING mass, while
    * a fresh corpus SCAN tracks corpus mass. Under the replica-tagged
    * scaled corpus (disjoint vocabularies, fixed per-term density) the same
    * query set touches the same posting rows at any k, so probe time should
    * stay ~flat at k× corpus while the batch scan grows ~k× and the
    * one-time build grows ~k×. That gap is the index's reason to exist;
    * this measures all three legs at 1× and k× in one session. */
  private def lexical(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val scaled = ensureScaledCorpus(spark, sfDir, k)
    def queriesOf(docs: DataFrame): DataFrame = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        expr("array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 8), ' ')").as("qtext"))

    for ((label, dir) <- Seq("1x" -> sfDir, s"${k}x" -> scaled)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val qs = queriesOf(docs)
      val root = s"/tmp/graft_prof_lex_$label"
      Seq("graft_prof_lex_post", "graft_prof_lex_len")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      QuerySupport.rmrf(root)
      time(f"lex build  $label%-4s")(TextAnalysis.buildLexicalIndex(
        "graft_prof_lex_post", "graft_prof_lex_len", docs, "doc_id", "text", 32, root))
      for (pass <- 1 to 2) {
        time(f"lex probe  $label%-4s pass$pass")(noop(TextAnalysis.bm25IndexTopK(spark,
          "graft_prof_lex_post", "graft_prof_lex_len", qs, "query_id", "qtext", 10)))
      }
      for (pass <- 1 to 2) {
        time(f"lex scan   $label%-4s pass$pass")(noop(TextAnalysis.bm25TopK(docs, qs,
          "doc_id", "text", "query_id", "qtext", 10)))
      }
    }
  }

  /** Empirical backing for the graph family's "linear in |E| per
    * iteration" claim: build a deterministic synthetic graph (md5-derived
    * endpoints, avg degree 10, with a deliberate 10%-of-edges hot-node skew
    * so the inmass aggregate sees realistic in-degree concentration) and
    * time 3-iteration pageRank at increasing edge counts in one session.
    * Runtime should track edge count ~linearly; anything super-linear is a
    * shuffle or window the plan asserts missed. */
  private def graph(spark: SparkSession, args: Seq[String]): Unit = {
    if (args.headOption.contains("--triangles")) { triangles(spark); return }
    val sizes = if (args.nonEmpty) args.map(_.toInt) else Seq(1, 10)
    for (m <- sizes) {
      val nEdges = m * 1000000L
      val nNodes = nEdges / 10
      val hot = math.max(nNodes / 100, 1L)
      // 90% of edges land uniformly, 10% concentrate on nNodes/100 hot dsts
      val edges = spark.range(nEdges).select(
        expr(s"conv(substring(md5(concat('s', cast(id as string))), 1, 8), 16, 10) % $nNodes").as("src"),
        expr(s"case when id % 10 = 0 then conv(substring(md5(concat('h', cast(id as string))), 1, 8), 16, 10) % $hot " +
          s"else conv(substring(md5(concat('d', cast(id as string))), 1, 8), 16, 10) % $nNodes end").as("dst"))
      for (pass <- 1 to 2) {
        time(f"graph pageRank3 $m%3dM edges pass$pass")(
          noop(graft.operators.ext.Graph.pageRank(edges, "src", "dst", 3)))
      }
    }
  }

  /** Orientation comparison on a deliberately hub-skewed graph: a LOW-ID
    * hub wired to every spoke (the worst case for id-orientation — all hub
    * edges orient outward, so the hub's full deg² wedge mass enumerates)
    * plus uniform background edges and closing chords among spokes. Prints
    * both orientations' (wedges, triangles, seconds); triangle counts must
    * match, the degree-oriented wedge mass and time should be the cut.
    */
  private def triangles(spark: SparkSession): Unit = {
    val nSpokes = 20000L
    val nBg = 2000000L
    val nNodes = 1000000L
    // node 0 is the hub: id-orientation sends ALL its edges outward
    val hub = spark.range(nSpokes).select(lit(0L).as("src"), (col("id") + 1).as("dst"))
    // chords among consecutive spokes close hub triangles
    val chords = spark.range(nSpokes - 1).select((col("id") + 1).as("src"), (col("id") + 2).as("dst"))
    val bg = spark.range(nBg).select(
      expr(s"1 + conv(substring(md5(concat('s', cast(id as string))), 1, 8), 16, 10) % $nNodes").as("src"),
      expr(s"1 + conv(substring(md5(concat('d', cast(id as string))), 1, 8), 16, 10) % $nNodes").as("dst"))
    val edges = hub.unionByName(chords).unionByName(bg).filter(col("src") =!= col("dst"))
    val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
      "id-oriented " -> (e => graft.operators.ext.Graph.triangleCount(e, "src", "dst")),
      "deg-oriented" -> (e => graft.operators.ext.Graph.triangleCountDegree(e, "src", "dst")))
    for ((name, fn) <- variants) {
      for (pass <- 1 to 2) {
        val (r, sec) = time(s"graph triangles $name pass$pass")(fn(edges).head())
        println(f"[graph] triangles $name pass$pass edges=${r.getLong(0)}%,d wedges=${r.getLong(1)}%,d " +
          f"tri=${r.getLong(2)}%,d $sec%8.2f s")
      }
    }
  }

  // ---- versioned tables ---------------------------------------------------

  /** Measures the manifest data-skipping payoff (SCALE.md §versioned): a
    * production append-grown table accumulates one commit per ingest
    * cycle; a range query (a time window, an id slice) should cost
    * O(matching commits), not O(table). This builds that shape honestly —
    * `appends` commits of DISJOINT contiguous key slices of the events
    * table, stats on the slice key — then times the same aggregate three
    * ways:
    *
    *   full      — whole-snapshot scan + filter (what a stats-less table does)
    *   pruned    — [[VersionedTable.readRange]]: manifest skip, then residual
    *   (control) — both must return identical results; asserted every pass
    *
    * Expected shape: `planRange` keeps 1 of `appends` dirs, and pruned wall
    * time approaches full/appends plus the constant manifest-resolution
    * cost. The gap WIDENS with table size: full scan cost grows with total
    * mass, pruned stays flat at one slice. (`replicate` multiplies the
    * events table with offset row ids — the sf0.1 fixture alone is
    * scheduling-bound, which hides the scan-cost difference the skip exists
    * to remove.) */
  private def versioned(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val appends = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val replicate = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_versioned"
    QuerySupport.rmrf(root)
    // events keyed by a contiguous synthetic id so slices are range-disjoint
    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("row_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")).cast("long"))
    val baseN = base.count()
    val ev = (if (replicate <= 1) base
      else spark.range(replicate).crossJoin(base)
        .withColumn("row_id", col("row_id") + col("id") * baseN).drop("id"))
      .repartition(32).localCheckpoint(true)
    val n = ev.count()
    val slice = n / appends
    println(s"[versioned] $n events, $appends appends of ~$slice rows each")
    for (i <- 0 until appends) {
      val (lo, hi) = (i * slice + 1, if (i == appends - 1) n else (i + 1) * slice)
      VersionedTable.commit(ev.filter(col("row_id").between(lo, hi)), root, "append",
        f"slice-$i%04d", statsCols = Seq("row_id"))
    }
    // probe = one middle slice
    val (lo, hi) = (slice * (appends / 2) + 1, slice * (appends / 2 + 1))
    val kept = VersionedTable.planRange(root, "row_id", lo, hi)
    println(s"[versioned] probe [$lo, $hi]: planRange keeps ${kept.size} of $appends dirs")
    def agg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("row_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    def fullVsPruned(tag: String, root: String): Unit =
      for (pass <- 1 to 2) {
        val (full, tFull) = time(s"versioned$tag pass$pass full")(
          agg(VersionedTable.read(spark, root).filter(col("row_id").between(lo, hi))))
        val (pruned, tPruned) = time(s"versioned$tag pass$pass pruned")(
          agg(VersionedTable.readRange(spark, root, "row_id", lo, hi)))
        assert(full == pruned, s"pruned$tag result $pruned != full $full")
        println(f"[versioned]$tag pass$pass full $tFull%.2f s | " +
          f"pruned $tPruned%.2f s | rows ${full._1}")
      }
    fullVsPruned("", root)

    // ---- phase 2 (round 12): FILE-level skipping inside ONE commit ------
    // The dual shape: one big commit of `appends` range-disjoint FILES
    // (a compacted table, or one bulk load) — dir-level stats are useless
    // (1 dir spanning everything); only the _filestats side file can
    // confine the scan. Same probe, same control equality.
    val root2 = s"$root-files"
    QuerySupport.rmrf(root2)
    VersionedTable.commit(ev.repartitionByRange(appends, col("row_id")), root2,
      "overwrite", "bulk-0001", statsCols = Seq("row_id"))
    val (fKept, fTotal) = VersionedTable.planRangeFiles(root2, "row_id", lo, hi)
    println(s"[versioned] file probe [$lo, $hi]: planRangeFiles keeps $fKept of $fTotal files")
    fullVsPruned(" files", root2)
  }

  /** Measures the COMMIT-LOG DEPTH cost of the versioned-table driver paths
    * (SCALE.md §commit-log): a production table accumulates one commit per
    * ingest cycle for years, so every per-operation cost that grows with
    * #commits eventually dominates the verb itself. The round-13 checkpoint
    * work claims O(1) amortized manifest parses for the hot paths; this
    * profiles the WALL-TIME of those paths against log depth to verify the
    * asymptotics empirically, not just by parse counters:
    *
    *   resolve — latest-snapshot resolution (tail-manifest parse only)
    *   scan    — count() over the n one-file dirs the appends left behind:
    *             O(#files) by DATA LAYOUT, not log overhead — the column
    *             OPTIMIZE exists to flatten (see the post-OPTIMIZE column)
    *   commit  — one fresh tiny append (manifest publish + checkpoint amortized)
    *   retry   — idempotence probe of the OLDEST commitId (worst-case lookup)
    *   history — full-log parse (the DELIBERATELY O(#commits) contrast
    *             line; manifests are snapshot-complete, so this is O(n²)
    *             JSON mass on an append-only log)
    *   describe — [[VersionedTable.historyEntries]], the path DESCRIBE
    *             HISTORY actually serves from: checkpointed prefix + tail
    *             manifests — must stay flat-ish while `history` grows
    */
  private def commitLog(spark: SparkSession, args: Seq[String]): Unit = {
    val depths = if (args.nonEmpty) args.map(_.toInt) else Seq(100, 500, 2000)
    import spark.implicits._
    def timeMs[A](what: String)(f: => A): (A, Double) = {
      val (a, sec) = time(what)(f); (a, sec * 1000)
    }
    println("| depth | resolve ms | scan ms | scan post-OPTIMIZE ms | commit ms | oldest-retry ms | history ms | describe ms |")
    println("|---|---|---|---|---|---|---|---|")
    depths.foreach { n =>
      val root = Files.createTempDirectory(s"graft_logdepth_$n").toString
      (1 to n).foreach { i =>
        VersionedTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"),
          root, "append", s"c$i", statsCols = Seq("k")): Unit
      }
      // warm once so classloading/codegen doesn't land on the first cell
      VersionedTable.read(spark, root).count()
      // resolve = manifest work only (tail parse); scan = the full read of
      // n one-file dirs — O(#files) by DATA LAYOUT, not log depth, which
      // is what OPTIMIZE exists for (the post-compact column proves it)
      val (rv0, resolveMs) = timeMs(s"depth $n resolve")(VersionedTable.latestVersion(root).get)
      require(rv0 == n.toLong, s"latest must be v$n, got $rv0")
      val (_, scanMs) = timeMs(s"depth $n scan")(VersionedTable.read(spark, root).count())
      val (_, commitMs) = timeMs(s"depth $n commit")(VersionedTable.commit(
        Seq((0L, "x")).toDF("k", "v"), root, "append", "fresh", statsCols = Seq("k")))
      val (rv, retryMs) = timeMs(s"depth $n oldest-retry")(VersionedTable.commit(
        Seq((0L, "x")).toDF("k", "v"), root, "append", "c1"))
      require(rv == 1L, s"oldest retry must resolve to v1, got $rv")
      val (h, histMs) = timeMs(s"depth $n history")(VersionedTable.history(root).size)
      require(h == n + 1, s"history must see ${n + 1} commits, got $h")
      val (he, descMs) = timeMs(s"depth $n describe")(VersionedTable.historyEntries(root).size)
      require(he == n + 1, s"historyEntries must see ${n + 1} commits, got $he")
      VersionedTable.compact(spark, root, "opt", targetFiles = 4,
        statsCols = Seq("k")): Unit
      val (_, scanOptMs) = timeMs(s"depth $n scan post-OPTIMIZE")(VersionedTable.read(spark, root).count())
      println(f"| $n | $resolveMs%.1f | $scanMs%.1f | $scanOptMs%.1f | $commitMs%.1f | $retryMs%.1f | $histMs%.1f | $descMs%.1f |")
    }
  }

  /** Measures the change feed's cost contract (SCALE.md §cdf): a rewrite
    * commit's CDF must cost O(rewritten data) — the commit's own touched
    * dirs — never O(table). This builds an append-grown table of `appends`
    * range-disjoint slices, merges a batch that hits EXACTLY ONE dir, and
    * times the feed of that merge commit alone
    * (`readChangeFeed(appends, appends+1)`). As `appends` grows the table
    * mass grows linearly while the touched region stays one slice — the CDF
    * wall time must stay FLAT. A full-snapshot control scan is timed beside
    * it to show what O(table) would look like.
    * e.g. `change-feed /root/testdata/sf0.1 4,16,64 8` */
  private def changeFeed(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val appendsList = args.drop(1).headOption.getOrElse("4,16,64")
      .split(",").map(_.trim.toInt).toSeq
    val replicate = args.drop(2).headOption.map(_.toInt).getOrElse(8)

    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("row_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")).cast("long"))
      .select("row_id", "user_id", "event_type")
    val baseN = base.count()
    val ev = (if (replicate <= 1) base
      else spark.range(replicate).crossJoin(base)
        .withColumn("row_id", col("row_id") + col("id") * baseN).drop("id"))
      .repartition(32).localCheckpoint(true)
    val n = ev.count()

    println(f"rows=$n%d replicate=$replicate")
    appendsList.foreach { appends =>
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_cdf_$appends"
      QuerySupport.rmrf(root)
      val slice = n / appends
      (0 until appends).foreach { i =>
        val lo = i * slice + 1
        val hi = if (i == appends - 1) n else (i + 1) * slice
        VersionedTable.commit(
          ev.filter(col("row_id") >= lo && col("row_id") <= hi),
          root, "append", f"a$i%04d", statsCols = Seq("row_id"))
      }
      // the merge batch re-types 1% of the FIRST slice — exactly one hit dir
      val batch = ev.filter(col("row_id") <= slice && col("row_id") % 100 === 0)
        .withColumn("event_type", lit("cdf_updated"))
      val (res, _) = time(s"change-feed appends=$appends merge")(VersionedTable.mergeInto(
        spark, root, batch, "row_id", "m0", statsCols = Seq("row_id")))
      // warm + measured pass of the feed of JUST the merge commit
      def feedCount = VersionedTable.readChangeFeed(spark, root,
        appends.toLong, appends.toLong + 1, "row_id").count()
      val warm = feedCount
      val (cnt, tFeed) = time(s"change-feed appends=$appends feed")(feedCount)
      val (_, tFull) = time(s"change-feed appends=$appends full scan")(
        VersionedTable.read(spark, root).count())
      println(f"appends=$appends%3d tableRows=$n%9d hitDirs=${res._2}%2d " +
        f"feedEvents=$cnt%7d (warm=$warm) cdf=$tFeed%6.2fs fullScan=$tFull%6.2fs")
    }
  }

  /** Measures the read-side cost of the two merge-on-read delete forms as
    * pending debt scales (SCALE.md §deletion-vectors): key sets make every
    * reader pay one broadcast anti-join per covering set (build cost grows
    * with pending KEYS), positional vectors a codegen'd scalar predicate
    * inside the scan's own whole-stage span (cost ~flat in both set count
    * and position count). Same row set deleted under both forms, same
    * aggregate measured (best of `passes`), so the wall-clock gap is purely
    * the read mechanism. */
  private def deletionVectors(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicate = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val n = orders.count()
    val base = (0 until replicate).map(i =>
        orders.select((col("o_orderkey") + lit(i * n * 4)).as("id"),
          col("o_custkey").as("v")))
      .reduce(_.unionByName(_)).cache()
    val total = base.count()
    println(s"# base rows = $total (orders x$replicate)")

    def agg(root: String): (Long, Long) = {
      val r = VersionedTable.read(spark, root).agg(count(lit(1)), sum(col("v"))).head()
      (r.getLong(0), r.getLong(1))
    }

    // keysPerSet scattered across every dir (mod-selected) so all dirs are
    // covered — the worst-case coverage shape for the read side
    for (nSets <- Seq(1, 4, 8); keysPerSet <- Seq(20000)) {
      // hash-scatter each set's keys across every dir: set s takes ids with
      // hash(id) ≡ s (mod M), M sized so each residue class ≈ keysPerSet
      val selectMod = math.max(nSets.toLong + 1, total / keysPerSet)
      for (mode <- Seq("baseline", "key", "pos")) {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_dv_${mode}_$nSets"
        QuerySupport.rmrf(root)
        (0 until 4).foreach(k => VersionedTable.commit(
          base.filter(col("id") % 4 === k), root, "append", s"dv-c$k",
          statsCols = Seq("id")))
        if (mode != "baseline") (0 until nSets).foreach { s0 =>
          val keys = base.select("id")
            .filter(pmod(col("id") * 2654435761L, lit(selectMod)) === s0)
          if (mode == "key")
            VersionedTable.deleteWhereMor(spark, root, keys, "id", s"dv-k$s0")
          else
            VersionedTable.deleteWherePos(spark, root, keys, "id", s"dv-p$s0")
        }
        val runs = (1 to passes).map(p => time(s"deletion-vectors $mode sets=$nSets pass$p")(agg(root)))
        val ((cnt, sm), sec) = (runs.last._1, runs.map(_._2).min)
        println(f"mode=$mode%-8s sets=$nSets keysPerSet=$keysPerSet " +
          f"scan=$sec%7.2f s rows=$cnt sum=$sm")
      }
    }
  }

  /** Measures the WRITE ORDERED BY payoff (SCALE.md §write-order): an
    * append-grown table whose batches each span the full keyspace is the
    * worst case for envelope skipping — every file of every dir overlaps
    * every range predicate, so a point probe opens O(all files). The same
    * ingest under a declared write order range-sorts each batch, making
    * per-file envelopes disjoint WITHIN each commit: a point probe opens
    * O(#commits) files; after sort compaction, O(1) globally.
    *
    * Builds both shapes honestly — `batches` appends of FULL-keyspace
    * shuffled slices of the orders table, replicated `replicate`× with
    * offset keys — then times the same narrow-range aggregate on each and
    * prints (files scanned / files total) from
    * [[VersionedTable.planRangeFiles]] plus warm wall times, before and
    * after OPTIMIZE. */
  private def writeOrder(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val replicate = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    def fresh(name: String): String = {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_wrord_$name"
      QuerySupport.rmrf(root)
      root
    }
    val unord = fresh("unord")
    val ord = fresh("ord")

    val base0 = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("id"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
    val baseMax = base0.agg(max(col("id"))).head().getLong(0)
    // replicate with offset keys: mass grows k×, key density is unchanged
    val base = (0 until replicate).map(r =>
      base0.select((col("id") + lit(r * (baseMax + 1))).as("id"), col("cents")))
      .reduce(_.unionAll(_))
    val total = base.count()
    val mx = baseMax + (replicate - 1).toLong * (baseMax + 1)

    // every batch spans the FULL keyspace (id % batches slice), shuffled
    // across 32 input partitions — the worst case for envelope skipping
    def ingest(root: String, ordered: Boolean): Unit = {
      if (ordered) {
        VersionedTable.createTable(root,
          org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, cents BIGINT"),
          Nil, Map("graft.write.orderedBy" -> "id"), s"po-create")
      }
      (0 until batches).foreach { b =>
        VersionedTable.commit(
          base.filter(col("id") % batches === b).repartition(32),
          root, "append", s"po-b$b", statsCols = Seq("id"))
      }
    }
    def probe(root: String, tag: String): Unit = {
      val lo = mx / 2
      val hi = lo + mx / 200 // a 0.5 %-wide key window
      val (scanned, totalF) = VersionedTable.planRangeFiles(root, "id", lo, hi)
      // warm: second run measured
      def q = VersionedTable.readRange(spark, root, "id", lo, hi)
        .agg(count(lit(1)), sum(col("cents"))).head()
      q
      val (r, sec) = time(s"write-order $tag probe")(q)
      println(f"""{"tag":"$tag","files_scanned":$scanned,"files_total":$totalF,"rows":${r.getLong(0)},"warm_sec":$sec%.3f}""")
    }

    ingest(unord, ordered = false)
    ingest(ord, ordered = true)
    println(s"""{"rows_total":$total,"batches":$batches,"replicate":$replicate}""")
    probe(unord, "unordered")
    probe(ord, "ordered")
    VersionedTable.compact(spark, unord, "po-c", targetFiles = 32, statsCols = Seq("id"))
    VersionedTable.compact(spark, ord, "po-c", targetFiles = 32, statsCols = Seq("id"))
    probe(unord, "unordered+optimize")
    probe(ord, "ordered+optimize(sort)")
  }

  /** Phase breakdown of stream_matview (the bench's single most expensive
    * row, 23.4 s in BENCH_r18). Replays the declared query's exact pipeline
    * with a timer around each phase, then times the batch-mode equivalents
    * of the micro-batch body (mergeInto / MatView.refresh) so the
    * streaming-machinery share is read off directly. Backs
    * OPTIMIZATION_r19.md. */
  private def matview(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      val root = QuerySupport.freshDir(spark, "graft_prof_mvsrc")
      val mv = QuerySupport.freshDir(spark, "graft_prof_mv")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority", "o_custkey")
      time("mv seed commit") {
        VersionedTable.commit(o, root, "append", "seed",
          statsCols = Seq("o_orderkey"))
      }
      time("mv matview create") {
        graft.io.MatView.create(spark, mv, root, "o_orderpriority",
          Seq("o_custkey"), "smv-create")
      }
      val schema = spark.read.parquet(s"$dir/orders.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U-MV").as("o_orderpriority"),
          col("o_custkey"))
      time("mv stream (merge+refresh)") {
        val q = graft.streaming.Streaming.matViewSink(stream, root, mv,
          "o_orderkey", appId = "smv", statsCols = Seq("o_orderkey"))
        try q.processAllAvailable() finally q.stop()
      }
      val synced = VersionedTable.tableProperties(mv)("graft.mv.synced").toLong ==
        VersionedTable.latestVersion(root).get
      time("mv final read+sort") {
        noop(VersionedTable.read(spark, mv)
          .withColumn("synced", lit(synced))
          .orderBy("o_orderpriority"))
      }
      // batch-mode equivalents, fresh roots: how much is streaming machinery?
      val root2 = QuerySupport.freshDir(spark, "graft_prof_mvsrc2")
      val mv2 = QuerySupport.freshDir(spark, "graft_prof_mv2")
      VersionedTable.commit(o, root2, "append", "seed",
        statsCols = Seq("o_orderkey"))
      graft.io.MatView.create(spark, mv2, root2, "o_orderpriority",
        Seq("o_custkey"), "smv-create")
      val batch = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U-MV").as("o_orderpriority"), col("o_custkey"))
      time("mv batch mergeInto") {
        VersionedTable.mergeInto(spark, root2, batch, "o_orderkey",
          "smv-b0", statsCols = Seq("o_orderkey"))
      }
      time("mv batch refresh") {
        graft.io.MatView.refresh(spark, mv2)
      }
    }
  }

  /** Times each phase of reading a three-era hidden-partitioned table —
    * plan construction (listing + schema), the raw scan, and the month
    * rollup — against the fixture `versioned_partition_evolution_hidden`
    * builds. Backs the OPTIMIZATION_r18.md numbers. */
  private def evoRead(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def t[A](label: String)(f: => A): A = time(s"evoread $label")(f)._1
    // build the fixture step by step (the registry row's exact statements)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_pevo_hidden_${QuerySupport.dirTag(dir)}"
    if (!new java.io.File(s"$root/_commits").isDirectory) {
      QuerySupport.rmrf(root)
      QuerySupport.rd(spark, dir, "orders").createOrReplaceTempView("pevo_orders")
      val mx = QuerySupport.rd(spark, dir, "orders")
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val (t1, t2) = (mx / 3, 2 * mx / 3)
      def band(lo: String, hi: String) =
        "SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS ts " +
          s"FROM pevo_orders WHERE o_orderkey > $lo AND o_orderkey <= $hi"
      t("fx: CREATE CTAS") {
        spark.sql(s"CREATE GRAFT '$root' AS (${band("-1", t1.toString)})").collect() }
      t("fx: ALTER -> days(ts)") {
        spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY (days(ts))").collect() }
      t("fx: INSERT band2 (daily)") {
        spark.sql(s"INSERT INTO GRAFT '$root' FROM (${band(t1.toString, t2.toString)})").collect() }
      t("fx: ALTER -> months(ts)") {
        spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY (months(ts))").collect() }
      t("fx: INSERT band3 (monthly)") {
        spark.sql(s"INSERT INTO GRAFT '$root' FROM (${band(t2.toString, mx.toString)})").collect() }
    }
    (1 to 3).foreach { i =>
      val df = t(s"pass $i: plan construction (read())") {
        VersionedTable.read(spark, root)
      }
      t(s"pass $i: raw scan count") { df.count() }
      val agg = df.groupBy(date_format(col("ts_month"), "yyyy-MM-dd").as("ts_month"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("ts_month")
      t(s"pass $i: rollup noop") { noop(agg) }
    }
    // micro-breakdown: which reader step costs what on the 2405-dir era
    val dayDir = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.contains("0000000003")).head.getAbsolutePath
    (1 to 2).foreach { i =>
      t(s"micro $i: baseline spark.read.parquet(dayDir)") {
        spark.read.parquet(dayDir).schema
      }
      val files = t(s"micro $i: engine walk (Files.walk)") {
        import scala.jdk.CollectionConverters._
        val w = Files.walk(Paths.get(dayDir))
        try w.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }.map(_.toString).toSeq.sorted
        finally w.close()
      }
      t(s"micro $i: explicit files + basePath (n=${files.size})") {
        spark.read.option("basePath", dayDir).parquet(files: _*).schema
      }
      spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "9999")
      t(s"micro $i: threshold=9999 spark.read.parquet(dayDir)") {
        spark.read.parquet(dayDir).schema
      }
      t(s"micro $i: threshold=9999 explicit files + basePath") {
        spark.read.option("basePath", dayDir).parquet(files: _*).schema
      }
      t(s"micro $i: threshold=9999 read+rollup noop") {
        noop(VersionedTable.read(spark, root)
          .groupBy(date_format(col("ts_month"), "yyyy-MM-dd").as("ts_month"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
          .orderBy("ts_month"))
      }
      spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    }
  }

  /** Times commit-time skipping-index footer gathering
    * ([[VersionedTable.gatherStats]]) over a many-file dir on the 16-thread
    * driver pool vs the distributed Spark-job path
    * (`graft.index.footerJobThreshold`), and asserts the two produce
    * identical DirStats and `_filestats` bytes. Backs the
    * OPTIMIZATION_r19.md numbers. */
  private def footerGather(spark: SparkSession, args: Seq[String]): Unit = {
    val nFiles = args.headOption.flatMap(_.toIntOption).getOrElse(4096)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_footer_gather"
    val dir = s"$root/v1"
    if (!new java.io.File(dir).isDirectory) {
      time(s"footer fixture: write $nFiles one-row-group files") {
        spark.range(0, nFiles.toLong * 50, 1, 32)
          .select(col("id"), (col("id") % 97).as("k"),
            concat(lit("s"), col("id") % 1000).as("s"))
          .repartition(nFiles, col("id"))
          .write.mode("overwrite").parquet(dir)
      }
    }
    val schema = spark.read.parquet(dir).schema
    val statsCols = Seq("id", "k", "s")
    val fsPath = VersionedTable.fileStatsPath(dir)
    def run(label: String, threshold: Int) = {
      Files.deleteIfExists(fsPath)
      spark.conf.set("graft.index.footerJobThreshold", threshold.toString)
      val (stats, _) = time(s"footer $label gatherStats($nFiles files)") {
        VersionedTable.gatherStats(spark, dir, statsCols, schema)
      }
      (stats, Files.readAllBytes(fsPath))
    }
    // interleave pool/job passes so JIT/page-cache warmup cancels out
    (1 to 3).foreach { pass =>
      val (poolStats, poolBytes) = run(s"pass $pass: driver pool", Int.MaxValue)
      val (jobStats, jobBytes) = run(s"pass $pass: spark job  ", 1)
      require(poolStats == jobStats, "DirStats mismatch between pool and job paths")
      require(java.util.Arrays.equals(poolBytes, jobBytes),
        "_filestats bytes mismatch between pool and job paths")
      println(s"[footer] pass $pass: pool and job outputs byte-identical")
    }
  }

  // ---- catalog tables -----------------------------------------------------

  /** Measures the AGGREGATE-PUSHDOWN payoff (SCALE.md §round-15): the same
    * aggregation answered by the ordinary scan (spark.graft.aggPushdown=
    * false — read every file, HashAggregate, Exchange) versus the metadata
    * path (GraftAggScan — commit manifests, `_filestats` side files,
    * parquet footers, zero data bytes):
    *
    *  - COUNT(*): side-file counts only, zero footer opens;
    *  - GROUP BY partition + COUNT(*)/MIN/MAX: one footer open per file.
    *
    * Both paths must produce IDENTICAL rows (asserted) — the profile is the
    * wall-clock gap, which at real scale is a cluster-wide scan vs a driver
    * metadata walk. */
  private def aggPushdown(spark: SparkSession, args: Seq[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_profile_aggpd_wh"
    QuerySupport.rmrf(wh)
    spark.conf.set("spark.sql.catalog.ga", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ga.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ga.db")
    spark.sql("CREATE TABLE ga.db.t (id BIGINT, grp STRING, v BIGINT, u BIGINT) " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('graft.stats.columns' = 'id,v')")
    spark.range(0, rows).repartition(nFiles)
      .selectExpr("id", "concat('g', id % 8) AS grp",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE id * 3 END AS v",
        "id * 7 AS u")
      .createOrReplaceTempView("aggpd_src")
    spark.sql("INSERT INTO ga.db.t SELECT * FROM aggpd_src")

    def run(name: String, sql: String, pushdown: Boolean): (Seq[String], Double) = {
      spark.conf.set("spark.graft.aggPushdown", pushdown.toString)
      val (rws, s) = time(s"agg-pushdown $name pushdown=$pushdown")(
        spark.sql(sql).collect().toSeq.map(_.toSeq.mkString("|")).sorted)
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      require(plan.contains("GraftAggScan") == pushdown,
        s"pushdown=$pushdown but plan:\n${plan.take(400)}")
      (rws, s)
    }
    val queries = Seq(
      "count_star" -> "SELECT count(*) AS n FROM ga.db.t",
      "global_minmax" ->
        "SELECT count(*) AS n, count(v) AS nv, min(id) AS lo, max(id) AS hi FROM ga.db.t",
      "group_by_part" ->
        "SELECT grp, count(*) AS n, min(id) AS lo, max(id) AS hi FROM ga.db.t GROUP BY grp",
      "unindexed_col" ->
        "SELECT count(u) AS nu, min(u) AS lo, max(u) AS hi FROM ga.db.t",
      "where_partition" ->
        "SELECT count(*) AS n, min(id) AS lo FROM ga.db.t WHERE grp = 'g3'")
    queries.foreach { case (name, sql) =>
      run(name, sql, pushdown = false) // scan warmup
      val cold = run(name, sql, pushdown = true) // first metadata pass: footer IO
      val slow = (1 to passes).map(_ => run(name, sql, pushdown = false)).minBy(_._2)
      val fast = (1 to passes).map(_ => run(name, sql, pushdown = true)).minBy(_._2)
      require(slow._1 == fast._1 && cold._1 == fast._1,
        s"$name diverged: ${slow._1} vs ${fast._1}")
      println(f"$name%-14s scan=${slow._2}%7.3f s  metadata cold=${cold._2}%7.3f s " +
        f"warm=${fast._2}%7.3f s  speedup=${slow._2 / fast._2}%6.1fx  rows=${fast._1.size}")
    }
    spark.conf.set("spark.graft.aggPushdown", "true")
  }

  /** Measures the WRITE-side cost model of the two catalog DML modes as
    * the table grows (SCALE.md §round-15): a POINT UPDATE (one matched row
    * in one dir) under
    *
    *  - `graft.dml.mode = 'merge-on-read'` (default, SupportsDelta): one
    *    positional vector + one post-image row — bytes written should stay
    *    FLAT as the table scales;
    *  - `graft.dml.mode = 'copy-on-write'` (group-based ReplaceData): the
    *    matched DIR rewrites — bytes written grow linearly with dir size.
    *
    * Both modes answer the same reads afterwards (asserted); the gap is
    * purely the write encoding. This is the 100 TB argument for
    * merge-on-read DML made with numbers instead of adjectives. Row counts
    * double per step. */
  private def deltaDml(spark: SparkSession, args: Seq[String]): Unit = {
    val baseRows = args.headOption.map(_.toLong).getOrElse(100000L)
    val steps = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_profile_dml_wh"
    QuerySupport.rmrf(wh)
    spark.conf.set("spark.sql.catalog.gp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gp.db")

    println(f"${"rows"}%12s ${"mode"}%-14s ${"update_s"}%10s ${"bytes_written"}%14s")
    (0 until steps).foreach { s =>
      val n = baseRows << s
      Seq("merge-on-read", "copy-on-write").foreach { mode =>
        val t = s"t_${s}_${mode.take(4)}"
        spark.sql(s"CREATE TABLE gp.db.$t (id BIGINT, v BIGINT, s STRING) " +
          s"TBLPROPERTIES ('graft.stats.columns' = 'id', 'graft.dml.mode' = '$mode')")
        spark.sql(s"INSERT INTO gp.db.$t SELECT id, id * 10, " +
          s"concat('payload-', id % 1000) FROM range(0, $n)")
        val root = s"$wh/db/$t"
        val before = dirBytes(root)
        val (_, sec) = time(s"delta-dml $n $mode update")(
          spark.sql(s"UPDATE gp.db.$t SET v = -1 WHERE id = ${n / 2}"))
        val written = dirBytes(root) - before
        // same answer either way
        val got = spark.table(s"gp.db.$t").filter(col("id") === n / 2)
          .head().getLong(1)
        require(got == -1L, s"update lost: $got")
        require(spark.table(s"gp.db.$t").count() == n)
        println(f"$n%12d $mode%-14s $sec%10.3f $written%14d")
      }
    }
  }

  /** Measures the SPJ SKEW-SPLITTING payoff (SCALE.md §round-15): a
    * storage-partitioned join whose fact side has one HOT partition value
    * (many files) against a small keyed dim —
    *
    *  - partially-clustered OFF: Spark's grouping coalesces the hot key's
    *    packs into ONE task; the join's wall-clock is that straggler;
    *  - partially-clustered ON (`spark.sql.sources.v2.bucketing
    *    .partiallyClusteredDistribution.enabled`): the packs stay separate
    *    tasks and the dim side replicates — the hot value's work spreads
    *    across the cluster.
    *
    * Both runs produce the identical result (asserted) and both stay
    * exchange-free below the join; the gap is purely straggler vs spread. */
  private def spjSkew(spark: SparkSession, args: Seq[String]): Unit = {
    val hotRows = args.headOption.map(_.toLong).getOrElse(4000000L)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_profile_spjskew_wh"
    QuerySupport.rmrf(wh)
    spark.conf.set("spark.sql.catalog.gs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gs.db")
    spark.sql("CREATE TABLE gs.db.f (id BIGINT, grp STRING, v BIGINT) " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('graft.stats.columns' = 'id')")
    // HOT key: hotRows rows landing as ~nFiles files in one hive slot;
    // 7 cold keys with a sliver each
    spark.range(0, hotRows).repartition(nFiles)
      .selectExpr("id", "'hot' AS grp", "id AS v")
      .createOrReplaceTempView("hot_src")
    spark.sql("INSERT INTO gs.db.f SELECT * FROM hot_src")
    spark.sql("INSERT INTO gs.db.f SELECT id, concat('c', id % 7), id " +
      s"FROM range(${hotRows}, ${hotRows + 7000})")
    spark.sql("CREATE TABLE gs.db.d (grp STRING, w BIGINT) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO gs.db.d SELECT 'hot', 3 UNION ALL " +
      "SELECT concat('c', id), id FROM range(0, 7)")
    // split the hot slot's files into one pack each
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    def run(mode: String): (Long, Double, Int) = {
      val j = spark.sql(
        "SELECT /*+ MERGE(a) */ a.grp AS grp, a.v AS v, b.w AS w " +
          "FROM gs.db.f a JOIN gs.db.d b ON a.grp = b.grp")
      val agg = j.groupBy().agg(count(lit(1)), sum(col("v") + col("w")))
      val (r, sec) = time(s"spj-skew partiallyClustered=$mode")(agg.collect().head)
      val plan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      require(plan.contains("SortMergeJoin") &&
        !plan.split("SortMergeJoin").last.contains("Exchange"),
        s"join must stay exchange-free below the SMJ:\n${plan.take(1500)}")
      (r.getLong(0), sec, j.queryExecution.toRdd.getNumPartitions)
    }
    def best(mode: String): (Long, Double, Int) = {
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", mode)
      run(mode) // warm
      (1 to passes).map(_ => run(mode)).minBy(_._2)
    }
    val off = best("false")
    val on = best("true")
    require(off._1 == on._1, s"row counts diverged: ${off._1} vs ${on._1}")
    println(f"[spjskew] hotRows=$hotRows files=$nFiles rows=${off._1} " +
      f"grouped(OFF)=${off._2}%.3f s/${off._3} tasks " +
      f"split(ON)=${on._2}%.3f s/${on._3} tasks speedup=${off._2 / on._2}%.2fx")
  }
}
