package graft
object Bench {
  /** What one measured pass contributes, as a pure decision (unit-tested
    * in BenchSpec): `record` — the pass enters best/passesDone (a
    * fixture-CONTAMINATED pass with a clean pass still to come is
    * discarded: it measured one-time construction, not the query, and
    * must not read as a completed measurement); `onePass` — no further
    * passes wanted (fast path: first pass under `fastS`; heavy path:
    * first CLEAN pass at or above `heavyS`); `fastPath` — the row also
    * skips the per-query GC.
    */
  final case class PassOutcome(record: Boolean, onePass: Boolean, fastPath: Boolean)
  private[graft] def classifyPass(pass: Int, runs: Int, sec: Double,
      builtFixture: Boolean, fastS: Double, heavyS: Double): PassOutcome = {
    val fastHit = pass == 1 && sec < fastS
    val record = fastHit || !(builtFixture && pass < math.max(runs, 1))
    val heavyHit = pass == 1 && sec >= heavyS && !builtFixture
    PassOutcome(record, fastHit || heavyHit, fastHit)
  }

  /** The rotation's round index — `max(N over BENCH_rN.json) + 1`, i.e. the
    * round about to be measured. Keyed to the round NUMBERS, not the file
    * count: the committed ledger already has a gap (r07 never landed), and
    * under a count key any round that fails to commit its bench file
    * silently re-measures the same fixture-tier half forever after,
    * starving the other half. Parity from the true round number
    * self-heals across gaps. Zero files → round 1.
    */
  private[graft] def rotationRoundIdx(fileNames: Seq[String]): Int = {
    val re = "BENCH_r0*(\\d+)\\.json".r
    val rounds = fileNames.collect { case re(n) => n.toInt }
    if (rounds.isEmpty) 1 else rounds.max + 1
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // Soft wall-clock budget: once exceeded, stop starting new runs and emit
    // what we have. Keeps the harness parseable under an external timeout.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1000").toDouble
    val spark = GraftSession()
    // Full materialization via the noop sink: every row is produced and
    // serialized, nothing is collected to the driver, and Catalyst cannot
    // prune the query down to a metadata scan the way .count() allows.
    //
    // Each query runs `runs` times and reports its minimum: the first pass
    // doubles as JIT/codegen warmup (one-shot cold runs measure interpreted
    // execution of freshly generated code, not the engine), and the min is
    // robust against transient host contention during any single pass.
    // Dev-only subset filter (the driver never sets it): comma-separated
    // query names, for idle re-measurement of individual queries with the
    // exact bench methodology (warmup, noop sink, min-of-passes, GC).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // STREAM-FAMILY ROTATION (registry-growth control #2, NOISE_BASELINE
    // r15): the 24 stream_* rows are cold checkpointed pipelines whose
    // per-round cost is fixture construction, not engine throughput
    // (stream_matview alone is 11-14 s of elapsed) — and unlike the
    // fast/heavy tiers there is nothing left to shave per row. Each round
    // measures a deterministic HALF of the family (alternating by the
    // round number about to be measured — [[rotationRoundIdx]] parses it
    // from the committed BENCH_r*.json ledger, gap-tolerant), so every
    // streaming row is benched at least every other
    // round while the family's elapsed share halves. Correctness is
    // unaffected: Verify runs EVERY row every round. SPARK_GRAFT_BENCH_ONLY
    // bypasses rotation (solo re-measurement must always work), as does
    // SPARK_GRAFT_BENCH_ROTATE=off.
    val rotate = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROTATE", "on") == "on" &&
      only.isEmpty
    val roundIdx = rotationRoundIdx(
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .map(_.getName).toSeq)
    val streamFam = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    // VERSIONED-FIXTURE ROTATION (registry-growth control #3, r16): the
    // ~90 `versioned_*` rows are the other cold-fixture tier — each
    // builds its own sf-scale table(s) once per bench run, and that
    // construction (not the measured query, which the fast path already
    // bounds at one sub-second pass) became the dominant elapsed growth
    // term as the S17 surface expanded. Same policy as the stream family:
    // a deterministic alternating HALF per round, so every versioned row
    // is benched at least every other round, while Verify still runs
    // EVERY row every round (correctness coverage unchanged).
    val versionedFam = SparkEntry.queries.keys.filter(_.startsWith("versioned_"))
      .toSeq.sorted
    val rotatedOut: Set[String] =
      if (!rotate) Set.empty
      else (streamFam ++ versionedFam).distinct.sorted.zipWithIndex.collect {
        case (n, i) if i % 2 != roundIdx % 2 => n }.toSet
    if (rotatedOut.nonEmpty)
      System.err.println(s"[bench] fixture-tier rotation (round index $roundIdx): " +
        s"skipping ${rotatedOut.size}/${streamFam.size + versionedFam.size} " +
        s"stream/versioned rows this round: " +
        rotatedOut.toSeq.sorted.mkString(", "))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !rotatedOut.contains(n) }
    val best = scala.collection.mutable.Map[String, Double]()
    val passesDone = scala.collection.mutable.Map[String, Int]()
    val everFailed = scala.collection.mutable.Set[String]()
    // FAST PATH (registry-growth control, keeps driver elapsed bounded as
    // the query count grows): a query whose FIRST pass — which already
    // includes its codegen warmup and any fixture build — lands under
    // `fastS` is measured ONCE. Its reported number is the cold pass, an
    // upper bound off the warm min by at most ~fastS, and the absolute
    // error is bounded by the threshold itself; re-passing ~half the
    // registry to shave tenths costs more wall-clock than the precision is
    // worth. NOISE_BASELINE documents the policy.
    val fastS = sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_S", "0.4").toDouble
    // HEAVY PATH (the other end of the registry): a query whose first pass
    // lands AT OR ABOVE `heavyS` is also measured once. On seconds-class
    // rows the documented SAME-CODE pass-to-pass spread is 10-33 %
    // (NOISE_BASELINE's idle-pair ledgers) — an order of magnitude larger
    // than the one-time codegen/JIT delta a second pass would shave — so
    // min-of-2 there buys no real precision while doubling exactly the
    // rows that dominate elapsed. Mid-band rows (fastS..heavyS), where the
    // warmup delta IS comparable to the noise, keep the min-of-N
    // methodology.
    val heavyS = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_S", "2.0").toDouble
    val intendedOnePass = scala.collection.mutable.Set[String]()
    val fastOnePass = scala.collection.mutable.Set[String]()
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // The consumer of this output keeps only a bounded tail of stdout and
    // parses the LAST line as JSON, so the result is printed as TWO lines:
    // first the full per-query map (useful detail, but ~40 bytes per query —
    // with ~100 queries it outgrows any fixed capture window), then a compact
    // totals-only summary (~150 bytes, size independent of query count) whose
    // job is to always be the final, fully-captured, parseable line.
    def detailLine(): String = {
      val done = names.collect { case (n, _) if best.contains(n) => n -> best(n) }
      val qs = done.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}"""
    }
    def summaryLine(): String = {
      val done = names.collect { case (n, _) if best.contains(n) => n -> best(n) }
      val failed = names.collect { case (n, _) if everFailed(n) && !best.contains(n) => n }
      val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = done.map(_._2).sum
      // "passes" = the number of measured passes every reported query
      // actually completed (min across queries), not the configured target:
      // a budget trip that truncates a query to one cold pass must be
      // visible. Queries the fast path DELIBERATELY measured once (first
      // pass under fastS — see below) completed their intended passes, so
      // they don't read as truncation.
      val passes = if (done.isEmpty) 0
        else done.map { case (n, _) =>
          if (intendedOnePass(n)) runs else passesDone.getOrElse(n, 0)
        }.min
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${done.size},"failed":$fs,"passes":$passes,"rotated_out":${rotatedOut.size},"elapsed":$elapsed,"sf":"$sfDir"}"""
    }
    def emit(): Unit = {
      println(detailLine())
      println(summaryLine())
      System.out.flush()
    }
    // One untimed warmup heats the JVM paths every query shares (parquet
    // reader, shuffle writers, noop sink, codegen infrastructure). It is a
    // NEUTRAL query — a plain scan-and-write of one small table — not one of
    // the measured queries, so no registered query gets an extra warm
    // execution the others don't.
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .repartition(2).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    System.gc()
    // QUERY-MAJOR order: each query runs all its passes back-to-back. The
    // first pass pays that query's codegen/JIT warmup, the next ones measure
    // steady state — so when the wall-clock budget trips mid-list, every
    // query measured so far already has its warm minimum (pass-major order
    // would leave the whole tail with cold numbers instead).
    var stop = false
    names.foreach { case (name, fn) =>
      if (!stop && elapsed > budgetS) {
        System.err.println(f"[bench] budget ${budgetS}%.0f s exceeded at $elapsed%.0f s — emitting partial result")
        stop = true
      }
      if (!stop) {
        var pass = 1
        var done = false
        // a discarded (fixture-contaminated) pass, kept as a FALLBACK: if
        // the budget trips before a clean pass runs, reporting the
        // construction-contaminated number beats the query silently
        // vanishing from the report despite having run
        var contaminated = Double.NaN
        while (!done && pass <= math.max(runs, 1) && elapsed <= budgetS) {
          val s0 = System.nanoTime()
          val fxBefore = QuerySupport.Fixtures.builds.get()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - s0) / 1e9
            // a pass that BUILT a fixture measured one-time construction,
            // not the query — never report it when a clean pass will exist
            // (fast-path rows keep their number: construction under fastS
            // is within the threshold's own error bound); heavy one-pass
            // ONLY for pure-compute rows: a fixture-backed row's first
            // pass is construction-contaminated, so it keeps its second
            // (clean) pass
            val builtFixture = QuerySupport.Fixtures.builds.get() != fxBefore
            val o = classifyPass(pass, runs, sec, builtFixture, fastS, heavyS)
            if (o.record) {
              best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
              // "passes" counts only passes RECORDED into best — a
              // discarded contaminated pass must read as truncation if no
              // clean pass ever lands, not as a completed measurement
              passesDone(name) = passesDone.getOrElse(name, 0) + 1
            } else contaminated = sec
            if (o.onePass) {
              intendedOnePass += name
              if (o.fastPath) fastOnePass += name
              done = true
            }
          } catch {
            case e: Throwable =>
              everFailed += name
              System.err.println(s"[bench] $name failed: $e")
          }
          pass += 1
        }
        if (!best.contains(name) && !contaminated.isNaN) {
          best(name) = contaminated
          passesDone(name) = 1
        }
        // Driver hygiene between QUERIES: Spark's ContextCleaner reclaims
        // finished-query state (broadcasts, checkpoint RDD blocks, shuffle
        // dependencies) only after a GC processes their weak references.
        // With a large, barely-used heap GC never runs, state from hundreds
        // of executions accumulates, and identical queries degrade from
        // ~5 s to ~180 s over a run (measured; `graft.Profile minhash`
        // reproduces it). One explicit GC per QUERY (not per pass) keeps the
        // accumulation bounded at one query's state while halving the
        // ~0.2-0.4 s full-GC tax vs the per-pass form. (An every-4th-query
        // cadence was measured too: it saved ~15 s of elapsed but pushed
        // ~6 s of deferred cleanup INTO measured passes across the run —
        // a bad trade for the numbers the driver actually grades.)
        // Fast-path queries skip the GC: a sub-fastS query leaves
        // state proportional to its own (tiny) plan, so the accumulation
        // between two FULL queries stays bounded by a handful of tiny
        // plans — and the ~0.3 s GC tax on a 0.1 s row triples its
        // wall-clock share for no measured benefit. Heavy one-pass rows
        // still GC: they leave a full query's worth of state.
        if (!fastOnePass.contains(name)) System.gc()
        emit()
      }
    }
    val lastDetail = detailLine()
    val lastSummary = summaryLine()
    spark.stop()
    // Re-print the result AFTER SparkContext shutdown: even if a consumer
    // merges stdout+stderr, no Spark log line can land after these two, so
    // the last line of the combined stream is always the compact summary.
    println(lastDetail)
    println(lastSummary)
    System.out.flush()
  }
}
