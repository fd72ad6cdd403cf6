package graft

import java.nio.file.{Files, Paths}

/** `graft.Profile`: the scenario table that replaced the one-off dev mains,
  * its failure on an unknown name, the `explain` plan-file contract the
  * `plans/rN/` evidence relies on, and the scaled-corpus cache key. */
class ProfileSpec extends SparkSpec {

  // every dev main the scenario table replaced, and the scenario it became
  private val replaced = Map(
    "ProfileAggPushdown" -> "agg-pushdown",
    "ProfileChangeFeed" -> "change-feed",
    "ProfileClusters" -> "clusters",
    "ProfileCommitLog" -> "commit-log",
    "ProfileContainment" -> "containment",
    "ProfileDeletionVectors" -> "deletion-vectors",
    "ProfileDeltaDml" -> "delta-dml",
    "ProfileDsir" -> "dsir",
    "ProfileEvoRead" -> "evo-read",
    "ProfileGraph" -> "graph",
    "ProfileLexical" -> "lexical",
    "ProfileMatview" -> "matview",
    "ProfileMinhash" -> "minhash",
    "ProfileSkew" -> "skew",
    "ProfileSpjSkew" -> "spj-skew",
    "ProfileVersioned" -> "versioned",
    "ProfileWriteOrder" -> "write-order",
    "io.ProfileFooterGather" -> "footer-gather",
    "Probe" -> "probe",
    "PlanDump" -> "explain",
    "ScaleBench" -> "scale")

  test("profile: every replaced dev main maps to exactly one scenario") {
    assert(replaced.size == 21)
    assert(Profile.scenarios.keySet == replaced.values.toSet)
  }

  test("profile: an unknown scenario fails and lists the scenario names") {
    val e = intercept[IllegalArgumentException](Profile.run(spark, "no-such", Nil))
    assert(e.getMessage.contains("no-such"))
    Profile.scenarios.keys.foreach(n => assert(e.getMessage.contains(n), n))
  }

  test("profile: explain writes <outDir>/<query>_<suffix>.txt with the formatted plan") {
    val out = TestSpark.tmpDir("graft_profile_explain")
    Profile.run(spark, "explain", Seq(TestSpark.sf, out, "before", "silver_to_gold"))
    val plan = Files.readString(Paths.get(out, "silver_to_gold_before.txt"))
    assert(plan.contains("Physical Plan"), plan.take(300))
  }

  test("profile: the scaled corpus is cached per source dir, not per k alone") {
    // both fixtures hold 500 documents, so the corpus is also checked by
    // content: replica 0 is the source's own documents, events double the
    // source's own event count, and the other tables link into the source
    Seq(TestSpark.sf, "/root/testdata/sf0.01").foreach { sfDir =>
      val scaled = Profile.ensureScaledCorpus(spark, sfDir, 2)
      def rd(dir: String, table: String) = spark.read.parquet(s"$dir/$table.parquet")
      val docs = rd(sfDir, "documents").select("doc_id", "text")
      assert(rd(scaled, "documents").count() == 2 * docs.count(), sfDir)
      assert(docs.except(rd(scaled, "documents").select("doc_id", "text")).isEmpty, sfDir)
      assert(rd(scaled, "events").count() == 2 * rd(sfDir, "events").count(), sfDir)
      assert(Files.readSymbolicLink(Paths.get(scaled, "orders.parquet")) ==
        Paths.get(sfDir, "orders.parquet"), sfDir)
    }
  }
}
