package graft.tools

/** Plan evidence for the IVF pair-scoring stage (round 18, VERDICT r17
  * item 7): the d11/d15/d15b committed query plans hide the pair stage
  * behind the component-resolution RDD boundary, so the round-17 d15b
  * dumps could not show the size-routed rewrite. This probe dumps the
  * `Similarity.ivfCosinePairs` output plan DIRECTLY — the frame whose plan
  * IS the pair-scoring stage — on both corpus shapes and BOTH routes
  * (`spark.graft.similarity.pairJoinFloor` flipped at runtime), and runs
  * each to the noop sink so the dump corresponds to a green execution.
  *
  *   sbt "Test/runMain graft.tools.PairPlanProbe [plansDir]"
  */
object PairPlanProbe {
  def main(args: Array[String]): Unit = {
    val plansDir = args.headOption.getOrElse("plans/r18")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus, graft.Harness.extraConf)
    graft.Tables.ensure(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))

    def dump(name: String, floor: String, nlist: Int): Unit = {
      spark.conf.set("spark.graft.similarity.pairJoinFloor", floor)
      val pairs = graft.operators.Similarity.ivfCosinePairs(
        spark.table("embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlist = nlist)
      val t0 = System.nanoTime()
      pairs.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = pairs.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(plansDir, s"$name.txt"),
        plan.getBytes("UTF-8"))
      println(f"[pairplan] $name%-46s $sec%7.3f s  (floor=$floor nlist=$nlist)")
      System.out.flush()
      graft.operators.Dedup.releaseSketchCaches()
    }

    // d11/d15 production shape (quantized, nlist = sqrt(n) default) and the
    // d15b exact-reference arm (nlist = 1 — every row in ONE list, the
    // single-enormous-key case). Default floor (16384) routes the sf0.1
    // corpus to the broadcast-pinned pair JOIN; floor=0 forces the blocked
    // grid — the route the native-sf1 lane takes (total*nprobe > 16384).
    dump("d11_pairstage_join_route", "16384", nlist = 0)
    dump("d11_pairstage_blocked_route", "0", nlist = 0)
    dump("d15b_exact_arm_pairstage_join_route", "16384", nlist = 1)
    dump("d15b_exact_arm_pairstage_blocked_route", "0", nlist = 1)
    spark.stop()
  }
}
