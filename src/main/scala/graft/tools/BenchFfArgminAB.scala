package graft.tools

/** Order-alternating interleaved pair A/B of the FUSED defrag stats job
  * only: MinStructAgg (ObjectHashAggregate) vs declarative min(struct)
  * (SortAggregate) — the round-16 argmin decision pair a fixed arm
  * order could never read cleanly (the arm that always runs LAST in a
  * round is systematically flattered by decaying external load).
  * Rounds alternate (A,B) / (B,A).
  *
  * Usage: `runMain graft.tools.BenchFfArgminAB [fileGlob] [rounds]`.
  */
object BenchFfArgminAB {
  def main(args: Array[String]): Unit = {
    val dir = graft.BenchEnv.pcapCorpusDir()
    val glob = args.headOption.getOrElse(s"$dir/*.pcap")
    val rounds = if (args.length > 1) args(1).toInt else 6
    val spark = graft.BenchEnv.abSession()
    val shards = graft.BenchEnv.pcapShards(spark, glob)
    def run(sortAggMin: Boolean): Double = {
      val key = java.util.UUID.randomUUID().toString
      val sm = graft.spark.PcapSource.statsMetrics(spark)
      graft.spark.PcapSource.registerMetrics(key, sm)
      // round 17: the ff site defaults to the declarative form, so the
      // MinStructAgg arm now FORCES it via graft.agg.ffMinStruct
      if (!sortAggMin) sys.props("graft.agg.ffMinStruct") = "1"
      try {
        val scan = spark.read.format("pcap").option("decodePartitions", shards)
          .option("_internal.dissectGate", "first-fragment")
          .option("metricsKey", key).load(glob)
        val t0 = System.nanoTime()
        val fused = graft.spark.Defrag.statsAndBuild(scan, sm, Long.MaxValue)
        require(fused.ffKeys > 0 || fused.pct == 0.0, "fused stats empty")
        (System.nanoTime() - t0) / 1e9
      } finally {
        graft.spark.PcapSource.unregisterMetrics(key)
        sys.props.remove("graft.agg.ffMinStruct"); ()
      }
    }
    run(false); run(true) // JIT warmup, one per arm, discarded
    val a = collection.mutable.ArrayBuffer[Double]() // MinStructAgg
    val b = collection.mutable.ArrayBuffer[Double]() // declarative
    (1 to rounds).foreach { r =>
      if (r % 2 == 1) { a += run(false); b += run(true) }
      else { b += run(true); a += run(false) }
      System.err.println(f"[ff-argmin-ab] round $r: minstruct ${a.last}%.2f s, " +
        f"declarative ${b.last}%.2f s" + (if (r % 2 == 1) " (A first)" else " (B first)"))
    }
    val (ab2, am) = graft.BenchEnv.bestMedian(a.toArray)
    val (bb, bm) = graft.BenchEnv.bestMedian(b.toArray)
    System.err.println(f"[ff-argmin-ab] minstruct best $ab2%.2f s median $am%.2f s; " +
      f"declarative best $bb%.2f s median $bm%.2f s")
    println(f"""{"metric":"ff_argmin_ab","minstruct_best_s":$ab2%.3f,"minstruct_median_s":$am%.3f,"declarative_best_s":$bb%.3f,"declarative_median_s":$bm%.3f,"glob":"$glob"}""")
    spark.stop()
  }
}
