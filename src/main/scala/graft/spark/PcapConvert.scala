package graft.spark

import org.apache.spark.sql.SparkSession

import graft.pcapio.PcapFramer

/** CLI parity with the reference converter
  * (`pcap-converter -f in.pcap -o out.parquet [-n] [-j N] [-v]`,
  * reference src/main.rs:22-43): pcap/pcapng → dissect → optional defrag →
  * Parquet (zstd by default — measured wall-time parity at half the
  * bytes; `-c snappy` restores the reference's output codec).
  */
object PcapConvert {

  final case class Args(
      file: String = "",
      out: String = "",
      nodefrag: Boolean = false,
      jobs: Int = 0, // -j: total decode tasks; 0 = defaultParallelism
      verbose: Boolean = false,
      debug: Boolean = false,
      singleFile: Boolean = true,
      referenceCompat: Boolean = false,
      /** `-m`: after the write, index the output with a
        * [[graft.sources.ConvertManifest]] — per-part-file frame_time
        * zone maps + ip_src/ip_dst blooms, so the canonical "slice one
        * attack window / one source" downstream queries prune part
        * files ([[graft.sources.ConvertManifest.slice]]). Opt-in: two
        * extra aggregate jobs over the output (round 15, verdict #6). */
      manifest: Boolean = false,
      /** Parquet codec for the output. Default zstd: measured on the 10M
        * packet corpus (graft.tools.BenchCodec, interleaved rounds — a
        * sequential sweep hands the wall-time 'win' to whichever codec
        * runs last) all four codecs CONVERT at the same wall time
        * (4.3–4.5 s, within noise; the codec CPU amortizes across the
        * cores) while zstd writes 39 MB vs snappy's 83 MB — half the
        * write I/O and half of every downstream scan, the axis that
        * matters at 100 TB, for free. `-c snappy` restores byte-level
        * reference-output parity (statswriter.rs:36-40). */
      compression: String = "zstd")

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], a: Args): Args = rest match {
      case "-f" :: v :: t            => loop(t, a.copy(file = v))
      case "--file" :: v :: t        => loop(t, a.copy(file = v))
      case "-o" :: v :: t            => loop(t, a.copy(out = v))
      case "--out" :: v :: t         => loop(t, a.copy(out = v))
      case ("-n" | "--nodefrag") :: t => loop(t, a.copy(nodefrag = true))
      case "-j" :: v :: t            => loop(t, a.copy(jobs = v.toInt))
      case ("-v" | "--verbose") :: t => loop(t, a.copy(verbose = true))
      case ("-d" | "--debug") :: t   => loop(t, a.copy(debug = true))
      case "--multi-file" :: t       => loop(t, a.copy(singleFile = false))
      case ("-m" | "--manifest") :: t => loop(t, a.copy(manifest = true))
      case ("-c" | "--compression") :: v :: t =>
        loop(t, a.copy(compression = v))
      case "--reference-compat" :: t => loop(t, a.copy(referenceCompat = true))
      case Nil                       => a
      case x :: _ => throw new IllegalArgumentException(s"unknown arg: $x")
    }
    val a = loop(argv.toList, Args())
    require(a.file.nonEmpty && a.out.nonEmpty, "usage: -f <in.pcap> -o <out.parquet>")
    // fail a typo'd codec in milliseconds, not after hours of parse +
    // defrag compute on a big capture (Spark's ParquetOptions would
    // otherwise throw only when the write finally starts). Only codecs
    // the BUNDLED runtime can actually write (ADVICE r9): parquet also
    // names lzo/brotli, but stock Spark carries no native lib / codec
    // jar for them, so those would pass the guard in milliseconds and
    // still die when the write starts — after exactly the compute the
    // guard exists to protect.
    val codecs = Set("none", "uncompressed", "snappy", "gzip", "lz4",
      "lz4_raw", "zstd")
    require(codecs.contains(a.compression.toLowerCase(java.util.Locale.ROOT)),
      s"unknown or unbundled --compression '${a.compression}' " +
        s"(one of: ${codecs.toSeq.sorted.mkString(", ")})")
    a
  }

  /** Driver-side fragmentation probe (round 13, the speculative
    * single-pass convert): frame + L3-dissect up to `maxFrames` of the
    * FIRST capture file and return the fragmented percentage of the
    * sample. ~60 ms at the 200k default — cheap enough to run before
    * every convert. A prefix sample can of course misread a capture
    * whose fragments come later; the speculation it feeds is validated
    * against EXACT whole-corpus counts after the write, so a misread
    * only costs a wasted pass, never a wrong result.
    */
  def sampleFragPct(spark: SparkSession, fileOrGlob: String,
      mode: PcapFramer.Mode, maxFrames: Int = 200000): Double = {
    val hconf = spark.sessionState.newHadoopConf()
    val files = graft.sources.PcapFileEnum.list(Seq(fileOrGlob), hconf)
    if (files.isEmpty) return 0.0
    val path = new org.apache.hadoop.fs.Path(files.head)
    val in = path.getFileSystem(hconf).open(path)
    try {
      val frames = PcapFramer.frames(in, mode)
      val acc = new graft.dissect.DissectAcc
      var total = 0L
      var frag = 0L
      while (frames.hasNext && total < maxFrames) {
        graft.dissect.PacketDissector.dissectInto(acc, frames.next(),
          walkV6 = mode != PcapFramer.ReferenceCompat,
          level = graft.dissect.DissectLevel.L3)
        val o = acc.ipFragOffset
        if (o > 0 || (o == 0 && acc.ipMf)) frag += 1L
        total += 1L
      }
      if (total == 0) 0.0 else 100.0 * frag / total
    } finally in.close()
  }

  /** Stride shards per capture file for the DSv2 scan: `jobs` (at 0, the
    * session's defaultParallelism) spread over the files `glob` lists,
    * capped at 1024. When there are fewer files than cores, each file is
    * stride-sharded so dissection AND the parquet encode both use the
    * whole machine (per-file tasks left a 32-core box writing on 8).
    */
  def shards(spark: SparkSession, glob: String, jobs: Int = 0): Int = {
    val nFiles = math.max(1, graft.sources.PcapFileEnum
      .list(Seq(glob), spark.sessionState.newHadoopConf()).size)
    val want = if (jobs > 0) jobs else spark.sparkContext.defaultParallelism
    math.max(1, math.min(1024, math.ceil(want.toDouble / nFiles).toInt))
  }

  /** One convert, one decision tree (reference src/main.rs:268-301):
    *   - `-n`: write the plain scan;
    *   - speculative single pass: the prefix sample reads < 0.2%
    *     fragmented, so the exact stats ride the output write and are
    *     validated after it;
    *   - otherwise the fused stats pass ([[Defrag.statsAndBuild]]), then
    *     skip defrag (< 1%), write the broadcast patch, or — when the
    *     distinct datagram keys overflow
    *     [[Defrag.MaxBroadcastFirstFragments]] — spill the first
    *     fragments and write the shuffle join.
    * Every leaf writes through [[PcapColumnarWrite]] (vectors straight
    * into parquet; a row-shaped join output re-batches).
    */
  def run(spark: SparkSession, a: Args): Unit = {
    if (a.debug) spark.sparkContext.setLogLevel("DEBUG")
    val mode: PcapFramer.Mode =
      if (a.referenceCompat) PcapFramer.ReferenceCompat else PcapFramer.Sane
    val m = PcapSource.metrics(spark)
    val metricsKey = java.util.UUID.randomUUID().toString
    PcapSource.registerMetrics(metricsKey, m)
    val nShards = shards(spark, a.file, a.jobs)
    def scan(extra: (String, String)*): org.apache.spark.sql.DataFrame = {
      val r = spark.read.format("pcap")
        .option("mode", if (a.referenceCompat) "reference-compat" else "sane")
        .option("decodePartitions", nShards)
      extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(a.file)
    }
    // re-parsed per pass, never cached: re-reading the capture through
    // the dissector beats round-tripping rows through block storage
    // (round 8), and it is the only strategy a 100 TB capture can take
    val pcap = scan("metricsKey" -> metricsKey)
    def write(df: org.apache.spark.sql.DataFrame,
        order: Option[Seq[String]] = None,
        fragCounters: Option[(org.apache.spark.util.LongAccumulator,
          org.apache.spark.util.LongAccumulator)] = None): Unit = {
      PcapColumnarWrite.write(df, a.out, a.compression,
        singleFile = a.singleFile, rebatch = true, outputOrder = order,
        fragCounters = fragCounters)
      ()
    }
    // live progress (reference parity, src/statswriter.rs:64-68): the
    // accumulators tick as tasks finish, so a long 100 TB conversion shows
    // a running count instead of one number at the end
    val progress =
      if (!a.verbose) None
      else Some {
        val th = new Thread(() => {
          try {
            while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(2000)
              System.err.println(
                s"Packets: ${m.packets.value} Errors: ${m.errors.value}")
            }
          } catch { case _: InterruptedException => () }
        }, "pcap-progress")
        th.setDaemon(true)
        th.start()
        th
      }
    // The speculative single pass (round 13): most real captures sit
    // under the 1% defrag threshold, so when a ~60 ms prefix sample reads
    // < 0.2% fragmented, the plain output is written with the exact
    // (total, fragmented) counts riding the write as accumulators — one
    // read of the corpus. True when the exact count confirms the skip. A
    // misread (fragments beyond the sampled prefix) deletes the output,
    // rolls both progress counters back so the rewrite counts once
    // (reference parity: one number per convert) and returns false — one
    // wasted pass, never a wrong result. The sample threshold sits 5×
    // under the decision threshold, so only genuinely skewed captures
    // (unfragmented head, fragmented tail) mispredict.
    def speculated(): Boolean = sampleFragPct(spark, a.file, mode) < 0.2 && {
      val accTotal = spark.sparkContext.longAccumulator("spec_total")
      val accFrag = spark.sparkContext.longAccumulator("spec_frag")
      val errsBefore = m.errors.value
      write(pcap, fragCounters = Some((accTotal, accFrag)))
      val total = accTotal.value
      val pctExact =
        if (total == 0) 0.0
        else math.round(100.0 * accFrag.value / total).toDouble
      pctExact < 1.0 || {
        val p = new org.apache.hadoop.fs.Path(a.out)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        m.packets.add(-total)
        m.errors.add(errsBefore - m.errors.value)
        false
      }
    }
    // first-fragment spill for the shuffle leaf: a sibling of the output
    // so it rides the same FS; deleted after the write
    val ffSpill = new org.apache.hadoop.fs.Path(a.out + ".ffspill")
    try {
      if (a.nodefrag) write(pcap)
      else if (!speculated()) {
        // the fused stats pass (round 16): one job counts (total,
        // fragmented) in the readers, pushes the first-fragment filter
        // into the gated scan and collects the patch map
        val statsKey = java.util.UUID.randomUUID().toString
        val sm = PcapSource.statsMetrics(spark)
        PcapSource.registerMetrics(statsKey, sm)
        val fused =
          try Defrag.statsAndBuild(
            scan("_internal.dissectGate" -> "first-fragment",
              "metricsKey" -> statsKey),
            sm, Defrag.MaxBroadcastFirstFragments)
          finally PcapSource.unregisterMetrics(statsKey)
        if (fused.pct < 1.0) write(pcap) // defrag skip (main.rs:277)
        else fused.map match {
          case Some(map) =>
            // broadcast patch (round 13): each reader patches its
            // accumulator from the map before the vectors fill — scan →
            // vector write with no join node; the writer's permutation
            // restores the reference's patched-at-end column order
            val bc = spark.sparkContext.broadcast(map)
            val pk = java.util.UUID.randomUUID().toString
            graft.sources.DefragPatch.register(pk, bc)
            try {
              val patched = scan("metricsKey" -> metricsKey,
                "defragPatchKey" -> pk)
              write(patched,
                order = Some(Defrag.defraggedOrder(patched.columns.toSeq)))
            } finally {
              graft.sources.DefragPatch.unregister(pk)
              bc.destroy()
            }
          case None =>
            // > ceiling DISTINCT keys: the shuffle join needs a
            // distributed ff side — spill it now (one extra gated pass;
            // collecting past the ceiling is exactly what buildCapped
            // exists to refuse)
            Defrag.firstFragments(
              scan("_internal.dissectGate" -> "first-fragment"))
              .write.mode("overwrite").option("compression", "zstd")
              .parquet(ffSpill.toString)
            write(Defrag.defragWith(pcap,
              spark.read.parquet(ffSpill.toString), broadcastFF = false))
        }
      }
    } finally {
      progress.foreach(_.interrupt())
      PcapSource.unregisterMetrics(metricsKey)
      if (!a.nodefrag)
        try {
          ffSpill.getFileSystem(spark.sessionState.newHadoopConf())
            .delete(ffSpill, true)
          ()
        } catch { case _: java.io.IOException => () }
    }
    if (a.manifest) {
      val n = graft.sources.ConvertManifest.build(spark, a.out)
      if (a.verbose) System.err.println(s"Manifest: $n files indexed")
    }
    if (a.verbose)
      System.err.println(
        s"Packets: ${m.packets.value} Errors: ${m.errors.value}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val builder = SparkSession.builder()
      .appName("pcap-convert")
      .config("spark.sql.session.timeZone", "UTC")
    // default to local mode when not launched via spark-submit
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER"))
      builder.master("local[*]").config("spark.sql.shuffle.partitions", "32")
    val spark = builder.getOrCreate()
    try run(spark, a)
    finally spark.stop()
  }
}
