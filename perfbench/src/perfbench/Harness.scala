package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.PcapConvert

/** The in-process half of the benchmark: one JVM, `local[cpus]`, one
  * closed-loop client. `gen` writes the seeded corpus; `run` sets up
  * three times, runs the timed loop and checks every op's output, or in
  * traced mode converts cold through the CLI's `main` first and then
  * times each layer from outside through its public functions. Writes
  * `harness.json` into the work dir; `run.py` adds the DuckDB checks.
  *
  * usage: Harness gen <workload> <seed> <work dir> <packets>
  *        Harness run <workload> <seed> <work dir> <packets> <seconds>
  *          <trace 0|1> [corrupt]
  */
object Harness {

  final case class Opts(workload: String, seed: Long, work: Path,
      packets: Long, seconds: Double = 0, trace: Boolean = false,
      corrupt: Boolean = false)

  val Workloads = Seq("convert_ddos", "convert_tcp")
  val TcpFiles = 8

  def main(argv: Array[String]): Unit = {
    val base = Opts(argv(1), argv(2).toLong, Paths.get(argv(3)).toAbsolutePath,
      argv(4).toLong)
    require(Workloads.contains(base.workload), s"unknown workload ${base.workload}")
    Files.createDirectories(base.work)
    argv(0) match {
      case "gen" => new Harness(base).generate()
      case "run" =>
        new Harness(base.copy(seconds = argv(5).toDouble, trace = argv(6) == "1",
          corrupt = argv.length > 7 && argv(7) == "corrupt")).run()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Rows as sorted `|`-joined text, NULL for null — the form run.py
    * builds from DuckDB, so the two engines' results compare as text. */
  def canonical(df: DataFrame): String =
    df.collect().map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)
      .mkString("|")).sorted.mkString("\n")
}

final class Harness(o: Harness.Opts) {
  import Harness._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val corpusDir = o.work.resolve("corpus")
  private val outDir = o.work.resolve("out")
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var spark: SparkSession = _
  private var listener: Listener = _
  private val tracer = new Tracer

  private val ddosMix = o.workload == "convert_ddos"
  private val input: Path =
    if (ddosMix) corpusDir.resolve("ddos").resolve("capture.pcap")
    else corpusDir.resolve("tcp")
  private val output = outDir.resolve("table.parquet")
  private val cliOut = outDir.resolve("cli.parquet")
  private lazy val truth: Gen.Truth = corpus(write = false)

  private def fail(msg: String): Unit = { failed += 1; errors += msg; () }

  // ---- corpus ---------------------------------------------------------------

  /** Writes the capture(s) unless the stored truth names the same mix,
    * size and seed (with `write = false`, only recounts the truth).
    * Runs in its own process, before the timed one starts. */
  private def corpus(write: Boolean): Gen.Truth = {
    val mix = if (ddosMix) "ddos" else "tcp"
    val dir = corpusDir.resolve(mix)
    val truthFile = corpusDir.resolve(s"$mix.truth.json")
    val want = s""""mix":"$mix","packets":${o.packets},"seed":${o.seed},"""
    val stale = write && !(Files.exists(truthFile) &&
      new String(Files.readAllBytes(truthFile), "UTF-8").contains(want))
    if (stale) { deleteTree(dir); Files.createDirectories(dir) }
    val t =
      if (ddosMix) Gen.ddos(dir.resolve("capture.pcap"), o.packets, o.seed, stale)
      else Gen.tcpFiles(dir, o.packets, TcpFiles, o.seed, stale)
    if (stale)
      Files.write(truthFile, (t.toJson + "\n").getBytes("UTF-8"))
    t
  }

  /** `gen`: the corpus, and the 1k-packet capture of the fixed-cost CLI
    * run. */
  def generate(): Unit = {
    corpus(write = true)
    Gen.ddos(o.work.resolve("tiny.pcap"), 1000, o.seed)
    ()
  }

  // ---- session --------------------------------------------------------------

  /** The convert CLI's own session shape (PcapConvert.main): local mode on
    * every core, 32 shuffle partitions, UTC; scratch inside the work dir. */
  private def newSession(): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def withListener(traced: Boolean): Unit = {
    if (listener != null) spark.sparkContext.removeSparkListener(listener)
    listener = new Listener(if (traced) Some(tracer) else None, Thread.currentThread)
    spark.sparkContext.addSparkListener(listener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  // ---- convert op -----------------------------------------------------------

  /** Removes what a previous convert left: the output, its ff spill and
    * the capture's FrameIndex sidecars, so every op pays the full path. */
  private def clean(out: Path): Unit = {
    deleteTree(out)
    deleteTree(Paths.get(out.toString + ".ffspill"))
    val dataDir = if (Files.isDirectory(input)) input else input.getParent
    deleteTree(dataDir.resolve(".fidx"))
  }

  private def convertArgs(out: Path, nodefrag: Boolean = false) =
    PcapConvert.Args(file = input.toString, out = out.toString,
      singleFile = false, nodefrag = nodefrag)

  /** One timed convert (cleanup untimed), seconds. */
  private def convertOnce(out: Path, nodefrag: Boolean = false): Double = {
    clean(out)
    listener.reset()
    val t0 = System.nanoTime()
    PcapConvert.run(spark, convertArgs(out, nodefrag))
    val s = (System.nanoTime() - t0) / 1e9
    drain()
    s
  }

  private def partFiles(out: Path): Seq[Path] =
    Files.list(out).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq

  /** Checks one convert's output against the truth: the Packets/Errors
    * accumulators, the row count and the per-column / per-protocol
    * aggregates. Returns the failure, if any. */
  private def checkConvert(out: Path, accums: Boolean = true): Option[String] = {
    if (o.corrupt) partFiles(out).headOption.foreach(Files.delete)
    val t = truth
    val packets = listener.accum("pcap_packets")
    val errors = listener.accum("pcap_dissect_errors")
    if (accums && packets != t.packets) return Some(s"Packets: $packets != ${t.packets}")
    if (accums && errors != t.errors) return Some(s"Errors: $errors != ${t.errors}")
    val df = spark.read.parquet(out.toString)
    val cols = t.nonNull.keys.toSeq.sorted
    val protos = t.protocols.keys.toSeq.sorted
    val row = df.agg(count(lit(1)),
      (cols.map(c => count(col(c))) ++
        protos.map(p => count(when(col("col_protocol") === p, 1)))): _*)
      .head()
    val got = (0 until row.size).map(row.getLong)
    val want = Seq(t.packets) ++ cols.map(t.nonNull) ++ protos.map(t.protocols)
    if (got != want)
      Some(s"aggregates ${(Seq("rows") ++ cols ++ protos).zip(got).mkString(",")} " +
        s"!= truth ${want.mkString(",")}")
    else None
  }

  private def outBytes(out: Path): Long =
    partFiles(out).map(Files.size).sum

  // ---- analysis queries (traced runs) ---------------------------------------

  /** The analysis window: a seeded tenth of the capture's time span. */
  private lazy val window: (Long, Long) = {
    val span = truth.tsMaxMicros - truth.tsMinMicros
    val lo = truth.tsMinMicros + span * (o.seed.abs % 90) / 100
    (lo, lo + span / 10)
  }

  /** DDoS-Dissector-style questions over the convert's output, each with
    * its DuckDB twin in run.py (same name, same canonical rows). */
  private def queries: Seq[(String, () => DataFrame)] = {
    val dir = output.toString
    def t = spark.read.parquet(dir)
    val (lo, hi) = window
    def windowAgg(df: DataFrame) =
      df.agg(count(lit(1)), sum("frame_len"), countDistinct("ip_src"))
    Seq(
      "proto_mix" -> (() => t.groupBy("col_protocol")
        .agg(count(lit(1)), sum("frame_len"))),
      "top_sources" -> (() => t.groupBy("ip_src")
        .agg(count(lit(1)).as("n"), sum("frame_len"))
        .orderBy(desc("n"), asc("ip_src")).limit(10)),
      "dns_amplifiers" -> (() => t.filter(col("dns_qry_name").isNotNull)
        .groupBy("dns_qry_name", "udp_srcport").agg(count(lit(1)))),
      "ntp_reqcodes" -> (() => t.filter(col("ntp_priv_reqcode").isNotNull)
        .groupBy("ntp_priv_reqcode").agg(count(lit(1)))),
      "per_second_rate" -> (() => t
        .groupBy(floor(unix_micros(col("frame_time")) / 1000000L).as("s"))
        .agg(count(lit(1)), sum("frame_len"))),
      "window_slice_pruned" -> (() => windowAgg(graft.sources.ConvertManifest
        .slice(spark, dir, Some(lo), Some(hi)))),
      "window_slice_full" -> (() => windowAgg(t
        .filter(unix_micros(col("frame_time")) >= lo &&
          unix_micros(col("frame_time")) <= hi))))
  }

  private val expected = mutable.Map.empty[String, String]

  /** One timed query (cache cleared first, untimed), seconds. The first
    * result of each query is written for run.py's DuckDB check; every
    * later result must hash the same. */
  private def queryOnce(name: String, q: () => DataFrame): (Double, Boolean) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val rows = canonical(q())
    val s = (System.nanoTime() - t0) / 1e9
    val h = sha256(rows)
    val ok = expected.get(name) match {
      case None =>
        expected(name) = h
        val rd = o.work.resolve("results")
        Files.createDirectories(rd)
        Files.write(rd.resolve(s"$name.txt"), rows.getBytes("UTF-8"))
        true
      case Some(e) => e == h
    }
    (s, ok)
  }

  /** A pass over every query, the report an analyst runs on a capture.
    * Returns the per-query times. */
  private def pass(): Seq[(String, Double)] = {
    val r = queries.map { case (n, q) =>
      val (s, ok) = tracer.span(n, "queries")(queryOnce(n, q))
      (n, s, ok)
    }
    r.filterNot(_._3).map(_._1).toList match {
      case Nil => ()
      case bad => fail(s"${bad.mkString(",")}: result hash changed")
    }
    r.map { case (n, s, _) => n -> s }
  }

  // ---- phases ---------------------------------------------------------------

  /** One set-up: a fresh SparkSession and two discarded warm-up ops. */
  private def setupOnce(): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = newSession()
    withListener(traced = false)
    (1 to 2).foreach(_ => convertOnce(output))
    (System.nanoTime() - t0) / 1e9
  }

  /** The CLI as a user runs it, as the first act of this fresh JVM:
    * `PcapConvert.main` with the CLI defaults and multi-file output.
    * Returns (seconds from JVM start to main's return, seconds inside
    * main). */
  private def coldCli(): (Double, Double) = {
    clean(cliOut)
    val argv = Seq("-f", input.toString, "-o", cliOut.toString, "--multi-file")
    val t0 = System.nanoTime()
    PcapConvert.main(argv.toArray)
    val inMain = (System.nanoTime() - t0) / 1e9
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ((System.currentTimeMillis() - jvmStart) / 1e3, inMain)
  }

  /** Heap still live after a full collection: what the cold CLI and a
    * set-up left behind (registries, broadcasts, caches, Spark's status
    * store), not transient garbage. */
  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  /** The closed loop: converts back to back until `seconds` elapse and
    * at least `minOps` ran; seconds per op. The first `warmup` ops run
    * and are checked before the clock starts, and are not returned. */
  private def loop(seconds: Double, traced: Boolean, minOps: Int = 3,
      warmup: Int = 0): Seq[Double] = {
    withListener(traced)
    val times = mutable.ArrayBuffer.empty[Double]
    var deadline = Long.MaxValue
    while (times.size < minOps + warmup || System.nanoTime() < deadline) {
      if (times.size == warmup) deadline = System.nanoTime() + (seconds * 1e9).toLong
      attempted += 1
      clean(output)
      listener.reset()
      val t0 = System.nanoTime()
      if (traced)
        tracer.span("convert", "spark.PcapConvert", "op")(
          PcapConvert.run(spark, convertArgs(output)))
      else PcapConvert.run(spark, convertArgs(output))
      times += (System.nanoTime() - t0) / 1e9
      drain()
      checkConvert(output).foreach(fail)
    }
    times.toSeq.drop(warmup)
  }

  private val t0 = System.nanoTime()
  private def phase(name: String): Unit =
    notes += f"$name at ${(System.nanoTime() - t0) / 1e9}%.1f s"

  def run(): Unit = {
    val t = truth
    if (!o.trace) {
      // three set-ups in this fresh JVM; the first also pays class
      // loading and the JIT's first compiles. The converts of a new
      // session stay slow for about four ops, so the last session runs
      // two more before the clock starts.
      val setups = (1 to 3).map(_ => setupOnce())
      phase("setups")
      attempted += 1
      checkConvert(output).foreach(m => fail(s"setup convert: $m"))
      val ts = loop(o.seconds, traced = false, warmup = 2)
      phase("loop")
      notes += "setup_s " + setups.map(x => f"$x%.3f").mkString(" ")
      notes += "op_s " + ts.map(x => f"$x%.3f").mkString(" ")
      metrics("setup_s") = median(setups)
      metrics("op_s_p50") = median(ts)
      metrics("out_bytes_per_pkt") = outBytes(output).toDouble / t.packets
      metrics("ops") = ts.size.toDouble
    } else {
      val (cliS, cliMain) = coldCli()
      phase("cold cli")
      metrics("spark.cli_s") = cliS
      // the live heap is read after a fixed number of converts, so it
      // does not grow with a faster loop, and before a second set-up,
      // whose converts re-warm the heap the full GC shrank (the first
      // convert after it ran 40% slow)
      setupOnce()
      metrics("spark.live_heap_mb") = liveHeapMb()
      attempted += 1
      checkConvert(cliOut, accums = false).foreach(m => fail(s"cli convert: $m"))
      setupOnce()
      phase("setups")
      attempted += 1
      checkConvert(output).foreach(m => fail(s"setup convert: $m"))
      traced(cliMain)
      // the -n convert run.py's defrag differential compares the cold
      // CLI's output with
      if (o.workload == "convert_ddos")
        convertOnce(outDir.resolve("nodefrag.parquet"), nodefrag = true)
    }

    spark.stop()
    val json = new StringBuilder
    json ++= "{\"attempted\":" + attempted + ",\"failed\":" + failed
    json ++= ",\"truth\":" + t.toJson
    json ++= f",\"window_us\":[${window._1},${window._2}]"
    json ++= ",\"cpus\":" + cpus
    json ++= ",\"max_heap_b\":" + Runtime.getRuntime.maxMemory
    json ++= ",\"metrics\":" + metrics.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    }.mkString("{", ",", "}")
    def strs(xs: Seq[String]) = xs.map(n => "\"" + n.replace("\\", "\\\\")
      .replace("\"", "\\\"").replace("\n", " ") + "\"").mkString("[", ",", "]")
    json ++= ",\"notes\":" + strs(notes.toSeq) + ",\"errors\":" + strs(errors.toSeq)
    json ++= "}\n"
    Files.write(o.work.resolve("harness.json"), json.toString.getBytes("UTF-8"))
    if (o.trace) tracer.dump(o.work.resolve("spans.json"))
  }

  // ---- traced run: the layer ladder -----------------------------------------

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Median of 3 timings after one discarded run: a ladder step's plan
    * shape is new to the JIT the first time it runs. */
  private def med3(body: => Unit): Double = {
    body
    median((1 to 3).map(_ => timeIt(body)))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def scan(extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("pcap").option("mode", "sane")
      .option("decodePartitions", graft.BenchEnv.pcapShards(spark, input.toString))
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(input.toString)
  }

  private def captureFiles: Seq[Path] =
    if (Files.isDirectory(input))
      Files.list(input).iterator().asScala.filter(_.toString.endsWith(".pcap")).toSeq.sorted
    else Seq(input)

  private def calibrate(): Double = {
    def work(): Unit = spark.range(1L << 26).selectExpr("sum(id % 1048573)").collect(): Unit
    work()
    med3(work())
  }

  private def loadavg1(): Double = try {
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+")(0).toDouble
  } catch { case _: Exception => -1.0 }

  private def traced(cliMain: Double): Unit = {
    import graft.pcapio.PcapFramer
    import graft.dissect.{DissectAcc, DissectLevel, PacketDissector}
    val n = truth.packets.toDouble
    metrics("env.cpus") = cpus
    metrics("env.loadavg1") = loadavg1()
    val calStart = calibrate()

    // untraced vs traced loops over half the run's seconds: the tracing
    // overhead, and the op spans. Untraced and traced ops run in ABBA
    // order, so warm-up and drift fall on both sides of the ratio alike
    val quarter = o.seconds / 8
    val plain1 = loop(quarter, traced = false, minOps = 1)
    val withTrace = loop(quarter, traced = true, minOps = 1) ++
      loop(quarter, traced = true, minOps = 1)
    val plain = plain1 ++ loop(quarter, traced = false, minOps = 1)
    withListener(traced = true)
    metrics("trace.overhead_ratio") = median(withTrace) / median(plain)

    // pcapio: single-thread framing of an in-memory image
    val images = captureFiles.map(f => Files.readAllBytes(f))
    def frameAll(): Unit = images.foreach { b =>
      val f = PcapFramer.frames(b, PcapFramer.Sane)
      while (f.hasNext) f.next()
    }
    metrics("pcapio.frame_pkt_per_s_1t") = n / med3(frameAll())
    val frames = images.flatMap(b => PcapFramer.frames(b, PcapFramer.Sane).toSeq).toArray
    val acc = new DissectAcc
    def dissectAll(level: Int): Unit = {
      var i = 0
      while (i < frames.length) {
        PacketDissector.dissectInto(acc, frames(i), level = level); i += 1
      }
    }
    metrics("dissect.l3_pkt_per_s_1t") = n / med3(dissectAll(DissectLevel.L3))
    metrics("dissect.full_pkt_per_s_1t") = n / med3(dissectAll(DissectLevel.Full))

    val dataDir = if (Files.isDirectory(input)) input else input.getParent
    metrics("spark.sample_s") = med3(PcapConvert.sampleFragPct(spark, input.toString, PcapFramer.Sane))

    // the fused defrag stats job, split by the listener's stage spans
    val statsTimes = (1 to 3).map { _ =>
      val sm = graft.spark.PcapSource.statsMetrics(spark)
      val key = java.util.UUID.randomUUID().toString
      graft.spark.PcapSource.registerMetrics(key, sm)
      val t0 = tracer.nowMs
      val r = try tracer.span("Defrag.statsAndBuild", "spark.Defrag", "op")(
        graft.spark.Defrag.statsAndBuild(
          scan(Map("_internal.dissectGate" -> "first-fragment", "metricsKey" -> key)),
          sm, graft.spark.Defrag.MaxBroadcastFirstFragments))
      finally graft.spark.PcapSource.unregisterMetrics(key)
      drain()
      (tracer.spans.filter(s => s.kind == "op" && s.start >= t0).last, r)
    }
    val statsOps = statsTimes.map { case (op, _) =>
      val tree = tracer.tree(op.id, listener.jobOfStage)
      val jobs = tree.filter(_.kind == "job")
      val stages = tree.filter(_.kind == "stage")
      val w = listener.work(jobs.map(_.name.stripPrefix("job ").toInt).toSet)
      val lastStage = if (stages.isEmpty) op.start else stages.map(_.end).max
      (op.dur / 1e3, stages.filter(_.module == "map").map(_.dur).sum / 1e3,
        stages.filter(_.module == "result").map(_.dur).sum / 1e3,
        (op.end - lastStage) / 1e3, w.shuffleWriteB / 1e6)
    }
    metrics("spark.stats_job_s") = median(statsOps.map(_._1))
    metrics("spark.stats_scan_s") = median(statsOps.map(_._2))
    metrics("spark.stats_exchange_s") = median(statsOps.map(_._3))
    metrics("spark.stats_collect_s") = median(statsOps.map(_._4))
    metrics("spark.stats_shuffle_mb") = median(statsOps.map(_._5))
    val fused = statsTimes.last._2

    // the convert's final scan: patched (fragmented) or plain
    val patch = fused.map.filter(_ => fused.pct >= 1.0).map { map =>
      val bc = spark.sparkContext.broadcast(map)
      val pk = java.util.UUID.randomUUID().toString
      graft.sources.DefragPatch.register(pk, bc)
      val bos = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(map); oos.close()
      (pk, bc, bos.size)
    }
    metrics("sources.patch_keys") = if (patch.isDefined) fused.ffKeys.toDouble else 0
    metrics("sources.patch_map_mb") = patch.map(_._3 / 1e6).getOrElse(0.0)
    val finalScan = patch.map(p => scan(Map("defragPatchKey" -> p._1))).getOrElse(scan())
    val order = patch.map(_ => graft.spark.Defrag.defraggedOrder(finalScan.columns.toSeq))
    val writeOut = outDir.resolve("ladder.parquet")

    // the scan ladder, each step into a noop sink (sidecar present), run
    // in interleaved rounds so warm-up and drift fall on every step
    // alike; the first round is discarded
    val l3Cols = Seq("frame_time", "ip_src", "ip_dst", "ip_proto", "ip_id",
      "ip_frag_offset", "ip_mf")
    val steps: Seq[(String, () => Unit)] = Seq(
      "frame" -> (() => noop(scan().select())),
      "l3" -> (() => noop(scan().select(l3Cols.map(col): _*))),
      "full" -> (() => noop(scan())),
      "final" -> (() => noop(finalScan)),
      "write" -> (() => {
        deleteTree(writeOut)
        graft.spark.PcapColumnarWrite.write(finalScan, writeOut.toString, "zstd",
          rebatch = true, outputOrder = order): Unit
      }))
    val rounds = (0 to 3).map(_ => steps.map { case (n, f) => n -> timeIt(f()) }.toMap).drop(1)
    def step(n: String) = median(rounds.map(_(n)))
    metrics("pcapio.scan_frame_s") = step("frame")
    metrics("dissect.scan_l3_s") = step("l3")
    metrics("dissect.scan_full_s") = step("full")
    metrics("sources.patch_probe_s") =
      if (patch.isDefined) median(rounds.map(r => r("final") - r("full"))) else 0
    metrics("spark.write_s") = median(rounds.map(r => r("write") - r("final")))
    patch.foreach { case (pk, bc, _) =>
      graft.sources.DefragPatch.unregister(pk); bc.destroy()
    }
    deleteTree(writeOut)
    metrics("pcapio.sidecar_build_s") = median((1 to 3).map { _ =>
      deleteTree(dataDir.resolve(".fidx"))
      val absent = timeIt(noop(scan().select()))
      absent - timeIt(noop(scan().select()))
    })

    // one convert under TaskRecords.measureWork: the repeatable counts
    val (_, work) = graft.tools.TaskRecords.measureWork(spark) {
      clean(output)
      PcapConvert.run(spark, convertArgs(output))
    }
    metrics("spark.tasks_per_convert") = work.tasks.toDouble
    metrics("spark.records_per_convert") = work.records.toDouble
    metrics("spark.shuffle_mb_per_convert") = (work.shuffleReadB + work.shuffleWriteB) / 1e6
    metrics("dissect.errors") = listener.accum("pcap_dissect_errors").toDouble

    // the traced convert: jobs, task totals, driver self time, self-time sum
    tracer.span("convert", "spark.PcapConvert", "op") {
      clean(output); listener.reset()
      PcapConvert.run(spark, convertArgs(output))
    }
    drain()
    val op = tracer.spans.filter(_.kind == "op").last
    val tree = tracer.tree(op.id, listener.jobOfStage)
    val self = tracer.selfTimes(tree)
    val jobs = tree.filter(_.kind == "job")
    val w = listener.work(jobs.map(_.name.stripPrefix("job ").toInt).toSet)
    val wallS = op.dur / 1e3
    metrics("spark.jit_ramp_s") = cliMain - wallS
    metrics("spark.jobs_per_convert") = jobs.size.toDouble
    metrics("spark.task_cpu_s") = w.cpuNs / 1e9
    metrics("spark.core_idle_share") = 1.0 - w.runMs / 1e3 / (wallS * cpus)
    metrics("spark.driver_self_s") = self(op.id) / 1e3
    metrics("spark.gc_s") = w.gcMs / 1e3
    metrics("spark.spill_mb") = w.spillB / 1e6
    metrics("spark.peak_exec_mem_mb") = w.peakExecB / 1e6
    metrics("trace.self_sum_minus_wall_s") = (self.values.sum - op.dur) / 1e3
    jobs.groupBy(_.module).foreach { case (m, js) =>
      notes += f"convert job module $m: ${js.size} jobs, self ${js.map(j => self(j.id)).sum / 1e3}%.3f s"
    }
    checkConvert(output).foreach(fail)

    // ConvertManifest over the convert's output
    metrics("sources.manifest_build_s") =
      med3(graft.sources.ConvertManifest.build(spark, output.toString): Unit)
    val (lo, hi) = window
    val kept = graft.sources.ConvertManifest.prunedFiles(spark, output.toString,
      Some(lo), Some(hi)).map(_.size).getOrElse(0)
    metrics("sources.manifest_files_kept_share") = kept.toDouble / partFiles(output).size

    // reads of the output: per-query medians over 3 passes after 2
    // warm-up passes; the first results are checked by run.py with DuckDB
    val perQuery = (1 to 5).flatMap { i =>
      val p = pass()
      if (i > 2) p else Nil
    }
    perQuery.groupBy(_._1).foreach { case (q, ts) =>
      metrics(s"analyze.${q}_s") = median(ts.map(_._2))
    }
    metrics("env.calibration_s") = (calStart + calibrate()) / 2
    metrics("ops") = (plain.size + withTrace.size).toDouble
  }
}
