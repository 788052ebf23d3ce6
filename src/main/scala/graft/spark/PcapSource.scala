package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.core.{PacketSchema, RawFrame}
import graft.dissect.PacketDissector
import graft.pcapio.PcapFramer

/** pcap/pcapng → packet-table DataFrame source.
  *
  * Execution model (SURVEY §4.3, mirroring the reference's
  * reader-thread → channel → j-worker pipeline, reference src/main.rs:84-146):
  * pcap files have no sync markers, so each file is framed by exactly one
  * task via a streaming iterator ([[graft.pcapio.PcapFramer]] never holds
  * more than one block in memory — no 2 GiB `binaryFiles.toArray` ceiling).
  * Parallelism comes from (1) many files → many tasks, and (2) optionally
  * decoupling framing from dissection: `decodePartitions > 0` repartitions
  * the cheap raw frames before the expensive dissect stage — the Spark
  * translation of the reference's bounded channel + worker pool
  * (reference src/main.rs:102,119). For the common many-files case leave it
  * at 0: per-file pipelining already saturates the cluster and avoids a
  * shuffle of the raw bytes.
  */
object PcapSource {

  /** Per-job metric accumulators (reference's `Packets: N Errors: M`
    * progress counter, src/statswriter.rs:62-68). `fragmented` (round
    * 16, the fused stats pass) is normally null — when set, readers
    * additionally count rows matching the reference's fragmented-packet
    * predicate (src/main.rs:274) AT THE SCAN, for every frame whether or
    * not a pushed filter later vetoes it. That is what lets the fused
    * stats job push the first-fragment filter into the scan instead of
    * planning an observe barrier below it: the (total, fragmented)
    * counts no longer depend on every row surviving to the plan's
    * CollectMetrics node.
    */
  final case class Metrics(packets: LongAccumulator, errors: LongAccumulator,
      fragmented: LongAccumulator = null)

  def metrics(spark: SparkSession): Metrics = Metrics(
    spark.sparkContext.longAccumulator("pcap_packets"),
    spark.sparkContext.longAccumulator("pcap_dissect_errors"))

  /** Metrics for a fused stats scan: separate accumulators (never the
    * CLI's progress counters — the stats job would double-count) with
    * the fragmented counter armed.
    */
  def statsMetrics(spark: SparkSession): Metrics = Metrics(
    spark.sparkContext.longAccumulator("pcap_stats_total"),
    spark.sparkContext.longAccumulator("pcap_stats_errors"),
    spark.sparkContext.longAccumulator("pcap_stats_fragmented"))

  /** Driver-side metrics registry for the DSv2 path: DataSource options
    * are strings, so [[PcapConvert]] registers its accumulators here and
    * passes the key as the `metricsKey` option; the scan resolves it at
    * planReaderFactory time (on the driver) and the accumulators then
    * serialize into the task closures like any other.
    */
  private val metricsRegistry =
    scala.collection.concurrent.TrieMap.empty[String, Metrics]

  def registerMetrics(key: String, m: Metrics): Unit = {
    metricsRegistry.put(key, m); ()
  }

  def metricsFor(key: String): Option[Metrics] = metricsRegistry.get(key)

  def unregisterMetrics(key: String): Unit = {
    metricsRegistry.remove(key); ()
  }

  /** Read one or many pcap/pcapng files into the 31-column packet table.
    *
    * @param path file, directory, or Hadoop glob (`*.pcap` under a dir)
    * @param mode framer fidelity mode (SURVEY §2.1 quirk policy)
    * @param decodePartitions if > 0, shuffle raw frames to this many
    *        partitions before dissection (single-huge-file parallelism)
    */
  def read(
      spark: SparkSession,
      path: String,
      mode: PcapFramer.Mode = PcapFramer.Sane,
      decodePartitions: Int = 0,
      metrics: Option[Metrics] = None): DataFrame = {
    val m = metrics.getOrElse(this.metrics(spark))
    val files = spark.sparkContext.binaryFiles(path)
    val frames = files.flatMap { case (name, stream) =>
      val base = basename(name)
      val in = stream.open()
      // close at task end, not GC: the framer has no close hook and an
      // early-terminating consumer (limit) abandons the iterator mid-file
      // — at millions of capture files per executor the leaked
      // descriptors would hit the fd rlimit before the finalizer runs
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: java.io.IOException => () }))
      PcapFramer.frames(in, mode).map(f => (base, f))
    }
    val staged =
      if (decodePartitions > 0) frames.repartition(decodePartitions)
      else frames
    val rows = staged.mapPartitions { it =>
      // intern the per-file UTF8String once per partition run; one reused
      // dissection accumulator per partition (allocation-lean hot path)
      var lastBase: String = null
      var lastUtf8: org.apache.spark.unsafe.types.UTF8String = null
      val a = new graft.dissect.DissectAcc
      it.map { case (base: String, f: RawFrame) =>
        if (base ne lastBase) {
          lastBase = base
          lastUtf8 = org.apache.spark.unsafe.types.UTF8String.fromString(base)
        }
        val row = PacketDissector.dissectToInternal(a, f, lastUtf8,
          walkV6 = mode == PcapFramer.Sane)
        m.packets.add(1L)
        if (a.errors > 0) m.errors.add(a.errors.toLong)
        row
      }
    }
    org.apache.spark.sql.GraftSqlBridge
      .internalCreateDataFrame(spark, rows, PacketSchema.schema)
  }

  /** basename of a Hadoop path/URI (reference: src/statscollector.rs:21-27). */
  def basename(path: String): String = {
    val cut = path.lastIndexOf('/')
    if (cut < 0) path else path.substring(cut + 1)
  }
}
