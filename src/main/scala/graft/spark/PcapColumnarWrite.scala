package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.column.impl.ColumnWriteStoreV1
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vector-direct parquet writer for the pcap convert path (round 10,
  * verdict #4's "one measured attempt"): the DSv2 scan already emits
  * `ColumnarBatch`es, but Spark's FileFormatWriter accepts rows only —
  * so the default write pays ColumnarToRow + per-row record assembly
  * (ParquetWriteSupport walks every field of every row through a
  * RecordConsumer). This sink feeds the batch VECTORS straight into
  * parquet-mr's column writers (`ColumnWriteStoreV1` over a
  * `ColumnChunkPageWriteStore`): one virtual call per VALUE on a
  * type-resolved writer loop per column, no InternalRow, no record
  * assembly.
  *
  * Scope (deliberate): the flat 31-column packet schema, local/Hadoop
  * paths, one file per scan partition, snappy/zstd/gzip/lz4/uncompressed.
  * Timestamps are written as INT64 TIMESTAMP(MICROS, UTC-adjusted)
  * rather than Spark's legacy INT96 — every reader in the gate (Spark,
  * DuckDB) reads both as the same µs instant, and the µs long is what
  * the vector already holds.
  *
  * Plan shapes (round 11): when the plan below the write is still
  * columnar (the nodefrag / defrag-skip convert shapes) the vectors
  * feed straight through. A row-shaped plan (the defrag join's output —
  * the reference's own 90%-fragmented headline workload) REFUSES by
  * default, but with `rebatch = true` it is wrapped in Spark's
  * [[org.apache.spark.sql.execution.RowToColumnarExec]]: rows transpose
  * into fresh ColumnVectors once (cheap primitive-array appends), and
  * the write still skips ColumnarToRow + per-row record assembly
  * (ParquetWriteSupport's RecordConsumer walk). Honest magnitude —
  * INTERLEAVED A/B only (round 11, same stride-sharded read both
  * arms): rebatch+vector ~15% ahead of the row writer on the
  * 10M broadcast branch (3.21 vs 3.70 s median) and ahead on the 100M
  * shuffle-bypass branch too. Sequential BenchPcap arms are NOT a
  * writer A/B at these sizes: they read 2.1× one session and 0.8× the
  * next on identical code (ordering/JIT/GC drift), and mis-read
  * rebatch both ways this round before the interleaved tool settled it.
  *
  * Commit protocol: each task writes a dot-prefixed temp file (readers
  * and `*.parquet` globs skip dot-files) and renames it into place only
  * after the footer is written; on failure the stream is closed and
  * only the temp file is deleted — a late-failing zombie attempt can
  * never clobber a concurrent successful attempt's finished file, and
  * a rename that loses the race to an identical speculative twin
  * quietly drops its own temp. Still not a general-purpose committer
  * (no job-level commit protocol); the convert CLI is a single-attempt
  * local batch job, which is exactly the contract the reference's own
  * writer has (pcap-converter writes local files, main.rs:22-43).
  */
object PcapColumnarWrite {

  /** parquet MessageType mirroring how Spark maps [[PacketSchema]]'s
    * Catalyst types (INT(16) annotation for shorts, STRING for strings)
    * except the timestamp (INT64 micros, above).
    */
  private[spark] def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
        case LongType => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case ShortType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(PrimitiveTypeName.BINARY)
        case other => throw new IllegalArgumentException(
          s"PcapColumnarWrite: unsupported column type $other for ${f.name}")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** The columnar child of `df`'s executed plan, or None when the plan
    * is row-shaped anywhere below the top (then the standard writer is
    * the right path — converting rows BACK to vectors would pay the
    * transposition this sink exists to skip).
    */
  private def columnarChild(df: DataFrame): Option[SparkPlan] = {
    def unwrap(p: SparkPlan): Option[SparkPlan] = p match {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => unwrap(c.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case other => if (other.supportsColumnar) Some(other) else None
    }
    unwrap(df.queryExecution.executedPlan)
  }

  /** Write `df` as parquet at `out` through the vector path; false when
    * the plan is not columnar end-to-end (caller falls back to the
    * standard writer) — unless `rebatch` is set, which re-batches a
    * row-shaped plan's output through [[RowToColumnarExec]] so the
    * defrag-join shape rides the vector write too (see class doc).
    * Row-group target mirrors Spark's 128 MiB.
    * `singleFile` funnels every batch through ONE task via an RDD-level
    * coalesce — no shuffle, batches stay columnar — so the CLI's default
    * single-file output rides the vector path too (a DataFrame-level
    * coalesce(1) would plan a row-shaped CoalesceExec instead).
    */
  /** `outputOrder` (round 13): write the parquet columns in this name
    * order instead of the frame's — a WRITER-side permutation, so a
    * column reorder (the defragged patched-at-end layout) costs nothing
    * in the PLAN (a `select` reorder over the columnar scan would plan
    * a Project → ColumnarToRow → the very rebatch the broadcast-patch
    * path exists to avoid). Must be a permutation of the frame's
    * columns.
    */
  /** `fragCounters` (round 13, the speculative single-pass convert):
    * (total, fragmented) LongAccumulators the write tasks feed per
    * batch from the ip_frag_offset/ip_mf vectors — the defrag stats
    * ride the OUTPUT write instead of their own pass, so an
    * unfragmented capture converts in one read. Requires both columns
    * in the frame.
    */
  def write(df: DataFrame, out: String, compression: String,
      rowGroupBytes: Long = 128L * 1024 * 1024,
      singleFile: Boolean = false,
      rebatch: Boolean = false,
      outputOrder: Option[Seq[String]] = None,
      fragCounters: Option[(org.apache.spark.util.LongAccumulator,
        org.apache.spark.util.LongAccumulator)] = None): Boolean = {
    val plan = columnarChild(df) match {
      case Some(p) => p
      case None if rebatch =>
        org.apache.spark.sql.execution.RowToColumnarExec(
          df.queryExecution.executedPlan)
      case None => return false
    }
    val frameSchema = df.schema
    val (schema, perm) = outputOrder match {
      case None => (frameSchema, frameSchema.indices.toArray)
      case Some(order) =>
        require(order.sorted == frameSchema.fieldNames.toSeq.sorted,
          s"outputOrder must permute the frame's columns; got $order " +
            s"over ${frameSchema.fieldNames.mkString(",")}")
        (StructType(order.map(n => frameSchema(n))),
          order.map(frameSchema.fieldIndex).toArray)
    }
    val codec = compression.toLowerCase(java.util.Locale.ROOT) match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "snappy" => CompressionCodecName.SNAPPY
      case "gzip" => CompressionCodecName.GZIP
      case "lz4" | "lz4_raw" => CompressionCodecName.LZ4_RAW
      case "zstd" => CompressionCodecName.ZSTD
      case other => throw new IllegalArgumentException(
        s"PcapColumnarWrite: unsupported codec $other")
    }
    val spark = df.sparkSession
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val outDir = new Path(out)
    val fs = outDir.getFileSystem(serConf.value)
    if (fs.exists(outDir)) fs.delete(outDir, true) // overwrite semantics
    fs.mkdirs(outDir)
    val schemaB = spark.sparkContext.broadcast(schema.json)
    val rdd0 = plan.executeColumnar()
    val rdd = if (singleFile) rdd0.coalesce(1) else rdd0
    // frag-stats ordinals resolved in the PERMUTED schema (what the
    // tasks see); fail fast if the columns were projected away
    val fragOrds = fragCounters.map { _ =>
      (schema.fieldIndex("ip_frag_offset"), schema.fieldIndex("ip_mf"))
    }
    rdd.foreachPartition { (it: Iterator[ColumnarBatch]) =>
      val sc = DataType.fromJson(schemaB.value).asInstanceOf[StructType]
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val file = new Path(outDir,
        f"part-$pid%05d-vec.${codec.name.toLowerCase}.parquet")
      val observer: ColumnarBatch => Unit = (fragCounters, fragOrds) match {
        case (Some((total, frag)), Some((offOrd, mfOrd))) => batch => {
          val n = batch.numRows()
          // the batch columns are in FRAME order; map through perm
          val off = batch.column(perm(offOrd))
          val mf = batch.column(perm(mfOrd))
          var fragN = 0L
          var r = 0
          while (r < n) {
            // fragmentedCond: (offset = 0 AND mf) OR offset > 0; both
            // columns are non-null vectors (PacketSchema defaults)
            val o = off.getInt(r)
            if (o > 0 || (o == 0 && mf.getBoolean(r))) fragN += 1L
            r += 1
          }
          total.add(n.toLong)
          frag.add(fragN)
        }
        case _ => _ => ()
      }
      writePartition(it, sc, perm, file, serConf.value, codec, rowGroupBytes,
        observer)
    }
    // SUCCESS marker for parity with the standard committer's layout
    fs.create(new Path(outDir, "_SUCCESS"), true).close()
    true
  }

  private def writePartition(it: Iterator[ColumnarBatch], schema: StructType,
      perm: Array[Int],
      file: Path, conf: Configuration, codec: CompressionCodecName,
      rowGroupBytes: Long,
      observer: ColumnarBatch => Unit = _ => ()): Unit = {
    val msg = messageType(schema)
    val props = ParquetProperties.builder().build()
    val fs = file.getFileSystem(conf)
    // temp+rename commit: the dot prefix hides the in-progress file from
    // parquet globs and the task-attempt id keeps a zombie/speculative
    // twin's temp from colliding with a live attempt's
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(file.getParent, s".${file.getName}.a$attempt.inprogress")
    val writer = new ParquetFileWriter(conf, msg, tmp,
      ParquetFileWriter.Mode.OVERWRITE)
    var codecFactory: CodecFactory = null
    var ok = false
    try {
      writer.start()
      codecFactory = new CodecFactory(conf, props.getPageSizeThreshold)
      val compressor = codecFactory.getCompressor(codec)
      var store: ColumnChunkPageWriteStore = null
      var cws: ColumnWriteStoreV1 = null
      var groupRows = 0L
      def openGroup(): Unit = {
        store = new ColumnChunkPageWriteStore(compressor, msg,
          props.getAllocator, props.getColumnIndexTruncateLength)
        cws = new ColumnWriteStoreV1(msg, store, props)
        groupRows = 0L
      }
      def closeGroup(): Unit =
        if (groupRows > 0) {
          writer.startBlock(groupRows)
          cws.flush()
          store.flushToFileWriter(writer)
          writer.endBlock()
          cws.close()
          store.close()
        } else if (cws != null) {
          // a rollover that lands exactly on the last batch leaves a
          // freshly opened EMPTY group: no block to write, but the
          // store's page buffers still need releasing (review finding —
          // a per-task allocator leak otherwise)
          cws.close()
          store.close()
        }
      openGroup()
      val descs = msg.getColumns
      while (it.hasNext) {
        val batch = it.next()
        val n = batch.numRows()
        if (n > 0) {
          observer(batch)
          var c = 0
          while (c < schema.length) {
            val cw = cws.getColumnWriter(descs.get(c))
            val v = batch.column(perm(c)) // writer-side column permutation
            val dt = schema.fields(c).dataType
            var r = 0
            dt match {
              case TimestampType | LongType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else cw.write(v.getLong(r), 0, 1)
                  r += 1
                }
              case IntegerType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else cw.write(v.getInt(r), 0, 1)
                  r += 1
                }
              case ShortType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else cw.write(v.getShort(r).toInt, 0, 1)
                  r += 1
                }
              case BooleanType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else cw.write(v.getBoolean(r), 0, 1)
                  r += 1
                }
              case StringType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else {
                    // unconditional copy: the dictionary encoder RETAINS
                    // Binary references across rows, and getBytes may
                    // alias the vector's shared buffer when the string
                    // spans it exactly — a reused batch would then
                    // corrupt retained dictionary entries silently
                    val u = v.getUTF8String(r)
                    val len = u.numBytes()
                    val arr = new Array[Byte](len)
                    org.apache.spark.unsafe.Platform.copyMemory(
                      u.getBaseObject, u.getBaseOffset, arr,
                      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
                    cw.write(Binary.fromConstantByteArray(arr), 0, 1)
                  }
                  r += 1
                }
              case BinaryType =>
                while (r < n) {
                  if (v.isNullAt(r)) cw.writeNull(0, 0)
                  else cw.write(Binary.fromConstantByteArray(v.getBinary(r)), 0, 1)
                  r += 1
                }
              case other => throw new IllegalStateException(
                s"unreachable: $other passed messageType")
            }
            c += 1
          }
          var k = 0
          while (k < n) { cws.endRecord(); k += 1 }
          groupRows += n
          if (cws.getBufferedSize > rowGroupBytes) {
            closeGroup(); openGroup()
          }
        }
      }
      closeGroup()
      // footer ONLY on success: ending the file in a finally block would
      // stamp a valid footer over whatever groups survived a mid-write
      // failure — a silently short file any *.parquet glob reads as good
      // data (review finding); a footer-write failure would additionally
      // mask the root cause
      writer.end(new java.util.HashMap[String, String]())
      ok = true
    } finally {
      if (codecFactory != null) codecFactory.release()
      if (!ok) {
        // close the underlying output stream (end() never ran), then
        // delete ONLY the temp file — never anything at the final name;
        // swallow secondary errors so the ORIGINAL exception propagates
        try writer.close() catch { case _: Throwable => () }
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
      }
    }
    // commit: reached only on success (an exception above propagates
    // past this point after the finally's temp cleanup)
    if (!fs.rename(tmp, file)) {
      if (fs.exists(file)) {
        // lost the race to a concurrent successful attempt of the same
        // partition — its bytes are identical ONLY because write()
        // clears the out dir before launching tasks (line ~144), so any
        // occupant is a twin of this attempt. That invariant is
        // load-bearing: assert it (byte length match) so a future
        // caller reusing a dirty dir fails loudly instead of silently
        // keeping stale data (review finding). Note RawLocalFileSystem's
        // rename(2) OVERWRITES, so this branch is FS-dependent and may
        // never run on local disks.
        val kept = fs.getFileStatus(file).getLen
        val ours = fs.getFileStatus(tmp).getLen
        if (kept != ours)
          throw new java.io.IOException(
            s"PcapColumnarWrite: $file already exists with ${kept}B but " +
              s"this attempt wrote ${ours}B — the occupant is NOT a twin " +
              "of this partition (out dir reused without clearing?)")
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
      } else {
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
        throw new java.io.IOException(
          s"PcapColumnarWrite: commit rename $tmp -> $file failed")
      }
    }
  }
}
