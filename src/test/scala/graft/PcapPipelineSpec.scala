package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.spark.{Defrag, PcapConvert, PcapSource}
import PcapFixtures._

/** End-to-end: pcap file → PcapSource → packet table → Defrag → parquet.
  * This is the minimum end-to-end slice of SURVEY §7.
  */
class PcapPipelineSpec extends SparkFunSuite {

  private def writeTemp(name: String, bytes: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft-pcap")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p
  }

  /** A capture with 2 fragmented UDP datagrams (3 fragments each) + noise. */
  private def fragmentedCapture: Array[Byte] = {
    def firstFrag(id: Int, qname: String) = ethernet(0x0800,
      ipv4("198.51.100.1", "203.0.113.9", 17,
        udp(53, 40000 + id, dnsQuery(qname, 1)), id = id, mf = true))
    def midFrag(id: Int, off: Int, mf: Boolean) = ethernet(0x0800,
      ipv4("198.51.100.1", "203.0.113.9", 17, Array.fill[Byte](24)(0x61),
        id = id, mf = mf, fragOffset = off))
    val tcpPkt = ethernet(0x0800,
      ipv4("192.0.2.5", "203.0.113.9", 6, tcp(443, 5555, 0x12)))
    val frames = Seq(
      (1000L, firstFrag(1, "a.example.com")),
      (2000L, midFrag(1, 6, mf = true)),
      (3000L, midFrag(1, 12, mf = false)),
      (4000L, firstFrag(2, "b.example.org")),
      (5000L, midFrag(2, 6, mf = true)),
      (6000L, midFrag(2, 12, mf = false)),
      (7000L, tcpPkt))
    legacyPcap(frames.map { case (ts, p) => (ts, -1, p) })
  }

  test("pcap → DataFrame: schema, pcap_file column, row count") {
    val p = writeTemp("cap1.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString)
    assert(df.schema == graft.core.PacketSchema.schema)
    assert(df.count() == 7)
    assert(df.select("pcap_file").distinct().head().getString(0) == "cap1.pcap")
    val dns = df.filter(col("col_protocol") === "DNS").collect()
    assert(dns.length == 2)
    assert(dns.map(_.getAs[String]("dns_qry_name")).toSet ==
      Set("a.example.com", "b.example.org"))
  }

  test("fragmentedPct matches the reference's % formula (main.rs:274)") {
    val p = writeTemp("cap2.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString).cache()
    // 6 of 7 packets fragmented → round(85.7) = 86
    assert(Defrag.fragmentedPct(df) == 86.0)
    df.unpersist()
  }

  test("defrag back-fills L7 columns onto sibling fragments") {
    val p = writeTemp("cap3.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString).cache()
    val out = Defrag(df).cache()
    assert(out.count() == 7)
    // all fragments of datagram id=1 now carry the first fragment's DNS name
    val d1 = out.filter(col("ip_id") === 1).collect()
    assert(d1.length == 3)
    assert(d1.forall(_.getAs[String]("dns_qry_name") == "a.example.com"))
    // col_protocol coalesces, so the non-null "IPv4" on non-first fragments
    // survives — exactly the reference's behavior (main.rs:296)
    assert(d1.map(_.getAs[String]("col_protocol")).sorted.toSeq ==
      Seq("DNS", "IPv4", "IPv4"))
    assert(d1.forall(r => r.getAs[Int]("udp_srcport") == 53))
    // the TCP packet is untouched (left join + coalesce)
    val t = out.filter(col("ip_proto") === 6).head()
    assert(t.getAs[String]("col_protocol") == "TCP")
    assert(t.getAs[String]("tcp_flags") == "...A..S.")
    // patched columns moved to the end (reference EXCLUDE+re-append order)
    assert(out.columns.takeRight(6).toSeq == Defrag.Patched)
    df.unpersist(); out.unpersist()
  }

  test("adaptive guard broadcasts on key-collided captures (distinct keys, not ff rows)") {
    // round 12: ff after the aggregate is one row per DISTINCT datagram
    // key, so the broadcast ceiling compares against that — a capture
    // whose ip_id space wraps (the same key recurring many times) must
    // take the broadcast join even when the first-fragment ROW count
    // exceeds the ceiling. 120 first fragments over 6 distinct keys:
    // ceiling 20 sits between them.
    val frames = (0 until 120).flatMap { i =>
      val id = i % 6 // 6 distinct datagram keys, 20 ff rows each
      Seq(
        (i * 2000L, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
          udp(53, 41000, dnsQuery(s"k$id.example.org", 1)), id = id, mf = true))),
        (i * 2000L + 1, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
          Array.fill[Byte](16)(0x42), id = id, fragOffset = 5))))
    }
    val p = writeTemp("cap_guard.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    val st = Defrag.fragStats(df)
    assert(st.firstFragments == 120L)
    // HLL at 6 values is exact
    assert(st.distinctKeysEst == 6L, s"est=${st.distinctKeysEst}")
    sys.props("graft.defrag.maxBroadcastFF") = "20"
    try {
      val (_, choice) = Defrag.applyWithChoice(df)
      assert(choice == Defrag.BroadcastJoin, s"got $choice")
      // and a genuinely wide key space above the ceiling still shuffles:
      // estimate*1.25 > 20 even with HLL slack at 120 distinct keys
      val framesWide = (0 until 120).flatMap { i =>
        Seq(
          (i * 2000L, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
            udp(53, 41000, dnsQuery(s"w$i.example.org", 1)), id = i, mf = true))),
          (i * 2000L + 1, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
            Array.fill[Byte](16)(0x42), id = i, fragOffset = 5))))
      }
      val pw = writeTemp("cap_guard_wide.pcap", legacyPcap(framesWide))
      val dfw = PcapSource.read(spark, pw.toString).cache()
      val (_, choiceW) = Defrag.applyWithChoice(dfw)
      assert(choiceW == Defrag.ShuffleBypass, s"got $choiceW")
      dfw.unpersist()
    } finally sys.props.remove("graft.defrag.maxBroadcastFF")
    df.unpersist()
  }

  test("fused stats pass ≡ observe stats + spill-built patch map (round 16)") {
    import graft.sources.DefragPatch
    // the fused job counts (total, fragmented) in the READERS and pushes
    // the ff filter into the scan — it must reproduce fragStats' counts
    // over the plain scan exactly and build the identical patch map
    val p = writeTemp("cap_fused.pcap", fragmentedCapture)
    def gatedStats(path: String): (PcapSource.Metrics, org.apache.spark.sql.DataFrame) = {
      val sm = PcapSource.statsMetrics(spark)
      val key = java.util.UUID.randomUUID().toString
      PcapSource.registerMetrics(key, sm)
      (sm, spark.read.format("pcap")
        .option("_internal.dissectGate", "first-fragment")
        .option("metricsKey", key).load(path))
    }
    val (sm, gated) = gatedStats(p.toString)
    // the ff filter really lands in the scan (the whole point: non-ff
    // rows veto at L3 before any vector fills) — visible in the scan's
    // pushed-filter description
    val planStr = Defrag.firstFragments(gated)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("pushed=") && planStr.contains("ip_frag_offset"),
      s"ff filter not pushed into the fused stats scan:\n$planStr")
    val fused = Defrag.statsAndBuild(gated, sm, 4000000L)
    val plain = spark.read.format("pcap").load(p.toString)
    val st = Defrag.fragStats(plain)
    assert(fused.total == st.total && fused.pct == st.pct,
      s"fused (${fused.total}, ${fused.pct}) != fragStats (${st.total}, ${st.pct})")
    assert(fused.ffKeys == Defrag.firstFragments(plain).count())
    def entries(m: DefragPatch.PatchMap): Set[(String, String, Int, Int, Int, Int, Int, String, Int)] =
      m.ids.indices.map { i =>
        (m.strings(m.srcIdx(i)), m.strings(m.dstIdx(i)), m.ids(i),
          m.udpSrcport(i), m.udpDstport(i), m.ntpPrivReqcode(i),
          m.dnsQryType(i),
          if (m.dnsNameIdx(i) < 0) null else m.strings(m.dnsNameIdx(i)),
          m.protoIdx(i))
      }.toSet
    assert(entries(fused.map.get) ==
      entries(DefragPatch.build(Defrag.firstFragments(plain))),
      "fused patch map diverged from the one built over the plain scan")

    // the DISCRIMINATING corpus: 500 TCP rows + one 2-fragment datagram
    // (round(100·2/502) = 0 < 1; at 300 rows round(100·2/302) = 1 IS the
    // threshold — the reference's integer-% rounding, main.rs:274). The
    // pushed ff filter vetoes the 500 TCP rows at the scan — the reader
    // counters must still have counted them (pct 0, not 100)
    val frames = (1 to 500).map { i =>
      (i * 1000L, -1, ethernet(0x0800,
        ipv4("9.9.9.9", "8.8.8.8", 6, tcp(80, 2000 + i, 0x10))))
    } ++ Seq(
      (400000L, -1, ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17,
        udp(53, 41000, dnsQuery("x.example.org", 1)), id = 9, mf = true))),
      (400001L, -1, ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17,
        Array.fill[Byte](16)(0x42), id = 9, fragOffset = 5))))
    val p2 = writeTemp("cap_fused2.pcap", legacyPcap(frames))
    val (sm2, gated2) = gatedStats(p2.toString)
    val fused2 = Defrag.statsAndBuild(gated2, sm2, 4000000L)
    assert(fused2.total == 502L,
      s"reader total ${fused2.total} — vetoed rows went uncounted")
    assert(fused2.pct == 0.0, s"pct ${fused2.pct} — the skip decision flipped")
    assert(fused2.ffKeys == 1L && fused2.map.get.ids.length == 1)

    // buildCapped refuses past the ceiling but still reports the exact
    // key count (the shuffle-branch decision input)
    val (sm3, gated3) = gatedStats(p.toString)
    val over = Defrag.statsAndBuild(gated3, sm3, maxKeys = 1L)
    assert(over.map.isEmpty && over.ffKeys == fused.ffKeys)
    assert(over.pct == fused.pct)
  }

  test("columnar broadcast-patch convert ≡ join defrag, defragged column order (round 13)") {
    // the CLI's default convert shape now enriches IN THE READER from
    // the broadcast ff map (no join node) — its output must be
    // row-identical to the join path's, with the reference's
    // patched-at-end column order restored by the writer permutation
    val p = writeTemp("cap_patch.pcap", fragmentedCapture)
    val outDir = java.nio.file.Files.createTempDirectory("patchconv")
    PcapConvert.run(spark, PcapConvert.Args(
      file = p.toString, out = outDir.toString + "/out.parquet",
      singleFile = false))
    val got = spark.read.parquet(outDir.toString + "/out.parquet")
    assert(got.columns.toSeq ==
      Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq))
    val want = Defrag.defrag(PcapSource.read(spark, p.toString))
    def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    assert(canon(got) == canon(want))
    // singleFile default shape too (coalesced RDD, same permutation)
    PcapConvert.run(spark, PcapConvert.Args(
      file = p.toString, out = outDir.toString + "/one.parquet"))
    val one = spark.read.parquet(outDir.toString + "/one.parquet")
    assert(one.columns.toSeq == got.columns.toSeq)
    assert(canon(one) == canon(want))
  }

  test("shuffle-leaf convert (ff keys past the ceiling) ≡ join defrag") {
    // the ceiling at 0 overflows the fused stats collect, so run takes
    // the spill + shuffle-join leaf; the spill is gone once run returns
    val p = writeTemp("cap_shuffle.pcap", fragmentedCapture)
    val outDir = java.nio.file.Files.createTempDirectory("shuffleconv")
    val want = Defrag.defrag(PcapSource.read(spark, p.toString))
    def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    sys.props("graft.defrag.maxBroadcastFF") = "0"
    try {
      for (single <- Seq(true, false)) {
        val out = outDir.toString + s"/out-$single.parquet"
        PcapConvert.run(spark, PcapConvert.Args(
          file = p.toString, out = out, singleFile = single))
        val got = spark.read.parquet(out)
        assert(got.columns.toSeq ==
          Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq))
        assert(canon(got) == canon(want), s"singleFile=$single")
        assert(!Files.exists(java.nio.file.Paths.get(out + ".ffspill")),
          s"singleFile=$single: ff spill left behind")
      }
    } finally sys.props.remove("graft.defrag.maxBroadcastFF")
  }

  test("parse: removed convert flags are unknown args, codec guard holds") {
    val base = Array("-f", "in.pcap", "-o", "out.parquet")
    for (flag <- Seq("--row-path", "--row-write", "--cache", "--no-cache")) {
      val e = intercept[IllegalArgumentException](
        PcapConvert.parse(base :+ flag))
      assert(e.getMessage == s"unknown arg: $flag")
    }
    val e = intercept[IllegalArgumentException](
      PcapConvert.parse(base ++ Array("-c", "brotli")))
    assert(e.getMessage.contains("unknown or unbundled --compression 'brotli'"))
    assert(PcapConvert.parse(base ++ Array("-c", "snappy", "-n", "-m"))
      == PcapConvert.Args(file = "in.pcap", out = "out.parquet",
        nodefrag = true, manifest = true, compression = "snappy"))
  }

  test("speculative single-pass convert: unfragmented corpus, and the mispredict fallback (round 13)") {
    val dir = java.nio.file.Files.createTempDirectory("specconv")
    // 1) unfragmented corpus → the sample speculates, stats ride the
    // write, output equals the nodefrag shape (natural column order)
    val tcp = dir.resolve("tcponly.pcap")
    graft.spark.PcapGen.write(tcp.toString, 5000, mix = "tcp")
    PcapConvert.run(spark, PcapConvert.Args(
      file = tcp.toString, out = dir.toString + "/spec.parquet",
      singleFile = false))
    val spec = spark.read.parquet(dir.toString + "/spec.parquet")
    assert(spec.columns.toSeq ==
      graft.core.PacketSchema.schema.fieldNames.toSeq)
    assert(spec.count() == 5000)
    assert(spec.filter(col("ip_frag_offset") > 0).count() == 0)
    // 2) mispredict: a >200k-packet unfragmented PREFIX (the whole
    // sample window) followed by a heavily fragmented tail in the SAME
    // file — the speculation must discard its output and the fallback
    // must produce the exact join-defrag result
    val head = dir.resolve("head.pcap")
    val tail = dir.resolve("tail.pcap")
    graft.spark.PcapGen.write(head.toString, 210000, mix = "tcp")
    graft.spark.PcapGen.write(tail.toString, 90000, mix = "ddos")
    val mixed = dir.resolve("mixed.pcap")
    val headBytes = java.nio.file.Files.readAllBytes(head)
    val tailBytes = java.nio.file.Files.readAllBytes(tail)
    // legacy-pcap concatenation: drop the second file's 24-byte header
    java.nio.file.Files.write(mixed,
      headBytes ++ tailBytes.drop(24))
    java.nio.file.Files.delete(head); java.nio.file.Files.delete(tail)
    assert(PcapConvert.sampleFragPct(spark, mixed.toString,
      graft.pcapio.PcapFramer.Sane) < 0.2) // the prefix really misleads
    PcapConvert.run(spark, PcapConvert.Args(
      file = mixed.toString, out = dir.toString + "/mixed.parquet",
      singleFile = false))
    val got = spark.read.parquet(dir.toString + "/mixed.parquet")
    // fallback produced the DEFRAGGED output: patched-at-end order and
    // back-filled continuation fragments
    assert(got.columns.toSeq ==
      Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq))
    val want = Defrag.defrag(
      spark.read.format("pcap").load(mixed.toString))
    assert(got.count() == 300000)
    assert(got.filter(col("ip_frag_offset") > 0 &&
      col("udp_srcport").isNotNull).count() ==
      want.filter(col("ip_frag_offset") > 0 &&
        col("udp_srcport").isNotNull).count())
    // spot equality on the fragmented slice (full 300k-row canon is
    // needless here; the patch≡join equality is pinned exhaustively by
    // the dedicated test above)
    def canonFrag(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.filter(col("ip_frag_offset") > 0)
        .selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    assert(canonFrag(got) == canonFrag(want))
  }

  test("IPv6 fragment chains defrag end-to-end (Sane walk feeds the v4 pipeline)") {
    // round 12: the Sane-mode v6 fragment gate populates ip_frag_offset/
    // ip_mf/ip_id (low 16 bits of the v6 identification), so v6 chains
    // flow through the SAME defrag join as v4 — pin a 3-fragment v6
    // datagram getting its DNS columns back-filled.
    val src = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 0x11)
    val dst = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 0x22)
    def fragHdr(next: Int, off8: Int, mf: Boolean, id: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
      b.put(next.toByte).put(0.toByte)
        .putShort((((off8 << 3) | (if (mf) 1 else 0)) & 0xffff).toShort)
        .putInt(id.toInt)
      b.array()
    }
    val id = 0xBEEF1234L
    val frames = Seq(
      (1L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 0, mf = true, id) ++
          udp(53, 41000, dnsQuery("frag6.example.org", 1))))),
      (2L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 9, mf = true, id) ++ Array.fill[Byte](16)(0x42)))),
      (3L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 18, mf = false, id) ++ Array.fill[Byte](16)(0x42)))),
      // unrelated v6 UDP row, different id — must stay untouched
      (4L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 5, mf = false, id + 1) ++ Array.fill[Byte](8)(0x55)))))
    val p = writeTemp("cap_v6frag.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    // all 4 rows match the frag predicate (the lone off>0 sibling too)
    assert(Defrag.fragmentedPct(df) == 100.0)
    val out = Defrag.defrag(df).cache()
    val chain = out.filter(col("ip_id") === 0x1234) // low 16 bits of id
    assert(chain.count() == 3)
    assert(chain.collect().forall(
      _.getAs[String]("dns_qry_name") == "frag6.example.org"))
    assert(chain.collect().forall(_.getAs[Int]("udp_srcport") == 53))
    assert(chain.collect().forall(_.getAs[String]("ip_src") == "2001:db8::11"))
    // the colliding-free sibling datagram keeps NULL L7 (no ff for it)
    val other = out.filter(col("ip_id") === 0x1235).head()
    assert(other.isNullAt(other.fieldIndex("dns_qry_name")))
    df.unpersist(); out.unpersist()
  }

  test("defrag skipped below 1% threshold (main.rs:277)") {
    val frames = (1 to 200).map { i =>
      (i * 1000L, -1, ethernet(0x0800,
        ipv4("1.1.1.1", "2.2.2.2", 6, tcp(80, 1000 + i, 0x10))))
    }
    val p = writeTemp("cap4.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    val out = Defrag(df)
    // unchanged frame: original column order preserved
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(Defrag.fragmentedPct(df) == 0.0)
    df.unpersist()
  }

  test("full CLI pipeline writes zstd parquet with defrag applied") {
    val p = writeTemp("cap5.pcap", fragmentedCapture)
    val outDir = Files.createTempDirectory("graft-out").resolve("out.parquet")
    PcapConvert.run(spark,
      PcapConvert.Args(file = p.toString, out = outDir.toString, verbose = true))
    val back = spark.read.parquet(outDir.toString)
    assert(back.count() == 7)
    assert(back.filter(col("dns_qry_name") === "a.example.com").count() == 3)
    val parts = Files.list(outDir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(parts.length == 1 && parts.head.endsWith(".zstd.parquet"),
      parts.mkString(", "))
  }

  test("decodePartitions repartitions raw frames before dissection") {
    val p = writeTemp("cap6.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString, decodePartitions = 3)
    assert(df.count() == 7)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("pcapng capture goes through the same pipeline") {
    val pkt = ethernet(0x0800,
      ipv4("10.1.1.1", "10.2.2.2", 17, udp(123, 123, ntpPrivate(42))))
    val bytes = pcapng(Seq((1, 6)), Seq((0, 99L, pkt.length, pkt)))
    val p = writeTemp("cap7.pcapng", bytes)
    val df = PcapSource.read(spark, p.toString)
    val r = df.head()
    assert(r.getAs[java.sql.Timestamp]("frame_time").getTime == 0L ||
      r.getAs[java.sql.Timestamp]("frame_time").toInstant.toEpochMilli == 0L)
    assert(r.getAs[Short]("ntp_priv_reqcode") == 42)
  }
}
