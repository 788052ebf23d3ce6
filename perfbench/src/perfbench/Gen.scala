package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded capture generator with ground truth. The same (mix, packets,
  * seed) always yields the same bytes; the truth is counted while the
  * packets are written, from the packet model below, never by reading
  * the program's output back.
  *
  *  - `ddos`: one file. 1 in 8 slots is a 3-fragment UDP DNS datagram
  *    (~30% of packets). All DNS replies, fragmented or not, come from
  *    two reflectors, each with one 16-bit ip_id counter from a seeded
  *    start; past ~65k replies per reflector the counter wraps, so
  *    datagram keys collide (from ~260k packets on). The rest is TCP
  *    SYN-ACK backscatter and NTP private-mode; DNS:TCP:NTP is 4:2:1
  *    over the unfragmented slots.
  *  - `tcp`: `files` "rotated" capture files with consecutive time
  *    ranges, 80% TCP across a full flag cycle with payloads, 10% DNS,
  *    10% NTP, no fragments.
  */
object Gen {

  /** Expected packet-table aggregates after the default (defragging)
    * convert. `nonNull` counts the non-null values per column;
    * non-first fragments carry no transport columns until the defrag
    * patch fills them from their datagram's first fragment. */
  final case class Truth(mix: String, packets: Long, seed: Long,
      files: Int, fragmented: Long, datagramKeys: Long, errors: Long,
      protocols: Map[String, Long], nonNull: Map[String, Long],
      tsMinMicros: Long, tsMaxMicros: Long) {
    def toJson: String = {
      def obj(m: Map[String, Long]) =
        m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"mix":"$mix","packets":$packets,"seed":$seed,"files":$files,""" +
        s""""fragmented":$fragmented,"datagram_keys":$datagramKeys,""" +
        s""""errors":$errors,"protocols":${obj(protocols)},""" +
        s""""non_null":${obj(nonNull)},"ts_min_us":$tsMinMicros,""" +
        s""""ts_max_us":$tsMaxMicros}"""
    }
  }

  val TsBase = 1700000000000000L
  private val Victim = Array[Int](192, 0, 2, 1)
  private val FlagCycle = Array(0x02, 0x12, 0x10, 0x18, 0x11, 0x04)
  private val QTypes = Array(1, 28, 255)
  private val ReqCodes = Array(42, 20, 1)

  /** One capture file being written: pcap records into a growing
    * buffer, plus the running truth counters. */
  private final class Writer(rnd: SplittableRandom, var ts: Long) {
    private var buf = ByteBuffer.allocate(1 << 22)
    put24Header()
    var packets = 0L
    var tsFirst = -1L
    val protocols = scala.collection.mutable.Map.empty[String, Long]
    val nonNull = scala.collection.mutable.Map.empty[String, Long]

    private def put24Header(): Unit = {
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(0xa1b2c3d4).putShort(2).putShort(4).putInt(0).putInt(0)
        .putInt(65535).putInt(1)
    }

    private def ensure(n: Int): Unit = if (buf.remaining < n) {
      val nb = ByteBuffer.allocate(math.max(buf.capacity * 2, buf.position + n))
      buf.flip(); nb.put(buf); buf = nb
    }

    def count(proto: String, cols: String*): Unit = {
      packets += 1
      protocols(proto) = protocols.getOrElse(proto, 0L) + 1
      cols.foreach(c => nonNull(c) = nonNull.getOrElse(c, 0L) + 1)
    }

    /** Ethernet + IPv4 header around an L4 payload of `l4Len` bytes
      * that `fill` writes. */
    def ipv4(src: Array[Int], proto: Int, id: Int, mf: Boolean, off: Int,
        l4Len: Int)(fill: ByteBuffer => Unit): Unit = {
      val frame = 14 + 20 + l4Len
      ensure(16 + frame)
      ts += 1 + rnd.nextInt(20)
      if (tsFirst < 0) tsFirst = ts
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt((ts / 1000000L).toInt).putInt((ts % 1000000L).toInt)
        .putInt(frame).putInt(frame)
      buf.order(ByteOrder.BIG_ENDIAN)
      var i = 0
      while (i < 6) { buf.put(0x02.toByte); i += 1 }
      i = 0
      while (i < 6) { buf.put(0x04.toByte); i += 1 }
      buf.putShort(0x0800.toShort)
      buf.put(0x45.toByte).put(0.toByte).putShort((20 + l4Len).toShort)
      buf.putShort(id.toShort)
      buf.putShort(((if (mf) 0x2000 else 0) | (off & 0x1fff)).toShort)
      buf.put(64.toByte).put(proto.toByte).putShort(0)
      src.foreach(b => buf.put(b.toByte))
      Victim.foreach(b => buf.put(b.toByte))
      val start = buf.position
      fill(buf)
      require(buf.position - start == l4Len, s"l4 length ${buf.position - start} != $l4Len")
    }

    def udpHeader(b: ByteBuffer, sp: Int, dp: Int, udpLen: Int): Unit = {
      b.putShort(sp.toShort).putShort(dp.toShort).putShort(udpLen.toShort)
        .putShort(0); ()
    }

    /** DNS query message for `name` with `qtype`, zero-padded to `pad`. */
    def dns(b: ByteBuffer, name: String, qtype: Int, pad: Int): Unit = {
      val start = b.position
      b.putShort(rnd.nextInt(65536).toShort).putShort(0x0100.toShort)
        .putShort(1).putShort(0).putShort(0).putShort(0)
      name.split('.').foreach { l =>
        b.put(l.length.toByte).put(l.getBytes("ASCII"))
      }
      b.put(0.toByte).putShort(qtype.toShort).putShort(1)
      while (b.position - start < pad) b.put(0.toByte)
    }

    def dnsLen(name: String): Int = 12 + name.length + 2 + 4

    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf.array, buf.position)
  }

  private def addr(a: Int, b: Int, c: Int, d: Int) = Array(a, b, c, d)

  private def qname(rnd: SplittableRandom, prefix: String) =
    s"$prefix${rnd.nextInt(32)}.example.org"

  /** Reflector r's address; its ip_id counter is `ids(r)`. */
  private def reflector(r: Int) = addr(198, 51, 100, 1 + r)

  private def dnsReply(w: Writer, rnd: SplittableRandom, src: Array[Int],
      id: Int): Unit = {
    val name = qname(rnd, "q")
    val l = w.dnsLen(name)
    w.ipv4(src, 17, id, mf = false, 0, 8 + l) { b =>
      w.udpHeader(b, 53, 1024 + rnd.nextInt(64512), 8 + l)
      w.dns(b, name, QTypes(rnd.nextInt(3)), l)
    }
    w.count("DNS", "udp_srcport", "dns_qry_name")
  }

  private def ntpPriv(w: Writer, rnd: SplittableRandom): Unit = {
    w.ipv4(addr(198, 18, 0, 1 + rnd.nextInt(64)), 17, rnd.nextInt(65536),
      mf = false, 0, 16) { b =>
      w.udpHeader(b, 123, 1024 + rnd.nextInt(64512), 16)
      b.put(((2 << 3) | 7).toByte).put(0.toByte).put(0.toByte)
        .put(ReqCodes(rnd.nextInt(3)).toByte).putInt(0)
      ()
    }
    w.count("NTP", "udp_srcport", "ntp_priv_reqcode")
  }

  private def tcp(w: Writer, rnd: SplittableRandom, flags: Int,
      payload: Int): Unit = {
    w.ipv4(addr(10, rnd.nextInt(4), rnd.nextInt(250), 1 + rnd.nextInt(250)),
      6, rnd.nextInt(65536), mf = false, 0, 20 + payload) { b =>
      b.putShort(Array(80, 443, 22)(rnd.nextInt(3)).toShort)
        .putShort((1024 + rnd.nextInt(64512)).toShort)
        .putInt(rnd.nextInt()).putInt(0)
      b.put((5 << 4).toByte).put(flags.toByte).putShort(8192.toShort)
        .putShort(0).putShort(0)
      var i = 0
      while (i < payload) { b.put(0x42.toByte); i += 1 }
    }
    w.count("TCP", "tcp_srcport")
  }

  /** A DNS reply split into three IPv4 fragments: 72 + 72 + 64 bytes of
    * IP payload (offsets 0, 9, 18 in 8-byte units). */
  private def fragmented(w: Writer, rnd: SplittableRandom, src: Array[Int],
      id: Int): Unit = {
    val name = qname(rnd, "amp")
    val dp = 1024 + rnd.nextInt(64512)
    val qt = QTypes(rnd.nextInt(3))
    w.ipv4(src, 17, id, mf = true, 0, 72) { b =>
      w.udpHeader(b, 53, dp, 8 + 200)
      w.dns(b, name, qt, 64)
    }
    w.count("DNS", "udp_srcport", "dns_qry_name")
    w.ipv4(src, 17, id, mf = true, 9, 72) { b =>
      var i = 0
      while (i < 72) { b.put(0x41.toByte); i += 1 }
    }
    w.count("IPv4", "udp_srcport", "dns_qry_name")
    w.ipv4(src, 17, id, mf = false, 18, 64) { b =>
      var i = 0
      while (i < 64) { b.put(0x41.toByte); i += 1 }
    }
    w.count("IPv4", "udp_srcport", "dns_qry_name")
  }

  private def truth(mix: String, seed: Long, ws: Seq[Writer],
      fragmented: Long, keys: Long): Truth = {
    def merge(ms: Seq[scala.collection.Map[String, Long]]) =
      ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    Truth(mix, ws.map(_.packets).sum, seed, ws.size, fragmented, keys, 0L,
      merge(ws.map(_.protocols)), merge(ws.map(_.nonNull)), ws.head.tsFirst,
      ws.map(_.ts).max)
  }

  def ddos(file: Path, packets: Long, seed: Long, write: Boolean = true): Truth = {
    val rnd = new SplittableRandom(seed)
    val w = new Writer(rnd, TsBase)
    val ids = Array.fill(2)(rnd.nextInt(65536))
    var datagrams = 0L
    val keys = new java.util.BitSet(2 * 65536)
    /** The next ip_id of a random reflector: (reflector, id). */
    def nextId(): (Int, Int) = {
      val r = rnd.nextInt(2)
      val id = ids(r)
      ids(r) = (id + 1) & 0xffff
      (r, id)
    }
    while (w.packets < packets) {
      val left = packets - w.packets
      val r = rnd.nextInt(56)
      if (r < 7 && left >= 3) {
        val (refl, id) = nextId()
        fragmented(w, rnd, reflector(refl), id)
        keys.set(refl * 65536 + id)
        datagrams += 1
      } else if (r < 7 + 28) {
        val (refl, id) = nextId()
        dnsReply(w, rnd, reflector(refl), id)
      }
      else if (r < 7 + 42) tcp(w, rnd, 0x12, 0)
      else ntpPriv(w, rnd)
    }
    if (write) Files.write(file, w.bytes)
    truth("ddos", seed, Seq(w), 3 * datagrams, keys.cardinality().toLong)
  }

  def tcpFiles(dir: Path, packets: Long, files: Int, seed: Long,
      write: Boolean = true): Truth = {
    val rnd = new SplittableRandom(seed)
    var ts = TsBase
    val ws = (0 until files).map { f =>
      val w = new Writer(rnd, ts)
      val n = packets / files + (if (f < packets % files) 1 else 0)
      while (w.packets < n) {
        rnd.nextInt(10) match {
          case r if r < 8 =>
            tcp(w, rnd, FlagCycle(rnd.nextInt(FlagCycle.length)), rnd.nextInt(5) * 64)
          case 8 =>
            dnsReply(w, rnd, addr(203, 0, 113, 1 + rnd.nextInt(200)), rnd.nextInt(65536))
          case _ => ntpPriv(w, rnd)
        }
      }
      if (write) Files.write(dir.resolve(f"rot$f%02d.pcap"), w.bytes)
      ts = w.ts
      w
    }
    truth("tcp", seed, ws, 0L, 0L)
  }
}
