package wirebench

import java.io.ByteArrayOutputStream

/** The seeded log corpus and its Forward-protocol framing, shared by the
  * generator process (which sends it) and the engine side (which replays
  * it in batch for the reference result, the layer timings and the
  * window truth). Record `seq` is a pure function of (seed, seq), so both
  * processes build the same records without exchanging them.
  */
object Corpus {

  /** One record as sent. `dropped` = the grep filter excludes it,
    * `parsed` = the access-log regex matches it, `alert` = rewrite_tag
    * moves it to `alert.5xx`. The flags are the corpus' known shares;
    * the engine output is checked against a batch run, not these flags.
    */
  final case class Rec(seq: Long, tag: String, host: String, log: String,
                       parsed: Boolean, dropped: Boolean, alert: Boolean) {
    def fields: Seq[(String, String)] =
      Seq("log" -> log, "seq" -> seq.toString, "host" -> host)
    /** Tag the record carries after the filters (stream-task group key). */
    def finalTag: String = if (alert) "alert.5xx" else tag
  }

  private val Methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Paths = Vector("/", "/index.html", "/api/items", "/api/cart",
    "/login", "/static/app.js", "/api/search?q=spark", "/img/logo.png")
  private val OkCodes = Vector("200", "200", "200", "201", "204", "301", "304", "404")
  private val Levels = Vector("info", "info", "info", "warn", "error", "debug")
  private val Jobs = Vector("resize", "index", "email", "billing", "export")
  private val Kernel = Vector("eth0: link up", "oom-killer invoked",
    "EXT4-fs mounted", "usb 1-1: new device", "audit: type=1400")

  private def rng(seed: Long, seq: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + seq * 0xBF58476D1CE4E5B9L)

  def record(seed: Long, seq: Long): Rec = {
    val r = rng(seed, seq)
    def pick(v: Vector[String]): String = v(r.nextInt(v.size))
    val host = "node-" + r.nextInt(16)
    val u = r.nextInt(100)
    if (u < 60) {
      val tag = if (u < 40) "app.web" else "app.api"
      val health = r.nextInt(100) < 10
      val alert = !health && r.nextInt(100) < 7
      val path = if (health) "/healthz" else pick(Paths) + "/" + r.nextInt(10000)
      val code = if (alert) Vector("500", "502", "503")(r.nextInt(3)) else pick(OkCodes)
      val ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      val user = if (r.nextBoolean()) "-" else "user" + r.nextInt(500)
      val day = 1 + (seq / 86400L) % 28
      val log = f"$ip - $user [$day%02d/Oct/2026:${(seq / 3600) % 24}%02d:" +
        f"${(seq / 60) % 60}%02d:${seq % 60}%02d +0000] " +
        s""""${pick(Methods)} $path HTTP/1.1" $code ${r.nextInt(50000)}"""
      Rec(seq, tag, host, log, parsed = true, dropped = health, alert = alert)
    } else if (u < 85) {
      val log = s"""{"level":"${pick(Levels)}","job":"${pick(Jobs)}",""" +
        s""""id":${r.nextInt(1000000)},"latency_ms":${r.nextInt(2000)},""" +
        s""""msg":"job finished after ${r.nextInt(9)} retries"}"""
      Rec(seq, "app.worker", host, log, parsed = false, dropped = false, alert = false)
    } else {
      val log = s"kernel: [${r.nextInt(100000)}.${r.nextInt(1000000)}] ${pick(Kernel)}"
      Rec(seq, "sys.kernel", host, log, parsed = false, dropped = false, alert = false)
    }
  }

  /** Warm-up record: a health check, which the grep filter drops, so it
    * runs every pipeline stage once without reaching an output or window.
    */
  def warmRecord(i: Int): Rec =
    Rec(-1L - i, "app.web", "node-0",
      """10.0.0.1 - - [01/Oct/2026:00:00:00 +0000] "GET /healthz HTTP/1.1" 200 2""",
      parsed = true, dropped = true, alert = false)

  def records(seed: Long, n: Int): IndexedSeq[Rec] =
    (0 until n).map(i => record(seed, i.toLong))

  /** Burst event time: a fixed base plus one millisecond per record. */
  def burstTimeNs(seq: Long): Long = 1700000000L * 1000000000L + seq * 1000000L

  /** Paced schedule: record `seq` is due (and stamped) at this instant. */
  def pacedTimeNs(t0Ns: Long, rate: Int, seq: Long): Long =
    t0Ns + (seq * 1000000000.0 / rate).toLong

  /** Properties recorded with every result. */
  def describe(recs: Seq[Rec]): Map[String, Double] = {
    val n = recs.size.toDouble.max(1)
    Map(
      "records" -> recs.size.toDouble,
      "bytes" -> recs.map(_.fields.map(f => f._1.length + f._2.length).sum.toLong).sum.toDouble,
      "tags" -> recs.map(_.tag).distinct.size.toDouble,
      "parser_miss_share" -> recs.count(!_.parsed) / n,
      "grep_drop_share" -> recs.count(_.dropped) / n,
      "alert_share" -> recs.count(_.alert) / n)
  }

  // ------------------------------------------------------------ framing

  /** Minimal msgpack writer for the frames the generator sends. Kept
    * separate from the engine's codec so the benchmark does not time the
    * engine against its own encoder.
    */
  final class Writer {
    val out = new ByteArrayOutputStream(1 << 16)
    private def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v) }
    private def u32(v: Long): Unit = {
      out.write((v >>> 24).toInt); out.write((v >>> 16).toInt)
      out.write((v >>> 8).toInt); out.write(v.toInt)
    }
    def arr(n: Int): Unit =
      if (n < 16) out.write(0x90 | n) else { out.write(0xdc); u16(n) }
    def map(n: Int): Unit =
      if (n < 16) out.write(0x80 | n) else { out.write(0xde); u16(n) }
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      if (b.length < 32) out.write(0xa0 | b.length)
      else if (b.length < 256) { out.write(0xd9); out.write(b.length) }
      else { out.write(0xda); u16(b.length) }
      out.write(b)
    }
    def int(v: Long): Unit = { out.write(0xce); u32(v) }
    def bin(b: Array[Byte]): Unit = { out.write(0xc6); u32(b.length.toLong); out.write(b) }
    /** Forward EventTime: ext type 0, seconds + nanoseconds. */
    def eventTime(ns: Long): Unit = {
      out.write(0xd7); out.write(0); u32(ns / 1000000000L); u32(ns % 1000000000L)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** One PackedForward frame as it goes on the wire. `plain` is the
    * uncompressed entry stream (what the engine's decoder walks).
    */
  final case class Frame(tag: String, records: Int, zstd: Boolean,
                         plain: Array[Byte], wire: Array[Byte])

  def frame(tag: String, recs: Seq[(Rec, Long)], zstd: Boolean): Frame = {
    val entries = new Writer
    recs.foreach { case (rec, ns) =>
      entries.arr(2); entries.eventTime(ns)
      entries.map(3); rec.fields.foreach { case (k, v) => entries.str(k); entries.str(v) }
    }
    val plain = entries.bytes
    val payload = if (zstd) com.github.luben.zstd.Zstd.compress(plain, 3) else plain
    val w = new Writer
    w.arr(3); w.str(tag); w.bin(payload)
    w.map(if (zstd) 2 else 1)
    w.str("size"); w.int(recs.size.toLong)
    if (zstd) { w.str("compressed"); w.str("zstd") }
    Frame(tag, recs.size, zstd, plain, w.bytes)
  }

  /** Frames in send order: records are batched per tag, up to `perFrame`
    * per frame, and every second frame is zstd-compressed (`zstdFirst`
    * picks the parity, so a stream of small batches still alternates).
    */
  def frames(recs: Seq[(Rec, Long)], perFrame: Int, zstdFirst: Boolean = true): Vector[Frame] = {
    val pending = scala.collection.mutable.LinkedHashMap[String, Vector[(Rec, Long)]]()
    val out = Vector.newBuilder[Frame]
    var idx = if (zstdFirst) 0 else 1
    def flush(tag: String): Unit = {
      out += frame(tag, pending(tag), zstd = idx % 2 == 0); idx += 1
      pending.remove(tag)
    }
    recs.foreach { case rt @ (rec, _) =>
      val buf = pending.getOrElse(rec.tag, Vector.empty) :+ rt
      pending(rec.tag) = buf
      if (buf.size >= perFrame) flush(rec.tag)
    }
    pending.keys.toList.foreach(flush)
    out.result()
  }
}
