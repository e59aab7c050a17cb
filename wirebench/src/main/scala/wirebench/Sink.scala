package wirebench

import java.io.{BufferedWriter, File, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One sink partition's summary of one output. */
final case class PartOut(out: String, count: Long, digest: Long, bytes: Long,
                         seqs: Array[Long], rows: Array[String])

/** The benchmark's file sink: every micro-batch partition appends its
  * lines to per-output files and reports count, an order-independent
  * digest (wrapping sum of 64-bit line hashes, so duplicates and losses
  * both show), bytes and — for latency — the `seq` of each record.
  */
object Sink {

  def hash(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0x0b5e) & 0xffffffffL)
  }

  /** `seq` field of a JSON output line (-1 when absent). */
  def seqOf(line: String): Long = {
    val k = line.indexOf("\"seq\":\"")
    if (k < 0) -1L
    else {
      var i = k + 7
      var v = 0L
      while (i < line.length && Character.isDigit(line.charAt(i))) {
        v = v * 10 + (line.charAt(i) - '0'); i += 1
      }
      v
    }
  }

  /** Self-test hook: `drop` loses, `alter` changes one `file` record. */
  private val corrupted = new java.util.concurrent.atomic.AtomicBoolean(false)

  def writePartition(dir: String, batchId: Long, keepSeqs: Boolean,
                     corrupt: String)(it: Iterator[Row]): Iterator[PartOut] = {
    val part = org.apache.spark.TaskContext.getPartitionId()
    final class Acc(out: String) {
      var count, digest, bytes = 0L
      val seqs = mutable.ArrayBuilder.make[Long]
      val rows = mutable.ArrayBuilder.make[String]
      val file = new File(dir, out.replaceAll("[^A-Za-z0-9]+", "_"))
      file.mkdirs()
      val w = new BufferedWriter(new FileWriter(new File(file, s"b$batchId-p$part.log")), 1 << 16)
      def result = PartOut(out, count, digest, bytes, seqs.result(), rows.result())
    }
    val accs = mutable.LinkedHashMap[String, Acc]()
    it.foreach { r =>
      val out = r.getString(0)
      var line = r.getString(1)
      if ((corrupt == "drop" || corrupt == "alter") && out.startsWith("file:") &&
        corrupted.compareAndSet(false, true))
        line = if (corrupt == "drop") null else line + " "
      if (line != null) {
        val a = accs.getOrElseUpdate(out, new Acc(out))
        a.w.write(line); a.w.write('\n')
        a.count += 1; a.digest += hash(line); a.bytes += line.length + 1
        if (out.startsWith("stream_task:")) a.rows += line
        else if (keepSeqs) a.seqs += seqOf(line)
      }
    }
    accs.values.foreach(_.w.close())
    accs.values.map(_.result).iterator
  }
}
