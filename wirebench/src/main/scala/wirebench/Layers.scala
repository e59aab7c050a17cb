package wirebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.YamlConfig
import graft.route.Router
import graft.sinks.Formats
import graft.sources.{Msgpack, Zstd}
import graft.sql.Planner

/** Layer timings on the static corpus (traced runs only): each layer's
  * public entry point is timed on its own, with its input already
  * materialized, so one number moves when one layer changes.
  *
  *   - sources: `Msgpack.decode` + `forwardEvents` over the plain frames,
  *     `Zstd.decompress` over the compressed payloads (driver-side code,
  *     timed directly);
  *   - parse / ops / route / sinks: a Spark job through that layer minus
  *     the same job over its cached input, per record;
  *   - config / sql: `YamlConfig.assemble` and `Planner.plan` wall time.
  */
object Layers {

  private def timeMs(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t = System.nanoTime
      body
      (System.nanoTime - t) / 1e6
    })

  /** Hash every column, so no projection is pruned away. */
  private def hashAll(df: DataFrame): Unit =
    df.select(bit_xor(xxhash64(struct(df.columns.map(col).toSeq: _*)))).collect()

  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  def measure(spark: SparkSession, seed: Long, n: Int, res: Result): Unit = {
    val reps = 3
    val recs = Corpus.records(seed, n).map(r => r -> Corpus.burstTimeNs(r.seq))

    // ---- sources: decode and decompress the frames the generator sends
    val frames = Corpus.frames(recs, 128)
    val plainWire = frames.map { f =>
      val w = new Corpus.Writer
      w.arr(2); w.str(f.tag); w.bin(f.plain)
      w.bytes
    }
    var events = 0L
    val decodeMs = timeMs(reps) {
      events = 0L
      plainWire.foreach { b => events += Msgpack.forwardEvents(Msgpack.decode(b, 0)._1).size }
    }
    if (events != n) res.fail(1, s"decode replay saw $events of $n records")
    res.put("sources.decode_ns_per_record", decodeMs * 1e6 / n, "ns")
    val zstdFrames = frames.filter(_.zstd)
    val zstdPayloads = zstdFrames.map(f => com.github.luben.zstd.Zstd.compress(f.plain, 3))
    val plainMb = zstdFrames.map(_.plain.length.toLong).sum / 1048576.0
    val zstdMs = timeMs(reps) {
      zstdPayloads.foreach(p => Zstd.decompress(p, Msgpack.MaxPackedBytes))
    }
    res.put("sources.zstd_ms_per_mb", if (plainMb > 0) zstdMs / plainMb else 0.0, "ms/MB")

    // ---- config / sql: set-up work
    val src = Pipeline.batchSource(spark, recs)
    res.put("config.assemble_ms",
      timeMs(reps)(YamlConfig.assemble(spark, Pipeline.yaml(), Map("wire" -> Pipeline.promote(src)))),
      "ms")

    // ---- parse / ops / route / sinks on cached inputs
    def filtered(input: DataFrame, filters: Seq[String]): DataFrame =
      YamlConfig.assemble(spark,
        Pipeline.yaml(filters, tasks = Seq("all" -> "SELECT * FROM STREAM:CONF;"), outputs = false),
        Map("wire" -> input))("stream_task:all")
    def layerNs(input: DataFrame, out: DataFrame): Double =
      (timeMs(reps)(hashAll(out)) - timeMs(reps)(hashAll(input))) * 1e6 / n

    val in0 = cached(Pipeline.promote(src))
    res.put("sql.plan_ms", timeMs(reps)(Planner.plan(Pipeline.WindowSql,
      Planner.Catalog(streams = Map("CONF" -> in0), defaultStream = Some("CONF")))), "ms")
    val parsed = filtered(in0, Seq("parser"))
    res.put("parse.ns_per_record", layerNs(in0, parsed), "ns")
    val in1 = cached(parsed)
    res.put("parse.unmatched_ratio", in1.filter(col("client").isNull).count().toDouble / n, "ratio")
    val opsOut = filtered(in1, Seq("grep", "modify", "rewrite_tag"))
    res.put("ops.ns_per_record", layerNs(in1, opsOut), "ns")
    val in2 = cached(opsOut)
    res.put("ops.kept_ratio", in2.count().toDouble / n, "ratio")
    val routed = Pipeline.OutputPatterns.map(p => Router.route(in2, "tag", p))
    res.put("route.ns_per_record", layerNs(in2, routed.reduce(_ union _)), "ns")
    val in3 = routed.map(cached)
    val formatted = in3.map(r => r.select(col("tag"), Formats.jsonLine(
      r.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c))).as("line")))
    res.put("sinks.format_ns_per_record",
      (timeMs(reps)(formatted.foreach(hashAll)) - timeMs(reps)(in3.foreach(hashAll))) * 1e6 / n,
      "ns")
    (Seq(in0, in1, in2) ++ in3).foreach(_.unpersist())
  }
}
