package wirebench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Registry

/** The batch suite, run inside a traced `ingest_burst` run: a fixed list
  * of oracle-gated registry queries, one per family, over the seeded
  * sf0.1-shaped tables that run.py generates. Every query is written once
  * (the warm-up, checked against DuckDB by run.py), then timed with the
  * hash action over all its columns, so no projection is pruned away.
  */
final class Batch(spark: SparkSession, o: Opts, res: Result) {

  private val names: Seq[String] = Batch.Queries.map(_._1)
  private val cores = spark.sparkContext.defaultParallelism

  private def hashAll(df: DataFrame): DataFrame =
    df.select(bit_xor(xxhash64(struct(df.columns.map(col).toSeq: _*))))

  /** Warm-up and correctness: each result is written once for run.py's
    * oracle compare, next to the oracle SQL.
    */
  private def verify(data: String): Unit = {
    val reg = Registry.queries
    val results = new File(o.workdir, "results")
    names.foreach { n =>
      res.attempted += 1
      try reg(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(new File(results, n).getPath)
      catch { case e: Throwable => res.fail(1, s"$n failed: ${e.getMessage.take(300)}") }
    }
    Files.writeString(Paths.get(o.workdir, "oracle.json"),
      Json.mapper.writeValueAsString(names.map(n => n -> Registry.oracleSql(n)).toMap))
    Main.note("verified pass done")
  }

  /** Verified results, then timed passes over the suite: one pass for the
    * single-core baseline (`quick`), else an untraced pass and, in a
    * traced run, a traced one. Reports the `batch.*` layers and the
    * suite's totals in `info`.
    */
  def run(): Unit = {
    val data = o.data
    val reg = Registry.queries
    val missing = names.filterNot(n => reg.contains(n) && Registry.oracleSql.contains(n))
    require(missing.isEmpty, s"not oracle-gated registry queries: ${missing.mkString(", ")}")

    // the single-core baseline reuses the verified results
    if (!o.quick) verify(data)

    val tracer = new Tracer(spark, () => 0L)
    val times = names.map(_ -> ArrayBuffer[Double]()).toMap
    val phases = ArrayBuffer[(String, Double)]()
    var tracedWallMs, gapMs, gcMs = 0.0
    val passes = if (o.trace) 2 else 1
    (0 until passes).takeWhile(_ => res.failed == 0).foreach { pass =>
      val traced = pass == 1
      if (traced) tracer.attach()
      val gc0 = Stats.gcMs()
      val wall0 = System.currentTimeMillis
      names.foreach { n =>
        val t = System.nanoTime
        val h = hashAll(reg(n)(spark, data))
        h.collect()
        if (!traced) times(n) += (System.nanoTime - t) / 1e9
        else h.queryExecution.tracker.phases.foreach { case (k, p) =>
          phases += k -> (p.endTimeMs - p.startTimeMs).toDouble
        }
      }
      val wall1 = System.currentTimeMillis
      if (traced) {
        tracer.detach()
        tracedWallMs = (wall1 - wall0).toDouble
        gapMs = tracer.driverGapMs(wall0, wall1)
        gcMs = Stats.gcMs() - gc0
      }
    }
    val med = names.map(n => Stats.median(times(n)))
    val total = med.sum
    res.info("batch_total_s") = total
    res.info("batch_geomean_s") = Stats.geomean(med)
    res.info("query_s") = names.zip(med).toMap

    if (o.trace) {
      def phase(p: String) = phases.filter(_._1 == p).map(_._2).sum
      res.put("batch.total_s", total, "s")
      res.put("batch.geomean_s", Stats.geomean(med), "s")
      res.put("batch.analysis_ms", phase("analysis"), "ms")
      res.put("batch.optimization_ms", phase("optimization"), "ms")
      res.put("batch.planning_ms", phase("planning"), "ms")
      res.put("batch.jobs", tracer.jobs.size.toDouble, "count")
      res.put("batch.stages", tracer.jobs.map(_.stages).sum.toDouble, "count")
      res.put("batch.tasks", tracer.tasks.toDouble, "count")
      res.put("batch.driver_gap_ms", gapMs, "ms")
      res.put("batch.executor_run_ms", tracer.runMs, "ms")
      res.put("batch.executor_cpu_ms", tracer.cpuMs, "ms")
      res.put("batch.gc_ms", gcMs, "ms")
      res.put("batch.shuffle_read_bytes", tracer.shuffleRead.toDouble, "B")
      res.put("batch.shuffle_write_bytes", tracer.shuffleWrite.toDouble, "B")
      res.put("batch.shuffle_fetch_wait_ms", tracer.fetchWaitMs, "ms")
      res.put("batch.spill_bytes", tracer.spill.toDouble, "B")
      res.put("batch.core_utilization",
        if (tracedWallMs > 0) tracer.runMs / (tracedWallMs * cores) else 0.0, "ratio")
    }
  }
}

object Batch {
  /** (query, family). Streaming replay twins are excluded: the ingest
    * workloads measure the streaming engine through a real socket.
    */
  val Queries: Seq[(String, String)] = Seq(
    "fql_window_tumbling" -> "sp/fql",
    "f_rewrite_tag" -> "ops",
    "parse_regex_named" -> "parse",
    "f_otlp_metrics_ingest" -> "otlp",
    "x_asof_join" -> "join",
    "x_dedup_simhash" -> "dedup",
    "x_ann_ivf" -> "ann")

}
