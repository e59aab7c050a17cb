package wirebench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workdir: String, data: String, cores: Int, corrupt: String,
                      tiny: Boolean, quick: Boolean)

/** What one run reports: metrics by name with their unit, free-form
  * info, and the correctness tally (`attempted` checked items, `failed`
  * of them lost, extra or different).
  */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val problems = mutable.ArrayBuffer[String]()
  var attempted, failed = 0L

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = v -> unit
  def fail(n: Long, why: String): Unit = { failed += n.max(1); problems += why }

  /** The `RESULT` record; a non-finite value is written as null (not measured). */
  def json: String = Json.mapper.writeValueAsString(Map(
    "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> Some(v).filterNot(x => x.isNaN || x.isInfinite), "unit" -> u)
    },
    "info" -> info, "problems" -> problems))
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Engine-side entry point of the benchmark (run.py launches it):
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workdir> <data dir>
  *        <cores> <corrupt none|drop|alter|batch_drop> <scale full|tiny>
  *
  * Prints one `RESULT <json>` line last.
  */
object Main {
  private val started = System.nanoTime

  /** Progress note on stderr (run.py keeps it in the engine log). */
  def note(msg: String): Unit =
    System.err.println(f"[wirebench ${(System.nanoTime - started) / 1e9}%7.2f s ${Generator.epochNs()}] $msg")

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"wirebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "4000000")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(o.workdir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(o.workdir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workdir, data, cores, corrupt, scale) = args
    require(workload == "ingest_burst" || workload == "ingest_paced", s"unknown workload $workload")
    val o = Opts(workload, seed.toLong, seconds.toInt, trace == "1", workdir, data,
      cores.toInt, corrupt, scale == "tiny", quick = false)
    val res = new Result
    val t0 = System.nanoTime
    var spark = session(o)
    res.info("session_s") = (System.nanoTime - t0) / 1e9
    res.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    try {
      new Ingest(spark, o, res).run()
      note("workload done")
      if (o.trace) {
        Layers.measure(spark, o.seed, if (o.tiny) 1000 else 5000, res)
        if (workload == "ingest_burst") {
          // the batch layers come from the batch suite, traced, in this run
          val rb = new Result
          new Batch(spark, o, rb).run()
          rb.metrics.filter(_._1.startsWith("batch.")).foreach { case (k, v) => res.metrics(k) = v }
          res.attempted += rb.attempted
          if (rb.failed > 0) res.fail(rb.failed, "batch suite: " + rb.problems.mkString("; "))
          if (res.failed == 0) {
            // single-core baselines of the same jobs, in this (warm) JVM:
            // one measured round and one pass, untraced
            spark.stop()
            val one = o.copy(cores = 1, seconds = 0, trace = false, quick = true,
              workdir = new java.io.File(workdir, "one-core").getPath)
            spark = session(one)
            val r1, r2 = new Result
            new Ingest(spark, one, r1).run()
            new Batch(spark, one, r2).run()
            Seq(r1, r2).filter(_.failed > 0).foreach(r =>
              res.fail(r.failed, "single-core baseline: " + r.problems.mkString("; ")))
            res.put("engine.ingest_rps_1core", r1.metrics("throughput_per_s")._1, "1/s")
            res.put("engine.batch_total_s_1core", r2.info("batch_total_s").asInstanceOf[Double], "s")
          }
        }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(1, s"run aborted: $e")
    } finally {
      println("RESULT " + res.json)
      System.out.flush()
      spark.stop()
    }
    System.exit(0)
  }
}
