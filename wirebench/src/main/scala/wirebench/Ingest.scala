package wirebench

import java.io.{BufferedReader, File, InputStreamReader}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Handle on the generator process: progress (records sent so far) and
  * per-round summaries arrive on its stdout; `go` starts a round.
  */
final class Gen(args: Seq[String]) {
  val sent = new AtomicLong(0)
  private val ready = new java.util.concurrent.CountDownLatch(1)
  private val results = new LinkedBlockingQueue[Map[String, Double]]()
  @volatile var t0Ns = 0L
  private val proc = new ProcessBuilder((Seq(
    new File(System.getProperty("java.home"), "bin/java").getPath,
    "-Xmx1g", "-XX:+UseSerialGC", "-cp", System.getProperty("java.class.path"),
    "wirebench.Generator") ++ args).asJava)
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val stdin = proc.getOutputStream
  private val reader = new Thread(() => {
    val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
    var line = in.readLine()
    while (line != null) {
      if (line.startsWith("P ")) sent.set(line.split(" ")(1).toLong)
      else if (line.startsWith("T ")) t0Ns = line.substring(2).trim.toLong
      else if (line == "READY") ready.countDown()
      else if (line.startsWith("R ")) results.put(
        Json.mapper.readTree(line.substring(2)).properties.asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap)
      line = in.readLine()
    }
  }, "wirebench-gen-reader")
  reader.setDaemon(true)
  reader.start()

  def awaitReady(): Unit = {
    val deadline = System.nanoTime + 120000000000L
    while (!ready.await(50, TimeUnit.MILLISECONDS))
      if (!proc.isAlive || System.nanoTime > deadline)
        throw new IllegalStateException("generator did not become ready")
  }

  def go(): Unit = synchronized { stdin.write("GO\n".getBytes); stdin.flush() }

  /** Send 50 records the pipeline drops (paced: warm-up; burst: close). */
  def warm(): Unit = {
    val target = sent.get + 50
    synchronized { stdin.write("WARM\n".getBytes); stdin.flush() }
    awaitSent(target)
  }

  /** Wait until the generator reports `n` records sent in total. */
  def awaitSent(n: Long): Unit =
    while (sent.get < n) {
      if (!proc.isAlive) throw new IllegalStateException("generator exited")
      Thread.sleep(1)
    }

  def result(timeoutS: Long): Map[String, Double] =
    Option(results.poll(timeoutS, TimeUnit.SECONDS)).getOrElse(
      throw new IllegalStateException("generator round did not finish"))

  /** Close its stdin (it exits after the current round) and reap it. */
  def finish(): Unit = {
    try stdin.close() catch { case _: Throwable => }
    if (!proc.waitFor(30, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    reader.join(5000)
  }
}

/** The two wire-ingest workloads. One streaming query reads the Forward
  * port and writes every output through [[Sink]]; the generator process
  * drives it. See README.md for the workload rationale.
  */
final class Ingest(spark: SparkSession, o: Opts, res: Result) {
  private val paced = o.workload == "ingest_paced"
  private val rate = if (o.tiny) 20 else 40        // paced records/s
  // burst records per round: at 30,000 per-record work is about 2/3 of a
  // micro-batch on 4 cores (3,000: 2.2 s, 10,000: 2.7 s, 30,000: 5.4 s)
  private val burstN = if (o.tiny) 300 else 30000
  private val perFrame = if (paced) 64 else 128
  private val text = Pipeline.yaml(
    tasks = if (paced) Seq("win" -> Pipeline.WindowSql) else Nil)
  private val sinkDir = new File(o.workdir, "sink")
  @volatile private var gen: Gen = null
  private val tracer = new Tracer(spark, () => Option(gen).map(_.sent.get).getOrElse(0L))

  // ---- sink-side state (written by the stream thread) ----------------
  private val lock = new Object
  private val counts = mutable.Map[String, Long]().withDefaultValue(0L)
  private val digests = mutable.Map[String, Long]().withDefaultValue(0L)
  private val seqBatches = ArrayBuffer[(Long, Array[Long])]()
  private val windowRows = ArrayBuffer[(Long, String)]()
  private var sinkTracedMs = 0.0
  private var sinkBytes, sinkRecords = 0L  // of the `file` outputs
  @volatile private var tracing = false
  @volatile private var lastWriteNs = 0L

  private def onBatch(df: DataFrame, id: Long): Unit = {
    // burst: once this batch holds every round released so far, release
    // the next one; its frames arrive while this batch runs, so the
    // generator works alongside the engine and the next batch reads one
    // whole round
    if (!paced) lock.synchronized {
      if (keepSending && batchEndOffset(id) >= roundsSent * burstN) { roundsSent += 1; gen.go() }
    }
    val t = System.nanoTime
    val (dir, keepSeqs, corrupt) = (sinkDir.getPath, paced, o.corrupt)
    val write = (it: Iterator[org.apache.spark.sql.Row]) =>
      Sink.writePartition(dir, id, keepSeqs, corrupt)(it)
    val parts = df.mapPartitions(write)(Encoders.product[PartOut]).collect()
    val end = Generator.epochNs()
    val ms = (System.nanoTime - t) / 1e6
    lock.synchronized {
      parts.foreach { p =>
        counts(p.out) += p.count
        digests(p.out) += p.digest
        if (p.out.startsWith("file:")) { sinkRecords += p.count; sinkBytes += p.bytes }
        if (p.seqs.nonEmpty) seqBatches += end -> p.seqs
        p.rows.foreach(r => windowRows += end -> r)
      }
      if (tracing) sinkTracedMs += ms
      lastWriteNs = end
      // a round is written when the sink holds another round's worth of
      // `file` records (app.* records that grep keeps)
      while (perRound > 0 && sinkRecords >= (roundEnds.size + 1) * perRound) roundEnds += end
    }
  }

  // burst rounds: released, and the sink-write instant of each written one
  @volatile private var keepSending = false
  private var perRound, roundsSent = 0L
  private val roundEnds = ArrayBuffer[Long]()

  /** End offset (records) of micro-batch `id`, from the query's offset log,
    * which is written before the batch runs.
    */
  private def batchEndOffset(id: Long): Long = {
    val log = new File(checkpoint, s"offsets/$id").toPath
    java.nio.file.Files.readAllLines(log).asScala.filter(_.trim.nonEmpty).last.trim.toLong
  }

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private var queries = 0
  @volatile private var checkpoint: File = null

  /** Set-up: assemble the pipeline over a fresh Forward source, start the
    * query, and wait until its port accepts connections.
    */
  private def start(): (StreamingQuery, Int, Double) = {
    queries += 1
    val port = freePort()
    val t0 = System.nanoTime
    val src = spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port.toString).load()
    val union = Pipeline.union(Pipeline.assemble(spark, text, src))
    val fn: (DataFrame, Long) => Unit = onBatch
    checkpoint = new File(o.workdir, s"cp$queries")
    val q = union.writeStream.queryName(s"wire$queries")
      .outputMode(if (paced) "update" else "append")
      .option("checkpointLocation", checkpoint.getPath)
      .foreachBatch(fn).start()
    val deadline = System.nanoTime + 60000000000L
    var bound = false
    while (!bound) {
      q.exception.foreach(e => throw e)
      try {
        val s = new Socket()
        s.connect(new InetSocketAddress("127.0.0.1", port), 200)
        s.close()
        bound = true
      } catch {
        case _: java.io.IOException =>
          if (System.nanoTime > deadline) throw new IllegalStateException("source never bound")
          Thread.sleep(5)
      }
    }
    (q, port, (System.nanoTime - t0) / 1e9)
  }

  private def cleanSink(): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(sinkDir)
  }

  /** Records the last completed micro-batch had read through. */
  private def readThrough(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).flatMap(_.trim.toLongOption).getOrElse(-1L)

  /** After the generator has finished a round: wait until a completed
    * micro-batch has read everything sent (false after `maxS`).
    */
  private def awaitCaughtUp(q: StreamingQuery, maxS: Double = 120): Boolean = {
    val deadline = System.nanoTime + (maxS * 1e9).toLong
    val sent = gen.sent.get
    while (readThrough(q) < sent) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime > deadline) return false
      Thread.sleep(2)
    }
    true
  }

  /** Compare counts and digests with `k` copies of the reference. */
  private def check(ref: Map[String, (Long, Long)], k: Long, what: String): Unit =
    lock.synchronized {
      ref.toSeq.sortBy(_._1).foreach { case (id, (c, d)) =>
        res.attempted += c * k
        val got = counts(id)
        if (got != c * k) res.fail((got - c * k).abs, s"$what $id: $got records, expected ${c * k}")
        else if (digests(id) != d * k) res.fail(1, s"$what $id: digest differs from the batch pipeline")
      }
    }

  def run(): Unit = {
    val reps = if (o.quick) 1 else 5
    val setups = (0 until reps).map { i =>
      val (q, port, s) = start()
      if (i < reps - 1) { q.stop(); (None, s) } else (Some(q -> port), s)
    }
    res.put("setup_s", Stats.median(setups.map(_._2)), "s")
    Main.note(s"set-up done: ${setups.map(_._2)}")
    val (q, port) = setups.last._1.get
    try {
      val gc0 = Stats.gcMs()
      if (paced) runPaced(q, port) else runBurst(q, port)
      res.info("gc_ms") = Stats.gcMs() - gc0
      val (heapMb, nonHeapMb) = Stats.liveMemMb()  // the query still runs
      res.put("live_mem_mb", heapMb + nonHeapMb, "MB")
      res.info("live_heap_mb") = heapMb
    } finally { q.stop(); cleanSink() }
    res.info("zstd_share") = genSummary.getOrElse("zstd_frames", 0.0) /
      genSummary.getOrElse("frames", 1.0).max(1.0)
    if (o.trace) layerMetrics()
  }

  // ------------------------------------------------------------- burst

  private var gcTraced = 0.0
  private var genSummary = Map.empty[String, Double]
  private val windowLat = ArrayBuffer[Double]()

  private def runBurst(q: StreamingQuery, port: Int): Unit = {
    val recs = Corpus.records(o.seed, burstN).map(r => r -> Corpus.burstTimeNs(r.seq))
    res.info("corpus") = Corpus.describe(recs.map(_._1))
    gen = new Gen(Seq("burst", o.seed, port, burstN, 0, perFrame, 2).map(_.toString))
    try {
      gen.awaitReady()
      lock.synchronized {
        perRound = recs.count { case (r, _) => r.tag.startsWith("app.") && !r.dropped }.toLong
        roundsSent = 1
        keepSending = true
      }
      lastWriteNs = Generator.epochNs()
      gen.go()
      val t0 = System.nanoTime
      // the reference result is computed while the first rounds warm the
      // JVM (the single-core run of a traced run reuses it). The warm-up
      // ends with the write of the round in flight when it is done, and of
      // the second round at the earliest; every later round is measured
      // from the write of the round before it
      val ref = Ingest.burstRefs.synchronized(Ingest.burstRefs.getOrElseUpdate(
        (o.seed, burstN), Pipeline.reference(spark, text, recs)))
      val warmRounds = (lock.synchronized(roundEnds.size) + 1).max(if (o.quick) 1 else 2)
      Main.note(s"reference done, $warmRounds warm-up rounds")
      val minRounds = if (o.quick) 1 else if (o.trace) 4 else 3
      var traceFromEpoch = Long.MaxValue
      var gc0 = 0.0
      def ends = lock.synchronized(roundEnds.toVector)
      def inFlight = lock.synchronized(roundsSent - roundEnds.size).toInt
      // a round that never completes although the stream has read every
      // round released means records were lost
      def stalled: Boolean = inFlight > 0 &&
        readThrough(q) >= lock.synchronized(roundsSent) * burstN &&
        Generator.epochNs() - lastWriteNs > 3000000000L
      var lost = false
      // release rounds until the measured ones, with the one in flight, span
      // at least `seconds` and `minRounds`; the clock starts when the warm-up
      // rounds are written
      while (!lost && keepSending) {
        val e = ends
        val measured = e.size - warmRounds
        // the rounds after the first half of the minimum are traced
        if (o.trace && !tracing && measured >= minRounds / 2) {
          gc0 = Stats.gcMs(); tracer.attach(); tracing = true
          traceFromEpoch = Generator.epochNs()
        }
        if (measured >= 0) {
          val lastS = if (e.size < 2) 0.0 else (e.last - e(e.size - 2)) / 1e9
          val spanS = (Generator.epochNs() - e(warmRounds - 1)) / 1e9
          if (measured + inFlight >= minRounds && spanS + inFlight * lastS >= o.seconds)
            keepSending = false
        }
        q.exception.foreach(e => throw e)
        if (System.nanoTime - t0 > 120e9) throw new IllegalStateException("burst rounds stalled")
        lost = stalled
        Thread.sleep(5)
      }
      keepSending = false
      Main.note(s"rounds ${lock.synchronized(roundEnds.size)} done, draining")
      // drain: the rounds released so far are written
      while (!lost && inFlight > 0) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime - t0 > 150e9) throw new IllegalStateException("burst rounds stalled")
        lost = stalled
        Thread.sleep(5)
      }
      if (lost) res.fail(1, "a burst round never completed: records were lost")
      else if (!o.quick && !o.trace) {
        // a last micro-batch of dropped records commits the last round, so
        // the source no longer buffers it when live memory is measured
        gen.warm()
        if (!awaitCaughtUp(q)) res.fail(1, "the stream did not read the closing records")
      }
      if (tracing) { tracing = false; tracer.detach(); gcTraced = Stats.gcMs() - gc0 }
      val rounds = lock.synchronized(roundsSent).toInt
      val firstSend = ArrayBuffer[Long]()
      (1 to (if (lost) 0 else rounds)).foreach { _ =>
        genSummary = gen.result(120)   // counters are cumulative over the run
        firstSend += genSummary("first_send_ns").toLong
      }
      val e = ends
      // round i ran from the write of round i-1 to its own write; its
      // latency runs from its first send to that write
      val stats = (warmRounds until (if (lost) 0 else e.size)).map { i =>
        ((e(i) - e(i - 1)) / 1e9, (e(i) - firstSend(i)) / 1e6, e(i) >= traceFromEpoch)
      }
      val plain = stats.filterNot(_._3)
      val traced = stats.filter(_._3)
      // records written to the file outputs per second of the median
      // measured round, so one round slowed by the host does not move it
      def rate(s: Seq[(Double, Double, Boolean)]) = perRound / Stats.median(s.map(_._1))
      res.put("throughput_per_s", rate(plain), "1/s")
      res.put("latency_p50_ms", Stats.median(plain.map(_._2)), "ms")
      res.put("latency_p90_ms", Stats.quantile(plain.map(_._2), 0.9), "ms")
      res.info("rounds") = stats.size.toDouble
      res.info("round_s") = stats.map(_._1)
      if (o.trace) res.put("trace.overhead_pct", (rate(plain) / rate(traced) - 1) * 100, "%")
      check(ref, rounds, s"$rounds rounds")
    } finally gen.finish()
  }

  // ------------------------------------------------------------- paced

  private def runPaced(q: StreamingQuery, port: Int): Unit = {
    val n = rate * o.seconds
    val base = Corpus.records(o.seed, n)
    res.info("corpus") = Corpus.describe(base)
    gen = new Gen(Seq("paced", o.seed, port, n, rate, perFrame, 2).map(_.toString))
    var traceFromNs = Long.MaxValue
    var t0 = 0L
    var emitted = Map.empty[(Long, String), Long]
    var truth = Map.empty[(Long, String), (Long, Long)]
    try {
      gen.awaitReady()
      // one micro-batch of dropped records first, so the schedule does
      // not start against a cold JVM
      gen.warm()
      if (!awaitCaughtUp(q)) throw new IllegalStateException("warm-up records were not read")
      gen.go()
      while (gen.t0Ns == 0L) Thread.sleep(1)
      t0 = gen.t0Ns
      val gc0 = Array(0.0)
      if (o.trace) {
        // the second half of the schedule is traced, the first is the baseline
        traceFromNs = t0 + (o.seconds / 2.0 * 1e9).toLong
        while (Generator.epochNs() < traceFromNs) Thread.sleep(5)
        gc0(0) = Stats.gcMs()
        tracer.attach(); tracing = true
      }
      genSummary = gen.result(o.seconds + 120L)
      val caughtUp = awaitCaughtUp(q)
      if (o.trace) { tracing = false; tracer.detach(); gcTraced = Stats.gcMs() - gc0(0) }
      if (!caughtUp) res.fail(1, "the stream did not read all sent records")
      truth = base.filterNot(_.dropped)
        .groupBy(r => (Math.floorDiv(Corpus.pacedTimeNs(t0, rate, r.seq), 1000000000L), r.finalTag))
        .map { case (key, v) => key -> (v.size.toLong, Corpus.pacedTimeNs(t0, rate, v.map(_.seq).max)) }
      emitted = windows(truth)
      Main.note(s"paced done: caught up=$caughtUp, windows ${emitted.size}/${truth.size}")
    } finally gen.finish()

    check(Pipeline.reference(spark, text, base.map(r => r -> Corpus.pacedTimeNs(t0, rate, r.seq))),
      1, "paced")
    Main.note("reference done")
    res.attempted += truth.size
    val missing = truth.size - emitted.size
    if (missing > 0) res.fail(missing, s"$missing of ${truth.size} windows never matched the sent events")
    emitted.foreach { case (key, at) => windowLat += (at - truth(key)._2) / 1e6 }
    val (lat, latTraced) = lock.synchronized {
      val all = for {
        (end, seqs) <- seqBatches.toSeq
        seq <- seqs.toSeq
        sched = Corpus.pacedTimeNs(t0, rate, seq)
      } yield (sched >= traceFromNs, (end - sched) / 1e6)
      (all.filterNot(_._1).map(_._2), all.filter(_._1).map(_._2))
    }
    // records written to the file outputs per second, from the schedule's
    // start to the last write: the offered rate while the engine keeps
    // up, lower when it falls behind
    val (written, lastWrite) = lock.synchronized(
      (seqBatches.map(_._2.length.toLong).sum, (t0 +: seqBatches.map(_._1)).max))
    res.put("throughput_per_s", written / ((lastWrite - t0) / 1e9), "1/s")
    res.info("batches") = lock.synchronized(seqBatches.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (end, bs) => Seq(math.round((end - t0) / 1e6) / 1e3, bs.map(_._2.length).sum.toDouble) })
    res.put("latency_p50_ms", Stats.median(lat), "ms")
    res.put("latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
    res.info("window_p50_ms") = Stats.median(windowLat)
    res.info("window_p90_ms") = Stats.quantile(windowLat, 0.9)
    if (o.trace)
      res.put("trace.overhead_pct", (Stats.median(latTraced) / Stats.median(lat) - 1) * 100, "%")
  }

  /** The stream task's emitted rows against the truth: window → the
    * write-end instant of the batch that first emitted its true count. A
    * row above the truth, or for a window without events, fails the run.
    */
  private def windows(truth: Map[(Long, String), (Long, Long)]): Map[(Long, String), Long] = {
    val emitted = mutable.Map[(Long, String), Long]()
    val wrong = mutable.Set[(Long, String)]()
    lock.synchronized(windowRows.toSeq).foreach { case (at, line) =>
      val j = Json.mapper.readTree(line)
      val key = (j.get("wstart").asLong, j.get("tag").asText)
      val got = j.get("n").asLong
      truth.get(key) match {
        case Some((c, _)) if got == c => if (!emitted.contains(key)) emitted(key) = at
        case Some((c, _)) if got < c => ()
        case _ => wrong += key
      }
    }
    if (wrong.nonEmpty) res.fail(wrong.size, s"${wrong.size} window rows disagree with the sent events")
    (emitted -- wrong).toMap
  }

  // -------------------------------------------------------- layer split

  private def layerMetrics(): Unit = {
    val t = tracer
    val ps = t.progress.toSeq
    def dur(k: String): Seq[Double] = ps.map(_.durations.getOrElse(k, 0L).toDouble)
    val trig = dur("triggerExecution")
    val add = dur("addBatch")
    res.put("gen.records_sent", genSummary.getOrElse("records", 0.0), "count")
    res.put("gen.frames_sent", genSummary.getOrElse("frames", 0.0), "count")
    res.put("gen.bytes_sent", genSummary.getOrElse("bytes", 0.0), "B")
    res.put("gen.lag_p99_ms", genSummary.getOrElse("lag_p99_ms", 0.0), "ms")
    res.put("sources.backlog_max_records", (0L +: ps.map(_.backlog)).max.toDouble, "count")
    res.put("sources.backlog_end_records", ps.lastOption.map(_.backlog).getOrElse(0L).toDouble, "count")
    res.put("sources.latest_offset_ms", Stats.mean(dur("latestOffset")), "ms")
    res.put("sources.get_batch_ms", Stats.mean(dur("getBatch")), "ms")
    res.put("streaming.batches", ps.size.toDouble, "count")
    res.put("streaming.records_per_batch_p50", Stats.median(ps.map(_.rows.toDouble)), "count")
    res.put("streaming.trigger_ms_p50", Stats.median(trig), "ms")
    res.put("streaming.trigger_ms_p99", Stats.quantile(trig, 0.99), "ms")
    res.put("streaming.query_planning_ms", Stats.mean(dur("queryPlanning")), "ms")
    res.put("streaming.wal_commit_ms", Stats.mean(dur("walCommit")), "ms")
    res.put("streaming.commit_offsets_ms", Stats.mean(dur("commitOffsets")), "ms")
    res.put("streaming.add_batch_ms", Stats.mean(add), "ms")
    res.put("streaming.coordination_share",
      if (trig.sum > 0) (trig.sum - add.sum) / trig.sum else 0.0, "ratio")
    res.put("state.rows_total", (0L +: ps.map(_.stateRows)).max.toDouble, "count")
    res.put("state.memory_bytes", (0L +: ps.map(_.stateMem)).max.toDouble, "B")
    res.put("state.updates_ms", ps.map(_.updatesMs).sum.toDouble, "ms")
    res.put("state.removals_ms", ps.map(_.removalsMs).sum.toDouble, "ms")
    res.put("state.commit_ms", ps.map(_.commitMs).sum.toDouble, "ms")
    res.put("state.rows_dropped_by_watermark", ps.map(_.dropped).sum.toDouble, "count")
    res.put("state.window_p50_ms", Stats.median(windowLat), "ms")
    res.put("state.window_p90_ms", Stats.quantile(windowLat, 0.9), "ms")
    val streamingJobs = t.jobs.filter(_.streamingBatch)
    res.put("exec.source_tasks_per_batch",
      if (ps.isEmpty) 0.0 else streamingJobs.map(_.rootTasks).sum.toDouble / ps.size, "count")
    res.put("exec.task_run_ms", t.runMs, "ms")
    res.put("exec.gc_ms", gcTraced, "ms")
    res.put("sinks.write_ms", sinkTracedMs, "ms")
    res.put("sinks.bytes_written", sinkBytes.toDouble, "B")
    res.put("sinks.records_written", sinkRecords.toDouble, "count")
  }
}

object Ingest {
  /** Burst reference counts and digests by (seed, records per round). */
  private val burstRefs = mutable.Map[(Long, Int), Map[String, (Long, Long)]]()
}
