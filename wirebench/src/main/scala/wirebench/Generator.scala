package wirebench

import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.util.concurrent.atomic.AtomicLong

/** The load generator: a separate JVM that pushes the seeded corpus as
  * PackedForward frames over `conns` loopback connections.
  *
  *   - burst: every frame is built first, then all are written as fast
  *     as the sockets accept them (frames alternate between connections);
  *   - paced: an open loop at `rate` records/s; record `seq` is stamped
  *     and sent at its scheduled instant, late sends are measured as lag.
  *
  * Protocol: it prints `READY` once its frames are built, then runs one
  * round per `GO` line on stdin (burst repeats the corpus; paced runs
  * once and first prints `T <t0 epoch ns>`). Each `WARM` line sends 50
  * records the pipeline drops (paced: before its round; burst: between
  * rounds). Stdout carries
  * `P <records sent> <epoch ns>` progress lines every 20 ms and one
  * `R <json>` summary per round; it exits when stdin closes.
  *
  *   java -cp ... wirebench.Generator burst|paced seed port records rate perFrame conns
  */
object Generator {

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, seedS, portS, nS, rateS, perFrameS, connsS) = args
    val (seed, port, n, rate) = (seedS.toLong, portS.toInt, nS.toInt, rateS.toInt)
    val (perFrame, conns) = (perFrameS.toInt, connsS.toInt)
    val sent = new AtomicLong(0)
    val frames = new AtomicLong(0)
    val bytes = new AtomicLong(0)
    val zstdFrames = new AtomicLong(0)
    val socks = (0 until conns).map { _ =>
      val s = new Socket()
      s.setTcpNoDelay(true)
      s.connect(new InetSocketAddress("127.0.0.1", port), 10000)
      s
    }
    val outs = socks.map(s => new BufferedOutputStream(s.getOutputStream, 1 << 16))
    @volatile var done = false
    val progress = new Thread(() => {
      while (!done) {
        println(s"P ${sent.get} ${epochNs()}")
        Thread.sleep(20)
      }
    })
    progress.setDaemon(true)

    def send(out: OutputStream, f: Corpus.Frame): Unit = {
      out.write(f.wire)
      frames.incrementAndGet(); bytes.addAndGet(f.wire.length.toLong)
      if (f.zstd) zstdFrames.incrementAndGet()
    }

    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    def round(body: => Map[String, Any]): Unit = {
      val summary = body
      println(s"P ${sent.get} ${epochNs()}")
      println("R " + Json.mapper.writeValueAsString(summary ++ Map("records" -> sent.get,
        "frames" -> frames.get, "zstd_frames" -> zstdFrames.get, "bytes" -> bytes.get)))
      System.out.flush()
    }
    // 50 records the pipeline drops, on the first connection
    def warm(): Unit = {
      val warm = (0 until 50).map(i => Corpus.warmRecord(i) -> epochNs())
      Corpus.frames(warm, perFrame).foreach { f => send(outs(0), f); outs(0).flush() }
      sent.addAndGet(warm.size.toLong)
      println(s"P ${sent.get} ${epochNs()}"); System.out.flush()
    }
    progress.start()
    mode match {
      case "burst" =>
        val all = Corpus.frames(
          Corpus.records(seed, n).map(r => r -> Corpus.burstTimeNs(r.seq)), perFrame)
        println("READY"); System.out.flush()
        // GO sends one round (the counters are cumulative), WARM the
        // records the pipeline drops
        var cmd = stdin.readLine()
        while (cmd == "GO" || cmd == "WARM") {
          if (cmd == "WARM") warm() else round {
            val first = epochNs()
            val threads = outs.zipWithIndex.map { case (out, c) =>
              val t = new Thread(() => {
                var i = c
                while (i < all.size) {
                  send(out, all(i))
                  if ((i / conns) % 8 == 7) out.flush()
                  sent.addAndGet(all(i).records.toLong)
                  i += conns
                }
                out.flush()
              })
              t.start(); t
            }
            threads.foreach(_.join())
            Map("first_send_ns" -> first, "last_send_ns" -> epochNs(), "lag_p99_ms" -> 0.0)
          }
          cmd = stdin.readLine()
        }

      case "paced" =>
        println("READY"); System.out.flush()
        var cmd = stdin.readLine()
        while (cmd == "WARM") { warm(); cmd = stdin.readLine() }
        if (cmd == "GO") round {
          val t0 = epochNs() + 300000000L
          println(s"T $t0"); System.out.flush()
          val lags = new scala.collection.mutable.ArrayBuffer[Double]()
          var seq = 0L
          var frameNo = 0L
          while (seq < n) {
            val due = Corpus.pacedTimeNs(t0, rate, seq)
            var now = epochNs()
            while (now < due) {
              val waitNs = due - now
              if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L)
              else java.util.concurrent.locks.LockSupport.parkNanos(waitNs / 2 + 1)
              now = epochNs()
            }
            lags += (now - due) / 1e6
            val batch = Iterator.iterate(seq)(_ + 1)
              .takeWhile(s => s < n && Corpus.pacedTimeNs(t0, rate, s) <= now)
              .map(s => Corpus.record(seed, s) -> Corpus.pacedTimeNs(t0, rate, s)).toVector
            Corpus.frames(batch, perFrame, zstdFirst = frameNo % 2 == 0).foreach { f =>
              val out = outs((frameNo % conns).toInt)
              send(out, f); out.flush()
              frameNo += 1
            }
            seq += batch.size
            sent.addAndGet(batch.size.toLong)
          }
          val p99 = if (lags.isEmpty) 0.0 else lags.sorted.apply(((lags.size - 1) * 0.99).round.toInt)
          Map("t0_ns" -> t0, "first_send_ns" -> t0, "last_send_ns" -> epochNs(), "lag_p99_ms" -> p99)
        }

      case other => throw new IllegalArgumentException(s"mode $other")
    }
    done = true
    progress.join()
    socks.foreach { s => s.shutdownOutput(); s.close() }
  }
}
