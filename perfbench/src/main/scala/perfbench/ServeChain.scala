package perfbench

import graft.stream.{E2e, GraftLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetAddress, InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** One backlog event as staged in the log (wire fields of GraftLog). */
final case class Ev(id: Long, tsUs: Long, user: Long, typ: String, value: Double,
    props: String) {
  def wire: String = s"$id\t$tsUs\t$user\t$typ\t${java.lang.Double.toString(value)}\t$props"
}

/** Subscriber endpoint: accepts the pushing tasks' connections and stamps
  * the first receipt of each event (parsed from the line's `event_id`). */
final class Endpoint {
  private val server = {
    val s = new ServerSocket()
    s.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
    s
  }
  val port: Int = server.getLocalPort
  val lines: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val firstNs = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  val total = new AtomicLong()
  val connections = new AtomicLong()
  val firstLineNs = new AtomicLong(-1L)
  @volatile private var closed = false

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val s = server.accept()
      connections.incrementAndGet()
      val t = new Thread(() => {
        val in = new BufferedReader(new InputStreamReader(s.getInputStream,
          StandardCharsets.UTF_8), 1 << 16)
        try {
          var line = in.readLine()
          while (line != null) {
            val now = System.nanoTime()
            firstLineNs.compareAndSet(-1L, now)
            total.incrementAndGet()
            if (lines.add(line)) firstNs.putIfAbsent(Endpoint.eventId(line), now)
            line = in.readLine()
          }
        } catch { case _: java.io.IOException => () }
        finally s.close()
      })
      t.setDaemon(true); t.start()
    } catch { case _: java.io.IOException => () }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def received: Int = firstNs.size
  def close(): Unit = { closed = true; server.close() }
}

object Endpoint {
  /** The `event_id` field of a pushed JSON line. */
  def eventId(line: String): java.lang.Long = {
    val k = "\"event_id\":"
    var i = line.indexOf(k) + k.length
    var v = 0L
    while (i < line.length && Character.isDigit(line.charAt(i))) {
      v = v * 10 + (line.charAt(i) - '0'); i += 1
    }
    v
  }
}

/** Open-loop producer: seeded Poisson arrivals at `rate` events/s; every
  * `tickMs` it publishes the events that have come due as one sealed
  * segment — written with `GraftLog.appendSegment` into a staging dir, then
  * renamed into the log, so a reader never sees a partial segment. */
final class Generator(logDir: String, stagingDir: String, events: IndexedSeq[Ev],
    rate: Double, tickMs: Int, seed: Long, firstSegment: Int, rec: Recorder,
    tr: Tracer) {
  /** due(i): nanoTime at which event i was due; valid after [[run]]. */
  val due: Array[Long] = new Array[Long](events.size)
  var sent = 0

  def run(seconds: Int): Unit = {
    val rnd = new java.util.Random(seed)
    val start = System.nanoTime() + 200000000L
    val end = start + seconds * 1000000000L
    var t = start.toDouble
    var n = 0
    while (n < events.size && t < end) {
      t += -math.log(1.0 - rnd.nextDouble()) / rate * 1e9
      if (t < end) { due(n) = t.toLong; n += 1 }
    }
    require(n < events.size, s"generator: $n arrivals exceed ${events.size} prepared events")
    val wire = events.take(n).map(_.wire) // rendered before the clock starts
    val tickNs = tickMs * 1000000L
    var seg = firstSegment
    var k = 1L
    Files.createDirectories(Paths.get(stagingDir))
    while (sent < n) {
      val tick = start + k * tickNs
      val wait = tick - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      var upto = sent
      while (upto < n && due(upto) <= tick) upto += 1
      if (upto > sent) {
        // segment names are %05d: past 99999 they stop sorting by number
        require(seg < 100000, "generator: segment index reached 100000")
        val t0 = System.nanoTime()
        tr.span("graftlog.append", "graftlog") {
          val name = "segment-%05d.log".format(seg)
          GraftLog.appendSegment(stagingDir, seg, wire.slice(sent, upto))
          Files.move(Paths.get(stagingDir, name), Paths.get(logDir, name),
            StandardCopyOption.ATOMIC_MOVE)
        }
        val t1 = System.nanoTime()
        rec.sample("graftlog.append_ms", (t1 - t0) / 1e6)
        seg += 1
        sent = upto
      }
      val late = (System.nanoTime() - tick) / 1e6
      rec.sample("gen.late_ms", late)
      if (late > tickMs) rec.markInvalid(f"generator lagged $late%.1f ms behind a $tickMs ms tick")
      k += 1
    }
  }
}

/** serve_chain: `E2e.startChain` (graft-log ingest → per-user `seq` state
  * in RocksDB → `Serve.pushLines`). Phase 1 drains the staged backlog under
  * AvailableNow, each time on a fresh checkpoint: `warmDrains` untimed
  * drains warm the JIT, then `drains` timed ones give a median; phase 2
  * restarts on the last checkpoint with a ProcessingTime trigger while the
  * generator appends at a fixed rate. */
final class ServeChain(seed: Long, data: String) extends Workload {
  private val served = Set("click", "purchase")
  private val perTrigger = 20000L
  private val warmDrains = 1
  private val drains = 2
  private val rate = 1000.0     // offered events/s in phase 2
  private val tickMs = 100      // generator publish period
  private val intervalMs = 100L // ProcessingTime trigger of phase 2
  private var logDir: String = _
  private var workDir: String = _

  override def setup(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    logDir = s"$dir/log"; workDir = dir
    val t0 = System.nanoTime()
    GraftLog.stage(spark, graft.Tables.events(spark, data), logDir)
    rec.sample("graftlog.stage_s", (System.nanoTime() - t0) / 1e9)
  }

  /** The staged backlog in event_id order, and the live events the
    * generator replays from it (same fields, fresh ids after the backlog). */
  private def inputs(spark: SparkSession, seconds: Int): (IndexedSeq[Ev], IndexedSeq[Ev]) = {
    val backlog = graft.Tables.events(spark, data)
      .selectExpr("event_id", "unix_micros(ts)", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5))).toIndexedSeq
    val need = (rate * seconds * 1.5).toInt + 1000
    val base = backlog.last.id + 1
    val live = (0 until need).map(i => backlog(i % backlog.size).copy(id = base + i))
    (backlog, live)
  }

  private def segmentCount: Int =
    Files.list(Paths.get(logDir)).toArray.count(_.toString.contains("segment-"))

  private def awaitCount(ep: Endpoint, n: Int, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (ep.received < n && System.nanoTime() < deadline) Thread.sleep(2)
    ep.received >= n
  }

  override def run(spark: SparkSession, seconds: Int, rec: Recorder, tr: Tracer): Unit = {
    val (backlog, live) = inputs(spark, seconds)
    val host = InetAddress.getLoopbackAddress.getHostAddress
    val wantBacklog = backlog.count(e => served(e.typ))

    // phase 1: drain the backlog `warmDrains + drains` times, each on a
    // fresh checkpoint and subscriber (the warm drains are checked, not
    // timed into the metrics); phase 2 resumes the last one
    var ep: Endpoint = null
    var ckpt: String = null
    for (i <- 1 to warmDrains + drains) {
      val p = if (i <= warmDrains) "warm." else ""
      if (ep != null) { ep.close(); check(backlog, ep, rec) }
      ep = new Endpoint
      ckpt = graft.Tmp.ckpt("perfbench_chain")
      val t0 = System.nanoTime()
      val q1 = tr.span("serve.start_chain", "serve") {
        val q = E2e.startChain(spark, logDir, ckpt, perTrigger, host, ep.port)
        tr.linkQuery(q.runId, tr.currentId); q
      }
      rec.sample(s"${p}serve.attach_ms", (System.nanoTime() - t0) / 1e6)
      val full = tr.span("serve.backfill_wait", "harness") {
        q1.awaitTermination()
        awaitCount(ep, wantBacklog, 60000L)
      }
      val t1 = System.nanoTime()
      if (ep.firstLineNs.get > 0) rec.sample(s"${p}serve.first_line_ms", (ep.firstLineNs.get - t0) / 1e6)
      if (full) rec.sample(s"${p}backfill_eps", backlog.size / ((t1 - t0) / 1e9))
      // the drain's median time from start to the receipt of an event
      val got = ep.firstNs.values.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      if (got.nonEmpty) rec.sample(s"${p}backfill_read_p50_ms", (got((got.length - 1) / 2) - t0) / 1e6)
    }

    // phase 2: restart on the same checkpoint, tail the live appends
    val gen = new Generator(logDir, s"$workDir/staging", live, rate, tickMs, seed,
      segmentCount, rec, tr)
    val q2 = tr.span("serve.restart_chain", "serve") {
      val q = E2e.startChain(spark, logDir, ckpt, perTrigger, host, ep.port,
        Trigger.ProcessingTime(intervalMs))
      tr.linkQuery(q.runId, tr.currentId); q
    }
    try {
      tr.span("generator", "harness") { gen.run(seconds) }
      val wantLive = (0 until gen.sent).count(i => served(live(i).typ))
      tr.span("serve.drain_wait", "harness") {
        awaitCount(ep, wantBacklog + wantLive, 30000L)
      }
    } finally q2.stop()
    q2.exception.foreach(e => rec.fail(s"chain query failed: ${e.getMessage.take(200)}"))
    // due and receipt times (ms; NaN when missing) of the served live
    // events; run.py turns them into due-time latencies
    for (i <- 0 until gen.sent if served(live(i).typ)) {
      val got = ep.firstNs.get(live(i).id)
      rec.sample("deliver.due_ms", gen.due(i) / 1e6)
      rec.sample("deliver.recv_ms", if (got == null) Double.NaN else got / 1e6)
    }
    ep.close()
    tr.count("serve.lines", ep.total.get.toDouble)
    tr.count("serve.unique_lines", ep.lines.size.toDouble)
    tr.count("serve.connections", ep.connections.get.toDouble)
    rec.scalar("graftlog.segments", segmentCount.toDouble)
    check(backlog ++ live.take(gen.sent), ep, rec)
  }

  /** Receipts after exact-line dedup equal the served events sent, and each
    * `seq` is the per-user rank by event_id. */
  private def check(sent: IndexedSeq[Ev], ep: Endpoint, rec: Recorder): Unit = {
    val expected = new java.util.HashMap[java.lang.Long, (Long, Long)]()
    val rank = scala.collection.mutable.HashMap.empty[Long, Long]
    sent.filter(e => served(e.typ)).sortBy(_.id).foreach { e =>
      val r = rank.getOrElse(e.user, 0L) + 1; rank(e.user) = r
      expected.put(e.id, (e.user, r))
    }
    rec.attempted(expected.size.toLong)
    val seen = new java.util.HashSet[java.lang.Long]()
    var wrong = 0L
    ep.lines.forEach { line =>
      val f = line.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
        val Array(k, v) = kv.split(":"); k.replace("\"", "") -> v.toLong
      }.toMap
      val id: java.lang.Long = f("event_id")
      val exp = expected.get(id)
      if (!seen.add(id) || exp == null || exp != (f("user_id"), f("seq"))) wrong += 1
    }
    val missing = expected.keySet.stream.filter(!seen.contains(_)).count()
    if (missing > 0) rec.fail(s"serve_chain: $missing of ${expected.size} events not delivered", missing)
    if (wrong > 0) rec.fail(s"serve_chain: $wrong lines divergent, unexpected or with a wrong seq", wrong)
  }

  /** The single-thread baseline: the same backlog drain on `local[1]`. */
  override def traceExtra(spark: SparkSession, a: Main.Args, rec: Recorder): Unit = {
    spark.stop(); SparkSession.clearActiveSession()
    val s1 = Main.session(1, a.work)
    try {
      val dir = s"${a.work}/local1/log"
      GraftLog.stage(s1, graft.Tables.events(s1, data), dir)
      val ep = new Endpoint
      val events = s1.read.parquet(s"$data/events.parquet")
      val total = events.count()
      val n = events.filter(col("event_type").isin(served.toSeq: _*)).count().toInt
      val t0 = System.nanoTime()
      E2e.startChain(s1, dir, graft.Tmp.ckpt("perfbench_local1"), perTrigger,
        InetAddress.getLoopbackAddress.getHostAddress, ep.port).awaitTermination()
      if (awaitCount(ep, n, 60000L))
        rec.scalar("baseline1.backfill_eps", total / ((System.nanoTime() - t0) / 1e9))
      else rec.fail("serve_chain local[1]: backlog not delivered")
      ep.close()
    } finally s1.stop()
  }
}
