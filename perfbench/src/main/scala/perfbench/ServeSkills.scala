package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, File, IOException, InputStream, OutputStream}
import java.net.{Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.util.Random

import graft.functions.TextFunctions.SkillsDict
import graft.functions.Uuid5.uuid5Jvm
import graft.sources.{FileKvStore, SkillsHttpServer}

/** serve_skills: `SkillsHttpServer` over a `FileKvStore` log that a week
  * of daily publishes left behind (uncompacted), driven by one process
  * with at most `cores` persistent connections while a background
  * publisher re-publishes a slice of jobs through `rowSink`.
  *
  * The timed load is an open loop at a fixed nominal rate: every request
  * has a due time and its latency is measured from it, so a stall also
  * delays the requests queued behind it. A short closed loop on all
  * connections then measures the rate the server sustains. */
object ServeSkills {

  val Jobs = 300
  val Publishes = 5
  val NominalRps = 15.0
  /** The nominal-rate loop runs at least this long (240 GETs). */
  val MinOpenMs = 16000.0
  val LatencyLimitMs = 250.0
  val RepublishEveryMs = 500L
  val RepublishSlice = 10
  val TimeoutMs = 5000

  sealed trait Kind
  case object Known extends Kind
  case object Unknown extends Kind
  case object Listing extends Kind

  final case class Req(kind: Kind, job: Int)
  final case class Sample(req: Req, due: Double, sent: Double, done: Double,
      status: Int, verdict: String)

  /** Seeded request mix: ~90% GET of a known id (Zipf over ids), ~5% GET
    * of an unknown id (404 expected), ~5% GET /skills. */
  def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed ^ 0x5e7e)
    val w = (1 to Jobs).map(r => 1.0 / r)
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val perm = rnd.shuffle((0 until Jobs).toIndexedSeq)
    IndexedSeq.fill(n) {
      val u = rnd.nextDouble()
      if (u < 0.05) Req(Listing, -1)
      else if (u < 0.10) Req(Unknown, rnd.nextInt(1000))
      else {
        val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
        Req(Known, perm(math.min(Jobs - 1, if (i >= 0) i else -i - 1)))
      }
    }
  }

  final class Store(seed: Long, val dir: String) {
    private val rnd = new Random(seed)
    val names: IndexedSeq[String] = (0 until Jobs).map { i =>
      val w = SkillsDict(rnd.nextInt(SkillsDict.size))
      if (i % 10 == 0) s"$w engineer, team $i" else s"$w engineer $i"
    }
    val ids: IndexedSeq[String] = names.map(uuid5Jvm)
    val skills: IndexedSeq[Seq[String]] =
      names.map(_ => rnd.shuffle(SkillsDict).take(10))
    val unknownIds: IndexedSeq[String] =
      (0 until 1000).map(k => uuid5Jvm(s"no such job $k"))
    /** Highest publish revision per job whose write has completed. */
    val committed = new AtomicIntegerArray(Jobs)

    def row(j: Int, rev: Int): Map[String, String] =
      Map("job_id" -> ids(j), "job" -> names(j), "rev" -> rev.toString) ++
        skills(j).zipWithIndex.map { case (s, k) => s"top_skill_n_${k + 1}" -> s }

    /** One publish of the given jobs, through a fresh store handle (a new
      * log file, as a new daily run writes). */
    def publish(jobs: Seq[Int], rev: Int): Unit = {
      val sink = new FileKvStore(dir).rowSink("job_id")
      jobs.foreach(j => sink.put(row(j, rev)))
      jobs.foreach(j => committed.set(j, rev))
    }

    def build(): Unit = (0 until Publishes).foreach { rev =>
      publish(0 until Jobs, rev)
      Thread.sleep(2) // distinct millisecond prefix per publish
    }
  }

  /** Minimal HTTP/1.1 client on one persistent connection. */
  final class Conn(port: Int) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _

    private def open(): Unit = {
      sock = new Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(TimeoutMs)
      in = new BufferedInputStream(sock.getInputStream)
      out = sock.getOutputStream
    }

    def close(): Unit = if (sock != null) { sock.close(); sock = null }

    /** (status, body); status -1 = reset, -2 = timeout. */
    def get(path: String): (Int, String) =
      try {
        if (sock == null) open()
        out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(UTF_8))
        out.flush()
        val head = readHead()
        val status = head.linesIterator.next().split(" ")(1).toInt
        val len = head.linesIterator.collectFirst {
          case l if l.toLowerCase.startsWith("content-length:") =>
            l.substring(15).trim.toInt
        }.getOrElse(0)
        val body = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(body, off, len - off)
          if (n < 0) throw new IOException("eof in body")
          off += n
        }
        (status, new String(body, UTF_8))
      } catch {
        case _: SocketTimeoutException => close(); (-2, "")
        case _: IOException | _: RuntimeException => close(); (-1, "")
      }

    private def readHead(): String = {
      val b = new ByteArrayOutputStream()
      var last4 = 0
      while (last4 != 0x0d0a0d0a) {
        val c = in.read()
        if (c < 0) throw new IOException("eof in head")
        b.write(c)
        last4 = (last4 << 8) | c
      }
      b.toString(UTF_8)
    }
  }

  private val RevRe = "\"rev\": \"(\\d+)\"".r

  /** Sends one request and classifies the response. */
  def call(conn: Conn, store: Store, req: Req): (Int, String) = {
    val minRev = if (req.kind == Known) store.committed.get(req.job) else 0
    val path = req.kind match {
      case Known   => s"/skills/${store.ids(req.job)}"
      case Unknown => s"/skills/${store.unknownIds(req.job)}"
      case Listing => "/skills"
    }
    val (status, body) = conn.get(path)
    val verdict = (req.kind, status) match {
      case (_, -1) => "reset"
      case (_, -2) => "timeout"
      case (_, s) if s >= 500 => "5xx"
      case (Unknown, 404) => "404"
      case (Known, 404) => "404_unexpected"
      case (Known, 200) =>
        val rev = RevRe.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(-1)
        if (!body.contains(s""""job_id": "${store.ids(req.job)}"""") ||
            !body.contains(s""""top_skill_n_1": "${store.skills(req.job).head}""""))
          "wrong_body"
        else if (rev < minRev) "stale"
        else "200"
      case (Listing, 200) =>
        if ("\"job_id\": ".r.findAllMatchIn(body).size == Jobs) "200"
        else "wrong_body"
      case (_, s) => s"unexpected_$s"
    }
    (status, verdict)
  }

  def ok(verdict: String): Boolean = verdict == "200" || verdict == "404"

  /** Open loop: `rate` requests per second for `durMs`, on `conns`
    * connections; a request is sent at its due time or, if every
    * connection is busy, as soon as one frees up. */
  def openLoop(port: Int, store: Store, reqs: IndexedSeq[Req], rate: Double,
      durMs: Double, conns: Int, inflightMax: AtomicInteger): IndexedSeq[Sample] = {
    val n = math.max(1, (rate * durMs / 1000).toInt)
    val samples = new Array[Sample](n)
    val next = new AtomicInteger
    val inflight = new AtomicInteger
    val start = Clock.nowMs + 20
    val workers = (0 until conns).map { _ =>
      new Thread(() => {
        val conn = new Conn(port)
        var i = next.getAndIncrement()
        while (i < n) {
          val due = start + i * 1000.0 / rate
          val wait = due - Clock.nowMs
          if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
          val sent = Clock.nowMs
          inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
          val req = reqs(i % reqs.size)
          val (status, verdict) = call(conn, store, req)
          inflight.decrementAndGet()
          samples(i) = Sample(req, due, sent, Clock.nowMs, status, verdict)
          i = next.getAndIncrement()
        }
        conn.close()
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    samples.toIndexedSeq
  }

  /** Closed loop on every connection for `durMs`: the sustained rate. */
  def closedLoop(port: Int, store: Store, reqs: IndexedSeq[Req], durMs: Double,
      conns: Int): (IndexedSeq[Sample], Double) = {
    val next = new AtomicInteger
    val buf = mutable.ArrayBuffer.empty[Sample]
    val start = Clock.nowMs
    val end = start + durMs
    val workers = (0 until conns).map { _ =>
      new Thread(() => {
        val conn = new Conn(port)
        while (Clock.nowMs < end) {
          val req = reqs(next.getAndIncrement() % reqs.size)
          val sent = Clock.nowMs
          val (status, verdict) = call(conn, store, req)
          val s = Sample(req, sent, sent, Clock.nowMs, status, verdict)
          buf.synchronized { buf += s }
        }
        conn.close()
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    val elapsed = buf.map(_.done).max - start
    (buf.toIndexedSeq, buf.size / (elapsed / 1000))
  }

  /** Background publisher: re-publishes a seeded slice of jobs every
    * RepublishEveryMs until stopped. */
  final class Publisher(store: Store, seed: Long) {
    @volatile private var running = true
    val publishes = new AtomicLong
    private val thread = new Thread(() => {
      val rnd = new Random(seed ^ 0x9b11L)
      var rev = Publishes
      while (running) {
        Thread.sleep(RepublishEveryMs)
        if (running) {
          store.publish(Seq.fill(RepublishSlice)(rnd.nextInt(Jobs)).distinct, rev)
          publishes.incrementAndGet()
          rev += 1
        }
      }
    }, "perfbench-publisher")
    thread.start()
    def stop(): Unit = { running = false; thread.join() }
  }

  def run(cfg: RunConfig, out: Outcome, tracer: Tracer): Unit = {
    val conns = cfg.cores
    // Set-up, repeated: build the week-long store three times, keep the last.
    val builds = (0 until 3).map { i =>
      val s = new Store(cfg.seed, s"${cfg.workDir}/store-$i")
      (s, Clock.timeMs(s.build())._2)
    }
    val store = builds.last._1
    (0 until 2).foreach(i => Dirs.deleteTree(new File(s"${cfg.workDir}/store-$i")))
    val server = new SkillsHttpServer(store.dir)
    server.start()
    val reqs = requests(cfg.seed, 20000)
    try {
      closedLoop(server.port, store, reqs.drop(10000), 300, conns) // warm-up
      out.put("setup_s", Setup.seconds(builds.map(_._2)))
      LiveHeap.sample()
      val publisher = new Publisher(store, cfg.seed)
      val inflightMax = new AtomicInteger
      val open = openLoop(server.port, store, reqs, NominalRps,
        math.max(cfg.seconds * 1000 * 0.8, MinOpenMs), conns, inflightMax)
      LiveHeap.sample()
      val (closed, rps) = closedLoop(server.port, store, reqs.drop(open.size),
        cfg.seconds * 1000 * 0.2, conns)
      // The traced run adds a nominal-rate loop long enough for 1000 GETs
      // (so its p99 has ten samples beyond it) with the store-read probe
      // running beside it, then the rate ladder.
      val probe = if (cfg.trace) Some(new ReadProbe(store.dir, tracer)) else None
      val traced =
        if (cfg.trace) openLoop(server.port, store, reqs, NominalRps,
          1000 / NominalRps * 1000, conns, inflightMax)
        else IndexedSeq.empty
      probe.foreach(_.stop())
      val ladder =
        if (cfg.trace) Seq(0.5, 1.0, 2.0, 4.0, 8.0).map { f =>
          val rate = NominalRps * f
          rate -> openLoop(server.port, store, reqs, rate, 1000, conns, new AtomicInteger)
        } else Nil
      publisher.stop()
      LiveHeap.sample()

      val all = open ++ closed ++ traced ++ ladder.flatMap(_._2)
      all.foreach(s => out.check(ok(s.verdict), s"${s.req.kind} -> ${s.verdict}"))
      def getMs(ss: IndexedSeq[Sample]) =
        ss.filter(_.req.kind != Listing).map(s => s.done - s.due)
      out.put("op_ms", Stats.median(getMs(open)))
      out.put("work_per_s", rps)

      if (cfg.trace) {
        traced.foreach { s =>
          tracer.record(0, s"http.GET ${if (s.req.kind == Listing) "/skills" else "/skills/<id>"}",
            tracer.now - (Clock.nowMs - s.due), tracer.now - (Clock.nowMs - s.done),
            Map("sent_ms" -> f"${s.sent - s.due}%.3f", "status" -> s.status.toString,
              "verdict" -> s.verdict))
        }
        val gets = getMs(traced)
        val lists = traced.filter(_.req.kind == Listing).map(s => s.done - s.due)
        val readMs = probe.map(_.medianMs).getOrElse(0.0)
        out.put("serve_get_p50_ms", Stats.median(gets))
        out.put("serve_get_p99_ms", Stats.quantile(gets, 0.99))
        out.put("serve_list_p50_ms", if (lists.isEmpty) 0.0 else Stats.median(lists))
        out.put("serve_max_rps", ladder.filter { case (_, ss) => meets(ss) }
          .map(_._1).foldLeft(0.0)(math.max))
        out.put("kv.read_ms", readMs)
        val logs = Option(new File(store.dir).listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.endsWith(".tsv"))
        out.put("kv.lines_per_get", logs.map(f =>
          scala.util.Using.resource(java.nio.file.Files.lines(f.toPath))(_.count())).sum.toDouble)
        out.put("kv.store_mb", logs.map(_.length).sum / (1024.0 * 1024.0))
        out.put("http.transport_ms", Stats.median(gets) - readMs)
        out.put("http.gen_late_ms", Stats.quantile(traced.map(s => s.sent - s.due), 0.99))
        out.put("http.inflight_max", inflightMax.get.toDouble)
        Seq("200", "404", "404_unexpected", "5xx", "reset", "timeout", "stale",
          "wrong_body").foreach { v =>
          out.put(s"http.status.$v", all.count(_.verdict == v).toDouble)
        }
        out.put("trace.overhead_ms", Stats.median(gets) - Stats.median(getMs(open)))
      }
    } finally server.stop()
  }

  /** A rate meets the limit when its p99 latency stays under the limit and
    * the generator's lateness does not grow from the first quarter of the
    * requests to the last (no growing backlog). */
  def meets(ss: IndexedSeq[Sample]): Boolean = {
    val lat = ss.map(s => s.done - s.due)
    val q = math.max(1, ss.size / 4)
    val lateStart = Stats.median(ss.take(q).map(s => s.sent - s.due))
    val lateEnd = Stats.median(ss.takeRight(q).map(s => s.sent - s.due))
    ss.forall(s => ok(s.verdict)) && Stats.quantile(lat, 0.99) <= LatencyLimitMs &&
      lateEnd <= lateStart + 20
  }

  /** Side probe for the traced run: times `FileKvStore.read` on the
    * serving directory every 100 ms while the open loop runs. */
  final class ReadProbe(dir: String, tracer: Tracer) {
    @volatile private var running = true
    private val times = mutable.ArrayBuffer.empty[Double]
    private val thread = new Thread(() => {
      while (running) {
        val start = tracer.now
        val (okRead, ms) = Clock.timeMs(
          scala.util.Try(FileKvStore.read(dir)).isSuccess)
        tracer.record(0, "sources.FileKvStore.read", start, start + ms,
          Map("ok" -> okRead.toString))
        if (okRead) times.synchronized { times += ms }
        Thread.sleep(100)
      }
    }, "perfbench-read-probe")
    thread.start()
    def stop(): Unit = { running = false; thread.join() }
    def medianMs: Double = times.synchronized(if (times.isEmpty) 0.0 else Stats.median(times.toSeq))
  }
}
