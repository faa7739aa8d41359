package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.Graft

/** `Graft.tail` over one growing file, fed from a pre-rendered source
  * file so that appending is a byte copy and never the bottleneck.
  * `ends(i)` is the source offset just past line i.
  */
final class TailRun(spark: SparkSession, wl: Workload, tailFile: Path,
    srcFile: Path, ends: Array[Long]) {

  Files.write(tailFile, Array.emptyByteArray)
  val handle: Graft.Tail = Graft.tail(spark, wl.program, wl.programName,
    tailFile.toString, port = 0,
    trigger = Trigger.ProcessingTime(s"${Workloads.TriggerMs} milliseconds"))
  private val out = FileChannel.open(tailFile, StandardOpenOption.WRITE,
    StandardOpenOption.APPEND)
  private val src = FileChannel.open(srcFile, StandardOpenOption.READ)
  @volatile var appended: Int = 0

  def linesTotal: Long =
    Workloads.linesTotal(handle.runner.internalStore.snapshot())

  /** append the next n source lines in one write */
  def append(n: Int): Unit = {
    require(appended + n <= ends.length, "tail source exhausted")
    val from = if (appended == 0) 0L else ends(appended - 1)
    val to = ends(appended + n - 1)
    var pos = from
    while (pos < to) pos += src.transferTo(pos, to - pos, out)
    appended += n
  }

  /** nanoTime at which the line counter reached `target`, or None past
    * the deadline */
  def awaitLines(target: Long, timeoutMs: Long): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var v = linesTotal
    while (v < target && System.nanoTime() < deadline) {
      LockSupport.parkNanos(500000L)
      v = linesTotal
    }
    if (v >= target) Some(System.nanoTime()) else None
  }

  def close(): Unit = {
    handle.stop()
    out.close()
    src.close()
  }
}

/** Open-loop leg: chunks are due every `Workloads.ChunkMs` regardless of
  * how the system keeps up, and /metrics is scraped every
  * `Workloads.ScrapeMs` on one keep-alive connection until every chunk
  * is visible. Each chunk's freshness and each scrape's latency are
  * measured from the time it was due.
  */
final class OpenLoop(t: TailRun, linesPerChunk: Int, chunks: Int) {
  val dueNs = new Array[Long](chunks)
  val sentNs = new Array[Long](chunks)
  val visibleNs = Array.fill(chunks)(-1L)
  private val target = new Array[Long](chunks)
  @volatile private var sent = 0
  val scrapeLatMs = scala.collection.mutable.ArrayBuffer[Double]()
  @volatile var scrapesFailed = 0
  @volatile var scrapeBytes = 0L

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val req = HttpRequest.newBuilder(
    URI.create(s"http://127.0.0.1:${t.handle.port}/metrics")).GET().build()
  private def scrape(): HttpResponse[Array[Byte]] =
    client.send(req, HttpResponse.BodyHandlers.ofByteArray())

  // the first requests load the HTTP client and server code paths
  // (~0.3 s); left in the leg they would queue every later scrape
  (1 to 3).foreach(_ => scrape())

  def run(): Unit = {
    val base = t.appended.toLong
    val t0 = System.nanoTime() + 20000000L
    val period = Workloads.ChunkMs * 1000000L
    val appender = thread("bench-appender") {
      var i = 0
      while (i < chunks) {
        dueNs(i) = t0 + i * period
        sleepUntil(dueNs(i))
        sentNs(i) = System.nanoTime()
        t.append(linesPerChunk)
        target(i) = base + (i + 1).toLong * linesPerChunk
        sent = i + 1
        i += 1
      }
    }
    val watcher = thread("bench-watcher") {
      val end = t0 + chunks * period +
        Workloads.ChunkDeadlineMs * 1000000L
      var i = 0
      while (i < chunks && System.nanoTime() < end) {
        val v = t.linesTotal
        val now = System.nanoTime()
        while (i < sent && target(i) <= v) { visibleNs(i) = now; i += 1 }
        LockSupport.parkNanos(250000L)
      }
    }
    // scrapes continue until the last chunk is visible: ingest runs
    // until then, and the catch-up adds samples at no extra run time
    @volatile var ingesting = true
    val scraper = thread("bench-scraper") {
      var j = 0
      while (ingesting) {
        val due = t0 + j * Workloads.ScrapeMs * 1000000L
        sleepUntil(due)
        try {
          val r = scrape()
          val done = System.nanoTime()
          if (r.statusCode == 200 && r.body.nonEmpty) {
            scrapeLatMs.synchronized(scrapeLatMs += (done - due) / 1e6)
            scrapeBytes = r.body.length
          } else scrapesFailed += 1
        } catch { case _: Exception => scrapesFailed += 1 }
        j += 1
      }
    }
    appender.join()
    watcher.join()
    ingesting = false
    scraper.join()
  }

  def freshMs: Seq[Double] = (0 until chunks).collect {
    case i if visibleNs(i) >= 0 => (visibleNs(i) - dueNs(i)) / 1e6 }
  def lateMs: Seq[Double] = (0 until chunks).map(i =>
    (sentNs(i) - dueNs(i)) / 1e6)
  def chunksMissed: Int = visibleNs.count(_ < 0)

  private def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) {
      LockSupport.parkNanos(d)
      d = ns - System.nanoTime()
    }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val th = new Thread(() => body, name)
    th.setDaemon(true)
    th.start()
    th
  }
}
