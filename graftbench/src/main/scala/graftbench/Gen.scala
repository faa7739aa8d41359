package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import graft.mtail.Snapshot

/** Seeded input generators and the sequential folds that give each
  * workload's expected store. The expectation never comes from graft:
  * the generator knows every field it wrote, and the fold replays the
  * program's semantics line by line.
  */
object Gen {

  /** (metric name, labels) — one exported cell. */
  type Key = (String, Map[String, String])

  /** Expected cell: its value and, for a histogram, the count per
    * bucket upper bound (`Double.PositiveInfinity` for +Inf).
    */
  final case class Want(value: Snapshot.Value,
      buckets: Map[Double, Long] = Map.empty, count: Long = 0L)

  /** Pick an index with probability proportional to its weight. */
  private def pick(rng: SplittableRandom, weights: Array[Int]): Int = {
    var r = rng.nextInt(weights.sum)
    var i = 0
    while (r >= weights(i)) { r -= weights(i); i += 1 }
    i
  }

  def writeLines(path: java.nio.file.Path, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l =>
      w.write(l)
      w.write('\n')
    } finally w.close()
  }

  // ---- web access log (Apache combined format + request latency) ----

  final case class WebReq(client: String, method: String, code: String,
      path: String, bytes: Long, latency: String)

  private val methods = Array("GET", "POST", "PUT", "DELETE", "HEAD", "PATCH",
    "OPTIONS", "PROPFIND")
  private val methodW = Array(50, 20, 8, 6, 6, 4, 4, 2)
  private val codes = Array("200", "201", "204", "206", "301", "302", "304",
    "400", "401", "403", "404", "405", "408", "409", "429", "500", "501",
    "502", "503", "504")
  private val codeW = Array(60, 5, 3, 2, 2, 3, 5, 3, 2, 2, 6, 1, 1, 1, 1,
    1, 1, 1, 1, 1)
  private val agents = Array(
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15",
    "curl/8.4.0", "Prometheus/2.47.0", "Go-http-client/1.1")
  private val latencyBuckets: Seq[Double] =
    Seq(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0)

  private val clfTime = DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.ROOT)
    .withZone(ZoneOffset.UTC)

  /** Access-log lines: `paths` distinct request paths, `clients`
    * distinct client addresses, one line in ten malformed so the
    * program's regex rejects it. Time advances one second per 20 lines.
    */
  final class Weblog(seed: Long, paths: Int, clients: Int) {
    private val rng = new SplittableRandom(seed)
    private var n = 0L
    private val t0 = 1700000000L + (seed & 0xfff) * 3600
    private var tsSec = -1L
    private var tsStr = ""

    def next(): (String, Option[WebReq]) = {
      val sec = t0 + n / 20
      n += 1
      if (sec != tsSec) {
        tsSec = sec
        tsStr = clfTime.format(Instant.ofEpochSecond(sec))
      }
      val c = rng.nextInt(clients)
      val client = s"10.${c >> 16}.${(c >> 8) & 255}.${c & 255}"
      if (rng.nextInt(10) == 0)
        (s"""$client - - [$tsStr] "-" 408 0 "-" "-"""", None)
      else {
        val method = methods(pick(rng, methodW))
        val code = codes(pick(rng, codeW))
        val path = s"/api/v1/items/${rng.nextInt(paths)}"
        val bytes = rng.nextInt(50000).toLong
        val ms = math.min((-math.log(1 - rng.nextDouble()) * 80).toLong,
          9999L)
        val latency = f"${ms / 1000}%d.${ms % 1000}%03d"
        val user = if (rng.nextInt(4) == 0) s"u${rng.nextInt(500)}" else "-"
        val ref = s"https://example.com/p${rng.nextInt(100)}"
        val agent = agents(rng.nextInt(agents.length))
        (s"""$client - $user [$tsStr] "$method $path HTTP/1.1" $code """ +
          s"""$bytes "$ref" "$agent" $latency""",
          Some(WebReq(client, method, code, path, bytes, latency)))
      }
    }
  }

  /** Sequential fold of the weblog program; `tailExtras` adds the
    * per-path counter and the keyed hidden read of the tail program.
    */
  final class WeblogFold(tailExtras: Boolean) {
    private val requests = mutable.HashMap[(String, String), Long]()
    private val bytes = mutable.HashMap[String, Long]()
    private val latSum = mutable.HashMap[String, Double]()
    private val latCount = mutable.HashMap[String, Long]()
    private val latBuckets = mutable.HashMap[(String, Double), Long]()
    private val byPath = mutable.HashMap[String, Long]()
    private val repeats = mutable.HashMap[String, Long]()
    private val seenClients = mutable.HashSet[String]()

    def add(r: WebReq): Unit = {
      requests((r.method, r.code)) =
        requests.getOrElse((r.method, r.code), 0L) + 1
      bytes(r.method) = bytes.getOrElse(r.method, 0L) + r.bytes
      val v = r.latency.toDouble
      latSum(r.method) = latSum.getOrElse(r.method, 0.0) + v
      latCount(r.method) = latCount.getOrElse(r.method, 0L) + 1
      val b = latencyBuckets.find(v <= _).getOrElse(Double.PositiveInfinity)
      latBuckets((r.method, b)) = latBuckets.getOrElse((r.method, b), 0L) + 1
      if (tailExtras) {
        byPath(r.path) = byPath.getOrElse(r.path, 0L) + 1
        if (seenClients.contains(r.client))
          repeats(r.method) = repeats.getOrElse(r.method, 0L) + 1
        seenClients += r.client
      }
    }

    def expected: Map[Key, Want] = {
      val out = mutable.HashMap[Key, Want]()
      requests.foreach { case ((m, c), n) =>
        out(("http_requests_total", Map("method" -> m, "code" -> c))) =
          Want(Snapshot.VInt(n)) }
      bytes.foreach { case (m, n) =>
        out(("http_response_bytes_total", Map("method" -> m))) =
          Want(Snapshot.VInt(n)) }
      latSum.foreach { case (m, s) =>
        val bs = (latencyBuckets :+ Double.PositiveInfinity)
          .map(b => b -> latBuckets.getOrElse((m, b), 0L)).toMap
        out(("http_request_duration_seconds", Map("method" -> m))) =
          Want(Snapshot.VFloat(s), bs, latCount(m)) }
      byPath.foreach { case (p, n) =>
        out(("http_requests_by_path_total", Map("path" -> p))) =
          Want(Snapshot.VInt(n)) }
      repeats.foreach { case (m, n) =>
        out(("http_repeat_requests_total", Map("method" -> m))) =
          Want(Snapshot.VInt(n)) }
      out.toMap
    }
  }

  /** Compare a store against the expectation; empty means equal. Float
    * sums are compared to a relative 1e-9, since the engine adds them
    * in another order than the fold. At most `limit` differences are
    * described.
    */
  def mismatches(want: Map[Key, Want], got: Seq[Snapshot.Cell],
      limit: Int = 5): Seq[String] = {
    def bucketKey(k: String): Option[Double] =
      if (k == "count") None
      else if (k == "+Inf") Some(Double.PositiveInfinity)
      else Some(k.toDouble)
    val gotByKey = got.map(c => (c.name, c.labels) -> c).toMap
    val out = mutable.ArrayBuffer[String]()
    (gotByKey.keySet -- want.keySet).take(limit)
      .foreach(k => out += s"unexpected cell $k")
    (want.keySet -- gotByKey.keySet).take(limit)
      .foreach(k => out += s"missing cell $k")
    want.foreach { case (k, w) =>
      gotByKey.get(k).foreach { c =>
        val valueOk = (w.value, c.value) match {
          case (Snapshot.VFloat(a), Snapshot.VFloat(b)) =>
            math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
          case (a, b) => a == b
        }
        val bucketsOk = w.buckets.isEmpty || c.buckets.exists { bs =>
          bs.flatMap { case (bk, n) => bucketKey(bk).map(_ -> n) }
            .filter(_._2 > 0) == w.buckets.filter(_._2 > 0) &&
            bs.get("count").contains(w.count)
        }
        if (!valueOk || !bucketsOk)
          out += s"cell $k: want ${w.value} ${w.buckets} got ${c.value} " +
            s"${c.buckets}"
      }
    }
    out.take(limit).toSeq
  }

  /** Compare two stores cell by cell, floats to a relative 1e-9 (their
    * sums depend on how the lines were grouped); empty means equal.
    */
  def storeMismatches(want: Seq[Snapshot.Cell], got: Seq[Snapshot.Cell],
      limit: Int = 5): Seq[String] = {
    def norm(c: Snapshot.Cell) = c.copy(wasSet = None, createOnly = false,
      value = c.value match {
        case Snapshot.VFloat(_) => Snapshot.VFloat(0)
        case v => v
      })
    def close(a: Snapshot.Value, b: Snapshot.Value) = (a, b) match {
      case (Snapshot.VFloat(x), Snapshot.VFloat(y)) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => true
    }
    val g = got.map(c => (c.name, c.labels) -> c).toMap
    val w = want.map(c => (c.name, c.labels) -> c).toMap
    val out = mutable.ArrayBuffer[String]()
    (g.keySet -- w.keySet).take(limit).foreach(k => out += s"unexpected $k")
    (w.keySet -- g.keySet).take(limit).foreach(k => out += s"missing $k")
    w.foreach { case (k, a) =>
      g.get(k).foreach { b =>
        if (norm(a) != norm(b) || !close(a.value, b.value))
          out += s"cell $k: want $a got $b"
      }
    }
    out.take(limit).toSeq
  }
}
