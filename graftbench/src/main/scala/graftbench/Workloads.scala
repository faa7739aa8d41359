package graftbench

import graft.mtail.Snapshot

/** The workloads. Each runs a one-shot leg and a tail leg (so
  * every end-to-end metric exists on every workload); they differ in
  * program, input shape and how the run's time is split between legs.
  *
  * - oneshot_weblog: access-log lines, one wide regex (11 captures),
  *   strptime, counters by (method, code), a byte sum and a latency
  *   histogram; ~180 cells. Almost all work is the scan and the regex
  *   extraction, almost none is cross-line reads or the store.
  * - tail_scrape: the weblog program plus ~20k `path` cells and one
  *   keyed hidden read, driven mostly through the daemon: small
  *   micro-batches pay the per-batch fixed cost, and the store merges
  *   beside concurrent /metrics renders.
  */
final case class Workload(
    name: String,
    program: String,
    /** lines of the one-shot input; 0 = the one-shot leg reads the tail
      * file once the tail legs are done */
    oneShotLines: Int,
    /** the input line sequence for a seed */
    lines: Long => Iterator[String],
    /** the expected store after the first n lines of a seed's sequence */
    expected: (Long, Long) => Map[Gen.Key, Gen.Want],
    /** share of the run's seconds spent on warm one-shot passes; the
      * rest goes to the open-loop tail leg */
    oneShotShare: Double,
    /** open-loop offered rate of the tail leg, lines/s */
    offeredLps: Int) {
  def programName: String = name + ".mtail"
}

object Workloads {

  /** the micro-batch trigger of every tail leg */
  val TriggerMs = 200
  /** the open-loop appender's chunk period */
  val ChunkMs = 2
  /** the open-loop /metrics scraper's period */
  val ScrapeMs = 60
  /** how long after its due time a chunk may take to become visible */
  val ChunkDeadlineMs = 30000
  /** files the one-shot input is split over */
  val OneShotFiles = 4
  /** lines of one drain: the backlog is appended in one write */
  val BacklogLines = 15000
  /** drains of the tail leg, each of `BacklogLines` */
  val Drains = 4
  /** untimed one-shot passes before the timed ones */
  val WarmPasses = 2
  /** lines of the tail's first (set-up) batch */
  val WarmLines = 2000

  private val weblogDecls =
    """counter http_requests_total by method, code
      |counter http_response_bytes_total by method
      |histogram http_request_duration_seconds by method buckets 0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5
      |""".stripMargin

  private val weblogRegex =
    """/^(?P<client>\S+) \S+ (?P<user>\S+) \[(?P<ts>[^\]]+)\] "(?P<method>[A-Z]+) (?P<path>\S+) (?P<proto>[^"]+)" (?P<code>\d{3}) (?P<bytes>\d+) "(?P<referer>[^"]*)" "(?P<agent>[^"]*)" (?P<latency>\d+\.\d+)$/"""

  private val weblogBody =
    """  strptime($ts, "02/Jan/2006:15:04:05 -0700")
      |  http_requests_total[$method][$code]++
      |  http_response_bytes_total[$method] += $bytes
      |  http_request_duration_seconds[$method] = $latency
      |""".stripMargin

  val weblogProgram: String =
    weblogDecls + weblogRegex + " {\n" + weblogBody + "}\n"

  val tailProgram: String =
    weblogDecls +
      """counter http_requests_by_path_total by path
        |hidden counter client_seen by client
        |counter http_repeat_requests_total by method
        |""".stripMargin + weblogRegex + " {\n" + weblogBody +
      """  http_requests_by_path_total[$path]++
        |  client_seen[$client] > 0 {
        |    http_repeat_requests_total[$method]++
        |  }
        |  client_seen[$client]++
        |}
        |""".stripMargin

  private def weblogLines(paths: Int)(seed: Long): Iterator[String] = {
    val g = new Gen.Weblog(seed, paths, clients = 5000)
    Iterator.continually(g.next()._1)
  }

  private def weblogExpected(paths: Int, tailExtras: Boolean)(seed: Long,
      n: Long): Map[Gen.Key, Gen.Want] = {
    val g = new Gen.Weblog(seed, paths, clients = 5000)
    val f = new Gen.WeblogFold(tailExtras)
    var i = 0L
    while (i < n) { g.next()._2.foreach(f.add); i += 1 }
    f.expected
  }

  val all: Seq[Workload] = Seq(
    Workload("oneshot_weblog", weblogProgram,
      oneShotLines = 300000,
      lines = weblogLines(1000), expected = weblogExpected(1000, false),
      oneShotShare = 0.7, offeredLps = 3000),
    Workload("tail_scrape", tailProgram,
      oneShotLines = 0,
      lines = weblogLines(20000), expected = weblogExpected(20000, true),
      oneShotShare = 0.4, offeredLps = 2000))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $n (" +
      all.map(_.name).mkString(", ") + ")"))

  /** the line counter graft's tail keeps beside the program's store */
  def linesTotal(cells: Seq[Snapshot.Cell]): Long =
    cells.collectFirst {
      case Snapshot.Cell(_, "lines_total", l, Snapshot.VInt(v), _, _, _, _)
          if l.isEmpty => v
    }.getOrElse(0L)
}
