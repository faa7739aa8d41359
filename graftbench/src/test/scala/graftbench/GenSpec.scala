package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.mtail.Snapshot

class GenSpec extends AnyFunSuite {

  test("every workload's input is identical for a seed and differs across seeds") {
    Workloads.all.foreach { w =>
      val a = w.lines(42L).take(2000).toList
      assert(a == w.lines(42L).take(2000).toList, w.name)
      assert(a != w.lines(43L).take(2000).toList, w.name)
      assert(w.expected(42L, 2000) == w.expected(42L, 2000), w.name)
    }
  }

  test("about one weblog line in ten is malformed") {
    val g = new Gen.Weblog(7L, paths = 100, clients = 50)
    val bad = Iterator.continually(g.next()).take(10000).count(_._2.isEmpty)
    assert(bad > 800 && bad < 1200)
  }

  test("weblog fold: counters, byte sum, histogram buckets, repeats") {
    val f = new Gen.WeblogFold(tailExtras = true)
    f.add(Gen.WebReq("a", "GET", "200", "/x", 10, "0.004"))
    f.add(Gen.WebReq("a", "GET", "200", "/x", 5, "0.300"))
    f.add(Gen.WebReq("b", "POST", "500", "/y", 1, "9.000"))
    val e = f.expected
    val get = Map("method" -> "GET")
    assert(e(("http_requests_total", get + ("code" -> "200"))).value ==
      Snapshot.VInt(2))
    assert(e(("http_response_bytes_total", get)).value == Snapshot.VInt(15))
    val h = e(("http_request_duration_seconds", get))
    assert(h.count == 2 && h.buckets(0.005) == 1 && h.buckets(0.5) == 1)
    val post = e(("http_request_duration_seconds", Map("method" -> "POST")))
    assert(post.buckets(Double.PositiveInfinity) == 1)
    assert(e(("http_repeat_requests_total", get)).value == Snapshot.VInt(1))
    assert(!e.contains(("http_repeat_requests_total",
      Map("method" -> "POST"))))
  }

  test("mismatches flags missing, unexpected and differing cells") {
    val k = ("c", Map("m" -> "GET"))
    val want = Map(k -> Gen.Want(Snapshot.VFloat(1.0)))
    def cell(v: Double, name: String = "c") =
      Snapshot.Cell("counter", name, Map("m" -> "GET"), Snapshot.VFloat(v),
        None)
    assert(Gen.mismatches(want, Seq(cell(1.0 + 1e-12))).isEmpty)
    assert(Gen.mismatches(want, Seq(cell(1.1))).nonEmpty)
    assert(Gen.mismatches(want, Seq(cell(1.0), cell(1.0, "d"))).nonEmpty)
    assert(Gen.mismatches(want, Nil).nonEmpty)
    assert(Gen.storeMismatches(Seq(cell(2.0)), Seq(cell(2.0 + 1e-12)))
      .isEmpty)
    assert(Gen.storeMismatches(Seq(cell(2.0)), Seq(cell(2.5))).nonEmpty)
  }
}
