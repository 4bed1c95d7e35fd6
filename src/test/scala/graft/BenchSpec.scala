package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's history-median parser (r17): the second
  * adjudication trigger reads per-query medians from
  * bench_history.jsonl, so a SUSTAINED host burst (hits every in-board
  * rep, spread ≈ 1 — the r16 blind spot) still gets an isolation
  * re-probe when the board value sits far above this query's own
  * committed history at the same sf. */
class BenchSpec extends AnyFunSuite {

  private def withHistory(lines: Seq[String])(f: String => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("bench_hist", ".jsonl")
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
    try f(p.toString)
    finally java.nio.file.Files.deleteIfExists(p)
  }

  test("historyMedians: per-query median over matching-sf lines only; " +
      "error values and malformed lines skipped") {
    val sf = "/root/testdata/sf0.1"
    withHistory(Seq(
      // per-row job and stage counts ride beside the timings, not in them
      s"""{"at":"t1","metric":"total","value":9,"queries":{"q_a":1.0,"q_b":2.0},"jobs":{"q_a":7,"q_b":8},"stages":{"q_a":9,"q_b":9},"sf":"$sf"}""",
      s"""{"at":"t2","metric":"total","value":9,"queries":{"q_a":3.0,"q_b":-1},"jobs":{"q_a":7,"q_b":-1},"stages":{"q_a":9,"q_b":-1},"sf":"$sf"}""",
      s"""{"at":"t3","metric":"total","value":9,"queries":{"q_a":5.0},"sf":"$sf"}""",
      // different sf: must not contribute
      s"""{"at":"t4","metric":"total","value":9,"queries":{"q_a":99.0},"sf":"/root/testdata/sf1"}""",
      // harness-died artifact: no queries object — skipped, not a crash
      s"""{"harness":"died","last_query":"q_a","sf":"$sf"}"""
    )) { path =>
      val m = Bench.historyMedians(path, sf)
      // q_a values at sf0.1: 1, 3, 5 -> median 3; q_b: only 2.0 (the -1
      // error rep is dropped)
      assert(m === Map("q_a" -> 3.0, "q_b" -> 2.0))
    }
  }

  test("historyMedians: missing file is an empty map (no history trigger)") {
    assert(Bench.historyMedians("/nonexistent/bench_history.jsonl", "x") === Map.empty)
  }

  test("historyMedians: even-count median picks the lower middle " +
      "(deterministic, no averaging of timings)") {
    val sf = "sfX"
    withHistory(Seq(
      s"""{"queries":{"q":4.0},"sf":"$sf"}""",
      s"""{"queries":{"q":1.0},"sf":"$sf"}""",
      s"""{"queries":{"q":3.0},"sf":"$sf"}""",
      s"""{"queries":{"q":2.0},"sf":"$sf"}"""
    )) { path =>
      assert(Bench.historyMedians(path, sf) === Map("q" -> 2.0))
    }
  }
}
