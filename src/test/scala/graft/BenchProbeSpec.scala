package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark harness forks [[BenchProbeMain]] and parses its one
  * `BENCHPROBE ms=<x>` stdout line as the host contention reading. */
class BenchProbeSpec extends AnyFunSuite {
  test("BenchProbeMain prints exactly one BENCHPROBE ms=<x.y> line") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(BenchProbeMain.main(Array.empty))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.matches("""^BENCHPROBE ms=\d+\.\d$""")) == 1, lines)
  }
}
