package graft

/** Host contention probe, forked in a fresh JVM so the forker's heap
  * history cannot skew it: streams a 256 MB array twice (~50-80 ms idle),
  * which slows under both CPU oversubscription and memory-bandwidth
  * contention — the two ways a neighbour corrupts a timing. Prints one
  * `BENCHPROBE ms=<min-of-3>` line; the benchmark harness parses it. */
object BenchProbeMain {
  @volatile private var sink = 0L

  def main(args: Array[String]): Unit = {
    val arr = new Array[Long](1 << 25)
    var i = 0
    while (i < arr.length) { arr(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    def probeMs(): Double = {
      val t0 = System.nanoTime()
      var s = 0L
      var pass = 0
      while (pass < 2) {
        var j = 0
        while (j < arr.length) { s += arr(j); j += 1 }
        pass += 1
      }
      sink = s
      (System.nanoTime() - t0) / 1e6
    }
    val ms = (1 to 3).map(_ => probeMs()).min
    println("BENCHPROBE ms=" +
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(ms)))
  }
}
