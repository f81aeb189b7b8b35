package graft.perfbench

/** Entry point of one benchmark JVM; run.py starts it with
  * `--workload <crawl-fresh|crawl-multitick|analytics>` and the workload's
  * settings, and reads back the `PERFBENCH {json}` line it prints. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Common.parse(args)
    o.str("workload") match {
      case "analytics" => QueryBench.main(o)
      case _           => CrawlBench.main(o)
    }
  }
}
