package graft.perfbench

import graft.crawl.Crawl.CrawlUnit
import graft.crawl.Fetcher
import graft.parse.{CaptionMatcher, MiniDom, SectionParser, UiChrome}
import graft.synth.World

import Common._

/** The fetch+parse kernel timed single-threaded over a fixed sample of
  * crawl units: `Fetcher.fetchParse` whole, then the five calls it makes,
  * each timed on its own. Every figure is the median over `passes` passes,
  * in µs per URL. */
object Kernel {

  @volatile private var sink = 0L

  private def wholePass(seed: Long, units: Seq[CrawlUnit]): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    units.foreach { u =>
      h += Fetcher.fetchParse(seed, u.qid, u.lang, u.title, u.family, u.url, u.host)
        .result.spans.size
    }
    sink += h
    (System.nanoTime() - t0) / 1e3 / units.size
  }

  /** µs per URL for pagePlan, render, DOM, sections, captions. */
  private def splitPass(seed: Long, units: Seq[CrawlUnit]): Array[Double] = {
    val ns = new Array[Long](5)
    var h = 0L
    units.foreach { u =>
      val t0 = System.nanoTime()
      val plan = World.pagePlan(seed, u.qid, u.lang, u.title, u.family)
      val t1 = System.nanoTime()
      ns(0) += t1 - t0
      val fetched = plan.transientFailures <= Fetcher.maxRetries &&
        plan.httpStatus == 200 && plan.hasContent
      if (fetched) {
        val markup = World.renderPage(plan)
        val t2 = System.nanoTime()
        val dom = MiniDom.parse(markup)
        val t3 = System.nanoTime()
        val sections = SectionParser.toSectionRows(SectionParser.extractTitlesAndTextDom(dom))
        val t4 = System.nanoTime()
        val names = plan.images
          .filter(ip => ip.mime.startsWith("image/") && !UiChrome.isUiChromeFile(ip.fileTitle))
          .map(ip => ip.url.substring(ip.url.lastIndexOf('/') + 1)).distinct
        val captions =
          if (names.isEmpty) Map.empty[String, String]
          else CaptionMatcher.captionsForDom(dom, names)
        val t5 = System.nanoTime()
        ns(1) += t2 - t1; ns(2) += t3 - t2; ns(3) += t4 - t3; ns(4) += t5 - t4
        h += sections.size + captions.size
      }
    }
    sink += h
    ns.map(_ / 1e3 / units.size)
  }

  def run(seed: Long, units: Seq[CrawlUnit], passes: Int): Map[String, Double] = {
    wholePass(seed, units)
    splitPass(seed, units)
    val whole = (1 to passes).map(_ => wholePass(seed, units))
    val parts = (1 to passes).map(_ => splitPass(seed, units))
    def part(i: Int) = median(parts.map(_(i)))
    val plans = units.map(u => World.pagePlan(seed, u.qid, u.lang, u.title, u.family))
    Map(
      "fetch.kernel_us" -> median(whole),
      "fetch.pageplan_us" -> part(0), "fetch.render_us" -> part(1),
      "fetch.dom_us" -> part(2), "fetch.sections_us" -> part(3),
      "fetch.captions_us" -> part(4),
      "fetch.transient_503s" -> plans.map(_.transientFailures.toDouble).sum)
  }
}
