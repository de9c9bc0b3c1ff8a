package graft.perfbench

import graft.functions.{Cvss, Purl, RpmVersion}

/** Direct in-JVM probes of the scalar functions the relational catalog's
  * domain queries lean on, over inputs generated from the run's seed:
  * nanoseconds per call, the median of several timed batches. */
object Probes {
  /** Where each batch leaves its results, so the JIT cannot drop the
    * calls being timed. */
  @volatile var sink = 0

  def run(seed: Long): Map[String, Double] = {
    val r = new scala.util.Random(seed)
    def pick(xs: String*): String = xs(r.nextInt(xs.length))
    val n = 4096
    val rpm = Array.fill(n)(
      s"${r.nextInt(3)}:${r.nextInt(10)}.${r.nextInt(30)}.${r.nextInt(20)}" +
        s"-${r.nextInt(9)}.el${7 + r.nextInt(3)}")
    val cvss = Array.fill(n)(
      s"CVSS:3.1/AV:${pick("N", "A", "L", "P")}/AC:${pick("L", "H")}" +
        s"/PR:${pick("N", "L", "H")}/UI:${pick("N", "R")}/S:${pick("U", "C")}" +
        s"/C:${pick("N", "L", "H")}/I:${pick("N", "L", "H")}" +
        s"/A:${pick("N", "L", "H")}")
    val purl = Array.fill(n)(
      s"pkg:${pick("rpm", "deb", "apk", "npm", "maven")}/ns${r.nextInt(50)}" +
        s"/name${r.nextInt(1000)}@${r.nextInt(9)}.${r.nextInt(20)}" +
        s"?arch=${pick("x86_64", "aarch64")}&distro=el${7 + r.nextInt(3)}")
    Map(
      "functions.rpm_cmp_ns" -> nsPerCall(n)(i =>
        RpmVersion.compareVersions(rpm(i), rpm((i + 1) % n))),
      "functions.cvss_score_ns" -> nsPerCall(n)(i => Cvss.score(cvss(i))),
      "functions.purl_parse_ns" -> nsPerCall(n)(i => Purl.parse(purl(i))))
  }

  /** Median over 9 batches (after 3 warm-up batches) of one pass over
    * the `n` inputs. */
  private def nsPerCall(n: Int)(f: Int => Any): Double = {
    def batch(): Double = {
      var acc = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { acc += f(i).hashCode; i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / n
      sink += acc
      ns
    }
    (0 until 3).foreach(_ => batch())
    val xs = (0 until 9).map(_ => batch()).sorted
    xs(xs.size / 2)
  }
}
