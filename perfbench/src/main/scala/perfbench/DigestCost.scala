package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.{Pack, QDef}

/** Measures the share of an op's delivered time that the content digest
  * (xxhash64 over every column plus the observed aggregate) costs. Not part
  * of a benchmark run; its result is recorded in results/SUMMARY.md.
  *
  * Each op is delivered twice each way to warm up, then `reps` times with
  * the digest and `reps` times as a bare `noop` write, alternating, with the
  * same isolation between deliveries as a benchmark run. Prints one JSON
  * object: per op the median time each way, and the sums.
  *
  * Arguments: --data DIR --ops FILE --reps N */
object DigestCost {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val data = a("data")
    val reps = a("reps").toInt
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.map(_.trim).filter(_.nonEmpty).map(Pack.byName).toSeq
    val spark = Main.session(Paths.get(System.getProperty("java.io.tmpdir")))
    def median(xs: Seq[Double]) = { val s = xs.sorted; (s((s.length - 1) / 2) + s(s.length / 2)) / 2 }
    // a benchmark run's delivery, or the same op written to `noop` bare
    def time(q: QDef, digest: Boolean): Double = {
      Main.isolate(spark)
      if (digest) {
        val r = Main.deliver(spark, q, data, None)
        require(r.error == null, s"${q.name}: ${r.error}")
        r.wall
      } else {
        val t0 = System.nanoTime()
        q.fn(spark, data).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val rows = ops.map { q =>
      for (_ <- 1 to 2; d <- Seq(true, false)) time(q, d)
      val (w, wo) = (1 to reps).map(_ => (time(q, digest = true), time(q, digest = false))).unzip
      Map("op" -> q.name, "with_digest_s" -> median(w), "without_digest_s" -> median(wo))
    }
    val w = rows.map(_("with_digest_s").asInstanceOf[Double]).sum
    val wo = rows.map(_("without_digest_s").asInstanceOf[Double]).sum
    println(Json.render(Map("reps" -> reps, "with_digest_s" -> w, "without_digest_s" -> wo,
      "digest_share" -> (w - wo) / w, "ops" -> rows)))
    spark.stop()
  }
}
