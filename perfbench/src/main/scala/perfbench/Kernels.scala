package perfbench

import scala.jdk.CollectionConverters._
import graft.functions.{Categories, Promotions, Units}

/** ns per call of the scalar kernels behind the adapter and CalculateFields
  * UDFs, single-threaded, on the workload's own strings, after warm-up. */
object Kernels {
  /** Median over 5 rounds of ns per call; each round loops over `inputs`
    * until at least `minNs` have passed. */
  def nsPerCall[A](inputs: IndexedSeq[A], minNs: Long = 40000000L)(f: A => Any): Double = {
    var sink = 0
    def round(): Double = {
      var calls = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNs) {
        var i = 0
        while (i < inputs.size) { sink += f(inputs(i)).hashCode; i += 1 }
        calls += inputs.size
        t = System.nanoTime()
      }
      (t - t0).toDouble / calls
    }
    (0 until 3).foreach(_ => round()) // warm-up
    val r = Run.median((0 until 5).map(_ => round()))
    if (sink == 42) println("") // keeps the results observable to the JIT
    r
  }

  def measure(r: Run): Unit = {
    val k = r.manifest.get("kernels")
    val promos = k.get("promos").elements.asScala
      .map(p => (p.get(0).asText, p.get(1).asDouble)).toIndexedSeq
    val units = k.get("units").elements.asScala
      .map(u => (u.get(0).asDouble, u.get(1).asText)).toIndexedSeq
    val cats = k.get("categories").elements.asScala.map(_.asText).toIndexedSeq
    r.metrics("functions.promo_ns") = nsPerCall(promos) { case (m, p) =>
      Promotions.parsePromotionMechanism(m, p, p)
    }
    r.metrics("functions.unit_ns") = nsPerCall(units) { case (a, u) =>
      Units.standardizeQuantity(a, Units.normalizeUnit(u))
    }
    r.metrics("functions.category_ns") = nsPerCall(cats)(Categories.findBestCategoryMatch)
  }
}
