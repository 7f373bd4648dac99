package perfbench

/** Regularized incomplete beta function I_x(a, b), by Lentz's continued
  * fraction (the textbook `betai`/`betacf` pair). */
object Beta {
  private def logGamma(x: Double): Double = {
    val c = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
      -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    val tmp = x + 5.5 - (x + 0.5) * math.log(x + 5.5)
    val ser = c.indices.foldLeft(1.000000000190015)((s, j) => s + c(j) / (x + 1 + j))
    -tmp + math.log(2.5066282746310005 * ser / x)
  }

  private def fraction(x: Double, a: Double, b: Double): Double = {
    val tiny = 1e-300
    var c = 1.0
    var d = 1 - (a + b) * x / (a + 1)
    d = 1 / (if (math.abs(d) < tiny) tiny else d)
    var h = d
    var m = 1
    var done = false
    while (!done && m <= 300) {
      val m2 = 2 * m
      for (aa <- Seq(m * (b - m) * x / ((a + m2 - 1) * (a + m2)),
          -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1)))) {
        d = 1 + aa * d
        d = 1 / (if (math.abs(d) < tiny) tiny else d)
        c = 1 + aa / c
        if (math.abs(c) < tiny) c = tiny
        val del = d * c
        h *= del
        if (math.abs(del - 1) < 1e-12) done = true
      }
      m += 1
    }
    h
  }

  def regularized(x: Double, a: Double, b: Double): Double =
    if (x <= 0) 0.0
    else if (x >= 1) 1.0
    else {
      val front = math.exp(logGamma(a + b) - logGamma(a) - logGamma(b) +
        a * math.log(x) + b * math.log(1 - x))
      if (x < (a + 1) / (a + b + 2)) front * fraction(x, a, b) / a
      else 1 - front * fraction(1 - x, b, a) / b
    }
}
