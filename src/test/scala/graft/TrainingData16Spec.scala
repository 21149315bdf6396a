package graft


/** Invariant pins for the round-9 batch-13 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData16Spec extends SparkTestBase {

  test("isotonic calibration: minmax formula equals driver-side PAVA") {
    val out = SparkEntry.queries("t_isotonic_calibration")(spark, sf)
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(out.nonEmpty)
    // monotone non-decreasing on the 6-dp grid
    out.map(_.getAs[Double]("iso_rate")).sliding(2).foreach {
      case Array(a, b) => assert(a <= b + 1e-9, "isotonic fit is monotone")
      case _ =>
    }
    // weighted mass conservation: Σ w·iso = Σ s (exact for the LS fit)
    val massIso = out.map(r =>
      r.getAs[Long]("n_docs").toDouble * r.getAs[Double]("iso_rate")).sum
    val massRaw = out.map(_.getAs[Long]("n_pos")).sum.toDouble
    assert(math.abs(massIso - massRaw) < massRaw * 1e-4 + 1e-3,
      "isotonic fit conserves the positive mass")
    // differential: classic stack-based PAVA on the driver
    case class Block(w: Long, s: Long, n: Int)
    var stack = List.empty[Block]
    out.foreach { r =>
      var b = Block(r.getAs[Long]("n_docs"), r.getAs[Long]("n_pos"), 1)
      // merge while the previous block's rate >= the new block's
      while (stack.nonEmpty && stack.head.s * b.w >= b.s * stack.head.w) {
        val p = stack.head; stack = stack.tail
        b = Block(p.w + b.w, p.s + b.s, p.n + b.n)
      }
      stack = b :: stack
    }
    val pava = stack.reverse.flatMap(b =>
      Seq.fill(b.n)(b.s.toDouble / b.w.toDouble))
    out.map(_.getAs[Double]("iso_rate")).zip(pava).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6,
        s"minmax iso $got must equal PAVA $want")
    }
  }

  test("sprt: llr recomposes from cumulative counts, decisions consistent") {
    val out = SparkEntry.queries("a_sprt_monitor")(spark, sf).collect()
    assert(out.nonEmpty)
    var cn = 0L; var cc = 0L
    out.sortBy(_.getAs[java.sql.Date]("day").getTime).foreach { r =>
      cn += r.getAs[Long]("n_events"); cc += r.getAs[Long]("n_purchases")
      assert(r.getAs[Long]("cum_n") == cn && r.getAs[Long]("cum_conv") == cc,
        "cumulative counts are exact prefix sums")
      val llr = cc * math.log(0.22 / 0.18) + (cn - cc) * math.log(0.78 / 0.82)
      assert(math.abs(r.getAs[Double]("llr") - llr) < 1e-5)
      val dec = r.getAs[String]("decision")
      val v = r.getAs[Double]("llr")
      if (v >= 2.944439) assert(dec == "accept_h1")
      else if (v <= -2.944439) assert(dec == "accept_h0")
      else assert(dec == "continue")
    }
  }
}
