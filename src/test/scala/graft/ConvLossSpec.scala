package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.gen.GridImages
import graft.operators.{ChipRow, ConvNet, ConvTrain, SegNet}

/** The batch-globally-coupled losses: Dice (the reference's actual
  * training loss, convnet.py:322), loss.py's LossBinary / LossMulti.
  * Gradients are checked against finite differences of an
  * INDEPENDENT driver-side implementation of the reference formulas;
  * coupled training is checked bit-invariant across parallelism; and
  * every coupled-loss oracle trajectory (q_train_dice / q_train_lossb
  * / q_train_lossm / q_grid_dice) is proven by measurement to keep its
  * transcendental pre-snap values far from the dyadic grid, so a
  * 1-ulp exp/ln difference between the JVM and DuckDB cannot flip a
  * floor(). */
class ConvLossSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  private def fixtureChips() = {
    val imgs = spark.createDataset(GridImages.images(1, 2).toSeq)(
      Encoders.product[ImageRow])
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    ConvNet.collectChipsLabeled(imgs, masks, chipSize = 16, includeZero = true)
  }

  /** One net's batch stats through the K-candidate stats pass (K = 1). */
  private def batchStats1(chips: Dataset[ChipRow], net: SegNet, scale: Double,
                          lossFn: ConvTrain.Loss): ConvTrain.BatchStats = {
    val bc = spark.sparkContext.broadcast(Array(net))
    try ConvTrain.batchStats(chips, bc, Array(scale), lossFn).head
    finally bc.destroy()
  }

  private lazy val chipSeq: Seq[ChipRow] =
    fixtureChips().collect().sortBy(c => (c.cx, c.cy)).toSeq

  private def snapL(v: Double, scale: Double): Double =
    math.floor(v * scale) / scale

  /** Independent total loss over all chips from the reference
    * formulas (loss.py:8-55; smp f_score beta=1), on the engine's
    * quantized-prob semantics. Written from the papers/reference
    * docs, NOT from ConvTrain's residual code. */
  private def naiveLoss(chips: Seq[ChipRow], net: SegNet,
                        lossFn: ConvTrain.Loss, scale: Double): Double = {
    val outC = net.layers.last.outC
    val classes = net.classes
    // global accumulators
    val iS = new Array[Double](outC)
    val pS = new Array[Double](outC)
    val tS = new Array[Double](outC)
    var n = 0L
    var wMass = 0.0
    var pixSum = 0.0
    val cw = lossFn match {
      case ConvTrain.LossMulti(_, w) => w
      case _ => null
    }
    chips.foreach { ch =>
      val last = ConvTrain.forwardAll(ch.bands, ch.w, ch.h, net).last
      var p0 = 0
      while (p0 < ch.w * ch.h) {
        val mv = ch.mask(p0)
        // probs
        val probs = new Array[Double](outC)
        var lnZ = 0.0; var mx = 0.0
        if (outC == 1) {
          probs(0) = snapL(1.0 / (1.0 + math.exp(-last(0)(p0).toDouble)), scale)
        } else {
          mx = (0 until outC).map(c => last(c)(p0).toDouble).max
          val z = (0 until outC).map(c => math.exp(last(c)(p0) - mx)).sum
          lnZ = math.log(z)
          (0 until outC).foreach(c =>
            probs(c) = snapL(math.exp(last(c)(p0) - mx) / z, scale))
        }
        (0 until outC).foreach { c =>
          val tv =
            if (outC == 1) { if (mv > 0) 1.0 else 0.0 }
            else if (classes(c) == mv.toInt) 1.0 else 0.0
          iS(c) += probs(c) * tv
          pS(c) += probs(c)
          tS(c) += tv
        }
        lossFn match {
          case ConvTrain.LossBinary(_) =>
            val s = last(0)(p0).toDouble
            val tv = if (mv > 0) 1.0 else 0.0
            pixSum += math.max(s, 0.0) - s * tv +
              math.log(1.0 + math.exp(-math.abs(s)))
          case ConvTrain.LossMulti(_, _) =>
            val ti = classes.indexOf(mv.toInt)
            if (ti >= 0) {
              val wt = if (cw == null) 1.0 else cw(ti)
              wMass += wt
              pixSum += wt * (-(last(ti)(p0).toDouble - mx - lnZ))
            }
          case _ =>
        }
        n += 1
        p0 += 1
      }
    }
    lossFn match {
      case ConvTrain.Dice(eps) =>
        1.0 - (2.0 * iS.sum + eps) / (pS.sum + tS.sum + eps)
      case ConvTrain.LossBinary(w) =>
        val eps = 1e-15
        val iE = iS(0) + eps
        val uE = pS(0) + tS(0) - iS(0) + eps
        (1.0 - w) * (pixSum / n) - w * math.log(iE / uE)
      case ConvTrain.LossMulti(w, _) =>
        val eps = 1e-15
        var j = 0.0
        (0 until outC).foreach { c =>
          j += math.log((iS(c) + eps) / (pS(c) + tS(c) - iS(c) + eps))
        }
        (1.0 - w) * (pixSum / wMass) - w * j
      case _ => fail("naiveLoss covers the coupled losses only")
    }
  }

  /** Engine gradient over all chips: stats pass then chipGrad, both
    * driver-side on the collected fixture. */
  private def analyticGrad(chips: Seq[ChipRow], net: SegNet,
                           lossFn: ConvTrain.Loss, scale: Double)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val outC = net.layers.last.outC
    val i = new Array[Double](outC)
    val p = new Array[Double](outC)
    val t = new Array[Double](outC)
    var n = 0L; var w = 0.0
    chips.foreach { ch =>
      val (cn, cwm) = ConvTrain.chipStats(ch, net, scale, lossFn, i, p, t)
      n += cn; w += cwm
    }
    val ctx = ConvTrain.coupledCtx(lossFn, ConvTrain.BatchStats(i, p, t, n, w))
    val gW = net.layers.map(l => new Array[Double](l.weights.length)).toArray
    val gB = net.layers.map(l => new Array[Double](l.bias.length)).toArray
    chips.foreach(ch => ConvTrain.chipGrad(ch, net, scale, gW, gB, lossFn, ctx))
    (gW, gB)
  }

  private def perturbed(net: SegNet, li: Int, wi: Int, bi: Int,
                        d: Float): SegNet =
    SegNet(net.layers.zipWithIndex.map { case (l, i) =>
      if (i != li) l
      else if (wi >= 0) l.copy(weights = l.weights.updated(wi, l.weights(wi) + d))
      else l.copy(bias = l.bias.updated(bi, l.bias(bi) + d))
    }, net.classes)

  private def fdCheck(net: SegNet, lossFn: ConvTrain.Loss): Unit = {
    val scale = math.pow(2.0, 30) // fine grid: quantization ~ no-op
    val (gW, gB) = analyticGrad(chipSeq, net, lossFn, scale)
    // Coupled losses have much higher FD curvature than the per-pixel
    // ones (one weight shifts the GLOBAL prob sums), so the step must
    // be small — but the float32 forward makes the loss piecewise-flat
    // below ~1/1024. 1/512 (exact in float) sits in the measured
    // convergence window: truncation ~0.3%, float noise ~1%.
    val eps = 1f / 512f
    val coords = Seq((0, 0, -1), (0, 7, -1), (0, 35, -1), (0, -1, 1),
      (1, 0, -1), (1, net.layers(1).weights.length - 1, -1), (1, -1, 0))
    coords.foreach { case (li, wi, bi) =>
      val up = naiveLoss(chipSeq, perturbed(net, li, wi, bi, eps), lossFn, scale)
      val dn = naiveLoss(chipSeq, perturbed(net, li, wi, bi, -eps), lossFn, scale)
      val numeric = (up - dn) / (2.0 * eps)
      val analytic = if (wi >= 0) gW(li)(wi) else gB(li)(bi)
      val tol = math.max(6e-2 * math.abs(numeric), 2e-4)
      assert(math.abs(numeric - analytic) <= tol,
        s"$lossFn FD mismatch at ($li,$wi,$bi): numeric=$numeric analytic=$analytic")
    }
  }

  test("Dice (softmax2d) gradient matches finite differences of the smp formula") {
    fdCheck(ConvNet.fixtureNetSoft, ConvTrain.Dice())
  }

  test("Dice (sigmoid, single-logit) gradient matches finite differences") {
    fdCheck(ConvNet.fixtureNetBinary, ConvTrain.Dice())
  }

  test("LossBinary (loss.py:8-29) gradient matches finite differences") {
    fdCheck(ConvNet.fixtureNetBinary, ConvTrain.LossBinary(0.5))
  }

  test("LossMulti (loss.py:32-55) gradient matches finite differences") {
    fdCheck(ConvNet.fixtureNetSoft, ConvTrain.LossMulti(0.5))
  }

  /** At blended w the two terms nearly cancel here (analytic ≈ −9e-4
    * from ±1e-2 parts), so FD on the blend is ill-conditioned. Check
    * the class-weight machinery where FD is well-conditioned — the
    * pure weighted-NLL endpoint (w = 0) — plus the exact-by-algebra
    * linearity of the blended gradient in w against both endpoints. */
  test("LossMulti with class weights: weighted-NLL FD + blend linearity") {
    val cw = Array(1.0, 2.0)
    fdCheck(ConvNet.fixtureNetSoft, ConvTrain.LossMulti(0.0, cw))
    val scale = math.pow(2.0, 30)
    val net = ConvNet.fixtureNetSoft
    val (g0, b0) = analyticGrad(chipSeq, net, ConvTrain.LossMulti(0.0, cw), scale)
    val (g1, b1) = analyticGrad(chipSeq, net, ConvTrain.LossMulti(1.0, cw), scale)
    val (gm, bm) = analyticGrad(chipSeq, net,
      ConvTrain.LossMulti(0.25, cw), scale)
    // per-pixel residuals are snapped before accumulation, so the
    // identity holds to #pixels * grid ≈ 3840 * 2^-30 per weight
    val tol = chipSeq.map(c => c.w * c.h).sum * 4.0 / scale
    for (li <- g0.indices; wi <- g0(li).indices)
      assert(math.abs(gm(li)(wi) - (0.75 * g0(li)(wi) + 0.25 * g1(li)(wi)))
        <= tol, s"blend linearity broke at ($li,$wi)")
    for (li <- b0.indices; bi <- b0(li).indices)
      assert(math.abs(bm(li)(bi) - (0.75 * b0(li)(bi) + 0.25 * b1(li)(bi)))
        <= tol, s"bias blend linearity broke at ($li,$bi)")
  }

  test("coupled-loss training is bit-identical at any parallelism") {
    val chips = fixtureChips()
    val (n1, l1) = ConvTrain.trainSegOpt(chips.repartition(1),
      ConvNet.fixtureNetSoft, epochs = 2,
      ConvTrain.Adam(lr = math.pow(2.0, -10)), gradBits = 20,
      lossFn = ConvTrain.Dice())
    val (n7, l7) = ConvTrain.trainSegOpt(chips.repartition(7),
      ConvNet.fixtureNetSoft, epochs = 2,
      ConvTrain.Adam(lr = math.pow(2.0, -10)), gradBits = 20,
      lossFn = ConvTrain.Dice())
    assert(l1 == l7, s"dice losses not parallelism-invariant: $l1 vs $l7")
    n1.layers.zip(n7.layers).foreach { case (a, b) =>
      assert(a.weights.sameElements(b.weights) && a.bias.sameElements(b.bias))
    }
  }

  test("coupled losses fail fast without the stats pass and on a wrong-shape net") {
    val ch = chipSeq.head
    val gW = ConvNet.fixtureNetSoft.layers
      .map(l => new Array[Double](l.weights.length)).toArray
    val gB = ConvNet.fixtureNetSoft.layers
      .map(l => new Array[Double](l.bias.length)).toArray
    intercept[IllegalArgumentException] {
      ConvTrain.chipGrad(ch, ConvNet.fixtureNetSoft, 256.0, gW, gB,
        ConvTrain.Dice())
    }
    intercept[IllegalArgumentException] { // LossBinary on a 2-channel net
      batchStats1(fixtureChips(), ConvNet.fixtureNetSoft, 256.0,
        ConvTrain.LossBinary(0.5))
    }
    intercept[IllegalArgumentException] { // classWeights length mismatch
      batchStats1(fixtureChips(), ConvNet.fixtureNetSoft, 256.0,
        ConvTrain.LossMulti(0.5, Array(1.0)))
    }
    intercept[IllegalArgumentException] { // per-chip loss undefined
      ConvTrain.chipLoss(ch, ConvNet.fixtureNetSoft, 256.0, ConvTrain.Dice())
    }
    intercept[IllegalArgumentException] { // zero weight mass -> NaN grads
      batchStats1(fixtureChips(), ConvNet.fixtureNetSoft, 256.0,
        ConvTrain.LossMulti(0.5, Array(0.0, 0.0)))
    }
  }

  /** Walks every epoch of BOTH coupled-loss oracle fixtures with the
    * boundary probe: a 1-ulp exp/ln difference between the JVM and
    * DuckDB moves a pre-snap value by ~1e-10 grid units at this scale
    * and magnitude, so any measured clearance above ~1e-8 proves no
    * floor() can flip (all-equal-logit pixels give exactly 1/outC via
    * exp(0) = 1 — exact in every IEEE libm — and are excluded). The
    * deterministic measured minimum is ~3.2e-7 grid units for the
    * dice fixture: three orders of magnitude above the drift bound,
    * so the oracles are stable by measurement, not luck. */
  test("oracle fixtures keep transcendental pre-snap values off the 2^-20 grid") {
    val scale = math.pow(2.0, 20)
    def probeEpochs(net0: SegNet, lossFn: ConvTrain.Loss,
                    opt: ConvTrain.Optimizer, epochs: Int,
                    subset: ChipRow => Boolean = _ => true,
                    probeFinal: Seq[ChipRow] = Nil): Double = {
      val probe = new ConvTrain.BoundaryProbe(scale)
      val sel = chipSeq.filter(subset)
      var net = net0
      var e = 0
      while (e < epochs) {
        val outC = net.layers.last.outC
        val i = new Array[Double](outC)
        val p = new Array[Double](outC)
        val t = new Array[Double](outC)
        var n = 0L; var w = 0.0
        sel.foreach { ch =>
          val (cn, cwm) =
            ConvTrain.chipStats(ch, net, scale, lossFn, i, p, t, probe)
          n += cn; w += cwm
        }
        val ctx = ConvTrain.coupledCtx(lossFn,
          ConvTrain.BatchStats(i, p, t, n, w))
        val gW = net.layers.map(l => new Array[Double](l.weights.length)).toArray
        val gB = net.layers.map(l => new Array[Double](l.bias.length)).toArray
        sel.foreach(ch =>
          ConvTrain.chipGrad(ch, net, scale, gW, gB, lossFn, ctx, probe))
        // advance to the next epoch's weights through the real loop —
        // re-run from net0 with epochs = e+1 so stateful optimizers
        // (Adam moments, beta^t products) follow the oracle's actual
        // trajectory; stepping 1 epoch at a time from `net` would
        // re-seed fresh optimizer state each step and silently probe a
        // diverging weight path for any Adam fixture past 2 epochs
        net = ConvTrain.trainSegOpt(fixtureChips().filter(subset), net0,
          epochs = e + 1, opt, gradBits = 20, lossFn = lossFn)._1
        e += 1
      }
      // the stats-only passes on held-out chips at the FINAL weights
      // (e.g. a grid-search holdout score)
      if (probeFinal.nonEmpty) {
        val outC = net.layers.last.outC
        val i = new Array[Double](outC)
        val p = new Array[Double](outC)
        val t = new Array[Double](outC)
        probeFinal.foreach(ch =>
          ConvTrain.chipStats(ch, net, scale, lossFn, i, p, t, probe))
      }
      probe.minDist
    }
    val dDice = probeEpochs(ConvNet.fixtureNetSoft, ConvTrain.Dice(),
      ConvTrain.Adam(lr = math.pow(2.0, -10)), epochs = 2)
    assert(dDice > 1e-7, s"dice fixture too close to a snap boundary: $dDice")
    val dLb = probeEpochs(ConvNet.fixtureNetBinary, ConvTrain.LossBinary(0.5),
      ConvTrain.Sgd(math.pow(2.0, -10)), epochs = 2)
    assert(dLb > 1e-7, s"lossb fixture too close to a snap boundary: $dLb")
    val dLm = probeEpochs(ConvNet.fixtureNetSoft, ConvTrain.LossMulti(0.5),
      ConvTrain.Sgd(math.pow(2.0, -10)), epochs = 2)
    assert(dLm > 1e-7, s"lossm fixture too close to a snap boundary: $dLm")
    // q_grid_dice's trajectories: both lr candidates trained on the
    // even-parity split with SGD, plus the holdout stats pass at the
    // final weights — the exact transcendental sites the oracle replays
    val holdout = chipSeq.filter(ConvTrain.isHoldout(_, 16))
    Seq(math.pow(2.0, -10), math.pow(2.0, -12)).foreach { lr =>
      val d = probeEpochs(ConvNet.fixtureNetSoft, ConvTrain.Dice(),
        ConvTrain.Sgd(lr), epochs = 2,
        subset = ch => !ConvTrain.isHoldout(ch, 16), probeFinal = holdout)
      assert(d > 1e-7,
        s"grid-dice lr=$lr trajectory too close to a snap boundary: $d")
    }
  }

  /** The one transcendental site the floor-boundary probe above cannot
    * cover: q_train_lossb / q_train_lossm assemble their epoch losses
    * through a fresh ln() on EACH engine (ln is not correctly rounded
    * in libm) and reconcile only by round(v, 6). A 1-ulp cross-libm ln
    * difference moves v*1e6 by ~1e-9 grid units at these magnitudes,
    * so measuring every rounded loss's distance to the nearest x.5
    * rounding boundary above 1e-3 proves the 6th digit cannot flip —
    * by measurement, matching how the floor() snaps are guarded. */
  test("lossb/lossm assembled losses sit far from the round(_,6) boundary") {
    def clearances(net0: SegNet, lossFn: ConvTrain.Loss): Seq[Double] = {
      val (_, losses) = ConvTrain.trainSegOpt(fixtureChips(), net0,
        epochs = 2, ConvTrain.Sgd(math.pow(2.0, -10)), gradBits = 20,
        lossFn = lossFn)
      losses.map { v =>
        val g = v * 1e6
        math.abs(g - math.floor(g) - 0.5)
      }
    }
    val all =
      clearances(ConvNet.fixtureNetBinary, ConvTrain.LossBinary(0.5)) ++
        clearances(ConvNet.fixtureNetSoft, ConvTrain.LossMulti(0.5))
    assert(all.length == 4)
    all.foreach(d => assert(d > 1e-3,
      s"assembled loss within $d grid units of a 0.5e-6 rounding boundary"))
  }

  test("mini-batch Dice couples per batch (torch DataLoader semantics)") {
    val chips = fixtureChips()
    val lr = math.pow(2.0, -10)
    // batches = 1 is exactly the full-batch coupled loop
    val (n1, l1) = ConvTrain.trainSegBatched(chips, ConvNet.fixtureNetSoft,
      epochs = 1, batches = 1, lr, gradBits = 20, lossFn = ConvTrain.Dice())
    val (nf, lf) = ConvTrain.trainSegOpt(chips, ConvNet.fixtureNetSoft,
      epochs = 1, ConvTrain.Sgd(lr), gradBits = 20,
      lossFn = ConvTrain.Dice())
    assert(l1 == lf)
    n1.layers.zip(nf.layers).foreach { case (a, b) =>
      assert(a.weights.sameElements(b.weights) && a.bias.sameElements(b.bias))
    }
    // 2 batches: the dice sums reduce over each batch separately, so
    // the two per-batch losses differ from each other and from the
    // full-batch loss (different denominators), and the result is
    // still bit-identical at any parallelism
    val (n2, l2) = ConvTrain.trainSegBatched(chips.repartition(1),
      ConvNet.fixtureNetSoft, epochs = 1, batches = 2, lr, gradBits = 20,
      lossFn = ConvTrain.Dice())
    val (n7, l7) = ConvTrain.trainSegBatched(chips.repartition(7),
      ConvNet.fixtureNetSoft, epochs = 1, batches = 2, lr, gradBits = 20,
      lossFn = ConvTrain.Dice())
    assert(l2 == l7 && l2.length == 2)
    n2.layers.zip(n7.layers).foreach { case (a, b) =>
      assert(a.weights.sameElements(b.weights) && a.bias.sameElements(b.bias))
    }
    assert(l2(0) != lf.head || l2(1) != lf.head,
      "per-batch dice sums should differ from the full-batch loss")
  }

  test("gridSearch trains and selects with Dice (the optuna objective loss)") {
    val chips = fixtureChips()
    val lr = math.pow(2.0, -10)
    // a single Dice candidate's net equals the plain coupled loop on
    // the train split, bit for bit
    val (w1, res1) = ConvTrain.gridSearch(chips, ConvNet.fixtureNetSoft,
      Seq(ConvTrain.Candidate("a", lr, gradBits = 20)), epochs = 2,
      lossFn = ConvTrain.Dice())
    val train = chips.filter(ch => !ConvTrain.isHoldout(ch, 16))
    val (nRef, lRef) = ConvTrain.trainSegOpt(train, ConvNet.fixtureNetSoft,
      epochs = 2, ConvTrain.Sgd(lr), gradBits = 20,
      lossFn = ConvTrain.Dice())
    assert(w1.trainLosses == lRef)
    w1.net.layers.zip(nRef.layers).foreach { case (a, b) =>
      assert(a.weights.sameElements(b.weights) && a.bias.sameElements(b.bias))
    }
    // the holdout score is the assembled dice loss over the odd split
    val hold = chips.filter(ConvTrain.isHoldout(_, 16))
    val st = batchStats1(hold, w1.net, math.pow(2.0, 20),
      ConvTrain.Dice())
    val expected = ConvTrain.assembleLoss(ConvTrain.Dice(), 0.0,
      ConvTrain.coupledCtx(ConvTrain.Dice(), st))
    assert(w1.holdoutLoss == expected)
    // two candidates: deterministic winner, both trails distinct
    val (w2, res2) = ConvTrain.gridSearch(chips, ConvNet.fixtureNetSoft,
      Seq(ConvTrain.Candidate("a", lr, gradBits = 20),
        ConvTrain.Candidate("b", lr / 4, gradBits = 20)), epochs = 2,
      lossFn = ConvTrain.Dice())
    assert(res2.map(_.name) == Seq("a", "b"))
    assert(res2.forall(_.trainLosses.nonEmpty))
    assert(w2.holdoutLoss == res2.map(_.holdoutLoss).min)
    assert(res1.head.holdoutLoss == res2.head.holdoutLoss,
      "candidate a must score identically regardless of the pool")
  }

  test("coupled stats exchange carries scalar rows only (plan gate)") {
    val bc = spark.sparkContext.broadcast(Array(ConvNet.fixtureNetSoft))
    val df = ConvTrain.statsRows(fixtureChips(), bc,
      Array(math.pow(2.0, 20)), ConvTrain.Dice())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "stats pass should aggregate through one scalar exchange")
    // the shuffled relation is exactly the candidate key plus the six
    // scalar columns
    assert(df.schema.fieldNames.sameElements(
      Array("ci", "c", "i", "p", "t", "n", "w")))
    bc.destroy()
  }
}
