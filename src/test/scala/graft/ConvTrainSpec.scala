package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.gen.GridImages
import graft.operators.{ChipRow, ConvLayer, ConvNet, ConvTrain, SegNet}

class ConvTrainSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  private def fixtureChips(n: Int = 1) = {
    val imgs = spark.createDataset(GridImages.images(n, 2).toSeq)(
      Encoders.product[ImageRow])
    val masks = spark.createDataset(GridImages.maskImages(n).toSeq)(
      Encoders.product[ImageRow])
    ConvNet.collectChipsLabeled(imgs, masks, chipSize = 16, includeZero = true)
  }

  private def oneChip: ChipRow = fixtureChips().collect().minBy(c => (c.cx, c.cy))

  private def lossOf(ch: ChipRow, net: SegNet, gradScale: Double): Double = {
    val gW = net.layers.map(l => new Array[Double](l.weights.length)).toArray
    val gB = net.layers.map(l => new Array[Double](l.bias.length)).toArray
    ConvTrain.chipGrad(ch, net, gradScale, gW, gB)
  }

  test("chipGrad matches finite-difference gradients on both layers") {
    val net = ConvNet.fixtureNet
    val ch = oneChip
    val scale = math.pow(2.0, 20) // fine grid: quantization ~ no-op
    val gW = net.layers.map(l => new Array[Double](l.weights.length)).toArray
    val gB = net.layers.map(l => new Array[Double](l.bias.length)).toArray
    ConvTrain.chipGrad(ch, net, scale, gW, gB)
    val eps = 1f / 64f
    def perturbed(li: Int, wi: Int, bi: Int, d: Float): SegNet =
      SegNet(net.layers.zipWithIndex.map { case (l, i) =>
        if (i != li) l
        else if (wi >= 0) l.copy(weights = l.weights.updated(wi, l.weights(wi) + d))
        else l.copy(bias = l.bias.updated(bi, l.bias(bi) + d))
      }, net.classes)
    // spot-check a spread of weight and bias coordinates on each layer
    val coords = Seq((0, 0, -1), (0, 7, -1), (0, 35, -1), (0, -1, 1),
      (1, 0, -1), (1, 5, -1), (1, -1, 0))
    coords.foreach { case (li, wi, bi) =>
      val up = lossOf(ch, perturbed(li, wi, bi, eps), scale)
      val dn = lossOf(ch, perturbed(li, wi, bi, -eps), scale)
      val numeric = (up - dn) / (2.0 * eps)
      val analytic = if (wi >= 0) gW(li)(wi) else gB(li)(bi)
      val tol = math.max(1.0, math.abs(numeric)) * 2e-2
      assert(math.abs(numeric - analytic) <= tol,
        s"layer $li w=$wi b=$bi: analytic $analytic vs numeric $numeric")
    }
  }

  test("training is bit-identical at any parallelism (quantized grads)") {
    val chips = fixtureChips(2)
    val lr = math.pow(2.0, -25)
    val (n1, l1) = ConvTrain.trainSeg(chips.repartition(1),
      ConvNet.fixtureNet, epochs = 2, lr = lr)
    val (n7, l7) = ConvTrain.trainSeg(chips.repartition(7),
      ConvNet.fixtureNet, epochs = 2, lr = lr)
    assert(l1 == l7, s"losses differ: $l1 vs $l7")
    n1.layers.zip(n7.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
      assert(java.util.Arrays.equals(a.bias, b.bias))
    }
  }

  test("SGD descends: epoch-2 loss below epoch-1 loss, weights moved") {
    val chips = fixtureChips(1)
    val (trained, losses) = ConvTrain.trainSeg(chips, ConvNet.fixtureNet,
      epochs = 3, lr = math.pow(2.0, -25))
    assert(losses.length == 3)
    assert(losses(1) < losses(0), s"no descent: $losses")
    assert(losses(2) < losses(1), s"no descent after epoch 2: $losses")
    assert(!trained.layers.head.weights.sameElements(
      ConvNet.fixtureNet.layers.head.weights))
  }

  test("single-logit binary net trains against mask > 0") {
    val w = Array.tabulate(1 * 2 * 9)(i => ((i * 5) % 7 - 3) / 8f)
    val net = SegNet(Seq(ConvLayer(1, 2, 3, w, Array(0f), relu = false)),
      Array(1))
    val (_, losses) = ConvTrain.trainSeg(fixtureChips(1), net,
      epochs = 2, lr = math.pow(2.0, -29))
    assert(losses(1) < losses(0), s"binary net did not descend: $losses")
  }

  test("gridSearch: single candidate == trainSeg on the train split; " +
       "holdout = sum of chipLoss; winner deterministic") {
    val chips = fixtureChips(1)
    val train = chips.filter(ch => !ConvTrain.isHoldout(ch, 16))
    val hold = chips.filter(ch => ConvTrain.isHoldout(ch, 16)).collect()
    assert(train.count() == 8 && hold.length == 7) // 5x3 grid, even parity trains
    val lr = math.pow(2.0, -25)
    val (win1, all1) = ConvTrain.gridSearch(chips, ConvNet.fixtureNet,
      Seq(ConvTrain.Candidate("only", lr)), epochs = 2)
    val (refNet, refLosses) = ConvTrain.trainSeg(train, ConvNet.fixtureNet,
      epochs = 2, lr = lr)
    assert(win1.trainLosses == refLosses)
    win1.net.layers.zip(refNet.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
      assert(java.util.Arrays.equals(a.bias, b.bias))
    }
    val expectedHold = hold.map(ch =>
      ConvTrain.chipLoss(ch, refNet, math.pow(2.0, 8))).sum
    assert(win1.holdoutLoss == expectedHold)
    assert(all1.length == 1)
    // two candidates: the winner is the argmin holdout, ties to input order
    val (win2, all2) = ConvTrain.gridSearch(chips, ConvNet.fixtureNet,
      Seq(ConvTrain.Candidate("a", lr), ConvTrain.Candidate("b", lr / 2)),
      epochs = 2)
    assert(all2.length == 2)
    assert(win2.holdoutLoss == all2.map(_.holdoutLoss).min)
    val (winTie, _) = ConvTrain.gridSearch(chips, ConvNet.fixtureNet,
      Seq(ConvTrain.Candidate("x", lr), ConvTrain.Candidate("y", lr)),
      epochs = 1)
    assert(winTie.name == "x", "equal candidates must tie to input order")
  }

  test("gridSearch: candidates are independent inside one pass") {
    val chips = fixtureChips(1)
    val train = chips.filter(ch => !ConvTrain.isHoldout(ch, 16))
    val lr = math.pow(2.0, -25)
    val (_, all) = ConvTrain.gridSearch(chips, ConvNet.fixtureNet,
      Seq(ConvTrain.Candidate("a", lr), ConvTrain.Candidate("b", lr / 2)),
      epochs = 2)
    val (refNet, refLosses) = ConvTrain.trainSeg(train, ConvNet.fixtureNet,
      epochs = 2, lr = lr / 2)
    val b = all(1)
    assert(b.name == "b")
    assert(b.trainLosses == refLosses)
    b.net.layers.zip(refNet.layers).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x.weights, y.weights))
      assert(java.util.Arrays.equals(x.bias, y.bias))
    }
    // the two candidates really trained apart: b's step is half a's
    assert(!b.net.layers.head.weights.sameElements(all(0).net.layers.head.weights))
    assert(!b.net.layers.head.weights.sameElements(
      ConvNet.fixtureNet.layers.head.weights))
  }

  test("trainSegBatched: batches=1 == trainSeg; 2 batches = 2 steps") {
    val chips = fixtureChips(1)
    val lr = math.pow(2.0, -25)
    val (n1, l1) = ConvTrain.trainSegBatched(chips, ConvNet.fixtureNet,
      epochs = 2, batches = 1, lr = lr)
    val (nRef, lRef) = ConvTrain.trainSeg(chips, ConvNet.fixtureNet,
      epochs = 2, lr = lr)
    assert(l1 == lRef)
    n1.layers.zip(nRef.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
      assert(java.util.Arrays.equals(a.bias, b.bias))
    }
    val (n2, l2) = ConvTrain.trainSegBatched(chips, ConvNet.fixtureNet,
      epochs = 1, batches = 2, lr = lr)
    assert(l2.length == 2)
    // the second step trains FROM the first step's weights, so the
    // result differs from one full-batch step over everything
    assert(!n2.layers.head.weights.sameElements(nRef.layers.head.weights))
  }

  test("Adam (torch defaults): descends, parallelism-invariant, sign-bounded step") {
    val chips = fixtureChips(1)
    val adam = ConvTrain.Adam(lr = 0.015625)
    val (n1, l1) = ConvTrain.trainSegOpt(chips.repartition(1),
      ConvNet.fixtureNet, epochs = 3, adam)
    val (n7, l7) = ConvTrain.trainSegOpt(chips.repartition(7),
      ConvNet.fixtureNet, epochs = 3, adam)
    assert(l1 == l7, s"Adam not parallelism-invariant: $l1 vs $l7")
    n1.layers.zip(n7.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
      assert(java.util.Arrays.equals(a.bias, b.bias))
    }
    assert(l1(2) < l1(0), s"Adam did not descend: $l1")
    // bias-corrected first step is ~lr * sign(g): every weight moved at
    // most lr + one snap grain from its start
    n1.layers.head.weights.zip(ConvNet.fixtureNet.layers.head.weights)
      .foreach { case (w, w0) =>
        assert(math.abs(w - w0) <= 3 * (0.015625 + 1.0 / 256) + 1e-9,
          s"step left the Adam trust region: $w0 -> $w") }
  }

  test("cross-entropy: finite-difference gradients, descent, invariance") {
    val net = ConvNet.fixtureNet
    val ch = oneChip
    val scale = math.pow(2.0, 20)
    def ceLoss(nt: graft.operators.SegNet): Double = {
      val gW = nt.layers.map(l => new Array[Double](l.weights.length)).toArray
      val gB = nt.layers.map(l => new Array[Double](l.bias.length)).toArray
      ConvTrain.chipGrad(ch, nt, scale, gW, gB, ConvTrain.CrossEntropy)
    }
    val gW = net.layers.map(l => new Array[Double](l.weights.length)).toArray
    val gB = net.layers.map(l => new Array[Double](l.bias.length)).toArray
    ConvTrain.chipGrad(ch, net, scale, gW, gB, ConvTrain.CrossEntropy)
    val eps = 1f / 64f
    Seq((0, 3), (0, 20), (1, 2), (1, 5)).foreach { case (li, wi) =>
      def withW(d: Float) = graft.operators.SegNet(
        net.layers.zipWithIndex.map { case (l, i) =>
          if (i != li) l
          else l.copy(weights = l.weights.updated(wi, l.weights(wi) + d))
        }, net.classes)
      val numeric = (ceLoss(withW(eps)) - ceLoss(withW(-eps))) / (2.0 * eps)
      val tol = math.max(0.5, math.abs(numeric)) * 3e-2
      assert(math.abs(numeric - gW(li)(wi)) <= tol,
        s"CE grad layer $li w$wi: analytic ${gW(li)(wi)} vs numeric $numeric")
    }
    // descent + parallelism invariance (exp/log deterministic in-JVM)
    val chips = fixtureChips(1)
    val opt = ConvTrain.Sgd(math.pow(2.0, -14))
    val (n1, l1) = ConvTrain.trainSegOpt(chips.repartition(1),
      ConvNet.fixtureNet, epochs = 2, opt, lossFn = ConvTrain.CrossEntropy)
    val (n7, l7) = ConvTrain.trainSegOpt(chips.repartition(7),
      ConvNet.fixtureNet, epochs = 2, opt, lossFn = ConvTrain.CrossEntropy)
    assert(l1 == l7)
    n1.layers.zip(n7.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights)) }
    assert(l1(1) < l1(0), s"CE did not descend: $l1")
    // ignore_index analog: a mask value outside classes contributes
    // zero loss and zero gradient
    val allIgnored = ch.copy(mask = ch.mask.map(_ => 9f))
    val gW0 = net.layers.map(l => new Array[Double](l.weights.length)).toArray
    val gB0 = net.layers.map(l => new Array[Double](l.bias.length)).toArray
    val lIgn = ConvTrain.chipGrad(allIgnored, net, scale, gW0, gB0,
      ConvTrain.CrossEntropy)
    assert(lIgn == 0.0 && gW0.forall(_.forall(_ == 0.0)))
  }

  test("gridSearch Spark-job count is independent of K (one pass/epoch)") {
    val chips = fixtureChips(1)
    val sc = spark.sparkContext
    def jobsFor(k: Int, group: String): Int = {
      val cands = (1 to k).map(i =>
        ConvTrain.Candidate(s"c$i", math.pow(2.0, -24 - i)))
      sc.setJobGroup(group, s"grid search K=$k", interruptOnCancel = false)
      try ConvTrain.gridSearch(chips, ConvNet.fixtureNet, cands, epochs = 2)
      finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val j1 = jobsFor(1, "gs-k1")
    val j4 = jobsFor(4, "gs-k4")
    assert(j1 == j4,
      s"4-candidate search ran $j4 jobs vs $j1 for one candidate — " +
        "candidates must share each epoch's data pass, not add passes")
  }

  test("every trainer rejects gradBits outside [0, 24] before launching a Spark job") {
    val chips = fixtureChips(1)
    val sc = spark.sparkContext
    val lr = math.pow(2.0, -25)
    val net = ConvNet.fixtureNet
    val trainers: Seq[(String, Int => Any)] = Seq(
      "trainSegOpt" -> (b =>
        ConvTrain.trainSegOpt(chips, net, 1, ConvTrain.Sgd(lr), gradBits = b)),
      "trainSegCheckpoint" -> (b =>
        ConvTrain.trainSegCheckpoint(chips, net, 1, ConvTrain.Sgd(lr), gradBits = b)),
      "trainSegBatched" -> (b =>
        ConvTrain.trainSegBatched(chips, net, 1, batches = 2, lr, gradBits = b)),
      "gridSearch" -> (b => ConvTrain.gridSearch(chips, net,
        Seq(ConvTrain.Candidate("a", lr, gradBits = b)), epochs = 1)),
      "gradPlan" -> (b => ConvTrain.gradPlan(chips, net, gradBits = b)))
    for ((name, run) <- trainers; bits <- Seq(-1, 25)) {
      val group = s"gradbits-$name-$bits"
      sc.setJobGroup(group, s"$name at gradBits $bits", interruptOnCancel = false)
      try intercept[IllegalArgumentException](run(bits))
      finally sc.clearJobGroup()
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      assert(jobs == 0,
        s"$name ran $jobs Spark jobs before rejecting gradBits $bits")
    }
  }

  test("empty epoch and empty holdout fail loudly, never fabricate 0.0") {
    val chips = fixtureChips(1)
    val none = chips.filter(_ => false)
    val exEpoch = intercept[IllegalArgumentException] {
      ConvTrain.trainSeg(none, ConvNet.fixtureNet, epochs = 1,
        lr = math.pow(2.0, -25))
    }
    assert(exEpoch.getMessage.contains("zero chips"))
    // a holdout-empty split: only even-parity chips survive
    val evenOnly = chips.filter(ch => !ConvTrain.isHoldout(ch, 16))
    val exHold = intercept[IllegalArgumentException] {
      ConvTrain.gridSearch(evenOnly, ConvNet.fixtureNet,
        Seq(ConvTrain.Candidate("a", math.pow(2.0, -25))), epochs = 1)
    }
    assert(exHold.getMessage.contains("holdout"))
  }

  test("gradient shuffle carries only (li, idx, v) scalars") {
    val (df, bc) = ConvTrain.gradPlan(fixtureChips(1), ConvNet.fixtureNet)
    // 1 loss row + layer0 (54 w + 3 b) + layer1 (6 w + 2 b)
    val rows = df.collect() // also forces the final adaptive plan
    assert(rows.length == 1 + 57 + 8, s"got ${rows.length}")
    val p = df.queryExecution.executedPlan.toString
    // shuffle exchanges only (the chip-collection image/mask join is a
    // BroadcastExchange — no rows move by key there)
    val shuffles = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning")).toSeq
    assert(shuffles.nonEmpty, s"expected an aggregate exchange:\n$p")
    // every shuffle keys the scalar (li, idx, v) rows — nothing pixel-
    // or chip-shaped ever shuffles
    shuffles.foreach(l => assert(l.contains("li#"),
      s"shuffle not on the scalar gradient rows: $l"))
    bc.destroy()
  }

  test("trainSegCheckpoint: ledger, best-epoch weights, lr drop, invariance") {
    val chips = fixtureChips(2)
    val lr0 = math.pow(2.0, -25)
    val (best, logs) = ConvTrain.trainSegCheckpoint(chips, ConvNet.fixtureNet,
      epochs = 3, ConvTrain.Sgd(lr0), lrDropEpoch = 2,
      lrDropTo = math.pow(2.0, -26))
    assert(logs.map(_.epoch) == Seq(0, 1, 2))
    // lr drop lands exactly at lrDropEpoch
    assert(logs.map(_.lr) == Seq(lr0, lr0, math.pow(2.0, -26)))
    // checkpointed flags replay the strictly-greater running max from 0
    var running = 0.0
    logs.foreach { l =>
      assert(l.checkpointed == (l.valIou > running), s"flag wrong at $l")
      if (l.valIou > running) running = l.valIou
    }
    // the returned net IS the weights after the first epoch attaining
    // the max validation IoU: replay the loop with trainSegOpt on the
    // train split epoch by epoch and compare
    val train = chips.filter(ch => !ConvTrain.isHoldout(ch, 16))
    val valid = chips.filter(ch => ConvTrain.isHoldout(ch, 16))
    val nets = (1 to 3).map { e =>
      // epochs 0,1 at lr0; epoch 2 at the dropped rate — replay manually
      var n = ConvNet.fixtureNet
      (0 until e).foreach { ep =>
        val lr = if (ep >= 2) math.pow(2.0, -26) else lr0
        n = ConvTrain.trainSeg(train, n, epochs = 1, lr)._1
      }
      n
    }
    val ious = nets.map(n => ConvTrain.iouChips(valid, n))
    assert(logs.map(_.valIou) == ious)
    val bestEpoch = ious.indices.minBy(i => (-ious(i), i))
    if (ious(bestEpoch) > 0.0) {
      best.layers.zip(nets(bestEpoch).layers).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a.weights, b.weights))
        assert(java.util.Arrays.equals(a.bias, b.bias))
      }
    }
    // parallelism invariance of the whole loop (quantized grads +
    // integer IoU counts)
    val (best7, logs7) = ConvTrain.trainSegCheckpoint(chips.repartition(7),
      ConvNet.fixtureNet, epochs = 3, ConvTrain.Sgd(lr0), lrDropEpoch = 2,
      lrDropTo = math.pow(2.0, -26))
    assert(logs7 == logs)
    best7.layers.zip(best.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
    }
  }

  test("trainSegCheckpoint with Adam keeps moments across the lr drop") {
    val chips = fixtureChips(1)
    val (_, logs) = ConvTrain.trainSegCheckpoint(chips, ConvNet.fixtureNet,
      epochs = 2, ConvTrain.Adam(lr = 0.015625), lrDropEpoch = 1,
      lrDropTo = 0.0078125)
    assert(logs.map(_.lr) == Seq(0.015625, 0.0078125))
    // losses measured at each epoch's starting weights: epoch-1 loss is
    // the post-step objective and must have descended
    assert(logs(1).loss < logs(0).loss, s"no descent: $logs")
  }

  test("edge chips land on the NOMINAL-size checkerboard (truncated w/h)") {
    // a 24x16 image at chipSize 16 emits a truncated chip at cx=16 with
    // w=8: cx/w would read grid-x 2 (wrong square); cx/chipSize reads 1
    val edge = ChipRow("i", cx = 16, cy = 0, w = 8, h = 16,
      bands = Array(new Array[Float](128)), mask = new Array[Float](128),
      label = 1)
    assert(ConvTrain.isHoldout(edge, 16)) // grid (1, 0) -> odd -> holdout
    val full = edge.copy(cx = 0, w = 16)
    assert(!ConvTrain.isHoldout(full, 16)) // grid (0, 0) -> even -> train
  }

  test("gridSearch reads the upstream chips once per split, not once per epoch") {
    // persisted splits: one nominal-size scan + one read per split, for a
    // plain and a coupled (stats pass + gradient pass) loss alike
    val rows = fixtureChips(2).collect()
    assert(rows.length == 30)
    for ((loss, net, cand) <- Seq(
        (ConvTrain.SquaredError, ConvNet.fixtureNet, ConvTrain.Candidate("a", math.pow(2.0, -25))),
        (ConvTrain.Dice(), ConvNet.fixtureNetSoft, ConvTrain.Candidate("a", math.pow(2.0, -10), 20)))) {
      val reads = spark.sparkContext.longAccumulator("chip reads")
      val chips = spark.createDataset(rows.toSeq)(Encoders.product[ChipRow])
        .map { ch => reads.add(1); ch }(Encoders.product[ChipRow])
      ConvTrain.gridSearch(chips, net, Seq(cand), epochs = 4, lossFn = loss)
      assert(reads.sum == 3 * rows.length, s"$loss read ${reads.sum} upstream chip rows")
    }
  }

  test("trainSegBatched skips empty batch residues instead of crashing") {
    // every chip of a single-chip-per-image dataset sits at grid (0,0),
    // so with batches=2 residue 1 is empty — a DataLoader yields fewer
    // batches there, it does not crash
    val chips = fixtureChips(1).filter(ch => ch.cx == 0 && ch.cy == 0)
    assert(chips.count() == 1)
    val lr = math.pow(2.0, -25)
    val (nB, lB) = ConvTrain.trainSegBatched(chips, ConvNet.fixtureNet,
      epochs = 1, batches = 2, lr = lr)
    val (nRef, lRef) = ConvTrain.trainSeg(chips, ConvNet.fixtureNet,
      epochs = 1, lr = lr)
    assert(lB == lRef, "the one non-empty residue must equal a full-batch step")
    nB.layers.zip(nRef.layers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.weights, b.weights))
      assert(java.util.Arrays.equals(a.bias, b.bias))
    }
  }
}
