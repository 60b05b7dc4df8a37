package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/**
 * Distributed gradient-descent training for `SegNet` conv stacks — the
 * reference's `train_semantic_seg` (convnet.py:50-428) re-expressed as
 * data-parallel full-batch SGD instead of a single-GPU torch loop.
 *
 * Execution shape (the 100 TB contract, same as ConvNet.gramForHead):
 *  - the current weight set is BROADCAST each epoch (weights are
 *    broadcastable by the SegNet contract);
 *  - every partition runs forward + backprop over its chips and
 *    accumulates ONE local gradient array per trained net, then emits
 *    it as (candidate, layer, idx, value) scalar rows — the shuffle
 *    carries O(partitions x params) doubles, never pixels or
 *    activations. Every trainer runs this one epoch job (`epoch`):
 *    one net for the trainSeg* loops, K candidates for gridSearch;
 *  - the driver collects the O(params) aggregated rows, applies the
 *    SGD step, and rebroadcasts. Epochs are sequential by the nature
 *    of gradient descent; within an epoch the work is embarrassingly
 *    data-parallel.
 *
 * Determinism: floating-point summation order varies with partitioning,
 * so naive distributed SGD is run-to-run irreproducible. Here the
 * per-pixel loss gradient is snapped to a dyadic grid (grain
 * 2^-gradBits) before backprop, and the weight step is snapped to the
 * same grid — gradient quantization in the QSGD / 1-bit-SGD lineage
 * (Alistarh et al. NeurIPS 2017; Seide et al. INTERSPEECH 2014), used
 * here at a grain fine enough to be a no-op for learning but coarse
 * enough that every gradient sum is exact in double regardless of
 * order WHEN the summed terms stay on a bounded dyadic grid: the
 * residuals are snapped, so each weight-gradient term is
 * snapped-residual x activation, and with dyadic inputs/weights of
 * bounded magnitude (the uint8-pixel, eighth-valued-weight regime the
 * reference and every oracle here operate in) those products and their
 * sums fit 53 significand bits exactly. Training is then bit-identical
 * at any parallelism — the q_train_seg DuckDB oracle replays both
 * epochs to the last bit, and the partition-invariance spec holds by
 * construction, not by epsilon. On arbitrary float inputs (e.g. raw
 * reflectance), exactness degrades gracefully to ordinary FP
 * summation noise in the LOW bits of the gradients — still snapped at
 * the step, but partition-sensitivity is no longer zero by
 * construction.
 *
 * Losses: SquaredError (0.5 * sum of squared residuals between the
 * final logits and one-hot targets; channel oc targets class
 * `net.classes(oc)`, a single-logit net targets mask > 0),
 * CrossEntropy (torch's, sum reduction), Dice (smp.utils.losses.DiceLoss — the loss
 * the reference ACTUALLY trains with, convnet.py:322), and loss.py's
 * LossBinary / LossMulti BCE/NLL-minus-soft-Jaccard pair. The last
 * three are batch-globally coupled — see the Loss trait scaladoc for
 * the two-job epoch shape that keeps them distributed.
 */
object ConvTrain {

  /** Snap to the 2^-bits dyadic grid — floor, not round-half-even:
    * floor is unambiguous across engines (DuckDB `floor` mirrors it),
    * where half-even vs half-away ties would diverge. Exact while
    * |v| * 2^bits < 2^53. */
  @inline private[graft] def snap(v: Double, scale: Double): Double =
    math.floor(v * scale) / scale

  /** Edge-replicated `same` conv forward for one layer — delegates to
    * ConvNet.layerForwardInto, the ONE shared conv kernel (hoisted
    * interior fast path + clamped border, bit-equal tap order), so the
    * training forward can neither drift from inference nor pay clamp
    * arithmetic on interior pixels. */
  private def layerForward(in: Array[Array[Float]], w: Int, h: Int,
                           l: ConvLayer): Array[Array[Float]] = {
    val out = Array.fill(l.outC)(new Array[Float](w * h))
    ConvNet.layerForwardInto(in, w, h, l, out)
    out
  }

  /** Forward pass keeping every layer's output (backprop needs each
    * layer's input). outs(li) is layer li's post-activation planes. */
  private[graft] def forwardAll(bands: Array[Array[Float]], w: Int, h: Int,
                                net: SegNet): Array[Array[Array[Float]]] = {
    val outs = new Array[Array[Array[Float]]](net.layers.length)
    var cur = bands
    var li = 0
    while (li < net.layers.length) {
      require(cur.length == net.layers(li).inC,
        s"layer $li input has ${cur.length} bands, layer wants ${net.layers(li).inC}")
      cur = layerForward(cur, w, h, net.layers(li))
      outs(li) = cur
      li += 1
    }
    outs
  }

  /** Training loss. SquaredError keeps the DuckDB oracle bit-exact;
    * CrossEntropy is torch's softmax CE with reduction='sum' (the
    * ignore_index analog: mask values outside `classes` contribute
    * nothing; a single-logit net uses sigmoid BCE on mask > 0) — a
    * caller porting an lr tuned against torch's DEFAULT reduction
    * ('mean') scales it by 1/batch_pixels; LossBinary/LossMulti divide
    * by their own counts as loss.py does. exp/log are deterministic
    * within the JVM, so parallelism invariance holds, but not
    * correctly rounded across engines, so CE correctness is spec-gated
    * (finite differences), not oracled.
    *
    * Dice / LossBinary / LossMulti are BATCH-GLOBALLY COUPLED: the
    * per-pixel gradient depends on prob/target sums over the WHOLE
    * batch, so a coupled epoch runs TWO jobs — a forward-only stats
    * pass whose exchange carries O(partitions x classes) scalar rows
    * (see batchStats), then the usual gradient pass with the reduced
    * constants riding the task closure. Activations never shuffle;
    * the coupling costs one extra forward, not a pixel exchange.
    * Probabilities are snapped to the same dyadic grid as the
    * residuals BEFORE summation, so every global stat is an exact,
    * order-invariant double and training stays bit-identical at any
    * parallelism — which is what lets the q_train_dice /
    * q_train_lossb DuckDB oracles replay coupled-loss training. */
  sealed trait Loss
  case object SquaredError extends Loss
  case object CrossEntropy extends Loss
  /** smp.utils.losses.DiceLoss() — the loss the reference ACTUALLY
    * trains with (convnet.py:322): L = 1 - (2*I + eps)/(P + T + eps)
    * where I = sum(prob*target), P = sum(prob), T = sum(target) over
    * the whole batch and every channel (smp f_score, beta=1, its
    * default eps=1.0). Probs follow create_model's activation contract
    * (convnet.py:52,95-96): softmax2d across channels for a
    * multi-class net, sigmoid for a single-logit net. */
  final case class Dice(eps: Double = 1.0) extends Loss
  /** loss.py:8-29 LossBinary: (1-w)*BCEWithLogits(mean)
    * - w*ln((I+1e-15)/(U-I+1e-15)) with sigmoid probs, I = sum(o*t),
    * U = sum(o)+sum(t). Single-logit nets only. */
  final case class LossBinary(jaccardWeight: Double) extends Loss
  /** loss.py:32-55 LossMulti: (1-w)*NLL(log_softmax, mean over the
    * target-weight mass) - w*sum_c ln((I_c+1e-15)/(U_c-I_c+1e-15)).
    * The weight-mass divisor IS torch's: NLLLoss 'mean' divides by the
    * sum of the target pixels' class weights, which with
    * classWeights=null (weight 1 per pixel) is the in-class pixel
    * count — identical to dividing by all pixels on any input torch
    * accepts (an out-of-class target index CRASHES torch's NLLLoss).
    * Mask values outside `classes` are this engine's graceful ignore
    * analog for that crash (zero loss term, excluded from the weight
    * mass) but their softmax probs still count toward the per-class
    * jaccard sums, exactly as the reference's formula sums
    * jaccard_output over every pixel. Spec-gated (finite differences),
    * like CrossEntropy. */
  final case class LossMulti(jaccardWeight: Double,
                             classWeights: Array[Double] = null) extends Loss

  private[graft] def isCoupled(l: Loss): Boolean = l match {
    case SquaredError | CrossEntropy => false
    case _ => true
  }

  /** Batch-global snapped-prob sums for the coupled losses, per output
    * channel, plus the pixel count and the NLL target-weight mass.
    * Every entry is an exact sum of dyadics — order-invariant. */
  final case class BatchStats(i: Array[Double], p: Array[Double],
                              t: Array[Double], n: Long, wSum: Double)

  /** Per-epoch constants derived from BatchStats driver-side. Exact
    * inputs through one fixed correctly-rounded op sequence — an SQL
    * oracle reproduces every field to the bit. */
  private[graft] final case class CoupledCtx(
      nn: Double, dd: Double,                   // dice: 2*I+eps, P+T+eps
      iEps: Array[Double], uEps: Array[Double], // jaccard: I_c+e, U_c-I_c+e
      nD: Double, wSum: Double)

  private[graft] def coupledCtx(lossFn: Loss, st: BatchStats): CoupledCtx =
    lossFn match {
      case Dice(eps) =>
        CoupledCtx(2.0 * st.i.sum + eps, st.p.sum + st.t.sum + eps,
          null, null, st.n.toDouble, st.wSum)
      case LossBinary(_) | LossMulti(_, _) =>
        val eps = 1e-15
        val ie = Array.tabulate(st.i.length)(c => st.i(c) + eps)
        val ue = Array.tabulate(st.i.length)(c =>
          st.p(c) + st.t(c) - st.i(c) + eps)
        CoupledCtx(0.0, 0.0, ie, ue, st.n.toDouble, st.wSum)
      case _ => null
    }

  /** Test hook: observes every pre-snap value so specs can prove the
    * oracle fixtures stay far from dyadic grid boundaries — then a
    * 1-ulp exp()/ln() difference between the JVM and DuckDB provably
    * cannot flip a floor(). Distances are in grid units. */
  private[graft] final class BoundaryProbe(scale: Double) {
    var minDist: Double = Double.MaxValue
    def observe(v: Double): Unit = {
      val x = v * scale
      val f = x - math.floor(x)
      val d = math.min(f, 1.0 - f)
      if (d < minDist) minDist = d
    }
  }

  /** Snapped activation probs for one pixel of the coupled losses:
    * sigmoid per channel (single-logit Dice, LossBinary) or softmax2d
    * across channels (multi-class Dice, LossMulti). Writes probs into
    * `pq`; for softmax also writes aux(0) = channel max, aux(1) = the
    * exp-sum, which LossMulti's stable -ln p_t needs. The channel
    * z-sum runs in ascending channel order — for the 2-channel oracle
    * fixtures two-term addition is order-exact by IEEE commutativity. */
  @inline private def snapProbs(lossFn: Loss, logits: Array[Array[Float]],
                                p: Int, outC: Int, gradScale: Double,
                                pq: Array[Double], aux: Array[Double],
                                probe: BoundaryProbe): Unit = lossFn match {
    case LossBinary(_) | Dice(_) if outC == 1 =>
      val o = 1.0 / (1.0 + math.exp(-logits(0)(p).toDouble))
      // logit 0 gives EXACTLY 0.5 (exp(0) = 1 is exact in every IEEE
      // libm), so it can't drift across engines — skip the probe
      if (probe != null && logits(0)(p) != 0f) probe.observe(o)
      pq(0) = snap(o, gradScale)
    case _ => // softmax2d
      var mx = Double.NegativeInfinity
      var allEq = true
      var c = 0
      while (c < outC) {
        val v = logits(c)(p).toDouble
        if (v != logits(0)(p).toDouble) allEq = false
        if (v > mx) mx = v; c += 1
      }
      var z = 0.0
      c = 0
      while (c < outC) { z += math.exp(logits(c)(p).toDouble - mx); c += 1 }
      c = 0
      while (c < outC) {
        val pr = math.exp(logits(c)(p).toDouble - mx) / z
        // all-equal logits give pr = 1/outC via exp(0) = 1 exactly —
        // engine-portable by IEEE, so exclude from the drift probe
        if (probe != null && !allEq) probe.observe(pr)
        pq(c) = snap(pr, gradScale)
        c += 1
      }
      if (aux != null) { aux(0) = mx; aux(1) = z }
  }

  @inline private def classIndex(classes: Array[Int], mv: Float): Int = {
    var i = -1; var c = 0
    while (c < classes.length && i < 0) {
      if (classes(c) == mv.toInt) i = c
      c += 1
    }
    i
  }

  /** One-hot target for output channel oc at a mask value. */
  @inline private def target(classes: Array[Int], outC: Int,
                             oc: Int, mv: Float): Double =
    if (outC == 1) { if (mv > 0) 1.0 else 0.0 }
    else if (classes(oc) == mv.toInt) 1.0 else 0.0

  /** Per-pixel loss + residuals (the loss gradient wrt the logits at
    * one pixel), snapped to the grid. Writes residuals into `d`,
    * returns the pixel's loss. */
  private def pixelResiduals(loss: Loss, classes: Array[Int], outC: Int,
                             logits: Array[Array[Float]], p: Int, mv: Float,
                             gradScale: Double, d: Array[Array[Double]],
                             ctx: CoupledCtx = null,
                             pq: Array[Double] = null,
                             aux: Array[Double] = null,
                             gcs: Array[Double] = null,
                             probe: BoundaryProbe = null)
      : Double = loss match {
    case SquaredError =>
      var l = 0.0
      var oc = 0
      while (oc < outC) {
        val rq = snap(logits(oc)(p) - target(classes, outC, oc, mv), gradScale)
        d(oc)(p) = rq
        l += 0.5 * rq * rq
        oc += 1
      }
      l
    case CrossEntropy if outC == 1 =>
      val t = if (mv > 0) 1.0 else 0.0
      val s = logits(0)(p).toDouble
      val pr = 1.0 / (1.0 + math.exp(-s))
      d(0)(p) = snap(pr - t, gradScale)
      // snapped so the epoch-loss SUM is exact and order-invariant —
      // without it the reduce-order of transcendental partials would
      // break the file's bit-determinism contract (gradients were
      // already exact; this makes the reported loss exact too)
      snap(-(t * math.log(math.max(pr, 1e-300)) +
        (1 - t) * math.log(math.max(1 - pr, 1e-300))), gradScale)
    case CrossEntropy =>
      val ti = classIndex(classes, mv)
      if (ti < 0) { // torch ignore_index analog: unmapped mask value
        var oc = 0
        while (oc < outC) { d(oc)(p) = 0.0; oc += 1 }
        0.0
      } else {
        var mx = Double.NegativeInfinity
        var oc = 0
        while (oc < outC) { val v = logits(oc)(p).toDouble; if (v > mx) mx = v; oc += 1 }
        var z = 0.0
        oc = 0
        while (oc < outC) { z += math.exp(logits(oc)(p) - mx); oc += 1 }
        oc = 0
        while (oc < outC) {
          val pr = math.exp(logits(oc)(p) - mx) / z
          d(oc)(p) = snap(pr - (if (oc == ti) 1.0 else 0.0), gradScale)
          oc += 1
        }
        snap(-(logits(ti)(p) - mx - math.log(z)), gradScale)
      }
    case Dice(_) if outC == 1 =>
      snapProbs(loss, logits, p, outC, gradScale, pq, aux, probe)
      val tv = target(classes, outC, 0, mv)
      val oq = pq(0)
      // the residual is exact arithmetic over the snapped prob — no
      // transcendental between here and the floor, so no probe needed
      val r = -((2.0 * tv * ctx.dd - ctx.nn) / (ctx.dd * ctx.dd)) *
        (oq * (1.0 - oq))
      d(0)(p) = snap(r, gradScale)
      0.0 // the dice loss is global; assembled from the stats driver-side
    case Dice(_) =>
      snapProbs(loss, logits, p, outC, gradScale, pq, aux, probe)
      // gc depends on c only — hoist its division out of the k loop
      var c0 = 0
      while (c0 < outC) {
        val tv = target(classes, outC, c0, mv)
        gcs(c0) = -((2.0 * tv * ctx.dd - ctx.nn) / (ctx.dd * ctx.dd))
        c0 += 1
      }
      var k = 0
      while (k < outC) {
        var acc = 0.0
        var c = 0
        while (c < outC) {
          val dlt = if (c == k) 1.0 else 0.0
          acc += gcs(c) * (pq(c) * (dlt - pq(k)))
          c += 1
        }
        d(k)(p) = snap(acc, gradScale)
        k += 1
      }
      0.0
    case LossBinary(w) =>
      snapProbs(loss, logits, p, outC, gradScale, pq, aux, probe)
      val s = logits(0)(p).toDouble
      val tv = target(classes, outC, 0, mv)
      val oq = pq(0)
      val jg = (oq * (1.0 - oq)) *
        (tv / ctx.iEps(0) - (1.0 - tv) / ctx.uEps(0))
      val r = (1.0 - w) * ((oq - tv) / ctx.nD) - w * jg
      d(0)(p) = snap(r, gradScale)
      // torch's numerically-stable BCEWithLogits form, from the RAW
      // logit (the quantized prob would hit ln(0) on saturation)
      val bce = math.max(s, 0.0) - s * tv +
        math.log(1.0 + math.exp(-math.abs(s)))
      if (probe != null) probe.observe(bce)
      snap(bce, gradScale) // driver applies (1-w)/n and the jaccard term
    case LossMulti(w, cwArr) =>
      snapProbs(loss, logits, p, outC, gradScale, pq, aux, probe)
      val ti = classIndex(classes, mv)
      val wt = if (ti < 0) 0.0 else if (cwArr == null) 1.0 else cwArr(ti)
      // jc depends on c only — hoist its divisions out of the k loop
      var c0 = 0
      while (c0 < outC) {
        val tin = if (ti == c0) 1.0 else 0.0
        gcs(c0) = tin / ctx.iEps(c0) - (1.0 - tin) / ctx.uEps(c0)
        c0 += 1
      }
      var k = 0
      while (k < outC) {
        var acc =
          if (ti >= 0)
            (1.0 - w) * ((wt / ctx.wSum) *
              (pq(k) - (if (k == ti) 1.0 else 0.0)))
          else 0.0
        var c = 0
        while (c < outC) {
          val dlt = if (c == k) 1.0 else 0.0
          acc -= w * (pq(c) * (dlt - pq(k))) * gcs(c)
          c += 1
        }
        d(k)(p) = snap(acc, gradScale)
        k += 1
      }
      if (ti < 0) 0.0
      else {
        val nll = wt * (-(logits(ti)(p).toDouble - aux(0) - math.log(aux(1))))
        if (probe != null) probe.observe(nll)
        snap(nll, gradScale) // driver divides by the weight mass
      }
  }

  /** Forward pass + snapped residuals for one chip: every layer's
    * output, the loss gradient wrt the final logits, and the chip's
    * pixel-loss sum. Shared by chipGrad (which backprops the residuals)
    * and chipLoss (which keeps only the sum). */
  private def forwardResiduals(ch: ChipRow, net: SegNet, gradScale: Double,
                               lossFn: Loss, ctx: CoupledCtx,
                               probe: BoundaryProbe)
      : (Array[Array[Array[Float]]], Array[Array[Double]], Double) = {
    val n = ch.w * ch.h
    val outs = forwardAll(ch.bands, ch.w, ch.h, net)
    val last = outs(outs.length - 1)
    val outC = net.layers.last.outC
    val pq = if (isCoupled(lossFn)) new Array[Double](outC) else null
    val aux = if (isCoupled(lossFn)) new Array[Double](2) else null
    val gcs = if (isCoupled(lossFn)) new Array[Double](outC) else null
    val delta = Array.fill(outC)(new Array[Double](n))
    var loss = 0.0
    var p = 0
    while (p < n) {
      loss += pixelResiduals(lossFn, net.classes, outC, last, p, ch.mask(p),
        gradScale, delta, ctx, pq, aux, gcs, probe)
      p += 1
    }
    (outs, delta, loss)
  }

  /** Forward + backprop for one chip; gradients accumulate into
    * gW/gB (per layer, ConvLayer's flattened [outC][inC][k][k] weight
    * layout). Returns the chip's loss. */
  private[graft] def chipGrad(ch: ChipRow, net: SegNet, gradScale: Double,
                              gW: Array[Array[Double]],
                              gB: Array[Array[Double]],
                              lossFn: Loss = SquaredError,
                              ctx: CoupledCtx = null,
                              probe: BoundaryProbe = null): Double = {
    val w = ch.w; val h = ch.h; val n = w * h
    val layers = net.layers.toArray
    require(!isCoupled(lossFn) || ctx != null,
      s"$lossFn is batch-globally coupled: run batchStats first")
    val (outs, delta0, loss) =
      forwardResiduals(ch, net, gradScale, lossFn, ctx, probe)
    var delta = delta0
    var li = layers.length - 1
    while (li >= 0) {
      val l = layers(li); val r = l.radius; val k = l.k
      val in = if (li == 0) ch.bands else outs(li - 1)
      val out = outs(li)
      val lgW = gW(li); val lgB = gB(li)
      // ReLU gate: zero where the stored activation is <= 0 (the oracle
      // mirrors with `hv > 0`; pre == 0 stores 0f, gate off both ways)
      if (l.relu) {
        var oc = 0
        while (oc < l.outC) {
          val o = out(oc); val d = delta(oc)
          var p = 0
          while (p < n) { if (o(p) <= 0f) d(p) = 0.0; p += 1 }
          oc += 1
        }
      }
      val dIn: Array[Array[Double]] =
        if (li > 0) Array.fill(l.inC)(new Array[Double](n)) else null
      var oc = 0
      while (oc < l.outC) {
        val d = delta(oc)
        var p = 0
        while (p < n) { lgB(oc) += d(p); p += 1 }
        var ic = 0
        while (ic < l.inC) {
          val src = in(ic)
          val di = if (dIn != null) dIn(ic) else null
          val wBase = (oc * l.inC + ic) * k * k
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val dv = d(y * w + x)
              if (dv != 0.0) {
                var dy = -r
                while (dy <= r) {
                  val yy = math.min(h - 1, math.max(0, y + dy))
                  var dx = -r
                  while (dx <= r) {
                    val xx = math.min(w - 1, math.max(0, x + dx))
                    val wi = wBase + (dy + r) * k + (dx + r)
                    lgW(wi) += dv * src(yy * w + xx)
                    if (di != null) di(yy * w + xx) += dv * l.weights(wi)
                    dx += 1
                  }
                  dy += 1
                }
              }
              x += 1
            }
            y += 1
          }
          ic += 1
        }
        oc += 1
      }
      if (dIn != null) delta = dIn
      li -= 1
    }
    loss
  }

  /** Optimizer for the distributed training loop. The STEP is always
    * driver-side scalar math on the aggregated (exact) gradients, then
    * snapped to the dyadic grid — so any optimizer here keeps training
    * bit-deterministic at every parallelism. */
  sealed trait Optimizer
  /** Plain SGD; `lr` should be a power of two. */
  final case class Sgd(lr: Double) extends Optimizer
  /** torch.optim.Adam with torch defaults — the reference's actual
    * optimizer (convnet.py:327). Bias-correction powers beta^t are
    * tracked by repeated multiplication (NOT pow(), whose rounding is
    * implementation-defined), and sqrt/divide are IEEE correctly
    * rounded, so the update is replayable to the bit by the q_train_adam
    * oracle. */
  final case class Adam(lr: Double, beta1: Double = 0.9,
                        beta2: Double = 0.999, eps: Double = 1e-8)
      extends Optimizer

  /** The quantization grain 2^gradBits — the one home of the bound
    * every trainer and gradPlan check before launching any job: past
    * 24 bits the snapped terms would leave the exactly-summable dyadic
    * grid (|v| * 2^bits < 2^53) the determinism contract relies on. */
  private def gradScale(gradBits: Int): Double = {
    require(gradBits >= 0 && gradBits <= 24,
      s"gradBits $gradBits outside [0, 24] — snapped terms would leave " +
        "the dyadic grid and gradient sums turn partition-order sensitive")
    math.pow(2.0, gradBits)
  }

  /** Full-batch gradient descent over a chips table with the given
    * optimizer. Returns the trained net and the per-epoch loss (the
    * loss is measured at the epoch's STARTING weights — it is the
    * objective the epoch's step descends). `gradBits` is the
    * quantization grain (2^-gradBits). */
  def trainSegOpt(chips: Dataset[ChipRow], net0: SegNet, epochs: Int,
                  opt: Optimizer, gradBits: Int = 8,
                  lossFn: Loss = SquaredError)
                 (implicit spark: SparkSession): (SegNet, Seq[Double]) = {
    require(epochs >= 1)
    val scale = gradScale(gradBits)
    val lr0 = opt match { case Sgd(l) => l; case Adam(l, _, _, _) => l }
    var net = net0
    val losses = Seq.newBuilder[Double]
    val st = new OptState(net0)
    var e = 0
    while (e < epochs) {
      val (stepped, loss) = runEpoch(chips, net, scale, lossFn, opt,
        lr0, st, "training epoch saw zero chips (empty dataset or batch)")
      net = stepped
      losses += loss
      e += 1
    }
    (net, losses.result())
  }

  /** Mutable optimizer state carried across epochs: Adam first/second
    * moments per layer over [weights ++ bias], beta^t products by
    * repeated multiply (never pow(), whose rounding is
    * implementation-defined). */
  private final class OptState(net0: SegNet) {
    val mom1: Array[Array[Double]] = net0.layers.map(l =>
      new Array[Double](l.weights.length + l.bias.length)).toArray
    val mom2: Array[Array[Double]] = net0.layers.map(l =>
      new Array[Double](l.weights.length + l.bias.length)).toArray
    var p1 = 1.0; var p2 = 1.0
  }

  /** ONE full-batch epoch of one net, shared by trainSegOpt, the
    * checkpointed loop and the mini-batch loop so the optimizer-step
    * arithmetic exists exactly once: the K = 1 epoch job, then the
    * step at learning rate `lr` (passed separately so the checkpointed
    * lr drop overrides the optimizer's own), snap-quantized. Returns
    * the stepped net and the ASSEMBLED epoch loss (measured at the
    * starting weights). */
  private def runEpoch(data: Dataset[ChipRow], net: SegNet, scale: Double,
                       lossFn: Loss, opt: Optimizer, lr: Double,
                       st: OptState, emptyMsg: String)
                      (implicit spark: SparkSession): (SegNet, Double) = {
    val (perNet, losses) = epoch(data, Array(net), Array(scale), lossFn, emptyMsg)
    val grads = perNet(0)
    opt match {
      case Adam(_, b1, b2, _) => st.p1 *= b1; st.p2 *= b2
      case _ =>
    }
    def step(li: Int, i: Int): Double = opt match {
      case Sgd(_) => lr * grads(li)(i)
      case Adam(_, b1, b2, eps) =>
        val g = grads(li)(i)
        val m = b1 * st.mom1(li)(i) + (1 - b1) * g
        val v = b2 * st.mom2(li)(i) + (1 - b2) * g * g
        st.mom1(li)(i) = m; st.mom2(li)(i) = v
        lr * (m / (1 - st.p1)) / (math.sqrt(v / (1 - st.p2)) + eps)
    }
    (applyStep(net, scale, step), losses(0))
  }

  /** One optimizer step applied to every parameter:
    * snap(param - stepOf(layer, flatIdx), gradScale), bias entries at
    * flat indices >= weights.length. The ONLY place the step-and-snap
    * convention lives — runEpoch (SGD/Adam) and gridSearch's
    * per-candidate SGD both apply through here, so the determinism
    * contract cannot drift between the two training paths. */
  private def applyStep(net: SegNet, gradScale: Double,
                        stepOf: (Int, Int) => Double): SegNet =
    SegNet(net.layers.zipWithIndex.map { case (l, li) =>
      val wl = l.weights.length
      l.copy(
        weights = Array.tabulate(wl)(i =>
          snap(l.weights(i) - stepOf(li, i), gradScale).toFloat),
        bias = Array.tabulate(l.bias.length)(i =>
          snap(l.bias(i) - stepOf(li, wl + i), gradScale).toFloat))
    }, net.classes)

  /** Full-batch SGD (the common case). */
  def trainSeg(chips: Dataset[ChipRow], net0: SegNet, epochs: Int,
               lr: Double, gradBits: Int = 8)
              (implicit spark: SparkSession): (SegNet, Seq[Double]) =
    trainSegOpt(chips, net0, epochs, Sgd(lr), gradBits)

  /** One epoch's ledger from the checkpointed loop. */
  final case class EpochLog(epoch: Int, loss: Double, valIou: Double,
                            lr: Double, checkpointed: Boolean)

  /** Macro-averaged per-class IoU of `net`'s chip predictions against
    * the chip masks — the engine's checkpoint-selection metric for the
    * reference's validation `iou_score` (convnet.py:365-368).
    *
    * DELIBERATE DEVIATION: the reference's metric is
    * smp.utils.metrics.IoU(threshold=0.5) — ONE micro-averaged score
    * over thresholded activation probabilities, running-mean'd over
    * loader batches. This engine scores the per-class IoU of the ARGMAX
    * labels (the prediction rule segPredict actually deploys) and
    * macro-averages, which keeps per-class visibility and cannot be
    * gamed by a dominant background class. The faithful smp definition
    * is available as [[iouChipsSmp]]; on data where the two rank epochs
    * differently, trainSegCheckpoint's checkpoint choice follows THIS
    * metric. Both run the one distributed fold [[iouCounts]].
    *
    * Single-logit nets score ONE binary-foreground class (pred =
    * decide's logit > 0, mask foreground = mv > 0 — the same convention
    * `target` trains), so a 0/255 mask can never read as all-background
    * and reward a degenerate epoch at checkpoint selection. */
  def iouChips(chips: Dataset[ChipRow], net: SegNet)
              (implicit spark: SparkSession): Double = {
    val ious = iouCounts(chips, net, (planes, p, classes, pred) => {
      val pv = ConvNet.decide(planes, p, classes)
      if (planes.length == 1) pred(0) = pv == 1f
      else {
        var c = 0
        while (c < pred.length) { pred(c) = pv == classes(c); c += 1 }
      }
    }).map { case (inter, nPred, nMask) =>
      val uni = nPred + nMask - inter
      if (uni == 0L) 1.0 else inter.toDouble / uni
    }
    if (ious.isEmpty) 0.0 else ious.sum / ious.length
  }

  /** The reference's metric VERBATIM: smp.utils.metrics.IoU(
    * threshold=0.5) (convnet.py:322-324) — one micro-averaged IoU over
    * thresholded activation probabilities, all channels and pixels
    * jointly, eps = 1e-7 (smp default). Activations follow
    * create_model's contract (convnet.py:52,95-96): softmax across
    * channels for a multi-class net, sigmoid for a single-logit net —
    * sigmoid(l) > 0.5 is exactly l > 0, and softmax_c > 0.5 is computed
    * from the stable shifted exponentials. Thresholded probs and one-hot
    * targets are 0/1, so the fold carries integer counts and the score
    * is parallelism-invariant to the bit. One global batch: the
    * distributed fold scores the WHOLE chip set at once (the reference's
    * running mean over loader batches depends on batch_size; this is
    * its single-batch limit — documented boundary). */
  def iouChipsSmp(chips: Dataset[ChipRow], net: SegNet)
                 (implicit spark: SparkSession): Double = {
    val counts = iouCounts(chips, net, (planes, p, _, pred) => {
      // sigmoid(l) > 0.5 <=> l > 0
      if (planes.length == 1) pred(0) = planes(0)(p) > 0f
      else {
        val nCls = pred.length
        var m = planes(0)(p).toDouble
        var c = 1
        while (c < nCls) { if (planes(c)(p) > m) m = planes(c)(p); c += 1 }
        var z = 0.0
        c = 0
        while (c < nCls) { z += math.exp(planes(c)(p) - m); c += 1 }
        c = 0
        while (c < nCls) { pred(c) = math.exp(planes(c)(p) - m) / z > 0.5; c += 1 }
      }
    })
    if (counts.isEmpty) 0.0 // empty chip set
    else {
      val inter = counts.map(_._1).sum
      val uni = counts.map(_._2).sum + counts.map(_._3).sum - inter
      (inter + 1e-7) / (uni + 1e-7)
    }
  }

  /** The one distributed IoU fold: weights broadcast, every partition
    * folds its chips into ONE per-class (inter, n_pred, n_mask) count
    * triple, the exchange carries 3 longs per (partition, class), the
    * driver gets O(classes) rows. `predict(planes, p, classes, pred)`
    * sets pred(c) for pixel p; a single-logit net scores one
    * binary-foreground class (mask foreground = mv > 0). Counts are
    * integers, so every score built on them is parallelism-invariant
    * to the bit. Returns one triple per class (none for an empty chip
    * set). */
  private def iouCounts(chips: Dataset[ChipRow], net: SegNet,
                        predict: (Array[Array[Float]], Int, Array[Int],
                          Array[Boolean]) => Unit)
                       (implicit spark: SparkSession): Array[(Long, Long, Long)] = {
    import spark.implicits._
    withNets(Array(net)) { bc =>
      chips.mapPartitions { it =>
        val nt = bc.value(0)
        val classes = nt.classes
        val binary = nt.layers.last.outC == 1
        val nCls = if (binary) 1 else classes.length
        val pred = new Array[Boolean](nCls)
        val inter = new Array[Long](nCls)
        val nPred = new Array[Long](nCls)
        val nMask = new Array[Long](nCls)
        var any = false
        it.foreach { ch =>
          any = true
          val planes = forwardAll(ch.bands, ch.w, ch.h, nt).last
          var p = 0
          while (p < ch.w * ch.h) {
            predict(planes, p, classes, pred)
            val mv = ch.mask(p)
            var c = 0
            while (c < nCls) {
              val im = if (binary) mv > 0 else mv == classes(c)
              if (pred(c) && im) inter(c) += 1
              if (pred(c)) nPred(c) += 1
              if (im) nMask(c) += 1
              c += 1
            }
            p += 1
          }
        }
        // an empty partition must emit NOTHING: all-zero rows would read
        // as uni == 0 -> IoU 1.0, fabricating a perfect score on an
        // empty chip set
        if (!any) Iterator.empty
        else (0 until nCls).iterator.map(c => (c, inter(c), nPred(c), nMask(c)))
      }.toDF("c", "inter", "np", "nm")
        .groupBy("c")
        .agg(sum("inter").as("inter"), sum("np").as("np"), sum("nm").as("nm"))
        .collect() // O(classes) rows by construction
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    }
  }

  /** The reference's FULL training loop (convnet.py:327-374): train on
    * the non-holdout chips, score validation IoU after every epoch,
    * CHECKPOINT the weights whenever the score beats the best so far
    * (`if max_score < valid_logs['iou_score']: torch.save`), and drop
    * the learning rate to `lrDropTo` at epoch `lrDropEpoch` (the
    * reference hard-codes epoch 25 -> 1e-5). Returns the BEST
    * checkpoint (the reference reloads it for test evaluation) — or the
    * final weights if no epoch ever beat the initial max_score of 0, a
    * fail-safe where the reference's `torch.load` would crash — plus
    * the per-epoch ledger. Adam moments persist across the lr drop,
    * exactly as mutating `param_groups[0]['lr']` does in torch. */
  def trainSegCheckpoint(chips: Dataset[ChipRow], net0: SegNet, epochs: Int,
                         opt: Optimizer, gradBits: Int = 8,
                         lossFn: Loss = SquaredError,
                         lrDropEpoch: Int = 25, lrDropTo: Double = 1e-5,
                         isVal: ChipRow => Boolean = null)
                        (implicit spark: SparkSession)
      : (SegNet, Seq[EpochLog]) = {
    require(epochs >= 1)
    val scale = gradScale(gradBits)
    // default split: the checkerboard at the dataset's nominal chip
    // size (a null sentinel because a default expression cannot see
    // `chips`; pass an explicit isVal to override)
    val isV: ChipRow => Boolean =
      if (isVal != null) isVal
      else { val cs = nominalChipSize(chips); ch => isHoldout(ch, cs) }
    withSplits(chips, isV) { (train, valid) =>
      // an empty validation split would score every epoch 0 and the loop
      // would silently return the untrained fail-safe — fail loudly, the
      // same contract as the empty-train require below
      require(!valid.isEmpty,
        "trainSegCheckpoint: validation split is empty — isVal matched no chips")
      var net = net0
      var lr = opt match { case Sgd(l) => l; case Adam(l, _, _, _) => l }
      var best = net0
      var bestScore = 0.0
      var everSaved = false
      val logs = Seq.newBuilder[EpochLog]
      val st = new OptState(net0)
      var e = 0
      while (e < epochs) {
        if (e == lrDropEpoch) lr = lrDropTo
        val (stepped, loss) = runEpoch(train, net, scale, lossFn, opt,
          lr, st, "training epoch saw zero chips (empty train split)")
        net = stepped
        val score = iouChips(valid, net)
        val saved = score > bestScore
        if (saved) { bestScore = score; best = net; everSaved = true }
        logs += EpochLog(e, loss, score, lr, saved)
        e += 1
      }
      (if (everSaved) best else net, logs.result())
    }
  }

  /** `f` over the (train, holdout) split of `chips` by `isHold`, both
    * persisted MEMORY_AND_DISK and unpersisted when `f` returns or
    * throws. The typed filter is opaque to pushdown, so each of the
    * epochs x (gradient + holdout) passes would otherwise rescan the
    * ENTIRE upstream chip lineage — the same repeated-full-scan cost
    * trainSegBatched's persist note quantifies (50 epochs = ~100
    * full-table reads at 100 TB). */
  private def withSplits[T](chips: Dataset[ChipRow], isHold: ChipRow => Boolean)
                           (f: (Dataset[ChipRow], Dataset[ChipRow]) => T): T = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val train = chips.filter(ch => !isHold(ch)).persist(level)
    val hold = chips.filter(ch => isHold(ch)).persist(level)
    try f(train, hold) finally { train.unpersist(false); hold.unpersist(false) }
  }

  /** Broadcasts the K weight sets for one job family and destroys the
    * broadcast when it returns — fail paths (an empty split, the
    * coupled-loss weight-mass probe, a task failure) must not leak it
    * on callers that catch-and-retry. */
  private def withNets[T](nets: Array[SegNet])(f: Broadcast[Array[SegNet]] => T)
                         (implicit spark: SparkSession): T = {
    val bc = spark.sparkContext.broadcast(nets)
    try f(bc) finally bc.destroy()
  }

  /** One training epoch of K candidate nets, the ONE epoch job of every
    * trainer (K = 1 for trainSegOpt, trainSegCheckpoint and
    * trainSegBatched; K candidates for gridSearch): the coupled stats
    * pass when the loss needs it, then the gradient pass, both on one
    * weight broadcast and each ONE read of `data` whatever K is. The
    * driver collects O(K x params) rows. Returns per-candidate
    * gradients (per layer, [weights ++ bias]) and ASSEMBLED losses at
    * the starting weights — an empty pass fails loudly with `emptyMsg`
    * since it would record a fabricated 0.0 loss AND still
    * snap-quantize the weights. */
  private def epoch(data: Dataset[ChipRow], nets: Array[SegNet],
                    scales: Array[Double], lossFn: Loss, emptyMsg: String)
                   (implicit spark: SparkSession)
      : (Array[Array[Array[Double]]], Array[Double]) =
    withNets(nets) { bc =>
      val ctxs = coupledCtxs(data, bc, scales, lossFn)
      val rows = gradAgg(data, bc, scales, lossFn, ctxs).collect()
      require(rows.nonEmpty, emptyMsg)
      val grads = nets.map(_.layers.map(l =>
        new Array[Double](l.weights.length + l.bias.length)).toArray)
      val losses = new Array[Double](nets.length)
      rows.foreach { r =>
        val ci = r.getInt(0); val li = r.getInt(1)
        if (li < 0) losses(ci) = assembleLoss(lossFn, r.getDouble(3), ctxs(ci))
        else grads(ci)(li)(r.getInt(2)) = r.getDouble(3)
      }
      (grads, losses)
    }

  /** The gradient pass as a plan (no job): every partition backprops
    * each chip through all K broadcast nets into K local accumulators
    * and emits (ci, li, idx, v) rows — bias entries at
    * idx >= weights.length, candidate ci's loss at li = -1 — so the
    * exchange carries O(partitions x K x params) doubles, never pixels
    * or activations. Gradient terms are exact dyadics, so the candidate
    * key cannot change any sum. `ctxs(ci)` is candidate ci's coupled
    * constants (null for an uncoupled loss). */
  private def gradAgg(data: Dataset[ChipRow], bc: Broadcast[Array[SegNet]],
                      scales: Array[Double], lossFn: Loss,
                      ctxs: Array[CoupledCtx])
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    data.mapPartitions { it =>
      val nts = bc.value
      val k = nts.length
      val gW = nts.map(_.layers.map(l => new Array[Double](l.weights.length)).toArray)
      val gB = nts.map(_.layers.map(l => new Array[Double](l.bias.length)).toArray)
      val loss = new Array[Double](k)
      var any = false
      while (it.hasNext) {
        val ch = it.next(); any = true
        var ci = 0
        while (ci < k) {
          loss(ci) += chipGrad(ch, nts(ci), scales(ci), gW(ci), gB(ci),
            lossFn, ctxs(ci))
          ci += 1
        }
      }
      if (!any) Iterator.empty
      else (0 until k).iterator.flatMap { ci =>
        Iterator.single((ci, -1, 0, loss(ci))) ++
          gW(ci).iterator.zipWithIndex.flatMap { case (g, li) =>
            g.iterator.zipWithIndex.map { case (v, i) => (ci, li, i, v) } } ++
          gB(ci).iterator.zipWithIndex.flatMap { case (g, li) =>
            val off = nts(ci).layers(li).weights.length
            g.iterator.zipWithIndex.map { case (v, i) => (ci, li, off + i, v) } }
      }
    }.toDF("ci", "li", "idx", "v")
      .groupBy("ci", "li", "idx").agg(sum("v").as("v"))
  }

  /** The epoch aggregation of one net as a PLAN (no jobs launched) —
    * for shuffle-shape gating: the only exchange carries exactly
    * (ci int, li int, idx int, v double) with ci = 0. Returns the
    * weight broadcast too so the caller can destroy it once done with
    * the plan. */
  def gradPlan(chips: Dataset[ChipRow], net: SegNet, gradBits: Int = 8)
              (implicit spark: SparkSession)
      : (DataFrame, Broadcast[Array[SegNet]]) = {
    val scale = gradScale(gradBits)
    val bc = spark.sparkContext.broadcast(Array(net))
    (gradAgg(chips, bc, Array(scale), SquaredError, new Array[CoupledCtx](1))
      .orderBy(col("li"), col("idx")), bc)
  }

  /** Loss only (no backprop) — the holdout metric. A coupled loss's
    * value is assembled from batch-global sums, not a pixel sum, so
    * with its batch `ctx` this returns the chip's raw pixel-sum
    * ingredient (the BCE/NLL terms of LossBinary / LossMulti, always 0
    * for Dice) for assembleLoss; without a ctx a per-chip coupled loss
    * is undefined and fails fast. */
  private[graft] def chipLoss(ch: ChipRow, net: SegNet, gradScale: Double,
                              lossFn: Loss = SquaredError,
                              ctx: CoupledCtx = null): Double = {
    require(!isCoupled(lossFn) || ctx != null,
      s"$lossFn is batch-globally coupled: a per-chip loss is undefined — " +
        "assemble the batch loss from batchStats instead")
    forwardResiduals(ch, net, gradScale, lossFn, ctx, null)._3
  }

  /** One chip's contribution to the coupled-loss batch stats: forward
    * only, snapped probs accumulated into the per-class (i, p, t)
    * sums. Returns (pixel count, NLL weight mass). */
  private[graft] def chipStats(ch: ChipRow, net: SegNet, gradScale: Double,
                               lossFn: Loss, i: Array[Double],
                               pSum: Array[Double], t: Array[Double],
                               probe: BoundaryProbe = null): (Long, Double) = {
    val n = ch.w * ch.h
    val outs = forwardAll(ch.bands, ch.w, ch.h, net)
    val last = outs(net.layers.length - 1)
    val outC = net.layers.last.outC
    val classes = net.classes
    val cw = lossFn match { case LossMulti(_, w) => w; case _ => null }
    val pq = new Array[Double](outC)
    var wSum = 0.0
    var p0 = 0
    while (p0 < n) {
      snapProbs(lossFn, last, p0, outC, gradScale, pq, null, probe)
      val mv = ch.mask(p0)
      var c = 0
      while (c < outC) {
        val tv = target(classes, outC, c, mv)
        i(c) += pq(c) * tv
        pSum(c) += pq(c)
        t(c) += tv
        c += 1
      }
      lossFn match {
        case LossMulti(_, _) =>
          val ti = classIndex(classes, mv)
          if (ti >= 0) wSum += (if (cw == null) 1.0 else cw(ti))
        case _ =>
      }
      p0 += 1
    }
    (n.toLong, wSum)
  }

  /** The coupled-loss stats pass as a plan (no job): every partition
    * folds each chip through all K broadcast nets (K x classes
    * forward-only scalar accumulators) and emits one
    * (ci, c, i, p, t, n, w) row per (candidate, class) — the exchange
    * carries O(partitions x K x classes) scalars, never pixels, and
    * the data is read ONCE whatever K is. n and w ride the c == 0 row
    * only. */
  private[graft] def statsRows(data: Dataset[ChipRow],
                               bc: Broadcast[Array[SegNet]],
                               scales: Array[Double], lossFn: Loss)
                              (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    data.mapPartitions { it =>
      val nts = bc.value
      val k = nts.length
      val outCs = nts.map(_.layers.last.outC)
      val iA = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
      val pA = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
      val tA = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
      val nA = new Array[Long](k)
      val wA = new Array[Double](k)
      var any = false
      while (it.hasNext) {
        val ch = it.next(); any = true
        var ci = 0
        while (ci < k) {
          val (cn, cw) =
            chipStats(ch, nts(ci), scales(ci), lossFn, iA(ci), pA(ci), tA(ci))
          nA(ci) += cn; wA(ci) += cw
          ci += 1
        }
      }
      if (!any) Iterator.empty
      else (0 until k).iterator.flatMap { ci =>
        (0 until outCs(ci)).iterator.map(c =>
          (ci, c, iA(ci)(c), pA(ci)(c), tA(ci)(c),
            if (c == 0) nA(ci) else 0L, if (c == 0) wA(ci) else 0.0))
      }
    }.toDF("ci", "c", "i", "p", "t", "n", "w")
      .groupBy("ci", "c").agg(sum("i").as("i"), sum("p").as("p"),
        sum("t").as("t"), sum("n").as("n"), sum("w").as("w"))
  }

  /** Net-shape preconditions of the coupled losses. */
  private def checkLossShape(lossFn: Loss, outC: Int): Unit = lossFn match {
    case LossBinary(_) => require(outC == 1,
      "LossBinary (loss.py:8-29) is the single-logit loss")
    case LossMulti(_, cw) =>
      require(outC >= 2, "LossMulti needs a multi-channel net")
      require(cw == null || cw.length == outC,
        s"classWeights length ${if (cw == null) 0 else cw.length} != $outC")
    case _ =>
  }

  /** Zero-mass batches make LossMulti's wt/wSum residual 0/0 = NaN —
    * refuse them loudly (torch's weighted-mean NLL also NaNs). */
  private def checkWeightMass(lossFn: Loss, w: Double): Unit = lossFn match {
    case LossMulti(_, _) => require(w > 0,
      "LossMulti saw zero target-weight mass in this batch (no in-class " +
        "pixels, or classWeights zeroes out every present class)")
    case _ =>
  }

  /** Batch-global stats of a coupled loss for each of the K broadcast
    * nets: ONE forward-only job (statsRows) whose shuffle carries
    * scalar partials; the driver collects O(K x classes) rows. Every
    * net's shape is checked before the job launches. */
  private[graft] def batchStats(data: Dataset[ChipRow],
                                bc: Broadcast[Array[SegNet]],
                                scales: Array[Double], lossFn: Loss)
                               (implicit spark: SparkSession): Array[BatchStats] = {
    // per-candidate head widths (the executor side supports differing
    // outCs; the driver arrays must match it)
    val outCs = bc.value.map(_.layers.last.outC)
    outCs.foreach(checkLossShape(lossFn, _))
    val rows = statsRows(data, bc, scales, lossFn)
      .collect() // O(K x classes) rows by construction
    require(rows.nonEmpty,
      "coupled-loss stats pass saw zero chips (empty dataset, batch or split)")
    val k = outCs.length
    val i = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
    val p = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
    val t = Array.tabulate(k)(ci => new Array[Double](outCs(ci)))
    val n = new Array[Long](k)
    val w = new Array[Double](k)
    rows.foreach { r =>
      val ci = r.getInt(0); val c = r.getInt(1)
      i(ci)(c) = r.getDouble(2); p(ci)(c) = r.getDouble(3)
      t(ci)(c) = r.getDouble(4)
      n(ci) += r.getLong(5); w(ci) += r.getDouble(6)
    }
    Array.tabulate(k) { ci =>
      checkWeightMass(lossFn, w(ci))
      BatchStats(i(ci), p(ci), t(ci), n(ci), w(ci))
    }
  }

  /** Per-candidate coupled-loss constants from one stats pass over
    * `data` — or all nulls for an uncoupled loss, which needs none and
    * launches no job. */
  private def coupledCtxs(data: Dataset[ChipRow], bc: Broadcast[Array[SegNet]],
                          scales: Array[Double], lossFn: Loss)
                         (implicit spark: SparkSession): Array[CoupledCtx] =
    if (isCoupled(lossFn))
      batchStats(data, bc, scales, lossFn).map(coupledCtx(lossFn, _))
    else new Array[CoupledCtx](scales.length)

  /** Epoch loss from the gradient pass's pixel-sum plus the global
    * stats — the coupled losses' value is not a plain pixel sum. */
  private[graft] def assembleLoss(lossFn: Loss, pixelSum: Double,
                                  ctx: CoupledCtx): Double = lossFn match {
    case Dice(_) => 1.0 - ctx.nn / ctx.dd
    case LossBinary(w) =>
      (1.0 - w) * (pixelSum / ctx.nD) -
        w * math.log(ctx.iEps(0) / ctx.uEps(0))
    case LossMulti(w, _) =>
      var j = 0.0
      var c = 0
      while (c < ctx.iEps.length) {
        j += math.log(ctx.iEps(c) / ctx.uEps(c)); c += 1
      }
      (1.0 - w) * (if (ctx.wSum > 0) pixelSum / ctx.wSum else 0.0) - w * j
    case _ => pixelSum
  }

  /** Mini-batch SGD — the torch-DataLoader loop shape (convnet.py's
    * per-batch optimizer steps) distributed per batch: chips are
    * assigned to `batches` deterministic batches by chip-grid index
    * ((cx/w + cy/h) mod batches — a fixed, replayable shard, the
    * relational analog of a seeded sampler), and every batch runs the
    * same broadcast/partial-gradient/scalar-shuffle job as a full
    * epoch, stepping the weights after each. batches = 1 degrades to
    * trainSeg exactly. Returns per-BATCH losses (epochs x batches,
    * measured at each step's starting weights). A coupled `lossFn`
    * (Dice / LossBinary / LossMulti) computes its global sums over
    * EACH batch — exactly torch's per-batch DiceLoss semantics, where
    * the intersection/union reduce over the DataLoader batch that
    * feeds each optimizer step. */
  def trainSegBatched(chips: Dataset[ChipRow], net0: SegNet, epochs: Int,
                      batches: Int, lr: Double, gradBits: Int = 8,
                      lossFn: Loss = SquaredError)
                     (implicit spark: SparkSession): (SegNet, Seq[Double]) = {
    require(epochs >= 1 && batches >= 1)
    val scale = gradScale(gradBits)
    // persist each batch once: the typed-lambda filter is opaque to
    // pushdown, so WITHOUT the persist every one of the epochs*batches
    // steps would rescan the ENTIRE upstream chip lineage to keep
    // 1/batches of it (50 epochs x 8 batches = 400 full-table reads at
    // the 100 TB design point). Cached, the upstream is read `batches`
    // times total and each step reads only its own batch's partitions.
    // Batch residues come from the nominal-chip-size grid index (edge
    // chips carry truncated w/h — see isHoldout).
    val cs = nominalChipSize(chips)
    val all = (0 until batches).map(b =>
      chips.filter(ch => (ch.cx / cs + ch.cy / cs) % batches == b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // a residue with no chips is simply skipped — torch's DataLoader
      // analog yields fewer batches, it does not crash; the count also
      // materializes each kept batch's cache before the epoch loop
      val parts = all.filter(_.count() > 0)
      require(parts.nonEmpty, "trainSegBatched: no batch holds any chip")
      var net = net0
      val losses = Seq.newBuilder[Double]
      val st = new OptState(net0) // SGD keeps no moments
      var e = 0
      while (e < epochs) {
        var b = 0
        while (b < parts.length) {
          val (stepped, loss) = runEpoch(parts(b), net, scale, lossFn,
            Sgd(lr), lr, st, "training epoch saw zero chips (empty dataset or batch)")
          net = stepped
          losses += loss
          b += 1
        }
        e += 1
      }
      (net, losses.result())
    } finally all.foreach(_.unpersist(false))
  }

  /** One hyper-parameter candidate: a learning rate (power of two) and
    * a quantization grain. */
  final case class Candidate(name: String, lr: Double, gradBits: Int = 8)

  final case class CandidateResult(name: String, lr: Double, gradBits: Int,
                                   trainLosses: Seq[Double],
                                   holdoutLoss: Double, net: SegNet)

  /** The deterministic holdout split: chips at even (grid-x + grid-y)
    * parity train, odd parity validate. Grid indices divide the chip
    * ORIGIN by the nominal chip size — NOT by the chip's own w/h,
    * which chipPairs truncates on edge chips (a 96-px image at
    * chipSize 64 emits a chip at cx=64 with w=32; 64/32=2 would put it
    * on the wrong checkerboard square, and the DuckDB training oracles
    * replay the cx // chipSize form). */
  def isHoldout(ch: ChipRow, chipSize: Int): Boolean =
    (ch.cx / chipSize + ch.cy / chipSize) % 2 == 1

  /** The nominal (untruncated) chip size of a chip grid: max w/h over
    * the dataset — exact whenever at least one full-size chip exists.
    * (A dataset of ONLY truncated chips means every image is smaller
    * than the chip size, so every chip sits at grid (0, 0) and no
    * origin-based rule can split it; the empty-split requires
    * downstream fail loudly there.) One tiny agg job per training
    * call; keeps chipSize out of every training signature. */
  private def nominalChipSize(chips: Dataset[ChipRow]): Int = {
    import org.apache.spark.sql.functions.{col, greatest, max}
    val r = chips.agg(max(greatest(col("w"), col("h")))).head()
    require(!r.isNullAt(0), "nominalChipSize: empty chip dataset")
    r.getInt(0)
  }

  /** GridSearchCV / create_model_optuna analog (learning.py:671-676,
    * convnet.py:50-428's optuna loop) as ONE data-parallel job family:
    * every epoch is the shared K-candidate epoch job, which reads the
    * training chips ONCE and computes gradients for ALL K candidates in
    * that single pass (all K weight sets ride one broadcast; each
    * partition keeps K gradient accumulators) — at the 100 TB design
    * point hyper-parameter search costs K x params in shuffle bytes and
    * K x FLOPs, NOT K extra passes over the data. The reference forks
    * joblib workers per candidate and re-reads the training set in each
    * (the process-boundary it documents); selection here is on a
    * deterministic holdout split (even grid parity trains, odd
    * validates — the CV stand-in the fixture oracle can replay), lowest
    * holdout loss wins, ties to the first candidate in input order. A
    * coupled `lossFn` (Dice — the reference's actual optuna objective
    * loss — LossBinary, LossMulti) trains and selects with the same
    * one-read-per-epoch contract: the stats pass folds all K candidates
    * in a single scan, and the holdout score is the assembled batch
    * loss over the odd split. */
  def gridSearch(chips: Dataset[ChipRow], net0: SegNet,
                 cands: Seq[Candidate], epochs: Int,
                 lossFn: Loss = SquaredError)
                (implicit spark: SparkSession)
      : (CandidateResult, Seq[CandidateResult]) = {
    import spark.implicits._
    require(cands.nonEmpty && epochs >= 1)
    val scales = cands.map(c => gradScale(c.gradBits)).toArray
    checkLossShape(lossFn, net0.layers.last.outC)
    val cs = nominalChipSize(chips)
    withSplits(chips, isHoldout(_, cs)) { (train, hold) =>
      var nets = cands.map(_ => net0).toArray
      val lossTrails = Array.fill(cands.length)(Seq.newBuilder[Double])
      var e = 0
      while (e < epochs) {
        val (grads, losses) = epoch(train, nets, scales, lossFn,
          "grid-search gradient pass saw zero chips (empty train split)")
        lossTrails.zip(losses).foreach { case (trail, l) => trail += l }
        nets = Array.tabulate(nets.length) { ci =>
          val c = cands(ci)
          applyStep(nets(ci), scales(ci), (li, i) => c.lr * grads(ci)(li)(i))
        }
        e += 1
      }
      // holdout loss for every candidate in ONE validation pass (a
      // coupled loss needs its holdout-batch stats first — one more
      // forward-only read — then the pixel-sum pass; Dice's pixel term
      // is identically 0, so its score comes from the stats alone)
      val holdLoss = withNets(nets) { bc =>
        val ctxs = coupledCtxs(hold, bc, scales, lossFn)
        val sums = new Array[Double](nets.length)
        lossFn match {
          case Dice(_) =>
          case _ =>
            val rows = hold.mapPartitions { it =>
              val nts = bc.value
              val loss = new Array[Double](nts.length)
              var any = false
              while (it.hasNext) {
                val ch = it.next(); any = true
                var ci = 0
                while (ci < nts.length) {
                  loss(ci) += chipLoss(ch, nts(ci), scales(ci), lossFn, ctxs(ci))
                  ci += 1
                }
              }
              if (!any) Iterator.empty
              else loss.iterator.zipWithIndex.map { case (v, ci) => (ci, v) }
            }.toDF("ci", "v").groupBy("ci").agg(sum("v").as("v")).collect()
            // an empty holdout would give every candidate a fabricated
            // perfect 0.0 and silently select the first — fail loudly
            // (the coupled path already failed inside the stats pass)
            require(rows.nonEmpty, "holdout split is empty — cannot select a candidate")
            rows.foreach(r => sums(r.getInt(0)) = r.getDouble(1))
        }
        Array.tabulate(nets.length)(ci => assembleLoss(lossFn, sums(ci), ctxs(ci)))
      }
      val results = cands.indices.map { ci =>
        CandidateResult(cands(ci).name, cands(ci).lr, cands(ci).gradBits,
          lossTrails(ci).result(), holdLoss(ci), nets(ci))
      }
      val winner = results.zipWithIndex.minBy { case (r, i) => (r.holdoutLoss, i) }._1
      (winner, results)
    }
  }
}
