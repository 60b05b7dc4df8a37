package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.{ImageRow, PolyRow}
import graft.core.{Geom, GridIndex, Hex, PixelCodec, S2}
import graft.functions.PipRuntime
import graft.gen.Synth
import graft.operators.ConvNet

/** Spark-free, single-thread kernel rates on inputs from the run's own
  * generators. Each kernel warms up, then runs `Reps` timed repetitions of
  * a fixed amount of work; the reported rate is the median repetition's. */
object Kernels {

  private val Reps = 7

  /** Units of work per second: median over the timed repetitions of
    * `work()`, which returns the units it did. */
  private def rate(warmups: Int)(work: () => Long): Double = {
    (1 to warmups).foreach(_ => work())
    val rates = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val n = work()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    Ledger.median(rates)
  }

  @volatile private var sink = 0L

  def run(seed: Long, images: IndexedSeq[ImageRow], polys: IndexedSeq[PolyRow])
      : Map[String, Double] = {
    val rng = new Synth.Rng(seed ^ 0x6b65726eL)

    val decodePx = rate(3) { () =>
      var px = 0L
      images.foreach { im =>
        val d = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        px += d.w.toLong * d.h * d.bands.length
      }
      px
    }

    // probe points spread over each polygon's bbox, so a share of them
    // lands inside, a share outside and some near edges
    val rings = polys.map(p => p.rings.map(_.map(q => (q.x, q.y))): Geom.Rings)
    val packed = polys.map(p => (p.rings.map(_.map(_.x)), p.rings.map(_.map(_.y))))
    val arrays: IndexedSeq[ArrayData] = polys.map { p =>
      new GenericArrayData(p.rings.map { r =>
        new GenericArrayData(r.map(q => InternalRow(q.x, q.y): Any)): Any
      })
    }
    val nProbe = 4096
    val probes = rings.map { r =>
      val b = Geom.bbox(r)
      Array.fill(nProbe) {
        (b.x0 + rng.nextDouble() * (b.x1 - b.x0), b.y0 + rng.nextDouble() * (b.y1 - b.y0))
      }
    }
    def pipRate(test: (Int, Double, Double) => Boolean): Double = rate(3) { () =>
      var n = 0L; var in = 0L
      var i = 0
      while (i < rings.length) {
        val ps = probes(i)
        var k = 0
        while (k < ps.length) {
          if (test(i, ps(k)._1, ps(k)._2)) in += 1
          k += 1
        }
        n += ps.length
        i += 1
      }
      sink += in
      n
    }
    val pipPacked = pipRate((i, x, y) => Geom.pointInPolygonPacked(x, y, packed(i)._1, packed(i)._2))
    val pipTuple = pipRate((i, x, y) => Geom.pointInPolygon(x, y, rings(i)))
    val pipRuntime = pipRate((i, x, y) => PipRuntime.eval(x, y, arrays(i)))

    val net = ConvNet.fixtureNet3
    val convImages = images.take(8).map(im => PixelCodec.decode(im.bytes, im.fmt, im.w, im.h))
    val macPerPx = net.layers.map(l => l.outC.toLong * l.inC * l.k * l.k).sum
    val convMacs = rate(2) { () =>
      var macs = 0L
      val scratch = new ConvNet.ConvScratch
      convImages.foreach { d =>
        sink += ConvNet.forward(d.bands, d.w, d.h, net, scratch).length
        macs += macPerPx * d.w * d.h
      }
      macs
    }

    val nPts = 1 << 16
    val pts = Array.fill(nPts)((rng.nextDouble() * 8000 - 4000, rng.nextDouble() * 8000 - 4000))
    val lls = Array.fill(nPts)((rng.nextDouble() * 170 - 85, rng.nextDouble() * 358 - 179))
    val gridRes = graft.operators.Tiler.resForCellSize(64.0)
    val gridIds = rate(3) { () =>
      var acc = 0L
      pts.foreach { case (x, y) => acc ^= GridIndex.cellId(x, y, gridRes) }
      sink += acc
      nPts.toLong
    }
    val hexCells = pts.take(4096).map { case (x, y) => Hex.cellId(x, y, 10) }
    val hexKring = rate(3) { () =>
      var acc = 0L
      hexCells.foreach(c => acc += Hex.kRing(c, 2).length)
      sink += acc
      hexCells.length.toLong
    }
    val s2Ids = rate(3) { () =>
      var acc = 0L
      lls.foreach { case (la, lo) => acc ^= S2.cellId(la, lo, 12) }
      sink += acc
      nPts.toLong
    }

    Map(
      "core.PixelCodec.decode_px_per_s" -> decodePx,
      "core.Geom.pip_packed_tests_per_s" -> pipPacked,
      "core.Geom.pip_tuple_tests_per_s" -> pipTuple,
      "functions.PipRuntime.tests_per_s" -> pipRuntime,
      "operators.ConvNet.forward_mac_per_s" -> convMacs,
      "core.GridIndex.cell_ids_per_s" -> gridIds,
      "core.Hex.kring_per_s" -> hexKring,
      "core.S2.cell_ids_per_s" -> s2Ids)
  }
}
