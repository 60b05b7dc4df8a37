package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PixelCodec
import graft.gen.{GridImages, Synth}
import graft.operators.{ImageDedup, Skew}

class ImageDedupSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def reencode(img: ImageRow, idPrefix: String): ImageRow = {
    val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
    val fmt2 = if (img.fmt == PixelCodec.FmtRle) PixelCodec.FmtRawLe else PixelCodec.FmtRle
    img.copy(image_id = idPrefix + img.image_id,
      bytes = PixelCodec.encode(fmt2, img.w, img.h, dec.bands), fmt = fmt2,
      phash = PixelCodec.phash64(img.w, img.h, dec.bands(0)))
  }

  test("phashPairs finds every planted re-encode at hamming 0, no junk at <=1") {
    val base = Synth.images(20, seed = 9L, bands = 1)
    val dupes = base.map(reencode(_, "dup_"))
    val all = spark.createDataset((base ++ dupes).toSeq)
    val pairs = ImageDedup.phashPairs(all, maxHamming = 1)
      .as[(String, String, Int)].collect()
    def canon(a: String, b: String) = if (a < b) (a, b) else (b, a)
    val planted = base.map(b => canon(s"dup_${b.image_id}", b.image_id)).toSet
    val found = pairs.map(p => canon(p._1, p._2)).toSet
    assert(planted.subsetOf(found),
      s"missing=${(planted -- found).take(3)}")
    pairs.foreach { case (_, _, h) => assert(h <= 1) }
  }

  test("dedupExact groups lossless re-encodes; distinct images stay apart") {
    val base = Synth.images(20, seed = 9L, bands = 1)
    val dupes = base.take(8).map(reencode(_, "z_"))
    val all = spark.createDataset((base ++ dupes).toSeq)
    val groups = ImageDedup.dedupExact(all).as[(String, Long)].collect()
    assert(groups.map(_._2).sum == 28)
    assert(groups.count(_._2 == 2L) == 8)  // the 8 planted duplicates
    assert(groups.count(_._2 == 1L) == 12) // the untouched originals
  }

  test("dedupExact groups a resized lossy image with its lossless transcode") {
    import graft.operators.ImageOps
    // resize re-encodes qnt8; the raw-le transcode of its output decodes
    // to the same pixels, so both rows must land in one group
    val r = new scala.util.Random(10)
    val src = ImageOps.fromArray("q", Array(Array.fill(32 * 32)(r.nextInt(200).toFloat)),
      32, 32, 0.0, 32.0, 1.0, PixelCodec.FmtQnt8)
    val resized = ImageOps.resize(spark.createDataset(Seq(src)), 2)
    val copy = ImageOps.transcode(resized, PixelCodec.FmtRawLe)
      .map(_.copy(image_id = "q_raw"))
    val groups = ImageDedup.dedupExact(resized.union(copy)).as[(String, Long)].collect()
    assert(groups.toSet == Set(("q", 2L)), groups.toSeq)
  }

  test("dedupExact compares every band, not just band 0") {
    // two 2-band images identical in band 0 (same phash, dims) but
    // different in band 1 must NOT merge
    val b0 = Array.tabulate(16)(_.toFloat)
    val b1a = Array.fill(16)(1f); val b1b = Array.fill(16)(2f)
    def mk(id: String, b1: Array[Float]) = graft.ImageRow(id,
      graft.core.PixelCodec.encode("raw-le", 4, 4, Array(b0, b1)),
      4, 4, "raw-le", "band-1 differs", graft.core.PixelCodec.phash64(4, 4, b0),
      0.0, 0.0, 1.0)
    val all = spark.createDataset(Seq(mk("a", b1a), mk("b", b1b)))
    val groups = ImageDedup.dedupExact(all).as[(String, Long)].collect().toSet
    assert(groups == Set(("a", 1L), ("b", 1L)))
    // and a true 2-band duplicate still merges
    val all2 = spark.createDataset(Seq(mk("a", b1a), mk("b", b1a)))
    val g2 = ImageDedup.dedupExact(all2).as[(String, Long)].collect().toSet
    assert(g2 == Set(("a", 2L)))
  }

  test("dedupExact maxGroup fail-fast bounds the per-group kernel") {
    val base = GridImages.images(1, bands = 1).head
    val copies = (0 until 5).map(i => base.copy(image_id = s"c$i"))
    val ds = spark.createDataset(copies)(Encoders.product[ImageRow])
    // 5 identical images in one (w, h, phash) group; cap of 3 trips
    val e = intercept[Exception] {
      ImageDedup.dedupExact(ds, maxGroup = 3).collect()
    }
    assert(Causes.messages(e).contains("exceeds 3 images"))
    // and above the cap the digest path still groups correctly
    val ok = ImageDedup.dedupExact(ds).as[(String, Long)].collect().toSet
    assert(ok == Set(("c0", 5L)))
  }
}

class SkewSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("saltedRepartition spreads a hot key and preserves rows exactly") {
    // 90% of rows share key 7 (the dense cell)
    val rows = (0 until 2000).map(i => (if (i % 10 == 0) i.toLong % 5 else 7L, i.toLong))
      .toDF("cell", "row_id")
    // AQE would coalesce these toy-sized partitions right back; disable it
    // locally so the test observes the raw repartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val salted = Skew.saltedRepartition(rows, "cell", factor = 8, uniqueCols = Seq("row_id"))
    // rows preserved exactly
    assert(salted.as[(Long, Long)].collect().toSet ==
      rows.as[(Long, Long)].collect().toSet)
    // the hot key's rows now span many partitions
    val spread = salted.withColumn("pid", spark_partition_id())
      .where($"cell" === 7).select("pid").distinct().count()
    assert(spread >= 4, s"hot key spread over only $spread partitions")
    // determinism: same salt -> same partitioning
    val again = Skew.saltedRepartition(rows, "cell", 8, Seq("row_id"))
      .withColumn("pid", spark_partition_id()).collect().map(_.toString).sorted
    val first = salted.withColumn("pid", spark_partition_id()).collect().map(_.toString).sorted
    assert(again.sameElements(first))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
