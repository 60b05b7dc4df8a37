package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.functions.col
import graft.operators.Components
import graft.text.TextOps

/** Components.connectedRoots, expanded over the edges' node set on the
  * test side, vs a naive driver-side union-find, across graph
  * shapes chosen to stress the alternating-star algorithm: chains (worst
  * case for plain label propagation), stars, rings, disjoint mixtures,
  * duplicate/reversed/self-loop edges, and seeded random graphs. Every
  * shape runs twice: forced through the star rounds (`driverEdges = 0`)
  * and at the default bound, where these small graphs take the driver
  * finish. */
class ComponentsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Naive union-find ground truth: component = min id, as strings. */
  private def naive(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // path-compress everything, then min id per root
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  private def roots(edges: Seq[(String, String)],
                    driverEdges: Long): Map[String, String] =
    Components.connectedRoots(edges.toDF("a", "b"), "a", "b",
      maxRounds = 64, driverEdges = driverEdges)
      .as[(String, String)].collect().toMap

  /** Every node of `edges` -> its component (a root has no row in the
    * root map and maps to itself), by the star rounds and by the
    * default path, each checked against the naive union-find. */
  private def run(edges: Seq[(String, String)]): Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = naive(edges)
    val byPath = Seq("star rounds" -> 0L, "default" -> Components.DriverFinishEdges)
      .map { case (path, bound) =>
        val r = roots(edges, bound)
        val got = nodes.map(n => n -> r.getOrElse(n, n)).toMap
        assert(got == want, path)
        got
      }
    byPath.head
  }

  test("chain, star, ring, disjoint mixture == union-find") {
    val chain = (0 until 40).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val star = (1 until 15).map(i => (f"s$i%03d", "s000"))
    val ring = (0 until 12).map(i => (f"r$i%02d", f"r${(i + 1) % 12}%02d"))
    val edges = chain ++ star ++ ring ++ Seq(("x1", "x2"))
    run(edges)
  }

  test("duplicate, reversed and self-loop edges are tolerated") {
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "b"),
                    ("c", "c"), ("c", "d"), ("d", "e"))
    val got = run(edges)
    assert(got("e") == "c" && got("a") == "a" && got("b") == "a")
  }

  test("connectedRoots: non-root map only; coalesce over nodes == union-find") {
    val chain = (0 until 25).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val edges = chain ++ Seq(("x1", "x2"), ("x2", "x3"), ("y1", "y2"))
    val want = naive(edges)
    for (bound <- Seq(0L, Components.DriverFinishEdges)) {
      val got = roots(edges, bound)
      // every non-root maps to its component min; roots carry NO row —
      // the dedupClusters coalesce contract
      assert(got.keySet == want.keySet.filterNot(n => want(n) == n), bound)
      got.foreach { case (id, c) => assert(want(id) == c, id) }
    }
  }

  test("seeded random graphs == union-find") {
    for (seed <- Seq(7, 41, 1234)) {
      val rng = new scala.util.Random(seed)
      val edges = Seq.fill(260)(
        (f"n${rng.nextInt(180)}%03d", f"n${rng.nextInt(180)}%03d"))
        .filter(e => e._1 != e._2)
      withClue(s"seed $seed: ")(run(edges))
    }
  }

  test("4096-node chain converges within the round bound (log, not diameter)") {
    // plain min-label propagation would need 4096 rounds; the
    // alternating-star fixpoint must land far under the 64-round guard
    // (driverEdges = 0: the star rounds, not the driver finish).
    val chain = (0 until 4095).map(i => (f"v$i%04d", f"v${i + 1}%04d"))
    val got = roots(chain, driverEdges = 0L)
    assert(got.size == 4095 && got.values.forall(_ == "v0000"))
    assert(run(chain).size == 4096)
  }

  test("empty edge list yields an empty result") {
    assert(run(Seq.empty).isEmpty)
  }

  test("string ids root at Spark's min (UTF-8 byte order), not String.compareTo's") {
    // U+FFFD < U+1F600 in UTF-8 bytes (EF.. < F0..), but the emoji's
    // UTF-16 high surrogate D83D sorts before FFFD in String.compareTo
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    assert(emoji.compareTo(rep) < 0, "fixture must split the two orders")
    val edges = Seq((emoji, rep), (emoji + "x", emoji))
    val sparkMin = edges.flatMap(e => Seq(e._1, e._2)).toDF("id")
      .select(functions.min("id")).as[String].head()
    assert(sparkMin == rep)
    for (bound <- Seq(0L, Components.DriverFinishEdges)) {
      val got = roots(edges, bound)
      assert(got == Map(emoji -> rep, emoji + "x" -> rep), s"driverEdges $bound")
    }
  }

  test("driver finish at the edge-count bound; star rounds one edge past it") {
    val edges = (0 until 9).map(i => (s"b$i", s"b${i + 1}")) ++ Seq(("z1", "z2"))
    val n = edges.size.toLong // 10 canonical edges
    val want = naive(edges).filter { case (k, v) => k != v }
    val (atBound, finishJobs) = SparkJobs.during(spark)(roots(edges, n))
    val (pastBound, starJobs) = SparkJobs.during(spark)(roots(edges, n - 1))
    assert(atBound == want && pastBound == want)
    // the finish is the first checksum (3 jobs: the distinct's and the
    // aggregate's shuffle stages, the result) plus one collect of its
    // checkpoint; the rounds pay a few jobs each (42 measured here)
    assert(finishJobs <= 4, s"driver finish launched $finishJobs jobs")
    assert(starJobs > finishJobs + 3, s"star rounds launched only $starJobs jobs")
  }

  test("driver finish reads the checkpointed edges: the edge plan runs once") {
    val seen = spark.sparkContext.longAccumulator("edge rows")
    val tap = functions.udf { (s: String) => seen.add(1); s }.asNondeterministic()
    val raw = Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "d"))
    val edges = raw.toDF("a0", "b").select(tap(col("a0")).as("a"), col("b"))
    val got = Components.connectedRoots(edges, "a", "b").as[(String, String)]
      .collect().toMap
    assert(got == Map("b" -> "a", "c" -> "a", "e" -> "d"))
    assert(seen.value == raw.size, s"edge plan evaluated ${seen.value} rows")
  }

  test("image keep-one: dedupClusters composes with phashPairs (i1/i2 cols)") {
    // planted phash chain at radius 2: A~B (2 bits), B~C (2 bits) but
    // A-C is 4 bits apart so that pair is NOT emitted -> transitive
    // closure must still collapse {A,B,C} to one keeper.
    val imgs = graft.gen.GridImages.images(4, bands = 1)
    val hashes = Map(0 -> 0L, 1 -> 3L, 2 -> 15L, 3 -> 0xF0F0L) // D isolated
    val ds = spark.createDataset(imgs.zipWithIndex.map { case (im, i) =>
      im.copy(image_id = s"im$i", phash = hashes(i))
    }.toSeq)(org.apache.spark.sql.Encoders.product[graft.ImageRow])
    val pairs = graft.operators.ImageDedup.phashPairs(ds, maxHamming = 2)
    val p = pairs.select("i1", "i2").as[(String, String)].collect().toSet
    assert(p == Set(("im0", "im1"), ("im1", "im2"))) // no direct im0-im2
    val got = TextOps.dedupClusters(ds.select("image_id"), "image_id",
        pairs, aCol = "i1", bCol = "i2")
      .as[(String, String)].collect().toMap
    assert(got == Map("im0" -> "im0", "im1" -> "im0",
                      "im2" -> "im0", "im3" -> "im3"))
  }

  test("dedupClusters: transitive closure + singleton identity mapping") {
    // A~B, B~C (A,C never paired) must collapse to one survivor; D is
    // in no pair and maps to itself.
    val docs = Seq("dA", "dB", "dC", "dD").toDF("doc_id")
    val pairs = Seq(("dA", "dB"), ("dB", "dC")).toDF("d1", "d2")
    val got = TextOps.dedupClusters(docs, "doc_id", pairs)
      .as[(String, String)].collect().toMap
    assert(got == Map("dA" -> "dA", "dB" -> "dA", "dC" -> "dA", "dD" -> "dD"))
  }

  test("dedupClusters on a small pair graph stays within its job count") {
    val docs = (0 until 40).map(i => f"d$i%02d").toDF("doc_id")
    val pairs = (0 until 30 by 3).flatMap(i =>
      Seq((f"d$i%02d", f"d${i + 1}%02d"), (f"d${i + 1}%02d", f"d${i + 2}%02d")))
      .toDF("d1", "d2")
    val (got, jobs) = SparkJobs.during(spark)(
      TextOps.dedupClusters(docs, "doc_id", pairs).as[(String, String)]
        .collect().toMap)
    assert(got.size == 40 && got("d29") == "d27" && got("d39") == "d39")
    // 7 measured with the driver finish (23 with the star rounds)
    assert(jobs <= 7, s"dedupClusters launched $jobs jobs")
  }

  test("connected components ride a reliable checkpoint dir when set") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
      val roots = Components.connectedRoots(edges, "u", "v")
        .as[(Long, Long)].collect().toMap
      val got = Seq(1L, 2L, 3L, 10L, 11L).map(n => n -> roots.getOrElse(n, n)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable path actually wrote checkpoint data
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no checkpoint data written")
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
