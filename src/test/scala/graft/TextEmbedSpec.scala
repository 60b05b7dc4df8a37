package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.text.{TextOps, EmbedOps}

class TextOpsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
  val nearDup = base.replace("today", "tonight")
  val other = "completely different content about spark shuffle partitions and broadcast joins everywhere"

  lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, other), (3L, base), // 3 = exact dup of 0
    (4L, "der hund und die katze und der vogel"),
    (5L, "le chat et le chien et le poisson")
  ).toDF("doc_id", "text")

  test("dedupExact groups exact duplicates, keeps min id") {
    val r = TextOps.dedupExact(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(r(0L) == 2L) // docs 0 and 3
    assert(r.values.sum == 6L)
    assert(!r.contains(3L))
  }

  test("dedupExact: NULL text is missing data, never a duplicate group") {
    // groupBy would treat every NULL key as equal — two text-less docs
    // must each survive as their own singleton, not collapse to one
    val withNulls = Seq[(Long, String)](
      (0L, base), (1L, base), (2L, null), (3L, null), (4L, other))
      .toDF("doc_id", "text")
    val r = TextOps.dedupExact(withNulls, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("rolling fingerprint rejects a non-positive window loudly") {
    val one = Seq((0L, "some text")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      one.select(TextOps.fingerprint(col("text"), 0)).collect()
    }
    assert(ex.getMessage != null)
  }

  test("shingles (native shingle_fps) == split/transform/concat_ws HOF chain") {
    // the exact pipeline the native substring-hashing expression replaced
    def hofShingles(d: org.apache.spark.sql.DataFrame, n: Int) = {
      val toks = split(col("text"), " ")
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      d.select(col("doc_id").as("doc"), toks.as("__toks"), idx.as("__idx"))
        .select(col("doc"), explode(transform(col("__idx"),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))).as("shingle"))
        .select(col("doc"),
          graft.text.TextOps.polyFingerprint(col("shingle")).as("sh"))
        .distinct()
    }
    val edge = Seq((10L, ""), (11L, "only two"), (12L, "a  b   c d"),
      (13L, " leading and  trailing "), (14L, "x" * 300 + " tiny " + "y" * 280),
      (15L, "héllo wörld ünïcode three four")).toDF("doc_id", "text")
    for ((d, n) <- Seq((docs, 3), (edge, 3), (edge, 2), (docs, 5))) {
      val native = graft.text.TextOps.shingles(d, "doc_id", "text", n)
        .as[(Long, Long)].collect().toSet
      val hof = hofShingles(d, n).as[(Long, Long)].collect().toSet
      assert(native == hof,
        s"n=$n\n missing=${(hof -- native).take(5)}\n extra=${(native -- hof).take(5)}")
    }
  }

  test("band_keys / sig_agree natives == transform+aggregate / zip_with HOFs") {
    import graft.text.{HashFamily, TextOps}
    val bands = 4; val rows = 4
    // edges: full-length, short (partial + empty bands), empty, a null
    // element (must null ONLY its band / drop only its position), and
    // values at the top of the mod-P domain
    val arrs: Seq[Seq[java.lang.Long]] = Seq(
      (1 to 16).map(i => java.lang.Long.valueOf(i * 1000L)),
      (1 to 7).map(i => java.lang.Long.valueOf(HashFamily.P - i)),
      Seq.empty,
      Seq[java.lang.Long](3L, null, 5L, 7L, 11L, 13L, 17L, 19L),
      (1 to 16).map(i => java.lang.Long.valueOf(HashFamily.P - 1 - i)))
    val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "sig")
    val hofK = df.select(col("id"), transform(sequence(lit(0), lit(bands - 1)),
        b => aggregate(slice(col("sig"), b * rows + 1, lit(rows)),
          lit(0L), (acc, x) => (acc * HashFamily.B + x) % HashFamily.P)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val natK = df.select(col("id"),
        TextOps.bandKeys(col("sig"), bands, rows).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(natK == hofK)
    val pairs = df.select(col("id").as("i1"), col("sig").as("s1"))
      .crossJoin(df.select(col("id").as("i2"), col("sig").as("s2")))
    val hofA = pairs.select(col("i1"), col("i2"),
        size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y),
          b => b)).as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val natA = pairs.select(col("i1"), col("i2"),
        TextOps.sigAgree(col("s1"), col("s2")).as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(natA == hofA)
  }

  test("qualityFeatures (native text_stats) == split/filter HOF tree") {
    // the exact expression tree the native byte-walk replaced
    def hofQuality(text: org.apache.spark.sql.Column) = {
      val toks = split(text, " ")
      val nTok = size(toks)
      val nChar = length(text)
      val punct = nChar - length(regexp_replace(text, "[.,;:!?]", ""))
      val stops = array(TextOps.QualityStopwords.map(lit): _*)
      val nStop = size(filter(toks, t => array_contains(stops, t)))
      struct(
        nChar.as("n_chars"), nTok.as("n_tokens"),
        round((nChar - nTok + 1).cast("double") / nTok, 4).as("mean_tok_len"),
        round(punct.cast("double") / greatest(nChar, lit(1)), 4).as("punct_ratio"),
        round(nStop.cast("double") / greatest(nTok, lit(1)), 4).as("stopword_ratio"))
    }
    val edge = Seq((10L, ""), (11L, " "), (12L, "the  the a "), (13L, "..;;!?"),
      (14L, "héllo wörld the ünïcode a test."), (15L, "a"), (16L, "the"),
      (17L, "  leading and trailing  ")).toDF("doc_id", "text")
    for (d <- Seq(docs, edge)) {
      val native = d.select(TextOps.qualityFeatures(col("text"))).collect().toSeq
      val hof = d.select(hofQuality(col("text"))).collect().toSeq
      assert(native == hof, s"\n native $native\n hof    $hof")
    }
  }

  test("ngramJaccardPairs equals naive token-set jaccard") {
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSet
    val naive = for {
      (i, a) <- Seq((0L, base), (1L, nearDup), (2L, other), (3L, base), (4L, "der hund und die katze und der vogel"), (5L, "le chat et le chien et le poisson"))
      (j, b) <- Seq((0L, base), (1L, nearDup), (2L, other), (3L, base), (4L, "der hund und die katze und der vogel"), (5L, "le chat et le chien et le poisson"))
      if i < j
      ja = toks(a).intersect(toks(b)).size.toDouble /
        toks(a).union(toks(b)).size
      if ja >= 0.5
    } yield ((i, j), ja)
    val got = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(got.keySet == naive.map(_._1).toSet)
    naive.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12, s"$k") }
  }

  test("minHashLsh finds exact and near duplicates with high estimate") {
    val pairs = TextOps.minHashLsh(docs, "doc_id", "text", shingleN = 3,
      numHashes = 64, bands = 16)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(pairs(0L -> 3L) == 1.0)        // exact dup: all signatures agree
    assert(pairs.getOrElse(0L -> 1L, 0.0) > 0.5) // near dup: one token changed
    assert(!pairs.contains(0L -> 2L) || pairs(0L -> 2L) < 0.2) // unrelated
  }

  test("simHash: identical -> 0 hamming, near-dup small, unrelated large") {
    val sigs = docs.select($"doc_id", TextOps.simHash($"text"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)),
      s"near=${ham(sigs(0L), sigs(1L))} far=${ham(sigs(0L), sigs(2L))}")
  }

  test("simHashPairs: FULL recall at every requested radius (vs naive)") {
    val sigs = docs.select($"doc_id", TextOps.simHash($"text"))
      .as[(Long, Long)].collect().toMap
    val naive = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
    } yield (a, b, java.lang.Long.bitCount(sigs(a) ^ sigs(b)))).toSet
    // pigeonhole blocking sizes chunks to the radius — recall must be
    // exact at the REQUESTED radius, not just <= 3 (round-1 defect)
    for (radius <- Seq(0, 3, 7, 15)) {
      val got = TextOps.simHashPairs(docs, "doc_id", "text", maxHamming = radius)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == naive.filter(_._3 <= radius), s"radius $radius")
    }
    // radii above 15 (chunks < 4 bits) are rejected, never silently lossy
    intercept[IllegalArgumentException] {
      TextOps.simHashPairs(docs, "doc_id", "text", maxHamming = 16).collect()
    }
  }

  test("hammingPairs: full recall on adversarial 64-bit signatures") {
    // signatures that differ ONLY in widely-spread bit positions — the
    // exact case fixed-16-bit chunking misses at wide radii
    val sigs = Seq(
      0L, 0x8000000100004001L, 0x0101010101010101L, -1L,
      0x00000000000000FFL, 0xF000000000000000L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = sigs.toDF("id", "sig")
    val naive = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
    } yield (a, b, h)).toSet
    for (radius <- Seq(4, 8, 15)) {
      val got = TextOps.hammingPairs(df, "id", "sig", radius)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == naive.filter(_._3 <= radius), s"radius $radius")
    }
  }

  test("ngramJaccardPairs: prefix filter is exact under planted hot tokens") {
    // every doc shares the hot token "the"; naive token self-join would
    // form all O(n^2) pairs on it — prefix filtering must keep results
    // identical while pruning candidates
    val hot = (0 until 30).map { i =>
      (100L + i, s"the w$i x$i y$i z$i " + (if (i % 2 == 0) "common suffix tail" else s"odd$i only$i"))
    }.toDF("doc_id", "text")
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSet
    val rows = hot.as[(Long, String)].collect()
    val naive = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      ja = toks(a).intersect(toks(b)).size.toDouble / toks(a).union(toks(b)).size
      if ja >= 0.4
    } yield ((i, j), ja)).toMap
    val got = TextOps.ngramJaccardPairs(hot, "doc_id", "text", 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(got.keySet == naive.keySet)
    naive.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12, s"$k") }
  }

  test("langPredict picks marker language") {
    val r = docs.select($"doc_id", TextOps.langPredict($"text")).as[(Long, String)]
      .collect().toMap
    assert(r(4L) == "de")
    assert(r(5L) == "fr")
    assert(r(0L) == "en")
  }

  test("fingerprint and quality features are deterministic and sane") {
    val r1 = docs.select($"doc_id", TextOps.fingerprint($"text", 16),
      TextOps.qualityFeatures($"text").getField("n_tokens"),
      TextOps.bpeishTokenCount($"text")).collect()
    val r2 = docs.select($"doc_id", TextOps.fingerprint($"text", 16),
      TextOps.qualityFeatures($"text").getField("n_tokens"),
      TextOps.bpeishTokenCount($"text")).collect()
    assert(r1.map(_.toString).sameElements(r2.map(_.toString)))
    val row0 = r1.find(_.getLong(0) == 0L).get
    assert(row0.getInt(2) == base.split(" ").length)
  }

  test("hammingPairs fuzz: full recall on 64 random signatures, radii 1..15") {
    val rng = new graft.gen.Synth.Rng(123L)
    val sigs = (0 until 64).map(i => (i.toLong, rng.nextLong()))
    val df = sigs.toDF("id", "sig")
    val naive = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    for (radius <- Seq(1, 5, 11, 15)) {
      val got = graft.text.TextOps.hammingPairs(df, "id", "sig", radius)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == naive.filter(_._3 <= radius), s"radius $radius")
    }
  }
}

class EmbedOpsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Clustered synthetic embeddings: nClusters base directions, members
    * = base + small noise -> high intra-cluster cosine. */
  def clustered(n: Int, dim: Int, nClusters: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rng = new Synth.Rng(seed)
    val bases = Array.fill(nClusters)(Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
    (0 until n).map { i =>
      val b = bases(i % nClusters)
      (i.toLong, b.map(v => v + (rng.nextDouble() * 0.1 - 0.05).toFloat))
    }
  }

  def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  lazy val vecs = clustered(300, 16, 12, seed = 5L)
  lazy val corpus = vecs.toDF("vec_id", "embedding")

  test("cosineTopK == naive brute force (exact, ordered, tie-broken)") {
    val queries = vecs.take(10).map { case (id, e) => (id, e) }
      .toDF("q_id", "embedding")
    val got = EmbedOps.cosineTopK(queries, corpus, k = 4)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Int)]
      .collect().groupBy(_._1).map { case (q, r) => q -> r.sortBy(_._3).map(_._2).toSeq }
    val want = vecs.take(10).map { case (qid, qe) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, e) => (id, cos(qe, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1).toSeq
    }.toMap
    assert(got.keySet == want.keySet)
    for ((q, ids) <- want) assert(got(q) == ids, s"query $q: got=${got(q)} want=$ids")
  }

  test("lshCosinePairs: precision exact (verified in-query), recall high on clusters") {
    val minCos = 0.9
    val truePairs = (for {
      (i, a) <- vecs; (j, b) <- vecs if i < j && cos(a, b) >= minCos
    } yield (i, j)).toSet
    val got = EmbedOps.lshCosinePairs(corpus, planes = 16, bandBits = 4, minCos = minCos)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truePairs)) // precision 1 by construction
    val recall = got.size.toDouble / truePairs.size
    assert(recall >= 0.7, s"recall=$recall (${got.size}/${truePairs.size})")
  }

  test("lshCosinePairs: exactly one row per colliding pair (first-band dedup == distinct)") {
    // minCos = -1 keeps every candidate that verifies, so pairs colliding
    // in SEVERAL bands are maximally present — the regime the first-
    // agreeing-band filter (which replaced the distinct() exchange) must
    // dedup. Expected set computed from the signatures themselves.
    val rows = EmbedOps.lshCosinePairs(corpus, planes = 16, bandBits = 4, minCos = -1.0)
      .select("v1", "v2").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size, "duplicate (v1,v2) rows")
    val sigs = corpus.select(col("vec_id"),
      EmbedOps.lshSignature(col("embedding"), 16).as("sig"))
      .as[(Long, Long)].collect().toMap
    val expect = (for {
      (i, _) <- vecs; (j, _) <- vecs if i < j
      si = sigs(i); sj = sigs(j)
      if (0 until 4).exists(b => ((si >>> (b * 4)) & 15) == ((sj >>> (b * 4)) & 15))
    } yield (i, j)).toSet
    assert(rows.toSet == expect)
  }

  test("ivfTopK: high recall vs brute force with nProbe=3") {
    val queries = vecs.take(10).toDF("q_id", "embedding")
    val centroids = vecs.grouped(25).map(_.head).zipWithIndex
      .map { case ((_, e), i) => (i.toLong, e) }.toSeq.toDF("c_id", "embedding")
    val got = EmbedOps.ivfTopK(queries, corpus, centroids, k = 4, nProbe = 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val want = vecs.take(10).map { case (qid, qe) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, e) => (id, cos(qe, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1).toSet
    }.toMap
    val hits = want.keys.toSeq
      .map(q => got.getOrElse(q, Set.empty[Long]).intersect(want(q)).size).sum
    val recall = hits.toDouble / (want.size * 4)
    assert(recall >= 0.8,
      s"recall=$recall gotKeys=${got.keys.toSeq.sorted} " +
        s"got0=${got.getOrElse(0L, Set.empty[Long])} want0=${want(0L)}")
  }

  test("native DotExpr / LshSigExpr == the HOF column forms bit for bit") {
    import graft.text.EmbedOps
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val hofDot = aggregate(zip_with(col("embedding"), col("embedding"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val hofSig = (0 until 16).map { p =>
      val proj = aggregate(zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (v, i) => v.cast("double") *
          (shiftrightunsigned(lit(1103515245L) * (lit(p.toLong * EmbedOps.PlaneStride) + i) + lit(12345L), 16)
            .bitwiseAND(lit(1L)).cast("double") * 2.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = e.select(
      EmbedOps.dot(col("embedding"), col("embedding")).as("d"), hofDot.as("dh"),
      EmbedOps.lshSignature(col("embedding"), 16).as("s"), hofSig.as("sh")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }
}
