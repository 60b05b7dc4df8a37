package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.Kernel

/**
 * Similarity search over an embedding column (ARRAY<FLOAT>) — builder
 * brief: brute-force cosine top-k baseline + an LSH-bucketed scale path.
 *
 * Dot products run through `zip_with`/`aggregate` higher-order functions
 * (codegen'd, no UDF); accumulation in DOUBLE in index order, so results
 * are deterministic.
 */
object EmbedOps {

  private[graft] val Dot = Kernel("vec_dot", EmbedRuntime.getClass, "dotOrNull", DoubleType,
    Seq(ArrayType(FloatType), ArrayType(FloatType)), orNull = true)
  private[graft] val LshSig = Kernel("lsh_signature", EmbedRuntime.getClass, "lshSig",
    LongType, Seq(ArrayType(FloatType), IntegerType), orNull = true)

  /** Sum_i a_i*b_i in double, sequential index order — a codegen'd
    * native expression (the zip_with/aggregate HOF form computes the
    * identical value but evaluates per-element interpreted lambdas;
    * the ANN paths run millions of these per task). */
  def dot(a: Column, b: Column): Column = Dot(Seq(a, b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-safe cosine from a precomputed dot and norms: a zero-norm
    * vector has no direction, so its cosine is NULL (ranked never —
    * every consumer filters nulls) instead of a DIVIDE_BY_ZERO error
    * under Spark's default ANSI mode. */
  private def cosineFrom(d: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 === 0, lit(null)).otherwise(d / (n1 * n2))

  def cosine(a: Column, b: Column): Column =
    cosineFrom(dot(a, b), norm(a), norm(b))

  /**
   * Exact brute-force cosine top-k: each query scans the corpus once.
   * The QUERY side is broadcast (it is the small side by contract); the
   * corpus streams, so the cost is one corpus scan per batch of queries,
   * distributed — never a shuffle of the corpus.
   * queries: (q_id, embedding); corpus: (vec_id, embedding).
   * Ties break on vec_id. Returns (q_id, vec_id, cos, rn).
   */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms hoisted: one norm per vector, not one per (query, candidate)
    val q = queries.select(col("q_id"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(q), col("q_id").isNotNull) // cross join, broadcast NL
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosineFrom(dot(col("qe"), col("ce")), col("qn"), col("cn")))
      // a NULL cosine (null element / zero norm) must never occupy a
      // top-k rank — dotOrNull's contract
      .where(col("cos").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("q_id", "vec_id", "cos", "rn")
  }

  /** Deterministic pseudo-random hyperplane sign bit: the ±1 for
    * (plane p, dim i) is bit 16 of the LCG value 1103515245*(p*2^20+i)
    * + 12345 — closed-form integer math (no 64-bit wraparound), so a
    * DuckDB oracle recomputes the identical planes. sign(sum_i v_i *
    * r_pi) -> bit p. Pure column math. The 2^20 plane stride keeps
    * hyperplanes independent for embeddings up to 2^20 dims (a 4096
    * stride would alias plane p's high dims onto plane p+1). */
  val PlaneStride = 1048576L // 2^20: max supported embedding dimension

  def lshSignature(emb: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 64,
      s"lshSignature packs one bit per plane into a LONG: planes must be " +
        s"in [1, 64], got $planes (Java shifts would silently wrap mod 64)")
    LshSig(Seq(emb, lit(planes)))
  }

  /**
   * LSH-bucketed approximate near-duplicate pairs: bucket by the
   * hyperplane signature (optionally banded into chunks), exact-verify
   * cosine within buckets. Recall < 1 by design — this is the 100 TB
   * scale path; the brute-force top-k above is the exactness baseline.
   */
  def lshCosinePairs(corpus: DataFrame, planes: Int, bandBits: Int,
                     minCos: Double): DataFrame = {
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits must be in [1, 63], got $bandBits (64 would mask to 0 " +
        "and funnel every vector into one bucket)")
    require(planes % bandBits == 0)
    // Null-signature vectors (a null element — no usable direction) are
    // dropped by the band join itself: a NULL sig yields NULL band
    // hashes, and NULL equi-join keys never match, so they can neither
    // verify nor pile into a shared bucket (the quadratic-blowup guard
    // holds with no explicit filter). An explicit isNotNull(sig) here
    // would be PUSHED BELOW the projection and re-evaluate the
    // planes x dims lsh_signature loop a second time per row.
    val sig = corpus.select(col("vec_id"),
      lshSignature(col("embedding"), planes).as("sig"))
    // id-only candidate pairs, deduped across bands BEFORE any vector
    // work — a pair colliding in all 4 bands verifies once, not 4 times,
    // and the band join shuffles 16-byte id+sig rows, never embeddings
    val cand = TextOps.bitBandPairs(sig, "vec_id", "sig", Seq.fill(planes / bandBits)(bandBits))
      .select(col("d1").as("v1"), col("d2").as("v2"))
    // embeddings + precomputed norms join back once per distinct pair
    val withNorm = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    cand
      .join(withNorm.select(col("vec_id").as("v1"),
        col("embedding").as("e1"), col("nrm").as("n1")), Seq("v1"))
      .join(withNorm.select(col("vec_id").as("v2"),
        col("embedding").as("e2"), col("nrm").as("n2")), Seq("v2"))
      .withColumn("cos", cosineFrom(dot(col("e1"), col("e2")), col("n1"), col("n2")))
      .where(col("cos") >= minCos) // NULL cos fails the predicate
      .select("v1", "v2", "cos")
  }

  /**
   * Lloyd's k-means over the embedding column — the IVF centroid-fitting
   * step. Cosine assignment (argmax, ties to the smaller centroid id),
   * centroids re-estimated as the element-wise mean and CAST TO FLOAT
   * each iteration: the float quantization makes the fit bit-identical
   * across engines (summation-order noise is ~2^-52, float keeps 2^-24),
   * so a DuckDB oracle replays the whole loop. Init = the k lowest
   * vec_ids. Empty clusters keep their previous centroid.
   *
   * Scale: one Spark job per iteration; the dim-wise mean is a
   * groupBy(cluster, dim) over exploded components, so partial
   * aggregation folds map-side and the shuffle carries
   * O(clusters x dims x partitions) rows, never vectors.
   */
  def fitKMeans(corpus: DataFrame, k: Int, iters: Int)
               (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = corpus
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(k)
      .as[(Long, Seq[Float])].collect().toSeq
    for (_ <- 0 until iters) {
      val cDf = cents.toDF("c_id", "cent")
      // map-side argmax: the k candidate rows of one vector are generated
      // in the SAME task (broadcast fan-out), so the partial max_by folds
      // them to one row BEFORE the exchange — the shuffle carries N rows,
      // never N x k (a Window.partitionBy(vec_id) rank would). Ordering
      // struct (__cos, -c_id) == (cos desc, c_id asc): ties to smaller id.
      val assigned = corpus.select(col("vec_id"), col("embedding"))
        .join(broadcast(cDf), cDf("c_id").isNotNull)
        .withColumn("__cos", cosine(col("embedding"), col("cent")))
        .groupBy("vec_id")
        .agg(max_by(struct(col("c_id"), col("embedding")),
          struct(col("__cos"), -col("c_id"))).as("__best"))
        .select(col("__best.c_id").as("c_id"),
          col("__best.embedding").as("embedding"))
      val means = assigned
        .select(col("c_id"), posexplode(col("embedding")))
        .groupBy("c_id", "pos")
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    cents.toDF("c_id", "embedding")
  }

  /** IVF-style partitioned ANN: assign corpus vectors to their nearest
    * of `centroids` (broadcast), probe nProbe nearest lists per query.
    * Returns top-k per query from the probed lists only (approximate). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int): DataFrame = {
    val cent = centroids.select(col("c_id"), col("embedding").as("cent"))
    def nearestLists(df: DataFrame, emb: String, n: Int, out: String) = {
      val key = df.columns.head
      val joined = df.join(broadcast(cent), cent("c_id").isNotNull)
        .withColumn("__d", cosine(col(emb), col("cent")))
      if (n == 1) {
        // corpus-side assignment: map-side argmax (see fitKMeans) — the
        // exchange carries one row per vector, never corpus x k. The
        // (__d, -c_id) ordering == (cos desc, c_id asc): exact-cosine
        // ties break to the smaller centroid id, same as the rank path.
        joined.groupBy(col(key))
          .agg(max_by(struct(col(emb), col("c_id")),
            struct(col("__d"), -col("c_id"))).as("__best"))
          .select(col(key), col(s"__best.$emb").as(emb),
            col("__best.c_id").as(out))
      } else {
        // query-side probing (small by contract): rank keeps n > 1 lists
        val w = Window.partitionBy(key).orderBy(col("__d").desc, col("c_id"))
        joined.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= n)
          .drop("cent", "__d", "__rn")
          .withColumnRenamed("c_id", out)
      }
    }
    val assigned = nearestLists(corpus.select(col("vec_id"), col("embedding")), "embedding", 1, "list_id")
    val probed = nearestLists(queries.select(col("q_id"), col("embedding").as("qe")), "qe", nProbe, "list_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(probed, Seq("list_id"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .where(col("cos").isNotNull) // see cosineTopK
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("q_id", "vec_id", "cos", "rn")
  }
}

/** Static eval targets for the embedding expressions — sequential double
  * accumulation in INDEX ORDER, bit-identical to the zip_with/aggregate
  * column form (and to what the DuckDB oracles replay), but running as a
  * tight loop inside WholeStageCodegen instead of per-element
  * interpreted HOF lambdas. */
object EmbedRuntime {
  /** Null mirrors the zip_with/aggregate form this replaced: a length
    * mismatch or any null element makes the whole dot product NULL
    * (never a silently-truncated or zero-padded finite value that would
    * rank in top-k results). */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Bit p = sign of sum_i v_i * r_pi where r_pi = ±1 from bit 16 of the
    * LCG value 1103515245*(p*2^20 + i) + 12345 — identical formula and
    * accumulation order to the Column form this replaced (x + v*(-1.0)
    * == x - v in IEEE, so the add of a signed product is exact).
    *
    * A null ELEMENT returns NULL (deliberate deviation from the old
    * HOF form's signature 0): such a vector has no usable direction,
    * could never verify (its dot products are NULL), and a shared
    * 0-signature would funnel every broken vector into one LSH bucket
    * — quadratic candidate blowup at corpus scale. NULL signatures
    * yield NULL band hashes, which equi-join keys drop — bucketing
    * consumers need no explicit filter. */
  def lshSig(v: ArrayData, planes: Int): java.lang.Long = {
    // validated HERE so every surface is covered — the registered SQL
    // function calls the LshSig kernel directly and would otherwise bypass the
    // EmbedOps.lshSignature wrapper's guard (planes = 65 would shift-wrap
    // onto bit 0 and silently double-write it; planes <= 0 would emit a
    // constant 0 signature, funneling every vector into one LSH bucket).
    // One predictable branch per row, dwarfed by the planes x dims loop.
    require(planes >= 1 && planes <= 64,
      s"lsh_signature packs one bit per plane into a LONG: planes must be " +
        s"in [1, 64], got $planes")
    val n = v.numElements()
    var j = 0
    while (j < n) { if (v.isNullAt(j)) return null; j += 1 }
    var sig = 0L
    var p = 0
    while (p < planes) {
      val base = p.toLong * EmbedOps.PlaneStride
      var proj = 0.0
      var i = 0
      while (i < n) {
        val r = (((1103515245L * (base + i) + 12345L) >>> 16) & 1L) * 2.0 - 1.0
        proj += v.getFloat(i).toDouble * r
        i += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }
}
