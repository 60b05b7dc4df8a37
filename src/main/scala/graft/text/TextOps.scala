package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Kernel

/**
 * Large-scale training-data pipeline text operators (builder brief:
 * dedup, text analysis). All deterministic; heavy lifting stays in
 * codegen'd built-ins (split/explode/xxhash64/groupBy); [[HashRuntime]]
 * kernels only where a scalar has no built-in form (SimHash, rolling
 * fingerprint, shingle and band hashes).
 *
 * Scale notes: every dedup path is shuffle-bounded by (doc, feature)
 * rows, never by doc pairs — candidate pairs only materialize inside an
 * LSH band bucket. Exact dedup is one hash-groupBy.
 */
object TextOps {

  private def hash(name: String, method: String, result: DataType,
                   inputs: DataType*) =
    Kernel(name, HashRuntime.getClass, method, result, inputs)

  // lazy: HashRuntime reads TextOps.QualityStopwords when it initializes
  private[graft] lazy val TextStats = hash("text_stats", "textStats",
    ArrayType(IntegerType, containsNull = false), StringType)
  private[graft] lazy val PolyFp = hash("poly_fingerprint", "polyFp", LongType, StringType)
  private[graft] lazy val SimHash = hash("simhash64", "simhash", LongType, StringType)
  private[graft] lazy val RollingFp = hash("rolling_fingerprint", "rollingFp", LongType,
    StringType, IntegerType)

  /** [n_chars, n_tokens, n_punct, n_stop] of a document in one byte-walk
    * ([[HashRuntime.textStats]] — the quality-score counts). */
  def textStats(text: Column): Column = TextStats(Seq(text))

  /** Composed 62-bit polynomial fingerprint of a whole string
    * ([[HashFamily.fp62]]). */
  def polyFingerprint(text: Column): Column = PolyFp(Seq(text))

  /** Array of composed 62-bit fingerprints of a document's n-token
    * shingles in one byte-walk ([[HashRuntime.shingleFps]]). */
  def shingleFps(text: Column, n: Int): Column = {
    require(n >= 1)
    hash("shingle_fps", "shingleFps", ArrayType(LongType, containsNull = false),
      StringType)(Seq(text), n)
  }

  /** Per-band LSH bucket keys of a minhash signature
    * ([[HashRuntime.bandKeys]]). */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column = {
    require(bands >= 1 && rows >= 1)
    hash("band_keys", "bandKeys", ArrayType(LongType, containsNull = true),
      ArrayType(LongType))(Seq(sig), bands, rows)
  }

  /** Count of agreeing positions between two minhash signatures
    * ([[HashRuntime.sigAgree]]). */
  def sigAgree(s1: Column, s2: Column): Column =
    hash("sig_agree", "sigAgree", IntegerType, ArrayType(LongType), ArrayType(LongType))(
      Seq(s1, s2))

  // ------------------------------------------------------------ analysis

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: letter runs, digit runs, or single non-space
    * symbols — the standard pre-tokenizer shape. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality features per doc: chars, tokens, mean token length,
    * punctuation ratio, stopword ratio — the length/punct/stopword
    * heuristics of standard corpus-quality scoring. The four counts come
    * from ONE native byte-walk ([[textStats]]): the split/filter/
    * array_contains HOF form paid an interpreted lambda per token and
    * roughly DOUBLED the whole job at bench volume (A/B in BENCH.md);
    * parity with the HOF tree is spec-gated in TextOpsSpec. */
  def qualityFeatures(text: Column): Column = {
    val st = textStats(text)
    val nChar = element_at(st, 1)
    val nTok = element_at(st, 2)
    val punct = element_at(st, 3)
    val nStop = element_at(st, 4)
    struct(
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      round((nChar - nTok + 1).cast("double") / nTok, 4).as("mean_tok_len"),
      round(punct.cast("double") / greatest(nChar, lit(1)), 4).as("punct_ratio"),
      round(nStop.cast("double") / greatest(nTok, lit(1)), 4).as("stopword_ratio"))
  }

  /** The stopword list the quality score counts (single-space-separated
    * token equality, occurrences not distinct — the split/filter HOF
    * semantics [[textStats]] replicates byte for byte). */
  val QualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Language-marker scores (n-gram/stopword heuristic). Deterministic
    * CASE-expressible so it is DuckDB-oracle-checkable: score(lang) =
    * occurrences of that language's marker words. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a "),
    "de" -> Seq(" der ", " und "),
    "fr" -> Seq(" le ", " et "),
    "es" -> Seq(" el ", " y "),
    "zh" -> Seq("的"))

  private def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(marker), ""))) /
      lit(marker.length)).cast(IntegerType)

  /** argmax over marker scores; first-listed language wins ties. NULL
    * text predicts NULL (without the guard every score is NULL, every
    * when() falls through, and nulls would silently classify as the
    * fold's seed language). */
  def langPredict(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) =>
      l -> ms.map(m => occurrences(text, m)).reduce(_ + _)
    }
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit(scores.head._1)) { case (acc, (l, s)) =>
      when(s === maxScore, lit(l)).otherwise(acc)
    }
    when(text.isNull, lit(null)).otherwise(pred)
  }

  // ------------------------------------------------------------- dedup

  /** Exact dedup: one hash-groupBy on a 128-bit content digest. The
    * shuffle key is md5(normalized text) + length — NEVER the full
    * document text (at 100 TB, shuffling whole docs as groupBy keys is
    * the dominant cost). 128-bit digest + exact length makes a false
    * merge cryptographically improbable. Returns (keep_id, n_dups) —
    * min doc id is kept, reference-free. NULL text is MISSING data, not
    * identical content: groupBy would treat every NULL key as equal and
    * silently collapse all text-less docs into one "duplicate" group
    * (dropping all but one downstream), so NULL-text docs bypass the
    * digest and keep themselves. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull).groupBy(
      md5(encode(lower(col(textCol)), "UTF-8")).as("__h"),
      // the length key must describe the SAME string the digest does:
      // lowercasing can change the character count (Turkish dotted I ->
      // 'i' + combining dot), and a raw-length key would then keep case
      // variants apart that the digest correctly merges
      length(lower(col(textCol))).as("__len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .unionByName(docs.where(col(textCol).isNull)
        .select(col(idCol).as("keep_id"), lit(1L).as("n_dups")))

  /** Transitive near-dup clustering: candidate PAIRS (from minHashLsh /
    * simHashPairs / phash matching) collapse into connected components
    * and every document maps to its cluster's canonical representative
    * (min doc id); docs in no pair map to themselves. This is the final
    * keep-one stage of a web-scale dedup pipeline — A~B and B~C dedup
    * to ONE survivor even when A and C never became a candidate pair.
    * Shuffles only (id, id) edges, via [[graft.operators.Components]]:
    * a pair graph of at most `Components.DriverFinishEdges` distinct
    * edges (the common case: near-duplicates are rare) is collected
    * once and solved by a driver union-find, and its small root map is
    * broadcast into the join below; a larger one runs the alternating
    * star rounds (O(log^2 n) rounds, shuffle bounded by the edge count).
    * Returns (idCol, rep_id).
    *
    * connectedRoots, not connected: the docs relation IS the node
    * universe here (pairs reference doc ids), so Components' node-list
    * expansion + nodes-join would be a redundant extra edge pass — the
    * root map alone left-joins identically (a component's root, and any
    * doc in no pair, coalesces to itself). */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "d1", bCol: String = "d2"): DataFrame =
    docs.select(col(idCol)).distinct()
      .join(graft.operators.Components.connectedRoots(pairs, aCol, bCol)
              .withColumnRenamed("id", idCol),
            Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("rep_id"))

  /** Word shingles (n-grams) as one row per (id, shingle-fingerprint),
    * distinct per doc. The fingerprint is HashFamily's composed 62-bit
    * polynomial hash — engine-independent integer math a DuckDB oracle
    * recomputes exactly (Spark's xxhash64 would tie correctness to one
    * engine's implementation).
    *
    * The fingerprints come from ONE native byte-walk per document
    * ([[shingleFps]]): because tokens come from single-space splitting
    * and shingles re-join with a single space, every shingle string IS
    * a substring of the original text (empty tokens from repeated
    * spaces included), so the expression hashes text ranges directly —
    * no per-shingle interpreted lambda, no shingle-string allocation
    * (the transform/concat_ws/slice HOF chain this replaced was half
    * the whole minhash query's cost at bench volume; parity is
    * spec-gated incl. multi-space and >MaxChars-shingle edges). The
    * dedup shuffle carries (doc, 8-byte fp) rows, never strings — and
    * min-aggregating permutations downstream is multiset-invariant, so
    * deduping on the fp is result-identical even if two shingles
    * collided. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(shingleFps(col(textCol), n)).as("sh"))
      .distinct()

  /**
   * MinHash signatures + LSH banding -> candidate near-dup pairs with
   * verified shingle-Jaccard (shingle->minhash->band->bucket-join).
   * The numHashes permutations are the universal family h_i(x) =
   * (a_i*lo(x) + c_i*hi(x) + b_i) mod P over HashFamily's composed
   * 62-bit fingerprints (both 31-bit halves reach every permutation, so
   * fingerprint-level collisions are ~2^-62 — see HashFamily); band
   * buckets fold
   * the band's signature slice with the same base-131 mod-P polynomial —
   * every stage is engine-independent integer math (DuckDB-checkable).
   * Returns (d1, d2, jaccard_est) for pairs sharing >= 1 band bucket,
   * d1 < d2, with the estimated Jaccard from signature agreement.
   */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val P = HashFamily.P
    // NO per-doc distinct here (unlike [[shingles]]): the signature is a
    // min-aggregate, which is multiset-invariant, so duplicate shingle
    // fingerprints cannot change any h_i — and the distinct's own
    // (doc, fp) exchange was the largest shuffle in the whole chain
    // (every shingle row, ahead of the one-row-per-doc aggregate).
    // Duplicates now fold in the groupBy's map-side partial instead.
    val sh = docs.select(col(idCol).as("doc"),
      explode(shingleFps(col(textCol), shingleN)).as("sh"))
    // signature: numHashes min-aggregates in ONE pass (partial+final agg).
    // The composed 62-bit fingerprint splits into its 31-bit halves with
    // bit ops (never a double-rounding division) so each permutation sees
    // all 62 bits without any product overflowing a signed 64-bit long.
    val lo = col("sh").bitwiseAND(lit(0x7FFFFFFFL))
    val hi = shiftrightunsigned(col("sh"), 31)
    val minCols = (0 until numHashes).map(i =>
      min(((lit(HashFamily.a(i)) * lo) % P + (lit(HashFamily.c(i)) * hi) % P
        + lit(HashFamily.b(i))) % P).as(s"h$i"))
    val sig = sh.groupBy("doc").agg(minCols.head, minCols.tail: _*)
      .select(col("doc"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    // LSH: polynomial fold of each band slice; bucket-join within (band,
    // hash). The band join carries (band, bh, doc) ID rows only — never
    // the numHashes-long signature array (16 bands would exchange every
    // 512-byte signature 16x per side) — and a pair colliding in k bands
    // dedupes to ONE row before the signatures join back, so the
    // 64-element agreement scan runs once per pair, not once per shared
    // band (the sig aggregate's exchange is computed once and reused
    // across all three consumers). Not `bitBandPairs`: its first-agreeing-
    // band filter needs the signature on every band row, and a minhash
    // signature is the numHashes-long array kept off them, so pairs
    // dedupe with distinct().
    // native band fold + agreement count (bandKeys / sigAgree):
    // the interpreted transform+aggregate+slice fold ran a lambda per
    // signature element per DOC, and the zip_with agreement chain a
    // lambda per element per candidate PAIR — both replaced by
    // codegen'd one-pass kernels, bit-parity spec-gated vs the HOF
    // forms (incl. null poisoning and short-array edges)
    val banded = sig.select(col("doc"),
      posexplode(bandKeys(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val cand = banded.select(col("band"), col("bh"), col("doc").as("d1"))
      .join(banded.select(col("band"), col("bh"), col("doc").as("d2")),
        Seq("band", "bh"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    cand
      .join(sig.select(col("doc").as("d1"), col("sig").as("s1")), Seq("d1"))
      .join(sig.select(col("doc").as("d2"), col("sig").as("s2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (sigAgree(col("s1"), col("s2")).cast("double") / numHashes).as("jaccard_est"))
  }

  /**
   * Exact n-gram Jaccard similarity for all pairs above `threshold`,
   * with PREFIX FILTERING (AllPairs/PPJoin lemma) so hot tokens never
   * explode the candidate join: tokens order globally by (document
   * frequency, token); a pair with jaccard >= t must share a token in
   * the first (n - ceil(t*n) + 1) tokens of EACH doc under that order
   * (proof: the globally-smallest common token sits inside both
   * prefixes whenever the overlap meets the threshold). "the"-like
   * tokens sort LAST and effectively never join.
   *
   * Result-identical to the naive token self-join (spec-gated); the
   * candidate self-join is bounded by rare-token document frequencies,
   * not hot-token df^2.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc"),
      explode(array_distinct(split(col(textCol), " "))).as("t"))
      .where(col("t") =!= "")
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("__df"))
    val byDoc = Window.partitionBy("doc")
    val ranked = tok.join(dfreq, "t")
      .withColumn("__pos", row_number().over(byDoc.orderBy(col("__df"), col("t"))))
      .withColumn("__n", count(lit(1)).over(byDoc))
    val prefix = ranked
      // epsilon-guarded ceil: IEEE noise (0.1*30 = 3.0000000000000004)
      // must never shorten the prefix and drop an exactly-at-threshold pair
      .where(col("__pos") <= col("__n") - ceil(col("__n") * threshold - 1e-9) + 1)
      .select("doc", "t")
    val cand = prefix.select(col("doc").as("d1"), col("t"))
      .join(prefix.select(col("doc").as("d2"), col("t")), Seq("t"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val sets = tok.groupBy("doc").agg(
      sort_array(collect_list(col("t"))).as("toks"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc").as("d1"), col("toks").as("t1"), col("n").as("n1")), Seq("d1"))
      .join(sets.select(col("doc").as("d2"), col("toks").as("t2"), col("n").as("n2")), Seq("d2"))
      .withColumn("inter", size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** 64-bit SimHash of the whitespace token multiset: per token (empties
    * skipped) its composed 62-bit fingerprint via HashFamily, bit k from
    * the parity of the k-th permutation hash; +1/-1 per bit; sign -> bit. */
  def simHash(text: Column): Column = SimHash(Seq(text))

  /**
   * Pigeonhole Hamming-distance blocking over a 64-bit signature column:
   * the signature splits into (maxHamming + 1) chunks, so any pair within
   * the requested radius differs in at most maxHamming chunks and MUST
   * share at least one — full recall at the requested radius by
   * construction (no silent under-recall when the caller asks for a wide
   * radius). Candidates verify with bit_count(xor).
   *
   * Scale: the chunks are the bands of [[bitBandPairs]]. Wider radii
   * mean narrower chunks and therefore fuller buckets; maxHamming <= 15
   * keeps chunks >= 4 bits.
   *
   * `df` must have columns (id, sig); returns (d1, d2, hamming), d1 < d2.
   */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (chunks stay >= 4 bits): $maxHamming")
    val nChunks = maxHamming + 1
    // chunk i: width 64 / nChunks, +1 for the first 64 % nChunks chunks
    val widths = (0 until nChunks).map(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    bitBandPairs(df, idCol, sigCol, widths)
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      // coalesce(.., false) instead of a bare <=: the bare predicate is
      // null-intolerant, so the optimizer infers isnotnull(s1/s2) from it
      // and pushes isnotnull(<sigCol expr>) below each side's projection
      // — re-running the full signature expression (simhash64's text
      // walk) a SECOND time per row as a filter. Rows here always carry
      // non-null signatures (they survived the non-null band-key join),
      // so the value is identical; only the inference is blocked.
      .where(coalesce(col("hamming") <= maxHamming, lit(false)))
  }

  /**
   * Bit-band candidate pairs over a 64-bit signature column, the one
   * blocking join of [[hammingPairs]] and `EmbedOps.lshCosinePairs`: the
   * signature splits into consecutive bit fields of `widths` (low bits
   * first), each row explodes into its (band, field value) keys, and the
   * self-join on (band, key) keeps d1 < d2. Returns (d1, d2, s1, s2),
   * the pair's ids and signatures, for pairs agreeing on >= 1 field.
   *
   * Scale: candidate pairs only materialize inside a (band, key) bucket —
   * never a cross join — and the join shuffles 16-byte id+sig rows.
   * A pair colliding in k bands would reach the result k times; it is
   * kept only at its FIRST agreeing band, a pure COLUMN-MATH filter
   * (both signatures ride the row, so "no earlier band agrees" is
   * closed-form), instead of a distinct() exchange over the candidates.
   */
  private[text] def bitBandPairs(df: DataFrame, idCol: String, sigCol: String,
                                 widths: Seq[Int]): DataFrame = {
    val offsets = widths.scanLeft(0)(_ + _)
    def field(sig: Column, i: Int): Column =
      if (widths(i) == 64) sig
      else shiftrightunsigned(sig, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val banded = df.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .select(col("__id"), col("__sig"),
        posexplode(array(widths.indices.map(field(col("__sig"), _)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val firstAgree = widths.indices.foldRight(lit(-1)) { (i, rest) =>
      when(field(col("s1"), i) === field(col("s2"), i), lit(i)).otherwise(rest)
    }
    banded.select(col("band"), col("key"), col("__id").as("d1"), col("__sig").as("s1"))
      .join(banded.select(col("band"), col("key"), col("__id").as("d2"),
        col("__sig").as("s2")), Seq("band", "key"))
      .where(col("d1") < col("d2"))
      .where(col("band") === firstAgree)
      .select("d1", "d2", "s1", "s2")
  }

  /** SimHash near-dup candidates at FULL recall for the requested radius:
    * pigeonhole blocking on (maxHamming + 1) signature chunks, verified
    * with bit_count(xor) <= maxHamming. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(
      docs.select(col(idCol).as("doc"), simHash(col(textCol)).as("sig")),
      "doc", "sig", maxHamming)

  /** Winnowing-style document fingerprint: min of rolling polynomial
    * hashes over character windows of length w. */
  def fingerprint(text: Column, w: Int): Column =
    RollingFp(Seq(text, lit(w)))
}

/**
 * The engine's universal hash family — plain modular integer math over
 * the Mersenne prime P = 2^31 - 1, chosen so EVERY dedup signature
 * (shingle fingerprints, minhash permutations, simhash token bits,
 * winnowing windows) is recomputable by a relational oracle (no
 * engine-private xxhash64 in any correctness-bearing path). No
 * intermediate exceeds 2^62, so the same arithmetic runs overflow-free
 * in any engine with 64-bit integers.
 *
 * Fingerprints are 62-BIT COMPOSED keys: two independent polynomial
 * hashes of the same string — base B = 131 and base B2 = 137, each
 * mod P — packed as (h131 << 31) | h137. A feature pair collides only
 * if BOTH component hashes collide (~2^-62), so distinct shingles/
 * tokens stay distinct at 100 TB corpus scale (the 31-bit space would
 * birthday-collide at ~10^4-10^5 distinct features and systematically
 * inflate every minhash/simhash similarity estimate — a fingerprint
 * collision agrees across ALL permutations, unlike per-permutation
 * mod-P collisions which are independent noise). Permutations read the
 * two 31-bit halves separately — h_i(x) = (a_i*lo + c_i*hi + b_i)
 * mod P — so the full 62 bits reach every permutation without any
 * 64-bit-overflowing product.
 */
object HashFamily {
  val P = 2147483647L // 2^31 - 1
  val B = 131L
  val B2 = 137L
  val MaxChars = 255 // fingerprints read at most this many UTF-16 units

  private def modPow(base: Long, e: Long): Long = {
    var r = 1L; var b = base % P; var k = e
    while (k > 0) {
      if ((k & 1L) == 1L) r = r * b % P
      b = b * b % P
      k >>= 1
    }
    r
  }
  /** Modular inverses of the bases (P prime -> Fermat), for the
    * prefix-hash O(1) range extraction in shingleFps. */
  val InvB: Long = modPow(B, P - 2)
  val InvB2: Long = modPow(B2, P - 2)

  /** Prefix-hash tables for O(1) substring fingerprints — returns
    * Array(ph1, ph2, inv1, inv2), each of length s.length + 1, such
    * that [[fpWindow]](tables, a, b) == [[fp62]](s, a, b) whenever
    * b - a <= MaxChars. ONE shared builder for shingleFps and
    * rollingFp: the construction is bit-exactness-critical (the DuckDB
    * oracles replay it), so two copies that could drift independently
    * would be a silent-divergence hazard. */
  private[text] def prefixTables(s: String): Array[Array[Long]] = {
    val len = s.length
    val ph1 = new Array[Long](len + 1); val ph2 = new Array[Long](len + 1)
    val inv1 = new Array[Long](len + 1); val inv2 = new Array[Long](len + 1)
    var pw1 = 1L; var pw2 = 1L
    inv1(0) = 1L; inv2(0) = 1L
    var i = 0
    while (i < len) {
      val cc = s.charAt(i).toLong
      ph1(i + 1) = (ph1(i) + cc * pw1) % P
      ph2(i + 1) = (ph2(i) + cc * pw2) % P
      pw1 = (pw1 * B) % P
      pw2 = (pw2 * B2) % P
      inv1(i + 1) = (inv1(i) * InvB) % P
      inv2(i + 1) = (inv2(i) * InvB2) % P
      i += 1
    }
    Array(ph1, ph2, inv1, inv2)
  }

  /** Composed 62-bit fingerprint of s[a, b) from [[prefixTables]]:
    * fp(a, b) = (PH(b) - PH(a)) * B^{-a} mod P per component, composed
    * (h1 << 31) | h2 — bit-identical to fp62's direct walk (callers cap
    * b - a at MaxChars, exactly as fp62 shortens its own range). */
  @inline private[text] def fpWindow(t: Array[Array[Long]], a: Int, b: Int): Long = {
    val h1 = (((t(0)(b) - t(0)(a)) % P + P) % P) * t(2)(a) % P
    val h2 = (((t(1)(b) - t(1)(a)) % P + P) % P) * t(3)(a) % P
    (h1 << 31) | h2
  }

  /** Component polynomial fingerprint sum(code(c_j) * base^j) mod P
    * over s[from, until). */
  def fp(s: String, from: Int, until: Int, base: Long = B): Long = {
    var h = 0L; var pw = 1L
    var i = from
    val end = math.min(until, from + MaxChars)
    while (i < end) {
      h = (h + s.charAt(i) * pw) % P
      pw = (pw * base) % P
      i += 1
    }
    h
  }

  /** Composed 62-bit fingerprint: (fp_B << 31) | fp_B2, one pass. */
  def fp62(s: String, from: Int, until: Int): Long = {
    var h1 = 0L; var pw1 = 1L
    var h2 = 0L; var pw2 = 1L
    var i = from
    val end = math.min(until, from + MaxChars)
    while (i < end) {
      val cc = s.charAt(i).toLong
      h1 = (h1 + cc * pw1) % P
      pw1 = (pw1 * B) % P
      h2 = (h2 + cc * pw2) % P
      pw2 = (pw2 * B2) % P
      i += 1
    }
    (h1 << 31) | h2
  }

  /** Permutation coefficients: h_i(x) = (a(i)*lo(x) + c(i)*hi(x) + b(i))
    * mod P over a composed 62-bit fingerprint x. The a/c multiplier
    * families differ multiplicatively (LCG vs MINSTD constants), so the
    * per-permutation map over (hi, lo) pairs is 2-universal-ish: two
    * distinct composed fps collide in permutation i with probability
    * ~1/P, independently per i. */
  def a(i: Int): Long = (1103515245L * (2 * i + 1) + 12345L) % P
  def b(i: Int): Long = (1103515245L * i + 54321L) % P
  def c(i: Int): Long = (48271L * (2 * i + 1) + 11213L) % P

  /** h_i over a composed 62-bit fingerprint; every intermediate < 2^62. */
  def perm(i: Int, fp62: Long): Long = {
    val lo = fp62 & 0x7FFFFFFFL
    val hi = fp62 >>> 31
    ((a(i) * lo) % P + (c(i) * hi) % P + b(i)) % P
  }

  /** SQL CTE: power table pwv(j, p, p2), 1-based j to pair with substr
    * positions (p = B^(j-1) mod P, p2 = B2^(j-1) mod P). */
  def powCte(n: Int): String = {
    val ps = Iterator.iterate(1L)(p => p * B % P).take(n).toIndexedSeq
    val ps2 = Iterator.iterate(1L)(p => p * B2 % P).take(n).toIndexedSeq
    "pwv(j, p, p2) AS (VALUES " +
      ps.indices.map(j => s"(${j + 1}, ${ps(j)}, ${ps2(j)})").mkString(",") + ")"
  }
}

/** Static kernels of the text-hash functions ([[TextOps]]'s [[Kernel]]s)
  * — a plain static call keeps them inside WholeStageCodegen (same
  * pattern as the spatial functions in graft.functions). */
object HashRuntime {
  def polyFp(v: UTF8String): Long = {
    val s = v.toString
    HashFamily.fp62(s, 0, s.length)
  }

  def simhash(v: UTF8String): Long = {
    val s = v.toString
    val counts = new Array[Int](64)
    var start = 0
    val n = s.length
    while (start < n) {
      var end = start
      while (end < n && s.charAt(end) != ' ') end += 1
      if (end > start) {
        val fp = HashFamily.fp62(s, start, end)
        var k = 0
        while (k < 64) {
          val bit = HashFamily.perm(k, fp) & 1L
          counts(k) += (if (bit == 1L) 1 else -1)
          k += 1
        }
      }
      start = end + 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (counts(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  private val StopBytes: Array[Array[Byte]] =
    TextOps.QualityStopwords.map(_.getBytes("UTF-8")).toArray

  /** One byte-walk over the UTF-8 payload -> [n_chars, n_tokens,
    * n_punct, n_stop]. Exact parity with the HOF tree it replaced:
    * n_chars = length(text) (codepoints = numChars); n_tokens =
    * size(split(text, " ")) = single-space count + 1 (split keeps empty
    * segments, limit -1); n_punct counts [.,;:!?] (ASCII bytes never
    * occur inside UTF-8 continuation sequences, so byte counting ==
    * codepoint counting); n_stop counts segments equal to a quality
    * stopword (occurrences, not distinct). */
  def textStats(v: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numBytes()
    var spaces = 0; var punct = 0; var stops = 0
    var segStart = 0
    var i = 0
    while (i <= n) {
      val c = if (i == n) ' '.toInt else (v.getByte(i) & 0xFF)
      if (c == ' ') {
        val len = i - segStart
        if (len >= 1 && len <= 3) { // longest stopword is 3 bytes
          var k = 0
          var matched = false
          while (k < StopBytes.length && !matched) {
            val sw = StopBytes(k)
            if (sw.length == len) {
              var j = 0
              while (j < len && sw(j) == v.getByte(segStart + j)) j += 1
              matched = j == len
            }
            k += 1
          }
          if (matched) stops += 1
        }
        if (i < n) spaces += 1
        segStart = i + 1
      } else if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
        punct += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Array(v.numChars(), spaces + 1, punct, stops))
  }

  /** fp62 of every n-token shingle in one pass, hashing substrings of
    * the original text in place. Token j spans the characters between
    * single-space separators (split-with-empties semantics), and
    * shingle i covers [start(i), end(min(i+n-1, last))] — exactly the
    * string `concat_ws(" ", slice(split(s, " "), i+1, n))` builds.
    * Shingle count = max(numToks - n, 0) + 1, matching the
    * sequence(0, greatest(size - n, 0)) index list this replaced
    * (short docs emit one whole-text shingle). */
  def shingleFps(v: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = v.toString
    val len = s.length
    // token start offsets: 0 and every position after a space
    var numToks = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') numToks += 1; i += 1 }
    val starts = new Array[Int](numToks)
    val ends = new Array[Int](numToks)
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { ends(tok) = i; tok += 1; starts(tok) = i + 1 }
      i += 1
    }
    ends(tok) = len
    val m = math.max(numToks - n, 0) + 1
    val out = new Array[Long](m)
    if (m == 1) {
      // whole text is the only shingle — no prefix tables needed
      out(0) = HashFamily.fp62(s, 0, math.min(len, ends(numToks - 1)))
    } else {
      // prefix-hash tables: ONE scan of the text, then each of the m
      // overlapping shingles extracts in O(1) (the naive per-shingle
      // walk rescans every char ~n times; this is the fused-kernel
      // form, bit-identical to fp62 incl. the MaxChars cap because the
      // range just shortens to [a, a+MaxChars)).
      val t = HashFamily.prefixTables(s)
      var k = 0
      while (k < m) {
        val a = starts(k)
        val b = math.min(ends(math.min(k + n - 1, numToks - 1)), a + HashFamily.MaxChars)
        out(k) = HashFamily.fpWindow(t, a, b)
        k += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Min rolling-window fingerprint — the same prefix-hash tables as
    * shingleFps, so every window extracts in O(1) instead of a fresh
    * O(win) fp62 walk (that form rescanned every char ~win times in a
    * codegen hot loop). Bit-identical to the per-window fp62, including
    * its MaxChars cap (each window's range shortens the same way). */
  def rollingFp(v: UTF8String, win: Int): Long = {
    // fail loudly, not per-row garbage: win <= 0 would index t(0)(-1)
    // (negative) or hash every window as the empty range (zero — every
    // doc silently "identical"); siblings guard their params the same
    // way (shingleFps n >= 1, bandKeys bands/rows >= 1)
    require(win >= 1, s"rolling_fingerprint window must be >= 1, got $win")
    val s = v.toString
    val n = s.length
    if (n <= win) return HashFamily.fp62(s, 0, n)
    val eff = math.min(win, HashFamily.MaxChars)
    val t = HashFamily.prefixTables(s)
    var minH = Long.MaxValue
    var start = 0
    while (start + win <= n) {
      val h = HashFamily.fpWindow(t, start, start + eff)
      if (h < minH) minH = h
      start += 1
    }
    minH
  }

  /** Per-band polynomial fold of a minhash signature — the native form
    * of `transform(sequence(0, bands-1), b => aggregate(slice(sig,
    * b*rows+1, rows), 0L, (acc, x) => (acc*B + x) % P))`, bit-identical
    * including the HOF's edge semantics: a null element nulls ITS band
    * (aggregate's poisoned accumulator) without touching the others,
    * and a short signature folds only the elements present (an empty
    * band slice returns the 0L seed). Runs once per DOCUMENT in the
    * LSH hot path, so the interpreted per-element lambda + per-band
    * slice allocation it replaces scale with corpus size. */
  def bandKeys(sig: org.apache.spark.sql.catalyst.util.ArrayData,
               bands: Int, rows: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var poisoned = false
      var i = b * rows
      val end = math.min(i + rows, n)
      while (i < end && !poisoned) {
        if (sig.isNullAt(i)) poisoned = true
        else acc = (acc * HashFamily.B + sig.getLong(i)) % HashFamily.P
        i += 1
      }
      out(b) = if (poisoned) null else java.lang.Long.valueOf(acc)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count of positions where two signatures agree — the native form of
    * `size(filter(zip_with(s1, s2, (x, y) => x === y), b => b))`:
    * zip_with null-pads the shorter side and `null === x` is null, so
    * only positions present AND non-null in BOTH arrays can count.
    * Runs once per candidate PAIR in the LSH verify step. */
  def sigAgree(s1: org.apache.spark.sql.catalyst.util.ArrayData,
               s2: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val n = math.min(s1.numElements(), s2.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!s1.isNullAt(i) && !s2.isNullAt(i) && s1.getLong(i) == s2.getLong(i))
        c += 1
      i += 1
    }
    c
  }
}
