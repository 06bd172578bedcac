package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline operators: tokenization,
  * shingling, language ID, quality scoring, rolling-hash fingerprinting,
  * MinHash and SimHash.
  *
  * Design stance: everything that CAN be a native (codegen'd) column expression
  * is — `tokensCol`/`shinglesCol` compile to whole-stage-codegen regexp/array
  * ops. Scala UDFs exist only where Spark has no built-in equivalent (CJK-aware
  * tokenization, 64-bit MinHash/SimHash signatures, winnowing) and each of those
  * operates on already-tokenized arrays so the UDF stays out of scan/filter
  * pushdown paths.
  *
  * Reference tie-in: the reference tokenizes search phrases with the IK analyzer
  * (app/func/KeywordUDTF.java:16-28, utils/KeywordUtil.java:18-41). IK is not
  * public-knowledge-required; we implement ASCII word splitting + CJK bigram
  * segmentation, the standard IK-"smart-mode" approximation.
  */
object TextFns {

  // ---------------- native column helpers (codegen'd) ----------------

  /** Lowercased alnum tokens — the ASCII fast path, equivalent to the UDF below
    * on ASCII-only text. Mirrors DuckDB `regexp_extract_all(lower(x),'[a-z0-9]+')`. */
  def tokensCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** n-word shingles of a token array, joined by single spaces.
    * size < n ⇒ empty array (Spark's `sequence(1,0)` would count DOWN, so guard). */
  def shinglesCol(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(tokens) - lit(n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))

  /** BPE-ish token count: letter runs, digit runs, and single punctuation marks
    * each count as one token. */
  def bpeTokenCountCol(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  // ---------------- CJK-aware tokenizer (UDF; B1) ----------------

  /** ASCII words + CJK bigrams (unigram for isolated CJK chars). */
  def tokenize(s: String): Seq[String] = {
    if (s == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val ascii = new StringBuilder
    val cjkRun = new StringBuilder
    def flushAscii(): Unit = if (ascii.nonEmpty) { out += ascii.result(); ascii.clear() }
    def flushCjk(): Unit = {
      val r = cjkRun.result(); cjkRun.clear()
      if (r.length == 1) out += r
      else if (r.length > 1) (0 until r.length - 1).foreach(i => out += r.substring(i, i + 2))
    }
    s.toLowerCase.foreach { c =>
      if (c >= '一' && c <= '鿿') { flushAscii(); cjkRun += c }
      else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { flushCjk(); ascii += c }
      else { flushAscii(); flushCjk() }
    }
    flushAscii(); flushCjk()
    out.toSeq
  }

  val tokenizeUdf = udf(tokenize _)

  // ---------------- 64-bit hashing primitives ----------------

  /** FNV-1a 64-bit over UTF-8 bytes — stable across JVMs/platforms. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val bytes = s.getBytes("UTF-8")
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** SplitMix64 — used to derive deterministic per-permutation constants. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Polynomial rolling hash (Rabin–Karp, base 1000003) of a string. */
  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1000003L + s.charAt(i); i += 1 }
    h
  }

  // ---------------- MinHash ----------------

  val MinHashPerms = 64

  /** (a_i, b_i) permutation constants, derived deterministically from SplitMix64.
    * a_i forced odd so x -> a*x+b is a bijection on Z/2^64. */
  private val perms: Array[(Long, Long)] =
    Array.tabulate(MinHashPerms)(i => (splitmix64(2L * i) | 1L, splitmix64(2L * i + 1)))

  /** 64-permutation MinHash signature over a shingle set. Empty set ⇒ all
    * Long.MaxValue (never collides with a real signature band). */
  def minhash(shingles: Seq[String]): Array[Long] = {
    val sig = Array.fill(MinHashPerms)(Long.MaxValue)
    shingles.foreach { sh =>
      val h = fnv64(sh)
      var i = 0
      while (i < MinHashPerms) {
        val (a, b) = perms(i)
        val v = a * h + b
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  // ------- single-pass text → shingle-hash / band-hash kernels -------
  //
  // The composable path (tokensCol → shinglesCol → array_distinct → minhash)
  // is semantically clean but slow in practice: Spark's higher-order array
  // functions are CodegenFallback (interpreted) and each shingle materializes
  // a string. These kernels do ONE pass over the text per document: regex
  // tokenize, incremental FNV over "t0 t1 t2" (char-identical to
  // fnv64(concat) for ASCII tokens), dedup into a hash set. Near-dup
  // detection then operates on 64-bit shingle hashes — Jaccard over hashes
  // equals Jaccard over strings up to 2^-64 collisions.

  private val TokenPattern = java.util.regex.Pattern.compile("[a-z0-9]+")

  private def fnvMix(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Distinct 3-gram shingle hashes of a document, one pass, no shingle strings. */
  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    if (text == null) return Array.empty
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = TokenPattern.matcher(text.toLowerCase)
    while (m.find()) toks += m.group()
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        h = fnvMix(h, toks(i + j))
        j += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  val shingleHashesUdf = udf((s: String) => shingleHashes(s))

  /** Positional CHARACTER q-grams as (fnv64 hash, start position) pairs,
    * sorted by the global (hash, position) order — the ED-Join candidate
    * representation (Xiao et al., VLDB 2008). One pair per OCCURRENCE
    * (multiset, unlike [[shingleHashes]]'s token-shingle set): the
    * edit-distance count bound "d edits destroy ≤ q·d gram occurrences"
    * is a multiset statement. Hash collisions can only ADD candidates
    * (verified away by the DP), never lose one. */
  def posQGrams(text: String, q: Int): Seq[(Long, Int)] = {
    if (text == null || text.length < q) return Seq.empty
    val n = text.length - q + 1
    val arr = new Array[(Long, Int)](n)
    var i = 0
    while (i < n) { arr(i) = (fnv64(text.substring(i, i + q)), i); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr.sortBy(identity))
  }

  def posQGramsUdf(q: Int) = udf((s: String) => posQGrams(s, q))

  private def asciiTokens(text: String): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    if (text != null) {
      val m = TokenPattern.matcher(text.toLowerCase)
      while (m.find()) toks += m.group()
    }
    toks
  }

  /** (total, distinct) n-gram counts of a document in ONE pass — the
    * repetition-score kernel. Distinctness is by exact gram STRING (not hash),
    * so the counts are bit-comparable to a SQL oracle that builds the grams. */
  def gramStats(text: String, n: Int): (Long, Long) = {
    val toks = asciiTokens(text)
    if (toks.length < n) (0L, 0L)
    else {
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      ((toks.length - n + 1).toLong, seen.size.toLong)
    }
  }

  def gramStatsUdf(n: Int) = udf((s: String) => gramStats(s, n))

  /** The C4 stopword-presence set (a tiny high-frequency subset is enough:
    * the rule asks "does ANY stopword appear", not a ratio). */
  val C4Stopwords: Set[String] = Set("the", "a", "of", "to", "and")

  /** Doc-level stats feeding the C4-style rule filter, in ONE pass over the
    * tokens (word count, character sum, stopword presence, 2-gram
    * total/distinct) plus one substring scan for the blocklist — the
    * composable-column version would pay five interpreted HOF passes per doc.
    * All counts are exact integers so every downstream rule comparison is
    * bit-stable against a SQL oracle (no floating-point thresholds). */
  def c4Stats(text: String): (Long, Long, Boolean, Long, Long, Boolean) = {
    val toks = asciiTokens(text)
    var charSum = 0L
    var hasStop = false
    var i = 0
    while (i < toks.length) {
      charSum += toks(i).length
      if (!hasStop && C4Stopwords.contains(toks(i))) hasStop = true
      i += 1
    }
    var total2 = 0L
    var uniq2 = 0L
    if (toks.length >= 2) {
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder
      i = 0
      while (i + 2 <= toks.length) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
        seen.add(sb.toString)
        i += 1
      }
      total2 = (toks.length - 1).toLong
      uniq2 = seen.size.toLong
    }
    val lt = if (text == null) "" else text.toLowerCase
    val blocked = lt.contains("lorem ipsum") || lt.contains("{")
    (toks.length.toLong, charSum, hasStop, total2, uniq2, blocked)
  }

  val c4StatsUdf = udf((s: String) => c4Stats(s))

  private val BulletLine = java.util.regex.Pattern.compile("^[ \t]*[-*•]")
  private val EllipsisLine = java.util.regex.Pattern.compile("\\.\\.\\.[ \t]*$")

  /** Gopher/MassiveWeb doc-level quality stats (Rae et al. 2021, App. A
    * "MassiveWeb" filters) in ONE pass over tokens + one over lines:
    * (words, charSum, alphaWords, stopHits, symbols, lines, bulletLines,
    * ellipsisLines, maxGramMass). Every field is an exact integer so the
    * q104 rules are cross-multiplied integer comparisons, bit-stable against
    * the SQL oracle. `requiredStops` is the rule's language-dependent
    * required-stopword set; stopHits counts DISTINCT members present.
    * maxGramMass is the character mass count·charlen of the most-repeated
    * adjacent 2-gram — a max of products, so it needs no tie rule. Symbols
    * count '#' chars plus non-overlapping '...' runs (left-to-right scan,
    * the shared regex semantics of both engines). Whitespace classes in the
    * line rules are the explicit `[ \t]` — Java's \s and RE2's \s disagree
    * on \x0B, so neither is used. */
  def gopherStats(text: String, requiredStops: Seq[String])
  : (Long, Long, Long, Long, Long, Long, Long, Long, Long) = {
    val toks = asciiTokens(text)
    var charSum = 0L
    var alphaWords = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      charSum += t.length
      var j = 0
      var hasAlpha = false
      while (!hasAlpha && j < t.length) {
        val c = t.charAt(j)
        if (c >= 'a' && c <= 'z') hasAlpha = true
        j += 1
      }
      if (hasAlpha) alphaWords += 1
      i += 1
    }
    val stopHits = requiredStops.count(toks.contains).toLong
    var symbols = 0L
    if (text != null) {
      var p = 0
      while (p < text.length) { if (text.charAt(p) == '#') symbols += 1; p += 1 }
      p = text.indexOf("...")
      while (p >= 0) { symbols += 1; p = text.indexOf("...", p + 3) }
    }
    val lineArr = if (text == null) Array("") else text.split("\n", -1)
    var bulletLines = 0L
    var ellipsisLines = 0L
    i = 0
    while (i < lineArr.length) {
      if (BulletLine.matcher(lineArr(i)).find()) bulletLines += 1
      if (EllipsisLine.matcher(lineArr(i)).find()) ellipsisLines += 1
      i += 1
    }
    var maxMass = 0L
    if (toks.length >= 2) {
      val counts = new java.util.HashMap[String, Long]()
      val sb = new java.lang.StringBuilder
      i = 0
      while (i + 2 <= toks.length) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
        val g = sb.toString
        counts.put(g, counts.getOrDefault(g, 0L) + 1L)
        i += 1
      }
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mass = e.getValue * (e.getKey.length - 1)
        if (mass > maxMass) maxMass = mass
      }
    }
    (toks.length.toLong, charSum, alphaWords, stopHits, symbols,
      lineArr.length.toLong, bulletLines, ellipsisLines, maxMass)
  }

  def gopherStatsUdf(requiredStops: Seq[String]) =
    udf((s: String) => gopherStats(s, requiredStops))

  /** The Gopher repetition-filter masses (Rae et al. 2021, App. A Table A2)
    * in one pass per n: element 0 is the doc's token character sum; elements
    * 1–3 the TOP-n-gram character mass (count·charlen of the most repeated
    * n-gram) for n = 2..4; elements 4–9 the DUPLICATE-n-gram character mass
    * (Σ count·charlen over grams occurring ≥2×) for n = 5..10. Char mass
    * counts every occurrence — the paper's de-overlap refinement is not
    * reproducible as an exact integer cross-engine stat, and the documented
    * occurrence-mass variant thresholds the same pathology. All integers, so
    * the q106 flags are exact cross-multiplied comparisons. */
  def repetitionMasses(text: String): Seq[Long] = {
    val toks = asciiTokens(text)
    val out = new Array[Long](10)
    var i = 0
    while (i < toks.length) { out(0) += toks(i).length; i += 1 }
    var n = 2
    while (n <= 10) {
      if (toks.length >= n) {
        val counts = new java.util.HashMap[String, Long]()
        val sb = new java.lang.StringBuilder
        i = 0
        while (i + n <= toks.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
          val g = sb.toString
          counts.put(g, counts.getOrDefault(g, 0L) + 1L)
          i += 1
        }
        var acc = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val mass = e.getValue * (e.getKey.length - (n - 1))
          if (n <= 4) { if (mass > acc) acc = mass }
          else if (e.getValue >= 2) acc += mass
        }
        out(n - 1) = acc
      }
      n += 1
    }
    out.toSeq
  }

  val repetitionMassesUdf = udf((s: String) => repetitionMasses(s))

  /** Distinct n-gram shingle STRINGS of a document, one pass, first-seen order
    * — the contamination kernel (string grams so the overlap join is
    * oracle-comparable; the hash variant is [[shingleHashes]]). */
  def distinctShingles(text: String, n: Int): Array[String] = {
    val toks = asciiTokens(text)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  def distinctShinglesUdf(n: Int) = udf((s: String) => distinctShingles(s, n))

  /** Per-document n-gram frequency map in ONE pass — the span-dedup/fluency
    * kernel: emitting (gram → in-doc count) lets downstream ops explode one
    * row per DISTINCT gram per doc (for 2-grams that is ~6× fewer rows than
    * per occurrence) and keeps the gram building out of the interpreted-HOF
    * path (shinglesCol's transform/slice/concat_ws chain is CodegenFallback —
    * measured 7.6 s → 1.8 s for q69 at sf0.1). */
  def gramCounts(text: String, n: Int): Map[String, Int] = {
    val toks = asciiTokens(text)
    if (toks.length < n) return Map.empty
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val g = sb.toString
      m.update(g, m.getOrElse(g, 0) + 1)
      i += 1
    }
    m.toMap
  }

  def gramCountsUdf(n: Int) = udf((s: String) => gramCounts(s, n))

  /** Per-document token frequency map in ONE pass — the keyword-stats kernel:
    * emitting (token → in-doc count) lets the aggregation explode one row per
    * DISTINCT token per doc (not per occurrence) and pre-aggregates map-side
    * for free, removing a whole shuffle from the two-stage count. */
  def tokenCounts(text: String): Map[String, Int] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    if (text != null) {
      val it = TokenPattern.matcher(text.toLowerCase)
      while (it.find()) {
        val t = it.group()
        m.update(t, m.getOrElse(t, 0) + 1)
      }
    }
    m.toMap
  }

  val tokenCountsUdf = udf((s: String) => tokenCounts(s))

  /** MinHash signature from pre-hashed shingles. */
  def minhashFromHashes(hashes: Array[Long]): Array[Long] = {
    val sig = Array.fill(MinHashPerms)(Long.MaxValue)
    var k = 0
    while (k < hashes.length) {
      val h = hashes(k)
      var i = 0
      while (i < MinHashPerms) {
        val (a, b) = perms(i)
        val v = a * h + b
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      k += 1
    }
    sig
  }

  /** text → LSH band hashes, one pass (tokenize + shingle-hash + minhash + fold). */
  def textBands(text: String, bands: Int): Array[Long] = {
    val hashes = shingleHashes(text)
    if (hashes.isEmpty) return Array.empty
    val sig = minhashFromHashes(hashes)
    val rows = MinHashPerms / bands
    Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L ^ b.toLong
      var i = b * rows
      while (i < (b + 1) * rows) { h ^= sig(i); h *= 0x100000001b3L; i += 1 }
      h
    }
  }

  def textBandsUdf(bands: Int) = udf((s: String) => textBands(s, bands))

  /** Fraction of agreeing signature positions — unbiased Jaccard estimate. */
  def sigSimilarity(x: Seq[Long], y: Seq[Long]): Double = {
    var agree = 0
    var i = 0
    while (i < x.length) { if (x(i) == y(i)) agree += 1; i += 1 }
    agree.toDouble / x.length
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over tokens (weight = term frequency).
    *
    * The token hash is the first 8 bytes of md5(token), big-endian — a value
    * any engine can recompute (DuckDB: `('0x'||substr(md5(t),1,16))::UBIGINT`),
    * which is what gives q27 a full driver-visible oracle instead of a
    * rows-only check. Votes accumulate per DISTINCT term weighted by its
    * term frequency (identical to per-occurrence voting, since integer
    * addition commutes), so md5 runs once per distinct term — on real text
    * that is the vocabulary of the doc, not its length. */
  def simhash(tokens: Seq[String]): Long = {
    val votes = new Array[Long](64)
    val tf = scala.collection.mutable.HashMap.empty[String, Long]
    tokens.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
    val md = java.security.MessageDigest.getInstance("MD5")
    tf.foreach { case (tok, n) =>
      md.reset()
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += n else votes(b) -= n; b += 1 }
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  val simhashUdf = udf(simhash _)

  // ---------------- Feature-hashing embedder ----------------

  /** 64-dim feature-hashing text embedder (the hashing trick, Weinberger et
    * al., ICML'09): each distinct term's md5-derived 64-bit hash picks a
    * bucket (low 6 bits) and a ±1 sign (bit 6), and the bucket accumulates
    * sign·tf — a deterministic, vocabulary-free featurization whose output
    * feeds the vector suite (kNN / SemDeDup / PQ) when no learned embeddings
    * exist yet. Same cross-engine hash derivation as [[simhash]]
    * (`('0x'||substr(md5(t),1,16))::UBIGINT`; bucket `h % 64`, sign
    * `(h // 64) % 2`), all-integer accumulation — fully oracle-able. md5
    * runs once per distinct term. */
  def hashEmbed(tokens: Seq[String]): Array[Long] = {
    val out = new Array[Long](64)
    val tf = scala.collection.mutable.HashMap.empty[String, Long]
    tokens.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
    val md = java.security.MessageDigest.getInstance("MD5")
    tf.foreach { case (tok, n) =>
      md.reset()
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      val b = (h & 63L).toInt
      if (((h >>> 6) & 1L) == 1L) out(b) += n else out(b) -= n
    }
    out
  }

  val hashEmbedUdf = udf(hashEmbed _)

  /** Deterministic 64-dim linear-classifier weights: w_j = (first byte of
    * md5("w_j") mod 16) − 8 ∈ [−8, 7] — a model-registry stand-in any engine
    * re-derives (DuckDB: `(('0x'||substr(md5('w_'||j),1,2))::INT % 16) - 8`).
    * The weights are fixed pseudo-random; the DATAFLOW (broadcast weights ×
    * one map pass over features) is the real classifier-inference shape. */
  val classifierWeights: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(64) { j =>
      md.reset()
      val h = md.digest(s"w_$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((h(0) & 0xff) % 16 - 8).toLong
    }
  }

  /** Linear quality score over the [[hashEmbed]] features: Σ w_j·x_j (exact
    * integer dot — commutative, no float accumulation order). */
  def classifierScore(tokens: Seq[String]): Long = {
    val x = hashEmbed(tokens)
    var s = 0L; var j = 0
    while (j < 64) { s += classifierWeights(j) * x(j); j += 1 }
    s
  }

  val classifierScoreUdf = udf(classifierScore _)

  /** Content-defined chunk segments as (start, len) pairs, start 1-based:
    * a new segment begins at 1-based position i+1 whenever the [[winnow]]
    * k-gram hash at 0-based gram start i (i > 0) satisfies hash % 64 == 0 —
    * boundaries follow CONTENT, so an edit early in a doc shifts at most one
    * chunk's fingerprints instead of re-chunking the whole doc (the
    * rsync/LBFS CDC property, Muthitacharoen et al. SOSP'01; expected chunk
    * ≈ 64 chars). Same O(1)-per-position rolling polynomial as [[winnow]],
    * same cross-engine-exact constants — fully oracle-able. */
  def cdcSegments(text: String, k: Int = 8, modulus: Long = 64L): Seq[(Int, Int)] = {
    val L = if (text == null) 0 else text.length
    val starts = scala.collection.mutable.ArrayBuffer(1)
    if (L >= k) {
      val M = WinnowMod
      val B = WinnowBase
      var bk = 1L
      var p = 1
      while (p < k) { bk = bk * B % M; p += 1 }
      val n = L - k + 1
      var h = 0L
      var j = 0
      while (j < k) { h = (h * B + text.charAt(j)) % M; j += 1 }
      var i = 1
      while (i < n) {
        h = ((h - text.charAt(i - 1) * bk % M + M) * B + text.charAt(i + k - 1)) % M
        if (h % modulus == 0L) starts += (i + 1)
        i += 1
      }
    }
    (starts :+ (L + 1)).toSeq.sliding(2).map { case Seq(a, b) => (a, b - a) }.toSeq
  }

  val cdcSegmentsUdf = udf((t: String) => cdcSegments(t))

  // ---------------- Winnowing fingerprints ----------------

  /** Gram-hash constants for [[winnow]]: polynomial hash mod a prime kept
    * below 2³⁰ so every intermediate fits exactly in both a JVM Long and a
    * DuckDB BIGINT — the k-gram hash is a fixed 8-term polynomial any SQL
    * engine can evaluate (`Σ ord(char_j)·B^(k-1-j) mod M`), which is what
    * gives q29/q35 full driver-visible oracles instead of rows-only checks. */
  val WinnowMod = 1000000007L
  val WinnowBase = 1000003L

  /** Winnowing (Schleimer et al., SIGMOD'03): k-gram hashes, min per sliding
    * window of w — a compact document fingerprint set for near-dup detection.
    * Gram hashes slide in O(1) per position (Rabin–Karp with modular
    * arithmetic; the direct per-gram polynomial gives identical values). */
  def winnow(text: String, k: Int = 8, w: Int = 16): Seq[Long] = {
    if (text == null || text.length < k) return Seq.empty
    val M = WinnowMod
    val B = WinnowBase
    var bk = 1L // B^(k-1) mod M
    var p = 1
    while (p < k) { bk = bk * B % M; p += 1 }
    val n = text.length - k + 1
    val grams = new Array[Long](n)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * B + text.charAt(j)) % M; j += 1 }
    grams(0) = h
    var i = 1
    while (i < n) {
      h = ((h - text.charAt(i - 1) * bk % M + M) * B + text.charAt(i + k - 1)) % M
      grams(i) = h
      i += 1
    }
    if (n <= w) return Seq(grams.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    i = 0
    while (i + w <= n) {
      var m = grams(i); j = i + 1
      while (j < i + w) { if (grams(j) < m) m = grams(j); j += 1 }
      out += m
      i += 1
    }
    out.toSeq
  }

  val winnowUdf = udf((s: String) => winnow(s))

  // ---------------- Language ID + quality (native columns) ----------------

  val StopwordsEn = Seq("the", "a", "of", "and", "is", "to", "in")
  val MarkersEs = Seq("el", "la", "de", "los", "que", "y")
  val MarkersDe = Seq("der", "die", "das", "und", "ist")
  val MarkersFr = Seq("le", "les", "et", "est", "une")

  def markerCt(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, tk => tk.isin(markers.map(lit(_)): _*)))

  /** Marker-token counts per language over a pre-tokenized column (tokenize
    * once, score many); CJK presence in the raw text short-circuits to zh.
    * Deterministic tiebreak order en > es > de > fr (mirrored in the oracle SQL). */
  def langIdFromToks(toks: Column, text: Column): Column = {
    val en = markerCt(toks, StopwordsEn)
    val es = markerCt(toks, MarkersEs)
    val de = markerCt(toks, MarkersDe)
    val fr = markerCt(toks, MarkersFr)
    val zh = length(regexp_replace(text, lit("[^\\u4e00-\\u9fff]"), lit("")))
    when(zh > 0, "zh")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  def langIdCol(text: Column): Column = langIdFromToks(tokensCol(text), text)

  private val MarkerSetEn = StopwordsEn.toSet
  private val MarkerSetEs = MarkersEs.toSet
  private val MarkerSetDe = MarkersDe.toSet
  private val MarkerSetFr = MarkersFr.toSet

  /** Single-pass language ID kernel — semantics identical to [[langIdFromToks]]
    * (same marker sets, same en > es > de > fr tiebreak, CJK short-circuit),
    * but ONE scan per document: the column version pays four interpreted
    * `filter(toks, isin)` HOF passes plus a full-text `regexp_replace` for the
    * CJK count (2.5 s → 0.2 s at sf0.1). The CJK check stops at the FIRST CJK
    * char (only zh > 0 is ever tested). */
  def langIdFast(text: String): String = {
    if (text == null) return "fr" // all counts 0 → falls through like the column version
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '一' && c <= '鿿') return "zh"
      i += 1
    }
    var en = 0; var es = 0; var de = 0; var fr = 0
    val m = TokenPattern.matcher(text.toLowerCase)
    while (m.find()) {
      val t = m.group()
      if (MarkerSetEn(t)) en += 1
      if (MarkerSetEs(t)) es += 1
      if (MarkerSetDe(t)) de += 1
      if (MarkerSetFr(t)) fr += 1
    }
    if (en >= es && en >= de && en >= fr) "en"
    else if (es >= de && es >= fr) "es"
    else if (de >= fr) "de"
    else "fr"
  }

  val langIdFastUdf = udf(langIdFast _)

  /** Stopword ratio over a pre-tokenized column (0 for empty docs). */
  def stopwordRatioFromToks(toks: Column): Column =
    when(size(toks) === 0, 0.0)
      .otherwise(markerCt(toks, StopwordsEn).cast("double") / size(toks))

}
