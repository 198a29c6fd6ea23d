package graft.functions

import org.apache.spark.sql.functions.udf

/** Tight-loop hashing/vector kernels for the hot paths of dedup and
  * similarity search.
  *
  * Rationale (measured, see BENCH notes in git history): Spark's
  * higher-order array functions (transform/aggregate/zip_with) are
  * interpreted, not codegen'd — a minhash signature as an expression tree
  * costs ~100 ms/row at 64 perms × 300 shingles, versus ~0.1 ms/row as a
  * plain JVM loop. These UDFs hold the per-ROW inner loop only; everything
  * distributed (explode, bucket join, groupBy) stays declarative so the
  * 100 TB plan shape is unchanged.
  */
object fasthash {

  /** splitmix64 — public-domain finalizer (Steele et al.), the standard
    * cheap 64-bit mixer. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit string hash built from splitmix64 rounds (deterministic,
    * seed-able; engine-internal — no cross-engine parity required). */
  def hashString(s: String, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < s.length) { h = splitmix64(h ^ s.charAt(i)); i += 1 }
    h
  }

  /** MinHash signature of a text's character shingles: one base hash per
    * shingle position, numHashes universal perms via seeded splitmix64. */
  def minhashSignature(text: String, numHashes: Int, shingleLen: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (text == null) return sig
    val s = text.toLowerCase
    val n = math.max(s.length - shingleLen + 1, 1)
    var p = 0
    while (p < n) {
      val base = hashString(s.substring(p, math.min(p + shingleLen, s.length)), 0x9E3779B9L)
      var i = 0
      while (i < numHashes) {
        val h = splitmix64(base ^ (i * 0xC2B2AE3D27D4EB4FL))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      p += 1
    }
    sig
  }

  /** LSH band keys from a minhash signature: bands of r rows hashed to one
    * 64-bit key that embeds the band index (keys never collide across
    * bands). */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0x51_7C_C1_B7_27_22_0A95L ^ b.toLong
      var i = b * r
      while (i < (b + 1) * r) { h = splitmix64(h ^ sig(i)); i += 1 }
      (b.toLong << 56) | (h >>> 8)
    }
  }

  /** Distinct character shingles (lowercased) — the exact-verify set for
    * candidate pairs. */
  def shingleSet(text: String, shingleLen: Int): Array[String] = {
    if (text == null) return Array.empty
    val s = text.toLowerCase
    if (s.length < shingleLen) return Array(s)
    val set = new scala.collection.mutable.LinkedHashSet[String]
    var p = 0
    while (p <= s.length - shingleLen) { set += s.substring(p, p + shingleLen); p += 1 }
    set.toArray
  }

  /** Word tokens, identical semantics to functions.text.tokenize (lower,
    * split on non-letter/digit/apostrophe runs, drop empties). */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase.split("[^\\p{L}\\p{N}']+").filter(_.nonEmpty)

  /** 64-bit SimHash (Charikar 2002) over word tokens. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    var nTok = 0
    tokens(text).foreach { t =>
      val h = hashString(t, 0x2545F491L)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
      nTok += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 >= nTok) out |= (1L << b); b += 1 }
    out
  }

  /** Primitive-array cosine — no boxing; identical arithmetic to the Seq
    * overload below. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    if (aa == 0.0 || bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Cosine similarity in double with sequential accumulation — the same
    * arithmetic order as DuckDB's list_cosine_similarity over DOUBLE[], so
    * rounded results hash-match the oracle. */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    if (aa == 0.0 || bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Distinct word-n-gram counts for n = 2..maxN in one tokenize pass —
    * the JVM kernel behind qNgrams (the transform/slice/concat_ws Column
    * form is interpreted and ~100× slower per row; same output, oracle-
    * checked). Tokenization matches functions.text.tokenize. */
  def ngramDistinctCounts(text: String, maxN: Int): Array[Long] = {
    val toks = tokens(text)
    val out = new Array[Long](maxN - 1)
    var n = 2
    while (n <= maxN) {
      val set = new java.util.HashSet[String]()
      if (toks.length >= n) {
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i + n <= toks.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          set.add(sb.toString); i += 1
        }
      }
      out(n - 2) = set.size.toLong
      n += 1
    }
    out
  }

  /** Word-n-gram repetition stats in one pass: (max frequency of any
    * single n-gram, total n-gram occurrences) — the Gopher/C4-style
    * repetition signal (a document whose top 2-gram covers a large
    * fraction of all 2-grams is boilerplate/looped text). Integer-exact,
    * so oracle-hash-safe; same tokenizer as ngramDistinctCounts. */
  def repetitionStats(text: String, n: Int): Array[Long] = {
    val toks = tokens(text)
    if (toks.length < n) return Array(0L, 0L)
    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder
    var max = 0
    var total = 0L
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > max) max = c
      total += 1
      i += 1
    }
    Array(max.toLong, total)
  }

  /** Distinct word-n-grams as STRINGS (not hashes — gram strings join
    * identically across engines, which an engine-specific hash would not).
    * The per-doc gram list for contamination-style overlap joins. */
  def distinctNgrams(text: String, n: Int): Seq[String] = {
    val toks = tokens(text)
    val set = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        set.add(sb.toString); i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    set.asScala.toSeq
  }

  /** MinHash fingerprint: min over char shingles of xxhash64(shingle) —
    * value-identical to the Column form array_min(transform(shingles,
    * xxhash64)) (Spark's xxhash64 = XXH64 seed 42), but a single JVM pass. */
  def minhashFingerprint(text: String, shingleLen: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    if (text == null) return 0L
    val s = UTF8String.fromString(text).toLowerCase
    val nChars = s.numChars()
    if (nChars < shingleLen)
      return XXH64.hashUTF8String(s, 42L)
    var min = Long.MaxValue
    var p = 0
    while (p <= nChars - shingleLen) {
      val h = XXH64.hashUTF8String(s.substringSQL(p + 1, shingleLen), 42L)
      if (h < min) min = h
      p += 1
    }
    min
  }

  /** Rolling-hash (Rabin–Karp) document fingerprint: polynomial hash of
    * every k-char window computed in O(n) total — the O(1) slide removes
    * the per-window O(k) rehash of minhashFingerprint — then min over
    * windows (winnowing-style representative). Deterministic, base/mod
    * are compile-time constants; final splitmix64 disperses the
    * polynomial structure. */
  def rollingFingerprint(text: String, k: Int = 8): Long = {
    if (text == null) return 0L
    val s = text.toLowerCase
    val n = s.length
    val B = 1000003L // polynomial base (prime)
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * B + s.charAt(i); i += 1 }
      return splitmix64(h)
    }
    // B^(k-1) for the outgoing character
    var pow = 1L
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    var min = splitmix64(h)
    var p = k
    while (p < n) {
      h = (h - s.charAt(p - k) * pow) * B + s.charAt(p) // O(1) slide
      val m = splitmix64(h)
      if (m < min) min = m
      p += 1
    }
    min
  }

  /** Word-3-gram Jaccard between two texts (single pair-level kernel for
    * the blocked near-dup join — avoids shipping/re-evaluating gram arrays
    * through the join). Gram definition matches the DuckDB oracle: split
    * lower(text) on single space (keeping empties), 3-token windows joined
    * by space, distinct sets. */
  def jaccard3(a: String, b: String): Double = {
    def gramSet(s: String): java.util.HashSet[String] = {
      val set = new java.util.HashSet[String]()
      if (s == null) return set
      val t = s.toLowerCase.split(" ", -1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + 3 <= t.length) {
        sb.setLength(0)
        sb.append(t(i)).append(' ').append(t(i + 1)).append(' ').append(t(i + 2))
        set.add(sb.toString); i += 1
      }
      set
    }
    val ga = gramSet(a); val gb = gramSet(b)
    var inter = 0
    val it = ga.iterator()
    while (it.hasNext) { if (gb.contains(it.next())) inter += 1 }
    val uni = ga.size + gb.size - inter
    inter.toDouble / math.max(uni, 1).toDouble
  }

  /** Word-3-gram set sizes + intersection for a candidate pair, one JVM
    * pass: [|A|, |B|, |A∩B|]. Same gram/tokenizer definition as
    * distinctNgrams(_, 3) and the DuckDB oracles' list_distinct 3-gram
    * CTEs. Asymmetric containment C(A,B) = |A∩B|/|A| and Jaccard both
    * derive from these integers in exact column arithmetic — the kernel
    * returns only integers so the similarity math stays in the plan. */
  def containment3(a: String, b: String): Array[Long] = {
    def gramSet(s: String): java.util.HashSet[String] = {
      val set = new java.util.HashSet[String]()
      val t = tokens(s)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + 3 <= t.length) {
        sb.setLength(0)
        sb.append(t(i)).append(' ').append(t(i + 1)).append(' ').append(t(i + 2))
        set.add(sb.toString); i += 1
      }
      set
    }
    val ga = gramSet(a); val gb = gramSet(b)
    var inter = 0L
    val it = ga.iterator()
    while (it.hasNext) { if (gb.contains(it.next())) inter += 1 }
    Array(ga.size.toLong, gb.size.toLong, inter)
  }

  // Column-facing UDFs
  def minhashBandKeysUdf(numHashes: Int, bands: Int, shingleLen: Int) =
    udf((text: String) => bandKeys(minhashSignature(text, numHashes, shingleLen), bands))

  def ngramDistinctCountsUdf(maxN: Int) =
    udf((text: String) => ngramDistinctCounts(text, maxN))

  def repetitionStatsUdf(n: Int) =
    udf((text: String) => repetitionStats(text, n))

  def distinctNgramsUdf(n: Int) =
    udf((text: String) => distinctNgrams(text, n))

  def rollingFingerprintUdf(k: Int) =
    udf((text: String) =>
      if (text == null) null
      else java.lang.Long.valueOf(rollingFingerprint(text, k)))

  def minhashFingerprintUdf(shingleLen: Int) =
    udf((text: String) =>
      if (text == null) null
      else java.lang.Long.valueOf(minhashFingerprint(text, shingleLen)))

  val jaccard3Udf = udf((a: String, b: String) => jaccard3(a, b))

  // NOTE: containment3 (the raw kernel) is exercised only by DedupSpec's
  // independent brute-force recompute of q191 — production q191 uses the
  // per-doc gram-hash merge-intersect path instead, so no Column-facing
  // UDF wrapper exists by design (ADVICE r9: the unused wrapper was dead
  // code and has been removed).

  def shingleSetUdf(shingleLen: Int) = udf((text: String) => shingleSet(text, shingleLen))

  /** Sorted distinct shingle hashes — the q191 merge-intersect form for
    * char shingles (same shingle set as minhashSignature, same base hash):
    * built ONCE per doc, so pair verification never re-shingles texts.
    * Hash-set |∩| equals string-set |∩| absent a 64-bit collision within
    * one pair's shingles (P ≈ 2⁻⁴⁰ at 10k shingles) — the oracle verifies
    * the string semantics end-to-end. */
  def sortedShingleHashes(text: String, shingleLen: Int): Array[Long] = {
    val sh = shingleSet(text, shingleLen)
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = hashString(sh(i), 0x9E3779B9L); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  def sortedShingleHashesUdf(shingleLen: Int) =
    udf((text: String) => sortedShingleHashes(text, shingleLen))

  /** q33's word-3-gram set (lower, split on single space KEEPING empties —
    * jaccard3's definition, which the DuckDB oracle replays) as sorted
    * distinct hashes — the q191 merge-intersect form: built once per doc
    * behind a barrier, so pair verification never re-tokenizes. Hash-set
    * sizes equal string-set sizes absent a 64-bit collision within one
    * pair's grams (P ≈ 2⁻⁵² at ~50 grams/doc). */
  def sortedGram3Hashes(text: String): Array[Long] = {
    val set = new java.util.HashSet[String]()
    if (text != null) {
      val t = text.toLowerCase.split(" ", -1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + 3 <= t.length) {
        sb.setLength(0)
        sb.append(t(i)).append(' ').append(t(i + 1)).append(' ').append(t(i + 2))
        set.add(sb.toString); i += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = hashString(it.next(), 0x9E3779B9L); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  val sortedGram3HashesUdf = udf((text: String) => sortedGram3Hashes(text))

  def minhashSignatureUdf(numHashes: Int, shingleLen: Int) =
    udf((text: String) => minhashSignature(text, numHashes, shingleLen))

  val simhashUdf = udf((text: String) => simhash64(text))
}
