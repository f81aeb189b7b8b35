package graft.ops

import graft.synth.World.{mix, mix64, hashStr}

/** Pure-Scala signature kernels for the dedup/ANN operators.
  *
  * These run inside typed `map`/`mapPartitions` — ONE pass per row — rather
  * than as Catalyst higher-order-function expressions. Reason: HOF lambdas
  * are interpreted and Catalyst's CollapseProject inlines a signature
  * expression into every consumer, re-evaluating the full k-permutation
  * MinHash per reference (measured: minutes instead of seconds at 500
  * rows). A deterministic Scala kernel is evaluated exactly once per row,
  * is JIT-compiled, and the surrounding shuffle structure (band explode +
  * equi-join + verify join) stays in DataFrame land where Catalyst earns
  * its keep.
  */
object Sigs {

  /** Distinct word n-gram shingles (n=3; whole trimmed text if shorter). */
  def shingles(text: String, n: Int = 3): Array[String] = {
    val ws = text.trim.split("\\s+")
    if (ws.length < n) Array(ws.mkString(" "))
    else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
      .distinct.toArray
  }

  /** MinHash signature over pre-hashed shingles ([[shingleHashes]]): k
    * permutations h_i(s) = mix(hash(s), i). Taking the hashes lets callers
    * shingle ONCE per doc and reuse the set for both banding and the exact
    * Jaccard verify. */
  def minhashOfHashes(hs: Array[Long], k: Int): Array[Long] =
    Array.tabulate(k) { i =>
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) { val v = mix(hs(j), i.toLong); if (v < m) m = v; j += 1 }
      if (hs.isEmpty) mix(0L, i.toLong) else m
    }

  /** The shingle set as 64-bit hashes (hashStr per distinct shingle) — the
    * r6 shuffle-narrowing representation (guide §2.3 "narrower types"):
    * the dedup operators cache the per-doc shingle set and join it to BOTH
    * sides of every candidate pair, so carrying ~8 bytes per shingle
    * instead of a ~20-char string cuts the verify-join payload ~5× and
    * makes the per-pair array_intersect a primitive-long probe. Jaccard
    * over the hash sets equals Jaccard over the string sets as long as
    * hashStr is injective on the corpus' shingles — pinned corpus-wide by
    * OpsSpec (distinct shingles == distinct hashes) and by the unchanged
    * string-based DuckDB oracles; a 64-bit space makes a collision at any
    * real corpus size a ~n²/2⁶⁴ event. */
  def shingleHashes(text: String, n: Int = 3): Array[Long] =
    shingles(text, n).map(hashStr)

  /** LSH band keys over a signature: b bands × r rows. */
  def bands(sig: Array[Long], b: Int, r: Int): Array[Long] =
    Array.tabulate(b) { j =>
      var h = mix64(j.toLong)
      var x = 0
      while (x < r) { h = mix64(h ^ sig(j * r + x)); x += 1 }
      h
    }

  /** 64-bit SimHash over word hashes. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    text.trim.split("\\s+").foreach { w =>
      val h = hashStr(w)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash band keys: 4 bands of 16 bits. */
  def simhashBands(sim: Long): Array[Long] =
    Array.tabulate(4)(j => mix(j.toLong, (sim >>> (j * 16)) & 0xFFFFL))

  /** Karp-Rabin rolling hashes of every char k-gram: one O(n) pass, each
    * window hash finalized through mix64. Equals hashing each substring
    * directly (property-tested). */
  def rollingKgramHashes(text: String, k: Int): Array[Long] = {
    val n = text.length
    if (n < k) return Array(mix64(polyHash(text, 0, n)))
    val out = new Array[Long](n - k + 1)
    val B = 1000003L
    var pow = 1L // B^(k-1)
    var i = 0
    var h = 0L
    while (i < k) {
      h = h * B + text.charAt(i)
      if (i < k - 1) pow *= B
      i += 1
    }
    out(0) = mix64(h)
    i = k
    while (i < n) {
      h = (h - text.charAt(i - k) * pow) * B + text.charAt(i)
      out(i - k + 1) = mix64(h)
      i += 1
    }
    out
  }

  private[graft] def polyHash(s: String, from: Int, until: Int): Long = {
    val B = 1000003L
    var h = 0L
    var i = from
    while (i < until) { h = h * B + s.charAt(i); i += 1 }
    h
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS scheme): min k-gram hash per sliding window of w (rightmost on
    * ties), positions deduped — guarantees any shared substring of length
    * ≥ w+k-1 yields a shared fingerprint, while keeping O(n/w) prints per
    * doc. The "rolling hash document fingerprinting" operator proper. */
  def winnow(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    val hs = rollingKgramHashes(text, k)
    if (hs.length <= w) return Array(hs.min)
    val picks = scala.collection.mutable.LinkedHashSet.empty[Long]
    var lastPos = -1
    var start = 0
    while (start + w <= hs.length) {
      var minPos = start
      var p = start + 1
      while (p < start + w) {
        if (hs(p) <= hs(minPos)) minPos = p // rightmost min
        p += 1
      }
      if (minPos != lastPos) { picks += hs(minPos); lastPos = minPos }
      start += 1
    }
    picks.toArray
  }

  /** Sign-LSH bucket: nBits hyperplanes with deterministic ±1 components
    * from mix(i, d). Float vectors pass their exact double image; each
    * product is formed in double either way, so a float vector and its
    * double image land in the same bucket. */
  def signBucket(v: Seq[Double], nBits: Int): Long = {
    var bucket = 0L
    var i = 0
    while (i < nBits) {
      var proj = 0.0
      var d = 0
      while (d < v.length) {
        val sign = if ((mix(i.toLong, d.toLong) & 1L) == 1L) 1.0 else -1.0
        proj += v(d) * sign
        d += 1
      }
      if (proj > 0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }
}
