package graft.expr

/** Deterministic 64-bit hashing + MinHash/SimHash kernels.
  *
  * These are the engine's replacement for Splink's blocking-rule keys
  * (reference `person_1/link_model_per.py:501-507`): instead of
  * `block_on("surname", "substr(gn1,1,1)")` we block on LSH band hashes of
  * 128-slot MinHash signatures (SURVEY §4 "Blocking").
  *
  * All functions are pure, null-free, and seed-deterministic so that reruns
  * are byte-identical (reference invariant `person_1/person.py:752-756`).
  * JVM-side hot loops; invoked from Catalyst expressions in
  * [[graft.expr.Expressions]].
  */
object Hashing {

  /** Version tag of the hashing kernels, bumped whenever any kernel's
    * OUTPUT changes (tokenizer class, shingle combine, winnow gram hash,
    * …). Part of the snapshot config fingerprint (`Pipeline.configJson`)
    * so a resumed run never silently mixes snapshots computed by
    * different kernel generations — same contract as
    * `TextExtract.version`. "h2" = rolling-hash winnow + per-token
    * shingle combine (2026-08-17); "h1" = the round-1 direct-hash forms. */
  val kernelVersion: String = "h2"

  /** splitmix64 finalizer — public-domain mixing constants (Steele et al.,
    * "Fast Splittable Pseudorandom Number Generators"). */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit string hash: FNV-1a over UTF-16 code units, splitmix-finalized.
    * Stable across JVMs (no String.hashCode dependence beyond char values). */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val n = s.length
    while (i < n) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Seeded variant (used for band hashes / salting). */
  def hash64(s: String, seed: Long): Long = mix64(hash64(s) ^ mix64(seed))

  /** Hash two longs into one (order-sensitive). */
  @inline def hash64(a: Long, b: Long): Long = mix64(mix64(a) ^ (b * 0xc2b2ae3d27d4eb4fL))

  /** The pinned whitespace class: exactly Java regex `\s` = [ \t\n\x0B\f\r]
    * (ASCII-only). The manual scanner below must not silently widen the
    * pinned tokenization to Unicode whitespace — a doc containing U+2028
    * etc. would change its shingles and signatures. */
  @inline private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Un-finalized FNV-1a hash of each whitespace token, in ONE scan over
    * the text — the pinned tokenization for shingling, simhash and the doc
    * fingerprint. Characters are hashed as the scan passes them; no String
    * is built per token. Token boundaries follow the regex `\s+` split over
    * the RAW string (manual scan, no regex: `split` recompiles its Pattern
    * on every call). NOTE (intentional behavior change, versioned as kernel
    * "h2"): the h1 tokenizer called `.trim` first, which also stripped
    * leading/trailing control chars ≤ U+0020 outside the `\s` class (NUL,
    * BEL, …) — such documents tokenize (and sign) differently under h2,
    * which is why [[kernelVersion]] participates in the snapshot config
    * fingerprint. HashingSpec pins every consumer against a reference
    * that splits the text into token Strings first. */
  private[expr] def tokenFnvHashes(text: String): Array[Long] = {
    if (text == null || text.isEmpty) return Array.empty
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && isSpace(text.charAt(i))) i += 1
      if (i < n) {
        var h = 0xcbf29ce484222325L
        while (i < n && !isSpace(text.charAt(i))) {
          h ^= text.charAt(i).toLong
          h *= 0x100000001b3L
          i += 1
        }
        out += h
      }
    }
    out.result()
  }

  /** Distinct k-token shingle hashes of a document, one pass, no shuffle
    * (SURVEY §2.10: signature is a narrow per-document transform).
    * Each token is char-hashed ONCE (not once per overlapping shingle);
    * a shingle combines its k token hashes order-sensitively. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val th = tokenFnvHashes(text)
    if (th.length < k) Array.empty else shingleHashesOf(th, k)
  }

  /** Largest open-addressing probe table: 2^30 slots, the biggest power of
    * two a JVM array can hold. */
  private val MaxProbeCapacity: Long = 1L << 30

  /** Probe-table capacity for `n` entries: next power of two ≥ 2n (≤ 50%
    * load), computed in Long so 2n cannot overflow. Past 2^29 entries (a
    * ~1 GiB text) the table would not fit a JVM array, so this fails with a
    * clear error instead of allocating a negative size. */
  private[expr] def probeCapacity(n: Int): Int = {
    var cap = 16L
    while (cap < 2L * n) cap <<= 1
    require(cap <= MaxProbeCapacity,
      s"$n hash-set entries need a $cap-slot probe table; the limit is " +
        s"${MaxProbeCapacity / 2} entries per text")
    cap.toInt
  }

  private def shingleHashesOf(th: Array[Long], k: Int): Array[Long] = {
    // primitive open-addressing dedup set (first-occurrence order kept, as
    // the HashSet form before it): the boxed java.util.HashSet[Long]
    // allocated a Long + node per shingle in the hottest narrow kernel of
    // the pipeline — pure GC pressure for a fixed-size probe table's job
    val nSh = th.length - k + 1
    val cap = probeCapacity(nSh)
    val used = new Array[Boolean](cap)
    val vals = new Array[Long](cap)
    val mask = cap - 1
    val out = new Array[Long](nSh)
    var m = 0
    var i = 0
    while (i <= th.length - k) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) { h = (h ^ th(i + j)) * 0x100000001b3L; j += 1 }
      val hv = mix64(h)
      var s = (hv & mask).toInt
      var fresh = true
      var probing = true
      while (probing) {
        if (!used(s)) { used(s) = true; vals(s) = hv; probing = false }
        else if (vals(s) == hv) { fresh = false; probing = false }
        else s = (s + 1) & mask
      }
      if (fresh) { out(m) = hv; m += 1 }
      i += 1
    }
    if (m == nSh) out else java.util.Arrays.copyOf(out, m)
  }

  /** One-permutation-hashing (OPH) MinHash signature with optimal
    * densification — public literature: Li, Owen, Zhang, "One Permutation
    * Hashing" (NIPS 2012); Shrivastava, "Optimal Densification for Fast and
    * Accurate Minwise Hashing" (ICML 2017).
    *
    * The classic kernel evaluates numPerms=128 universal-hash permutations
    * PER SHINGLE — the dominant signature cost in the whole pipeline. OPH
    * hashes each shingle ONCE, routes it to bucket
    * h mod numPerms, and keeps the minimum hash per bucket: all 128 slots
    * in one pass, ~128× less hashing, same estimator family
    * (P[slot agreement] ≈ Jaccard). Empty buckets (short docs or collision
    * luck) are densified by borrowing the value of a uniformly-re-hashed
    * non-empty bucket — the Shrivastava-2017 scheme, which keeps the
    * estimator unbiased and variance-optimal among densifications.
    *
    * Deterministic: a pure function of the shingle SET and seed (min per
    * bucket is order-independent; densification depends only on the bucket
    * minima). Identical sets ⇒ identical signatures, so LSH banding
    * semantics are unchanged. */
  def minhashOph(shingles: Array[Long], numPerms: Int, seed: Long): Array[Long] = {
    if (shingles.isEmpty) return null
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val sm = mix64(seed)
    // numPerms is a power of two at every shipped config (128 = 16×8 etc.):
    // h & (numPerms-1) IS remainderUnsigned(h, numPerms) then — same low
    // bits — without the 64-bit division the JIT cannot elide, which sat in
    // the per-shingle hot loop. Non-power-of-two stays on the division.
    val pow2Mask = if ((numPerms & (numPerms - 1)) == 0) numPerms - 1 else 0
    var s = 0
    while (s < shingles.length) {
      val h = mix64(shingles(s) ^ sm)
      val b = if (pow2Mask != 0) (h & pow2Mask).toInt
        else java.lang.Long.remainderUnsigned(h, numPerms).toInt
      if (h < sig(b)) sig(b) = h
      s += 1
    }
    // optimal densification: each empty bucket walks a seeded hash sequence
    // of bucket indices until it lands on a NON-EMPTY one and copies its
    // value. The walk depends only on (bucket, seed), so two documents with
    // the same filled-bucket pattern borrow from the same donors — exactly
    // the collision structure the estimator requires.
    // donors must be ORIGINAL minima, not previously-densified slots —
    // restricting the walk to pass-1-filled buckets makes the loop
    // order-independent (a pure function of the bucket-minima map). The
    // MaxValue corner (a real hash equal to MaxValue) has probability
    // 2^-64 and merely makes that bucket look empty — consistently so on
    // both sides of any comparison.
    val filled = new Array[Boolean](numPerms)
    var i = 0
    while (i < numPerms) { filled(i) = sig(i) != Long.MaxValue; i += 1 }
    i = 0
    while (i < numPerms) {
      if (!filled(i)) {
        var t = 1L
        var done = false
        while (!done) {
          val j = java.lang.Long.remainderUnsigned(
            mix64(sm ^ (i.toLong * 0x9e3779b97f4a7c15L + t)), numPerms).toInt
          if (filled(j)) {
            // mix the donor with the bucket index so that two different
            // empty buckets borrowing from the SAME donor do not become
            // spuriously equal across documents with different patterns —
            // the ICML'17 construction's "offset" term
            sig(i) = mix64(sig(j) ^ (i.toLong + 0x100000001b3L))
            done = true
          }
          t += 1
          if (t > numPerms.toLong * 64 && !done) {
            // pathological corner: every other bucket empty (single-shingle
            // doc whose walk keeps missing the one filled bucket is
            // impossible — the walk is uniform — but bound the loop anyway)
            sig(i) = mix64(sm ^ i.toLong)
            done = true
          }
        }
      }
      i += 1
    }
    sig
  }

  /** MinHash-estimated Jaccard: fraction of agreeing signature slots. */
  def jaccardEstimate(l: Array[Long], r: Array[Long]): Double = {
    var agree = 0; var i = 0
    while (i < l.length) { if (l(i) == r(i)) agree += 1; i += 1 }
    agree.toDouble / l.length
  }

  /** Exact Jaccard on shingle-hash sets (the verify step gated behind the
    * cheap estimate — staged predicate ordering, SURVEY §4 "Threshold
    * pushdown"). */
  def exactJaccard(l: Array[Long], r: Array[Long]): Double = {
    if (l.isEmpty || r.isEmpty) return 0.0
    val set = new java.util.HashSet[java.lang.Long](l.length * 2)
    var i = 0
    while (i < l.length) { set.add(l(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < r.length) { if (set.contains(r(i))) inter += 1; i += 1 }
    inter.toDouble / (l.length + r.length - inter)
  }

  /** 64-bit SimHash over token-unigram hashes (frequency-weighted).
    * Computed from the fused one-scan token hashes; identical output to the
    * per-token vote loop over token Strings (spec-pinned equal). */
  def simhash(text: String): Long = simhashFromFnv(tokenFnvHashes(text))

  /** Nibble → 4 one-bit votes spread into 16-bit lanes of a long:
    * lane g of NibbleLanes(v) = bit g of v. Summing these per token packs
    * 4 bit-counters per long (16 longs cover 64 bits) — 16 adds per token
    * instead of the 64-iteration vote loop. Lanes cannot carry into each
    * other while the token count stays ≤ 0xFFFF (each lane ≤ n). */
  private val NibbleLanes: Array[Long] = Array.tabulate(16) { v =>
    ((v & 1).toLong) | ((v >> 1 & 1).toLong << 16) |
      ((v >> 2 & 1).toLong << 32) | ((v >> 3 & 1).toLong << 48)
  }

  /** SimHash votes over un-finalized FNV token hashes (mix64 applied here,
    * so inputs match hash64(token)). Bit b of the result is set iff more
    * tokens have bit b set than clear (count(set) > n/2 ⟺ the reference's
    * acc(b) = 2·count − n > 0 — exact same tie behavior). */
  private[expr] def simhashFromFnv(th: Array[Long]): Long = {
    val n = th.length
    if (n == 0) return 0L
    if (n > 0xFFFF) return simhashVoteLoop(th) // lane-overflow guard
    val lanes = new Array[Long](16)
    var i = 0
    while (i < n) {
      val h = mix64(th(i))
      var g = 0
      while (g < 16) {
        lanes(g) += NibbleLanes(((h >>> (g << 2)) & 15L).toInt)
        g += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      val lane = (lanes(bit >> 2) >>> ((bit & 3) << 4)) & 0xFFFFL
      if (lane * 2 > n) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Reference per-bit vote loop — the pre-optimization formulation, kept
    * as the > 65535-token fallback and the equality oracle for the spec. */
  private[expr] def simhashVoteLoop(th: Array[Long]): Long = {
    val acc = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = mix64(th(i))
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Fused per-document signature kernel: ONE text scan yields the token
    * FNV hashes, from which both the MinHash signature (shingle combine →
    * OPH kernel) and the SimHash (mix64 per token → packed votes)
    * derive. Separate kernels would each re-tokenize (and re-FNV-hash)
    * the full text — two scans plus ~2n String allocations per document in
    * the single most expensive narrow stage of the pipeline. Output is
    * bit-identical to ([[minhashOph]] of [[shingleHashes]], [[simhash]])
    * — pinned by HashingSpec. */
  def docSigPair(text: String, k: Int, numPerms: Int, seed: Long): (Array[Long], Long) = {
    val th = tokenFnvHashes(text)
    val sim = simhashFromFnv(th)
    if (th.length < k) return (null, sim)
    (minhashOph(shingleHashesOf(th, k), numPerms, seed), sim)
  }

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Band hashes of a signature: `bands` values, each hashing `rowsPerBand`
    * consecutive slots plus the band index (band-scoped hash space). */
  def bandHashes(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var bIdx = 0
    while (bIdx < bands) {
      var h = mix64(bIdx.toLong + 0x5851f42d4c957f2dL)
      var r = 0
      while (r < rowsPerBand) { h = hash64(h, sig(bIdx * rowsPerBand + r)); r += 1 }
      out(bIdx) = h
      bIdx += 1
    }
    out
  }

  /** Per-thread reusable buffers for [[winnow]]: the kernel's working set
    * (gram hashes, deque, probe table, output staging) was ~60 KB of fresh
    * allocation PER DOC — tens of GB of short-lived garbage across a corpus
    * pass, pure DRAM/GC traffic (guide §1.2 per-task work; the round's
    * scaling A/B showed the box is bandwidth-bound). Tasks are
    * single-threaded, so ThreadLocal reuse is safe; the probe table uses
    * epoch stamps instead of clearing (an entry is live iff
    * `stamp(s) == epoch`), so reuse costs nothing per doc. Buffers above
    * [[WinnowScratch.RetainMax]] grams are dropped after use so one huge
    * document cannot pin megabytes per executor thread forever. */
  private final class WinnowScratch {
    var gram: Array[Long] = Array.emptyLongArray
    var deque: Array[Int] = Array.emptyIntArray
    var stamp: Array[Int] = Array.emptyIntArray
    var vals: Array[Long] = Array.emptyLongArray
    var out: Array[Long] = Array.emptyLongArray
    var epoch: Int = 0
    /** Ensure gram/deque/out hold `n` and the probe table holds `cap`. */
    def ensure(n: Int, cap: Int): Unit = {
      if (gram.length < n) {
        var c = math.max(16, gram.length * 2); while (c < n) c <<= 1
        gram = new Array[Long](c); deque = new Array[Int](c); out = new Array[Long](c)
      }
      if (vals.length < cap) {
        stamp = new Array[Int](cap); vals = new Array[Long](cap); epoch = 0
      }
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); epoch = 0 }
      epoch += 1
    }
    def releaseIfHuge(): Unit =
      if (gram.length > WinnowScratch.RetainMax) {
        gram = Array.emptyLongArray; deque = Array.emptyIntArray
        out = Array.emptyLongArray; stamp = Array.emptyIntArray
        vals = Array.emptyLongArray; epoch = 0
      }
  }
  private object WinnowScratch {
    /** Max grams retained per thread (64 Ki grams ≈ 2.75 MB of buffers:
      * gram/out 512 KiB each, deque 256 KiB, and the 128 Ki-slot probe
      * table's stamp 512 KiB + vals 1 MiB). */
    val RetainMax: Int = 1 << 16
    val tl: ThreadLocal[WinnowScratch] = new ThreadLocal[WinnowScratch] {
      override def initialValue(): WinnowScratch = new WinnowScratch
    }
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * k-char gram hashes, sliding window of `w`, keep the rightmost minimum
    * per window. Robust distributed substring-duplicate detection — the
    * engine's suffix-array-pass analog (SURVEY §7.2 module 8). */
  def winnow(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val s = WinnowScratch.tl.get()
    s.ensure(n, probeCapacity(n))
    // reuse the (possibly larger) retained table: the set's OUTPUT
    // (first-occurrence order, membership) is capacity-independent, so a
    // LARGER table from scratch is bit-identical
    val cap = s.vals.length
    val gram = s.gram
    // Rabin–Karp rolling polynomial hash, mod 2^64: O(text) total instead
    // of O(text·k) — the gram hashing was the single hottest loop in the
    // pipeline (k=25 chars re-hashed per position). mix64 finalizes each
    // window so raw polynomial structure never reaches the fingerprint.
    val B = 0x5DEECE66DL // odd base; distinctness comes from mix64 finalize
    var bk = 1L // B^(k-1) for removing the outgoing char
    var j = 1
    while (j < k) { bk *= B; j += 1 }
    var h = 0L
    j = 0
    while (j < k) { h = h * B + text.charAt(j).toLong; j += 1 }
    gram(0) = mix64(h)
    var i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1).toLong * bk) * B + text.charAt(i + k - 1).toLong
      gram(i) = mix64(h)
      i += 1
    }
    if (n <= w) {
      // min over the first n grams only (the scratch array may be longer)
      var mn = gram(0)
      var p = 1
      while (p < n) { if (gram(p) < mn) mn = gram(p); p += 1 }
      s.releaseIfHuge()
      return Array(mn)
    }
    // O(n) sliding-window minimum via monotonic index deque; ties keep the
    // rightmost minimum (robust winnowing convention). Dedup of selected
    // fingerprints keeps insertion order via a primitive open-addressing
    // probe set (the boxed LinkedHashSet[java.lang.Long] it replaces
    // allocated a Long + node per window in the second-hottest narrow
    // kernel); consecutive windows usually re-select the same minimum, so
    // a last-value fast check skips the probe for the common case.
    // An entry is live iff stamp == epoch (no per-doc table clearing).
    val deque = s.deque
    var head = 0
    var tail = 0 // deque[head until tail) holds increasing gram values
    val stamp = s.stamp
    val vals = s.vals
    val epoch = s.epoch
    val mask = cap - 1
    val out = s.out
    var m = 0
    var last = 0L
    var haveLast = false
    var q = 0
    while (q < n) {
      while (tail > head && gram(deque(tail - 1)) >= gram(q)) tail -= 1
      deque(tail) = q; tail += 1
      if (deque(head) <= q - w) head += 1
      if (q >= w - 1) {
        val v = gram(deque(head))
        if (!haveLast || v != last) {
          var p = (v & mask).toInt
          var probing = true
          while (probing) {
            if (stamp(p) != epoch) {
              stamp(p) = epoch; vals(p) = v; out(m) = v; m += 1; probing = false
            }
            else if (vals(p) == v) probing = false
            else p = (p + 1) & mask
          }
          last = v; haveLast = true
        }
      }
      q += 1
    }
    val res = java.util.Arrays.copyOf(out, m)
    s.releaseIfHuge()
    res
  }

  /** Fused simhash + order-sensitive doc fingerprint from ONE token scan
    * (q23's surface): values bit-identical to [[simhash]] and the
    * rolling-hash fold over [[hash64(String)]] token hashes —
    * hash64(tok) == mix64(FNV(tok)) == mix64(tokenFnvHashes(_)(i)).
    * Spec-pinned (HashingSpec). */
  def simFingerprintPair(text: String): (Long, Long) = {
    val th = tokenFnvHashes(text)
    val sim = simhashFromFnv(th)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < th.length) { h = hash64(h, mix64(th(i))); i += 1 }
    (sim, h)
  }
}
