package graft.expr

import graft.model.EngineConfig
import org.scalatest.funsuite.AnyFunSuite

class HashingSpec extends AnyFunSuite {
  private val cfg = EngineConfig.default
  private def docMinhash(text: String): Array[Long] =
    Hashing.docSigPair(text, cfg.shingleK, cfg.numPerms, cfg.seed)._1

  test("hash64 is deterministic and spread") {
    assert(Hashing.hash64("hello") == Hashing.hash64("hello"))
    assert(Hashing.hash64("hello") != Hashing.hash64("hellp"))
    assert(Hashing.hash64("") != Hashing.hash64("a"))
  }

  test("shingleHashes: counts, determinism, short docs empty") {
    val t = "a b c d e"
    assert(Hashing.shingleHashes(t, 3).length == 3) // abc bcd cde
    assert(Hashing.shingleHashes("a b", 3).isEmpty)
    assert(Hashing.shingleHashes("", 3).isEmpty)
    assert(Hashing.shingleHashes(t, 3).sameElements(Hashing.shingleHashes(t, 3)))
    // repeated shingles dedup
    assert(Hashing.shingleHashes("x y x y x y x y", 2).length == 2) // "x y", "y x"
  }

  test("minhash estimate concentrates around true Jaccard") {
    // text in, signature out — the production path (docSigPair), measured
    // against the exact Jaccard of the two documents' shingle sets
    val rnd = new java.util.SplittableRandom(7)
    val words = Array.fill(300)("w" + rnd.nextInt(100000))
    for (f <- Seq(0.5, 0.8, 0.95)) {
      val keep = (300 * f).toInt
      val other = words.take(keep) ++ Array.fill(300 - keep)("v" + rnd.nextInt(100000))
      val (a, b) = (words.mkString(" "), other.mkString(" "))
      val est = Hashing.jaccardEstimate(docMinhash(a), docMinhash(b))
      val truth = Hashing.exactJaccard(
        Hashing.shingleHashes(a, cfg.shingleK), Hashing.shingleHashes(b, cfg.shingleK))
      assert(math.abs(est - truth) < 0.13, s"f=$f est=$est truth=$truth")
    }
  }

  test("minhash of identical sets is identical; of empty set is null") {
    // same tokens under different whitespace = same shingle set
    assert(docMinhash("a b c d e").sameElements(docMinhash(" a\tb  c d\ne ")))
    // fewer than shingleK tokens = empty shingle set = unlinkable
    assert(docMinhash("a b") == null)
    assert(docMinhash("") == null)
  }

  test("minhashOph estimate concentrates around true Jaccard") {
    val rnd = new java.util.SplittableRandom(7)
    val base = Array.fill(300)(rnd.nextLong())
    for (f <- Seq(0.5, 0.8, 0.95)) {
      val keep = (300 * f).toInt
      val other = base.take(keep) ++ Array.fill(300 - keep)(rnd.nextLong())
      val sl = Hashing.minhashOph(base, cfg.numPerms, cfg.seed)
      val sr = Hashing.minhashOph(other, cfg.numPerms, cfg.seed)
      val est = Hashing.jaccardEstimate(sl, sr)
      val truth = Hashing.exactJaccard(base, other)
      assert(math.abs(est - truth) < 0.13, s"f=$f est=$est truth=$truth")
    }
  }

  test("minhashOph estimate stays concentrated on SHORT docs (densified slots engaged)") {
    // 40 shingles over 128 buckets: ~2/3 of slots are densified — the
    // regime where a broken densification would wreck the estimator
    val rnd = new java.util.SplittableRandom(13)
    for (trial <- 0 until 20) {
      val base = Array.fill(40)(rnd.nextLong())
      val other = base.take(30) ++ Array.fill(10)(rnd.nextLong())
      val est = Hashing.jaccardEstimate(
        Hashing.minhashOph(base, cfg.numPerms, cfg.seed),
        Hashing.minhashOph(other, cfg.numPerms, cfg.seed))
      val truth = Hashing.exactJaccard(base, other)
      assert(math.abs(est - truth) < 0.22, s"trial=$trial est=$est truth=$truth")
    }
  }

  test("minhashOph: set-order independence, identical sets identical, empty null, seed-sensitive") {
    val rnd = new java.util.SplittableRandom(17)
    val s = Array.fill(50)(rnd.nextLong())
    val a = Hashing.minhashOph(s, cfg.numPerms, cfg.seed)
    assert(a.sameElements(Hashing.minhashOph(s.reverse, cfg.numPerms, cfg.seed)))
    assert(a.sameElements(Hashing.minhashOph(scala.util.Random.javaRandomToRandom(
      new java.util.Random(3)).shuffle(s.toList).toArray, cfg.numPerms, cfg.seed)))
    assert(Hashing.minhashOph(Array.empty[Long], cfg.numPerms, cfg.seed) == null)
    assert(!a.sameElements(Hashing.minhashOph(s, cfg.numPerms, cfg.seed + 1)))
    // no sentinel leaks: every slot is a real value
    assert(a.forall(_ != Long.MaxValue))
    assert(Hashing.minhashOph(Array(42L), cfg.numPerms, cfg.seed).forall(_ != Long.MaxValue))
  }

  test("simhash: identical text 0 hamming; small edit small hamming; unrelated large") {
    val a = (1 to 100).map(i => s"tok$i").mkString(" ")
    val b = (1 to 100).map(i => if (i == 50) "changed" else s"tok$i").mkString(" ")
    val c = (1 to 100).map(i => s"other$i").mkString(" ")
    assert(Hashing.hamming(Hashing.simhash(a), Hashing.simhash(a)) == 0)
    assert(Hashing.hamming(Hashing.simhash(a), Hashing.simhash(b)) <= 6)
    assert(Hashing.hamming(Hashing.simhash(a), Hashing.simhash(c)) > 10)
  }

  test("bandHashes: equal band rows collide, differing rows don't (whp)") {
    val sigA = Array.tabulate(128)(_.toLong)
    val sigB = sigA.clone(); sigB(127) = 999L // last band differs
    val ba = Hashing.bandHashes(sigA, 16, 8)
    val bb = Hashing.bandHashes(sigB, 16, 8)
    assert(ba.init.sameElements(bb.init))
    assert(ba.last != bb.last)
  }

  test("winnow: containment shares fingerprints; determinism; short text empty") {
    val rnd = new java.util.SplittableRandom(11)
    val words = Array.fill(200)("w" + rnd.nextInt(10000))
    val full = words.mkString(" ")
    val slice = words.slice(40, 160).mkString(" ")
    val ff = Hashing.winnow(full, 25, 32).toSet
    val fs = Hashing.winnow(slice, 25, 32).toSet
    val shared = ff.intersect(fs).size
    assert(shared >= (fs.size * 0.5).toInt, s"shared=$shared of ${fs.size}")
    assert(Hashing.winnow("tiny", 25, 32).isEmpty)
    assert(Hashing.winnow(full, 25, 32).sameElements(Hashing.winnow(full, 25, 32)))
  }

  /** Reference winnow: the pre-scratch formulation — same rolling hash
    * and sliding window, fresh boxed LinkedHashSet dedup per call. */
  private def winnowReference(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val gram = new Array[Long](n)
    val B = 0x5DEECE66DL
    var bk = 1L
    var j = 1
    while (j < k) { bk *= B; j += 1 }
    var h = 0L
    j = 0
    while (j < k) { h = h * B + text.charAt(j).toLong; j += 1 }
    gram(0) = Hashing.mix64(h)
    var i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1).toLong * bk) * B + text.charAt(i + k - 1).toLong
      gram(i) = Hashing.mix64(h)
      i += 1
    }
    if (n <= w) return Array(gram.min)
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0
    var q = 0
    while (q < n) {
      while (tail > head && gram(deque(tail - 1)) >= gram(q)) tail -= 1
      deque(tail) = q; tail += 1
      if (deque(head) <= q - w) head += 1
      if (q >= w - 1) sel.add(gram(deque(head)))
      q += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    out
  }

  test("winnow: thread-local scratch reuse is bit-identical to a fresh reference") {
    // The production kernel reuses per-thread buffers (including a
    // retained LARGER probe table after a big doc) and must stay
    // bit-identical to [[winnowReference]] across any call sequence.
    val rnd = new java.util.SplittableRandom(42)
    def mkText(words: Int): String =
      Array.fill(words)("t" + rnd.nextInt(5000)).mkString(" ")
    // big → small → big → window-sized → sub-k sequence on ONE thread:
    // exercises buffer growth, stale-epoch probe entries from the larger
    // retained table, the n <= w early path over an oversized gram buffer,
    // and the huge-doc release path (> RetainMax grams forces a release).
    val seq = Seq(mkText(3000), mkText(10), mkText(800), mkText(5),
      mkText(12000), "x" * 30, mkText(40), mkText(3000))
    for ((t, idx) <- seq.zipWithIndex; (k, w) <- Seq((25, 32), (8, 4), (25, 200))) {
      val got = Hashing.winnow(t, k, w)
      val want = winnowReference(t, k, w)
      assert(got.sameElements(want),
        s"mismatch at seq #$idx k=$k w=$w: got ${got.length}, want ${want.length}")
    }
  }

  test("probe-table capacity: next pow2 >= 2n in Long; > 2^29 entries rejected") {
    // checked by arithmetic alone — no 1 GiB text is built; 2n must not
    // wrap an Int, and a table past 2^30 slots fits no JVM array
    assert(Hashing.probeCapacity(0) == 16)
    assert(Hashing.probeCapacity(8) == 16)
    assert(Hashing.probeCapacity(9) == 32)
    assert(Hashing.probeCapacity(1 << 16) == (1 << 17))
    assert(Hashing.probeCapacity(1 << 29) == (1 << 30))
    for (n <- Seq((1 << 29) + 1, 1 << 30, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](Hashing.probeCapacity(n))
      assert(e.getMessage.contains(s"$n hash-set entries"), e.getMessage)
    }
  }

  test("exactJaccard basics") {
    assert(Hashing.exactJaccard(Array(1L, 2L), Array(1L, 2L)) == 1.0)
    assert(Hashing.exactJaccard(Array(1L, 2L), Array(3L, 4L)) == 0.0)
    assert(Hashing.exactJaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
  }

  // ---- round-6 fused/packed kernel equalities (outputs must be identical
  // to the pre-optimization formulations bit for bit) ----

  private def randomTexts: Seq[String] = {
    val rnd = new java.util.SplittableRandom(97)
    val gen = (n: Int) => Seq.fill(n)("w" + rnd.nextInt(500)).mkString(" ")
    Seq("", "a", "a b", "  a   b\t c \n", "x y x y x y", gen(1), gen(2), gen(3),
      gen(50), gen(200), gen(499), "é 中文 tøkens mixed 123",
      " leading and trailing  ") ++ Seq.fill(20)(gen(1 + rnd.nextInt(300)))
  }

  /** Reference tokenizer: Java's regex `\s+` split (`\s` = [ \t\n\x0B\f\r],
    * ASCII only) over the raw string, empty tokens dropped. The kernels
    * scan the text once without building these Strings. */
  private def tokens(text: String): Array[String] =
    if (text == null) Array.empty else text.split("\\s+").filter(_.nonEmpty)

  /** Un-finalized FNV-1a of one token. */
  private def fnv(t: String): Long = {
    var h = 0xcbf29ce484222325L
    t.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h
  }

  /** Reference simhash: tokenize → un-finalized FNV-1a per token → the
    * per-bit vote loop. The formulation [[Hashing.simhash]] replaced. */
  private def simhashReference(text: String): Long = {
    val toks = tokens(text)
    if (toks.isEmpty) return 0L
    Hashing.simhashVoteLoop(toks.map(fnv))
  }

  /** Reference shingles: tokenize → un-finalized FNV-1a per token → each
    * window of k token hashes FNV-combined in order and mix64-finalized →
    * distinct values in first-occurrence order. */
  private def shingleReference(text: String, k: Int): Array[Long] = {
    val th = tokens(text).map(fnv)
    if (th.length < k) return Array.empty
    th.sliding(k).map { w =>
      Hashing.mix64(w.foldLeft(0xcbf29ce484222325L)((h, t) => (h ^ t) * 0x100000001b3L))
    }.toArray.distinct
  }

  test("shingleHashes equals the token-String reference on every text class") {
    for (t <- randomTexts; k <- Seq(1, 2, 3, 5))
      assert(Hashing.shingleHashes(t, k).sameElements(shingleReference(t, k)), s"k=$k text=<$t>")
  }

  test("packed-vote simhash equals the reference vote loop on every text class") {
    for (t <- randomTexts)
      assert(Hashing.simhash(t) == simhashReference(t), s"text=<$t>")
  }

  test("packed-vote simhash equals the vote loop at the exact tie boundary") {
    // even token count with a 50/50 bit split exercises 2*lane > n vs acc > 0
    val th = Array(0L, -1L, 0L, -1L) // after mix64 these spread, but the
    assert(Hashing.simhashFromFnv(th) == Hashing.simhashVoteLoop(th))
    val rnd = new java.util.SplittableRandom(13)
    for (n <- Seq(2, 4, 16, 256)) {
      val a = Array.fill(n)(rnd.nextLong())
      assert(Hashing.simhashFromFnv(a) == Hashing.simhashVoteLoop(a), s"n=$n")
    }
  }

  test("docSigPair equals the split minhash/simhash expressions' kernels") {
    for (t <- randomTexts) {
      val (mh, sim) = Hashing.docSigPair(t, cfg.shingleK, cfg.numPerms, cfg.seed)
      val expectMh = Hashing.minhashOph(shingleReference(t, cfg.shingleK), cfg.numPerms, cfg.seed)
      assert(sim == simhashReference(t), s"simhash mismatch on <$t>")
      if (expectMh == null) assert(mh == null, s"minhash null mismatch on <$t>")
      else assert(mh.sameElements(expectMh), s"minhash mismatch on <$t>")
    }
  }

  test("simFingerprintPair equals the split simhash64/doc_fingerprint kernels") {
    for (t <- randomTexts) {
      val (sim, fp) = Hashing.simFingerprintPair(t)
      assert(sim == simhashReference(t), s"simhash mismatch on <$t>")
      var h = 0x9e3779b97f4a7c15L
      tokens(t).foreach(tok => h = Hashing.hash64(h, Hashing.hash64(tok)))
      assert(fp == h, s"fingerprint mismatch on <$t>")
    }
  }

  test("minhashOph power-of-two bucket mask equals unsigned remainder routing") {
    val rnd = new java.util.SplittableRandom(31)
    for (_ <- 0 until 10000) {
      val h = rnd.nextLong()
      assert((h & 127L).toInt == java.lang.Long.remainderUnsigned(h, 128).toInt)
    }
    // and a non-power-of-two config still signs deterministically
    val sh = Array.fill(64)(rnd.nextLong())
    assert(Hashing.minhashOph(sh, 96, 42L).sameElements(Hashing.minhashOph(sh, 96, 42L)))
  }
}
