package graft.tools

import graft.expr.Hashing

/** Interleaved A/B of the winnow kernel's per-thread scratch buffers
  * (OPTIMIZATION_r06 change 13) against the fresh-allocation reference —
  * pure JVM, no Spark, variants alternated inside ONE process (the
  * sandbox's only noise-robust discipline, BENCH.md). Reports per rep the
  * single-thread and multi-thread (allocation/GC contention shows only
  * under parallel load) wall for each variant, plus a value checksum that
  * doubles as a dead-code blackhole AND an equality assertion.
  *
  * Usage: `sbt -batch "runMain graft.tools.WinnowKernelProbe 200000 5 8"`
  * (docs, reps, threads).
  */
object WinnowKernelProbe {

  /** The pre-scratch kernel, verbatim: same rolling hash and sliding
    * window, fresh boxed LinkedHashSet dedup per call. Kept here (not in
    * the spec) so both HashingSpec and this probe share one reference. */
  def reference(text: String, k: Int, w: Int): Array[Long] = {
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

  def main(args: Array[String]): Unit = {
    val docs = if (args.length > 0) args(0).toInt else 200000
    val reps = if (args.length > 1) args(1).toInt else 5
    val threads = if (args.length > 2) args(2).toInt else 8
    val k = 25
    val w = 32

    // deterministic ~1.5 KB web-doc-shaped texts (the bench corpus's word
    // alphabet and length scale), generated once outside the timed region
    val rnd = new java.util.SplittableRandom(7)
    val texts = Array.fill(docs)(
      Array.fill(180 + rnd.nextInt(120))("w" + rnd.nextInt(10000)).mkString(" "))
    println(s"[winnowk] $docs docs x $reps reps, k=$k w=$w, ${threads} threads for MT legs")

    // ONE fixed slicing for both legs: each slice folds its fingerprints
    // order-sensitively (s = mix64(s ^ fp)), so a reordered or swapped
    // fingerprint changes the checksum; the per-slice hashes are then
    // summed, which keeps the 1-thread and N-thread legs comparable
    val slices = texts.grouped((texts.length + threads - 1) / threads).toArray
    def sliceHash(f: String => Array[Long], slice: Array[String]): Long = {
      var s = 0L
      var i = 0
      while (i < slice.length) {
        val fp = f(slice(i))
        var j = 0
        while (j < fp.length) { s = Hashing.mix64(s ^ fp(j)); j += 1 }
        i += 1
      }
      s
    }
    def timedST(f: String => Array[Long]): (Long, Double) = {
      val t0 = System.nanoTime()
      var s = 0L
      slices.foreach(sl => s += sliceHash(f, sl))
      (s, (System.nanoTime() - t0) / 1e9)
    }
    def timedMT(f: String => Array[Long]): (Long, Double) = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = System.nanoTime()
      val ts = slices.map { sl =>
        val t = new Thread(() => { acc.addAndGet(sliceHash(f, sl)); () })
        t.start(); t
      }
      ts.foreach(_.join())
      (acc.get(), (System.nanoTime() - t0) / 1e9)
    }

    var stS = List.empty[Double]; var stR = List.empty[Double]
    var mtS = List.empty[Double]; var mtR = List.empty[Double]
    for (r <- 1 to reps) {
      val (s1, wScratchST) = timedST(Hashing.winnow(_, k, w))
      val (s2, wRefST) = timedST(reference(_, k, w))
      val (s3, wScratchMT) = timedMT(Hashing.winnow(_, k, w))
      val (s4, wRefMT) = timedMT(reference(_, k, w))
      require(s1 == s2 && s2 == s3 && s3 == s4,
        s"fingerprint checksums diverged: $s1 / $s2 / $s3 / $s4")
      stS ::= wScratchST; stR ::= wRefST; mtS ::= wScratchMT; mtR ::= wRefMT
      println(f"[winnowk] rep $r: 1T scratch $wScratchST%5.2f s vs fresh $wRefST%5.2f s | " +
        f"${threads}T scratch $wScratchMT%5.2f s vs fresh $wRefMT%5.2f s (checksum $s1)")
    }
    println(f"[winnowk] MIN 1T: scratch ${stS.min}%.2f s vs fresh ${stR.min}%.2f s " +
      f"(${stR.min / stS.min}%.2fx) | MIN ${threads}T: scratch ${mtS.min}%.2f s vs " +
      f"fresh ${mtR.min}%.2f s (${mtR.min / mtS.min}%.2fx)")
  }
}
