package graft.model

/* Core data model of the dedup engine: its configuration.
  *
  * Stage frames are untyped DataFrames whose shapes derive from
  * BASELINE.json `input_hint` (url, warc_ts, html, text, lang) and the
  * reference pipeline's intermediate tables — see SURVEY.md §1.2/§1.3 and
  * reference `person_1/link_model_per.py:1288-1333` (DDLs).
  */

/** Engine configuration — the analog of the reference's Splink model JSON
  * (person_1/link_model_per.py:745-752): everything that must be pinned for
  * determinism and for oracle parity lives here.
  *
  * Default banding: 128 perms = 16 bands x 8 rows; candidate threshold
  * s ≈ (1/b)^(1/r) = 0.707 (SURVEY §4 "Blocking").
  */
final case class EngineConfig(
    shingleK: Int = 3,            // tokens per shingle
    numPerms: Int = 128,
    bands: Int = 16,
    rowsPerBand: Int = 8,
    seed: Long = 42L,
    // ordered-level thresholds (≙ gamma levels, SURVEY §2.11): first
    // match wins. exact-hash > jaccard > simhash-hamming > substring.
    jaccardThreshold: Double = 0.7,
    hammingThreshold: Int = 3,
    // staged-predicate exact check: MinHash estimate gates exact Jaccard
    exactVerify: Boolean = true,
    // substring (winnowing) pass
    winnowK: Int = 25,            // chars per fingerprint gram
    winnowWindow: Int = 32,       // fp density ≈ 2/(w+1) per char
    substringMinFps: Int = 6,     // shared fingerprints to emit an edge
    substringMinRatio: Double = 0.5, // shared / min(nFps) containment ratio
    // a fingerprint shared by more docs than this is boilerplate, not
    // containment evidence (document-frequency pruning ≙ TF adjustment A1)
    substringDfCap: Int = 50,
    // LSH buckets up to this size are paired all-pairs (exact J3
    // semantics); larger ones get O(n) sorted-chain pairing (skew control,
    // SURVEY §4 "Skew detection") — nothing is dropped
    allPairsCap: Int = 64,
    maxCcIterations: Int = 50,
    // cut CC lineage with reliable checkpoint() (needs a checkpoint dir:
    // HDFS/S3 in production) instead of executor-local blocks — survives
    // executor loss at real cluster scale; identical assignments either way
    reliableCheckpoints: Boolean = false,
    // adaptive CC plan choice: edge sets ≤ this run driver union-find;
    // larger sets run large-star/small-star. 0 forces the distributed
    // path; identical output either way (spec-pinned). Also the default
    // of direct ConnectedComponents.run/assign callers. Below the bound
    // the loop is all overhead: 4-6 rounds of plan-compile + job
    // scheduling + 2 shuffles each, size-independent SERIAL time (~10-20 s
    // per run regardless of cores). At the bound's scale (10M-doc probe,
    // 2.48M real dup-graph edges, 16 pinned cores) union-find took 4.1 s,
    // the distributed window loop 23.8 s on half the edges. Driver memory
    // at 4M edges: collected Tuple2s at ~56 B each incl. array slot
    // ≈ 224 MB (freed before output build) + union-find arrays (≤ 8M
    // nodes: 16M-slot map ≈ 210 MB + id/parent ≈ 96 MB) ≈ 530 MB
    // transient, more than Spark's 1 GiB default driver heap allows — so
    // ConnectedComponents.effectiveFastPathBound also caps the bound by
    // heap; this value gates only drivers with ≥ ~4 GiB. At 10^12 docs
    // the edge set is far above it and the loop is the only option.
    ccFastPathMaxEdges: Long = 4000000L,
    // df-weighted exact similarity (≙ reference term_frequency_adjustments,
    // person_1/link_model_per.py:614-651): weight each shingle by
    // log(nDocs/df) so boilerplate overlap scores below content overlap
    tfWeighting: Boolean = false,
    // exact-dup pre-pass plan: true = 128-bit content-hash groupBy
    // (24 B/row shuffle — the scale path; ExactDedup.splitByHash), false =
    // full-text window (shuffles the whole corpus text; kept as the
    // hash-free reference plan). Identical output either way (spec-pinned).
    exactDedupByHash: Boolean = true) {
  require(bands * rowsPerBand == numPerms, "bands*rowsPerBand must equal numPerms")
}

object EngineConfig {
  val default: EngineConfig = EngineConfig()

  /** Banding auto-tuner: pick (bands, rowsPerBand) for a target Jaccard
    * threshold — the engine-side analog of Splink's threshold-centric
    * model config (the reference picks `match_probability >= 0.95` and
    * lets the model place the boundary; here the LSH S-curve IS the
    * model). For each divisor pair b·r = numPerms the candidate-capture
    * S-curve crosses 1/2 at s* ≈ (1/b)^(1/r); choose the pair whose s* is
    * CLOSEST to `threshold` (ties break toward the lower s* — recall
    * side; the divisor grid is sparse, so "at-or-below" would jump from
    * 0.707 to 0.42 for a 0.7 target and over-generate candidates ~10×).
    * The exact-Jaccard verify stage cleans false positives downstream
    * either way.
    *
    * forThreshold(0.7) on 128 perms returns the default 16×8 banding
    * (s* = 2^-0.5 ≈ 0.707). */
  def forThreshold(threshold: Double, base: EngineConfig = default): EngineConfig = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val sStar = (1 to base.numPerms)
      .filter(base.numPerms % _ == 0)
      .map(b => ((b, base.numPerms / b), math.pow(1.0 / b, 1.0 / (base.numPerms / b))))
    val ((b, r), _) = sStar.minBy { case (_, s) =>
      (math.abs(s - threshold), s) // closest; tie → lower s* (recall side)
    }
    base.copy(bands = b, rowsPerBand = r, jaccardThreshold = threshold)
  }
}
