package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Custom Catalyst expressions — the engine's function surface beyond
  * `org.apache.spark.sql.functions` (SURVEY §2.4 F4-F6 + the MinHash/SimHash
  * /winnowing kernels of §7.2). Scalar string metrics get real `doGenCode`
  * (a static call stays inside whole-stage codegen); the array-building
  * signature kernels use `CodegenFallback` — they dominate their own cost
  * (hashing hundreds of shingles), so the interpreted boundary is noise.
  *
  * Reached only through the Column helpers of [[GraftFunctions]], which
  * wrap each expression in a Column directly: there is no function
  * registry and no SQL name surface (`prettyName` names the expression in
  * plans and generated column names only).
  */

/** Fused per-document signature: struct(minhash array<long>, simhash long)
  * from ONE tokenization pass ([[Hashing.docSigPair]]). Two separate
  * minhash and simhash expressions would each re-tokenize and re-hash the
  * full text; fusing halves the narrow work of the signatures stage.
  * Values are bit-identical to [[Hashing.minhashOph]] of
  * [[Hashing.shingleHashes]] and to [[Hashing.simhash]] (HashingSpec pins
  * it).
  *
  * Consumers must extract the fields from an ALIASED struct column in a
  * separate projection (`withColumn("__sig", …)` then getField) — Spark's
  * CollapseProject declines to merge a multi-referenced non-cheap alias, so
  * the expression evaluates once per row (PlanQualitySpec asserts one
  * doc_sigs call survives in the optimized plan). */
final case class DocSigsExpr(child: Expression, k: Int, numPerms: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("minhash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("simhash", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val (mh, sim) = Hashing.docSigPair(v.asInstanceOf[UTF8String].toString, k, numPerms, seed)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (mh == null) null else new GenericArrayData(mh), sim))
  }
  override protected def withNewChildInternal(c: Expression): DocSigsExpr = copy(child = c)
  override def prettyName: String = "doc_sigs"
}

/** Fused simhash + doc fingerprint (q23): struct(simhash, fingerprint)
  * from one tokenization ([[Hashing.simFingerprintPair]]) — same
  * extraction pattern as [[DocSigsExpr]]. The fingerprint is a rolling
  * hash of the token stream (order-sensitive, unlike the shingle set);
  * both values are pinned against their per-token definitions
  * (HashingSpec). */
final case class SimFpExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("simhash", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val (sim, fp) = Hashing.simFingerprintPair(v.asInstanceOf[UTF8String].toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sim, fp))
  }
  override protected def withNewChildInternal(c: Expression): SimFpExpr = copy(child = c)
  override def prettyName: String = "sim_fp"
}

/** Band hashes of a minhash signature (array<long> → array<long> of length
  * `bands`). The LSH blocking key generator (≙ Splink block_on keys). */
final case class BandHashesExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val sig = v.asInstanceOf[ArrayData].toLongArray()
    new GenericArrayData(Hashing.bandHashes(sig, bands, rowsPerBand))
  }
  override protected def withNewChildInternal(c: Expression): BandHashesExpr = copy(child = c)
  override def prettyName: String = "band_hashes"
}

/** Distinct k-token shingle hashes (array<long>) — exposed for the exact
  * Jaccard verify step and n-gram analytics. */
final case class ShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Hashing.shingleHashes(v.asInstanceOf[UTF8String].toString, k))
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** Exact Jaccard between two precomputed shingle-hash arrays. */
final case class JaccardArraysExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Hashing.exactJaccard(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardArraysExpr =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_arrays"
}

/** MinHash signature agreement fraction (Jaccard estimate). */
final case class MinHashAgreeExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Hashing.jaccardEstimate(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashAgreeExpr =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_agree"
}

/** Jaro–Winkler similarity with whole-stage codegen (static call). */
final case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    StringMetrics.jaroWinkler(l.toString, r.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.expr.StringMetrics.jaroWinkler($l.toString(), $r.toString());")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerExpr =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

/** Damerau–Levenshtein (OSA) distance with whole-stage codegen. */
final case class DamerauLevenshteinExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    StringMetrics.damerauLevenshtein(l.toString, r.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.expr.StringMetrics.damerauLevenshtein($l.toString(), $r.toString());")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DamerauLevenshteinExpr =
    copy(left = l, right = r)
  override def prettyName: String = "damerau_levenshtein"
}

/** Double Metaphone pair (array<string> of primary+alternate codes).
  * Reference F4: `phonetics.dmetaphone`, person_1/link_model_per.py:579-592. */
final case class DoubleMetaphoneExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val codes = DoubleMetaphone.encode(v.asInstanceOf[UTF8String].toString)
    new GenericArrayData(codes.map(UTF8String.fromString(_): Any))
  }
  override protected def withNewChildInternal(c: Expression): DoubleMetaphoneExpr = copy(child = c)
  override def prettyName: String = "dmetaphone"
}

/** Winnowing fingerprints (array<long>) — substring-duplicate pass. */
final case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Hashing.winnow(v.asInstanceOf[UTF8String].toString, k, w))
  override protected def withNewChildInternal(c: Expression): WinnowExpr = copy(child = c)
  override def prettyName: String = "winnow_fps"
}

/** Cosine similarity between two float vectors (embedding column). */
final case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toFloatArray()
    val b = r.asInstanceOf[ArrayData].toFloatArray()
    // corrupt rows (wrong/zero dimension) are routine at web scale: a
    // mismatched pair has no meaningful similarity — 0.0 keeps it below
    // any threshold (same convention as the zero-norm case) instead of
    // b(i) crashing the job
    if (a.length != b.length) 0.0 else CosineSimExpr.cosine(a, b)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

object CosineSimExpr {
  /** The cosine kernel of `cosine_sim` and the IVF cell assignment: cosine
    * of two vectors of equal length, 0.0 when either has zero norm. Each
    * caller decides what a length mismatch means. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}

/** Column-API helpers: each builds its expression directly, so every
  * operator resolves on any session, with nothing registered first. */
object GraftFunctions {
  import graft.model.EngineConfig
  import org.apache.spark.sql.graft.ColumnExpr.{column, expression}

  def docSigs(text: Column, cfg: EngineConfig): Column =
    column(DocSigsExpr(expression(text), cfg.shingleK, cfg.numPerms, cfg.seed))
  def bandHashes(sig: Column, cfg: EngineConfig): Column =
    column(BandHashesExpr(expression(sig), cfg.bands, cfg.rowsPerBand))
  def shingleHashes(text: Column, k: Int): Column =
    column(ShingleHashesExpr(expression(text), k))
  def jaccardArrays(l: Column, r: Column): Column =
    column(JaccardArraysExpr(expression(l), expression(r)))
  def minhashAgree(l: Column, r: Column): Column =
    column(MinHashAgreeExpr(expression(l), expression(r)))
  def jaroWinkler(l: Column, r: Column): Column =
    column(JaroWinklerExpr(expression(l), expression(r)))
  def damerauLevenshtein(l: Column, r: Column): Column =
    column(DamerauLevenshteinExpr(expression(l), expression(r)))
  def dmetaphone(c: Column): Column = column(DoubleMetaphoneExpr(expression(c)))
  def winnowFps(text: Column, k: Int, w: Int): Column =
    column(WinnowExpr(expression(text), k, w))
  def cosineSim(l: Column, r: Column): Column =
    column(CosineSimExpr(expression(l), expression(r)))
  def simFp(c: Column): Column = column(SimFpExpr(expression(c)))
}
