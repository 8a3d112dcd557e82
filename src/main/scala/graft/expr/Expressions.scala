package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Custom Catalyst expressions — the engine's function surface beyond
  * `org.apache.spark.sql.functions` (SURVEY §2.4 F4-F6 + the MinHash/SimHash
  * /winnowing kernels of §7.2). Scalar string metrics get real `doGenCode`
  * (a static call stays inside whole-stage codegen); the array-building
  * signature kernels use `CodegenFallback` — they dominate their own cost
  * (hashing hundreds of shingles), so the interpreted boundary is noise.
  *
  * Registered into the session FunctionRegistry by [[GraftFunctions]] —
  * usable from both the Column API (via `call_function`) and `spark.sql`.
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
    if (a.length != b.length) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Session registration + Column-API helpers. Idempotent. */
object GraftFunctions {
  import graft.model.EngineConfig

  private def litInt(e: Expression): Int = e.asInstanceOf[Literal].value match {
    case i: Int => i
    case l: Long => l.toInt
    case o => o.toString.toInt
  }
  private def litLong(e: Expression): Long = e.asInstanceOf[Literal].value match {
    case i: Int => i.toLong
    case l: Long => l
    case o => o.toString.toLong
  }

  /** Idempotent per-session: repeated calls (every query entry registers)
    * must not re-register — the replace WARNs pollute driver-captured logs
    * and registration mutates shared session state. WeakHashMap-backed so
    * stopped sessions (bench/scaling tools create one per rep) are not
    * pinned for the JVM lifetime. */
  private val registered = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def register(spark: SparkSession): Unit = {
    if (!registered.add(spark)) return
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("doc_sigs",
      es => DocSigsExpr(es.head, litInt(es(1)), litInt(es(2)), litLong(es(3))), "scala_udf")
    reg.createOrReplaceTempFunction("band_hashes",
      es => BandHashesExpr(es.head, litInt(es(1)), litInt(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes",
      es => ShingleHashesExpr(es.head, litInt(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("jaccard_arrays",
      es => JaccardArraysExpr(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_agree",
      es => MinHashAgreeExpr(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("jaro_winkler",
      es => JaroWinklerExpr(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("damerau_levenshtein",
      es => DamerauLevenshteinExpr(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dmetaphone", es => DoubleMetaphoneExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fps",
      es => WinnowExpr(es.head, litInt(es(1)), litInt(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim",
      es => CosineSimExpr(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("sim_fp", es => SimFpExpr(es.head), "scala_udf")
  }

  import org.apache.spark.sql.functions.lit
  def docSigs(text: Column, cfg: EngineConfig): Column =
    call_function("doc_sigs", text, lit(cfg.shingleK), lit(cfg.numPerms), lit(cfg.seed))
  def bandHashes(sig: Column, cfg: EngineConfig): Column =
    call_function("band_hashes", sig, lit(cfg.bands), lit(cfg.rowsPerBand))
  def shingleHashes(text: Column, k: Int): Column =
    call_function("shingle_hashes", text, lit(k))
  def jaccardArrays(l: Column, r: Column): Column = call_function("jaccard_arrays", l, r)
  def minhashAgree(l: Column, r: Column): Column = call_function("minhash_agree", l, r)
  def jaroWinkler(l: Column, r: Column): Column = call_function("jaro_winkler", l, r)
  def damerauLevenshtein(l: Column, r: Column): Column =
    call_function("damerau_levenshtein", l, r)
  def dmetaphone(c: Column): Column = call_function("dmetaphone", c)
  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function("winnow_fps", text, lit(k), lit(w))
  def cosineSim(l: Column, r: Column): Column = call_function("cosine_sim", l, r)
  def simFp(c: Column): Column = call_function("sim_fp", c)
}
