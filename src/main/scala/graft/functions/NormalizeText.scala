package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonical normalization as a native codegen'd expression —
  * the pre-dedup step raw crawls need: the same visible text arrives as
  * precomposed é (U+00E9) from one site and e + combining ́ (U+0301)
  * from another, fullwidth ASCII (ＡＢＣ) from CJK pages, ligatures (ﬁ)
  * from PDF extraction — and every byte-keyed operator downstream
  * (exact dedup's content hash, substring grams, CDC chunk hashes,
  * winnow fingerprints) silently treats them as DIFFERENT documents.
  *
  * `mode` is the java.text.Normalizer form name: "NFC" (canonical
  * compose — the web-standard storage form; what the dedup chain wants)
  * or "NFKC" (adds COMPATIBILITY folding: fullwidth→ASCII, ligature
  * expansion, ℕ→N — the aggressive form tokenizer vocabularies want;
  * also what SentencePiece applies by default as `nmt_nfkc`).
  *
  * Semantics are pinned cross-engine: DuckDB's `nfc_normalize` is the
  * NFC oracle (the `text_nfc` gate hash-matches whole normalized
  * documents); NFKC laws are LlmSpec-pinned (no DuckDB builtin).
  * Idempotence (normalize ∘ normalize ≡ normalize) and already-NFC
  * pass-through hold by the Unicode stability guarantees. A pure
  * per-row map, zero shuffles at any corpus size.
  */
final case class NormalizeText(child: Expression, mode: String)
    extends UnaryExpression {

  require(mode == "NFC" || mode == "NFKC" || mode == "NFD" || mode == "NFKD",
    s"mode must be one of NFC/NFKC/NFD/NFKD, got $mode")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override def nullSafeEval(input: Any): Any =
    NormalizeText.compute(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.NormalizeText$$.MODULE$$.compute($s, "$mode");""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeText {
  val FunctionName = "graft_normalize"

  def compute(s: UTF8String, mode: String): UTF8String = {
    val str = s.toString
    val form = Normalizer.Form.valueOf(mode)
    // fast path: already normalized (the overwhelmingly common case on
    // web text) — skip the rebuild AND the UTF8String re-encode
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }

  /** Expression builder for SQL registration: graft_normalize(s[, mode]),
    * mode a string literal, default 'NFC'. */
  def builder: Seq[Expression] => Expression = { args =>
    require(args.nonEmpty && args.length <= 2,
      s"$FunctionName expects (string[, mode literal])")
    val mode =
      if (args.length == 1) "NFC"
      else args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType) =>
          v.toString
        case other =>
          throw new IllegalArgumentException(
            s"mode must be a string literal, got $other")
      }
    NormalizeText(args.head, mode)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)
}
