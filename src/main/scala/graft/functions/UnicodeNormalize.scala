package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a compiled per-row call (EXTENSION, SURVEY.md
  * §2.K text pipeline) — a gap in Spark's built-in functions: text dedup
  * and exact-match decontamination are WRONG on un-normalized corpora
  * ("café" composed ≠ "cafe" + U+0301 decomposed byte-wise, so the same
  * document escapes an exact-hash dedup), and every serious corpus
  * pipeline NFC-normalizes before hashing.
  *
  * Implemented as a static method inside whole-stage codegen via
  * StaticInvoke (the [[ShingleUtil]]/[[DeletionVariants]] discipline) —
  * no UDF serialization, null-propagating. The hot path cost is one
  * `Normalizer.isNormalized` scan: real corpora are overwhelmingly
  * already-NFC, and the check avoids re-encoding (UTF8String → String →
  * normalize → UTF8String) for such rows entirely — at 100 TB the
  * normalizer is then a read-only verification pass over most bytes.
  *
  * NFC is the canonical composition used for content-hash identity;
  * NFKC additionally folds compatibility forms (ligatures, full-width
  * forms, superscripts) — the aggressive fold tokenizer pipelines use.
  */
object UnicodeNormalize {

  def nfc(s: UTF8String): UTF8String = normalize(s, Normalizer.Form.NFC)

  def nfkc(s: UTF8String): UTF8String = normalize(s, Normalizer.Form.NFKC)

  private def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }

  /** NFC canonical composition: `nfcCol(col("text"))`. Matches DuckDB's
    * `nfc_normalize` (both implement UAX #15 NFC). */
  def nfcCol(s: Column): Column = invoke(s, "nfc")

  /** NFKC compatibility composition (ligature/width/superscript folds). */
  def nfkcCol(s: Column): Column = invoke(s, "nfkc")

  private def invoke(s: Column, method: String): Column =
    GraftSqlBridge.column(StaticInvoke(
      UnicodeNormalize.getClass,
      StringType,
      method,
      Seq(GraftSqlBridge.expression(s)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))
}
