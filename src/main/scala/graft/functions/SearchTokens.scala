package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The search-tokenization contract
  * ([[graft.operators.TextSearch.searchTerms]]) as ONE native
  * expression — value-identical to the declarative
  * `lower → regexp_extract_all(runs) → per-run segment split → CJK
  * bigram expansion` chain (and to the JVM mirror
  * [[graft.operators.TextSearch.searchTermsJvm]], law-tested in
  * TextSearchSpec), but computed in a single eval:
  *
  *  - ASCII fast path: documents whose UTF-8 bytes are all < 0x80 are
  *    tokenized by ONE byte walk — maximal `[A-Za-z0-9]+` runs,
  *    lowercased byte-wise into the output slices. No regex engine, no
  *    intermediate arrays, no String at all.
  *  - Unicode path (any doc with a non-ASCII byte): ROOT-locale
  *    lowercase, then one codepoint walk classifying by
  *    `Character.getType` (the same Unicode general categories Java
  *    regex `[\p{L}\p{N}]` matches), splitting runs into CJK/non-CJK
  *    segments ([[graft.operators.TextSearch.CjkRanges]] — all BMP) and
  *    emitting a CJK segment's overlapping bigrams.
  *
  * This replaces the regex-in-lambda higher-order-function chain whose
  * nested array churn made the all-CJK path cost 2.4× the ASCII one
  * (SCALING.md r17; the [[TokenWindowHashes]] rationale — 4.3× there).
  *
  * The Unicode path's ROOT-pinned lowercase also CLOSES the r17
  * advisor's residual locale divergence: the old chain's `lower()`
  * lowercases any string containing a non-ASCII byte via the JVM
  * DEFAULT locale, so a mixed-script doc like "TITLE数据" indexed as
  * "tıtle…" on a Turkish-locale executor while the ROOT-pinned query
  * side produced "title" — silently zero-hit. Corpus and query sides
  * now share one locale-independent fold on every JVM.
  *
  * The pinned fold is the QUERY side's (`String.toLowerCase(ROOT)`),
  * which the JVM mirror has used since r17 — so the swap cannot create
  * a corpus/query mismatch that did not already exist; it ELIMINATES
  * the one that did. The only input class where the old corpus chain
  * and this expression emit different tokens is Greek capital Σ under
  * the Unicode Final_Cased conditional: Spark 4's collation-aware
  * `lower()` detects the context with ICU while the JDK heuristic
  * diverges near surrogate pairs (ς vs σ — found by the TextSearchSpec
  * generator). On that class the OLD chain disagreed with its own
  * query side, so stores keep
  * [[graft.operators.BatchStore.TokenizerVersion]] v2: no token stream
  * that both sides agreed on has changed.
  *
  * CodegenFallback is deliberate: the per-row token walk dominates and
  * one virtual eval per ROW is noise (the TokenWindowHashes precedent).
  */
case class SearchTokens(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "search_tokens"

  @inline private def asciiAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** `[\p{L}\p{N}]` at the codepoint level: Unicode general categories
    * Lu/Ll/Lt/Lm/Lo (letters) and Nd/Nl/No (numbers) — exactly what the
    * Java regex class matches, surrogate pairs included. */
  @inline private def isRunChar(cp: Int): Boolean = {
    val t = Character.getType(cp)
    (t >= Character.UPPERCASE_LETTER && t <= Character.OTHER_LETTER) ||
      t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
  }

  /** [[graft.operators.TextSearch.CjkRanges]] as range checks (all
    * BMP): Hiragana, Katakana + prolonged-sound mark, CJK Unified
    * (+ Ext A, compatibility), Hangul syllables. */
  @inline private def isCjk(cp: Int): Boolean =
    (cp >= 0x3041 && cp <= 0x3096) || (cp >= 0x30A1 && cp <= 0x30FA) ||
      cp == 0x30FC || (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0xF900 && cp <= 0xFAFF) ||
      (cp >= 0xAC00 && cp <= 0xD7A3)

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) { ascii = false; i = bytes.length } else i += 1
    }
    if (ascii) evalAscii(bytes) else evalUnicode(u.toString)
  }

  private def evalAscii(bytes: Array[Byte]): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    var i = 0
    while (i < bytes.length) {
      if (asciiAlnum(bytes(i))) {
        val start = i
        while (i < bytes.length && asciiAlnum(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = start
        while (j < i) {
          val c = bytes(j)
          tok(j - start) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
          j += 1
        }
        out += UTF8String.fromBytes(tok)
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def evalUnicode(raw: String): GenericArrayData = {
    val s = raw.toLowerCase(java.util.Locale.ROOT)
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    val n = s.length
    var i = 0
    while (i < n) {
      var cp = s.codePointAt(i)
      if (!isRunChar(cp)) i += Character.charCount(cp)
      else {
        // inside a [\p{L}\p{N}]+ run: emit its CJK / non-CJK segments
        var inRun = true
        while (inRun && i < n) {
          cp = s.codePointAt(i)
          if (!isRunChar(cp)) inRun = false
          else {
            val segStart = i
            val segCjk = isCjk(cp)
            var inSeg = true
            while (inSeg && i < n) {
              cp = s.codePointAt(i)
              if (isRunChar(cp) && isCjk(cp) == segCjk)
                i += Character.charCount(cp)
              else inSeg = false
            }
            if (segCjk && i - segStart >= 2) {
              // CJK codepoints are all BMP (one char each): a segment of
              // n chars emits its n−1 overlapping bigrams
              var p = segStart
              while (p < i - 1) {
                out += UTF8String.fromString(s.substring(p, p + 2))
                p += 1
              }
            } else out += UTF8String.fromString(s.substring(segStart, i))
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
