package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass top-level field extraction shared by interpreted eval and
  * generated code — the hot-loop replacement for
  * `get_json_object(json, '$.key')` on TOP-LEVEL keys.
  *
  * Why: every Spark JSON path (`GetJsonObject`, `JsonToStructs`,
  * `JsonTuple`) is a `CodegenFallback` that instantiates a Jackson
  * parser per row — measured ~1.3 s of q53_pa_v2's 1.9 s at sf0.1 for a
  * 20-char document, and identical costs for all three built-ins
  * (dev/PERF_r7.md, "q53_pa_v2 profile"). This scanner walks the
  * UTF8String's bytes DIRECTLY (structural JSON characters are all
  * ASCII, and UTF-8 continuation bytes are ≥ 0x80 so they can never be
  * mistaken for one) — zero copies of the document, no parser object,
  * no token stream; the only allocation is the extracted result. It
  * stays inside whole-stage codegen (one static call per row) and
  * matches `get_json_object` semantics on its supported domain:
  *
  *   - top-level object with the key mapped to a string / number /
  *     boolean → the value's text (strings unescaped, numbers/booleans
  *     AS WRITTEN — get_json_object re-serializes numbers through
  *     Jackson, e.g. 4.50 → 4.5, so only canonical/integer numbers are
  *     byte-identical between the two; the gate's fields are);
  *   - a key mapped to an object/array → its RAW serialized text
  *     (get_json_object re-serializes through Jackson, which strips
  *     interior whitespace; the two agree byte-for-byte on
  *     whitespace-free documents — the stored-document norm);
  *   - key absent, value JSON null, input not an object, or malformed
  *     input → SQL null. Malformed includes an invalid or truncated
  *     escape inside ANY string the scan walks (Jackson rejects those;
  *     raw control characters it permits, and so does this scanner),
  *     and structural garbage;
  *   - FIRST occurrence wins on duplicate keys (as GetJsonObject; note
  *     the reference's Postgres `jsonb ->>` is LAST-wins because jsonb
  *     deduplicates on ingest — jsonb documents never carry duplicates,
  *     so the divergence is unobservable on reference-shaped data).
  */
object JsonScalarImpl {

  /** @return extracted text or null (SQL null). */
  def extract(jsonU: UTF8String, keyU: UTF8String): UTF8String = {
    val n = jsonU.numBytes
    var i = skipWs(jsonU, 0, n)
    if (i >= n || jsonU.getByte(i) != '{') return null
    i += 1
    var first = true
    while (i < n) {
      i = skipWs(jsonU, i, n)
      if (i < n && jsonU.getByte(i) == '}') return null // clean end, key absent
      if (!first) {
        if (i >= n || jsonU.getByte(i) != ',') return null
        i = skipWs(jsonU, i + 1, n)
      }
      first = false
      // member key (must be a string)
      if (i >= n || jsonU.getByte(i) != '"') return null
      val kEnd = stringEnd(jsonU, i + 1, n)
      if (kEnd < 0) return null
      val matches = keyEquals(jsonU, i + 1, kEnd, keyU)
      i = skipWs(jsonU, kEnd + 1, n)
      if (i >= n || jsonU.getByte(i) != ':') return null
      i = skipWs(jsonU, i + 1, n)
      if (i >= n) return null
      val c = jsonU.getByte(i)
      if (c == '"') {
        val vEnd = stringEnd(jsonU, i + 1, n)
        if (vEnd < 0) return null
        if (matches) return unescapeSlice(jsonU, i + 1, vEnd)
        i = vEnd + 1
      } else if (c == '{' || c == '[') {
        val vEnd = skipStructured(jsonU, i, n)
        if (vEnd < 0) return null
        if (matches) return slice(jsonU, i, vEnd) // raw serialized text
        i = vEnd
      } else {
        // number / true / false / null literal: scan to delimiter
        val st = i
        var b = c
        while (i < n && b != ',' && b != '}' && !isWs(b)) {
          i += 1
          if (i < n) b = jsonU.getByte(i)
        }
        // an empty literal ({"k":} / {"k":,...}) is malformed JSON —
        // null, like get_json_object, regardless of which key matched
        if (i == st) return null
        if (matches) {
          return if (isNullLiteral(jsonU, st, i)) null else slice(jsonU, st, i)
        }
      }
    }
    null // ran off the end: malformed
  }

  private def isNullLiteral(u: UTF8String, from: Int, to: Int): Boolean =
    to - from == 4 && u.getByte(from) == 'n' && u.getByte(from + 1) == 'u' &&
      u.getByte(from + 2) == 'l' && u.getByte(from + 3) == 'l'

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  private def skipWs(u: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && isWs(u.getByte(i))) i += 1
    i
  }

  private def isHex(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')

  /** Index of the closing quote of a string opened just before `from`.
    * Validates escapes as it scans, the way Jackson does: an invalid or
    * truncated escape or a non-hex `\u` makes the document malformed →
    * -1 (so does an unterminated string). Raw control bytes pass
    * through — Spark's get_json_object factory is permissive about
    * unescaped control characters, and the spec pins that equivalence.
    * Continuation bytes of multi-byte UTF-8 are ≥ 0x80 (negative as
    * signed bytes) and pass through untouched.
    */
  private def stringEnd(u: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n) {
      val b = u.getByte(i)
      if (b == '\\') {
        if (i + 1 >= n) return -1
        val e = u.getByte(i + 1)
        if (e == 'u') {
          if (i + 6 > n || !isHex(u.getByte(i + 2)) || !isHex(u.getByte(i + 3)) ||
            !isHex(u.getByte(i + 4)) || !isHex(u.getByte(i + 5))) return -1
          i += 6
        } else if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' ||
          e == 'n' || e == 'r' || e == 't') {
          i += 2
        } else return -1 // unrecognized escape: strict-malformed
      } else if (b == '"') return i
      else i += 1
    }
    -1
  }

  /** Raw (still-escaped, already-validated) key span vs the sought key:
    * equal when the unescaped span equals the key. Fast path for spans
    * with no escapes — straight byte compare (both sides are UTF-8).
    */
  private def keyEquals(u: UTF8String, from: Int, to: Int, keyU: UTF8String): Boolean = {
    var hasEsc = false
    var i = from
    while (i < to && !hasEsc) { if (u.getByte(i) == '\\') hasEsc = true; i += 1 }
    if (!hasEsc) {
      val kn = keyU.numBytes
      if (to - from != kn) return false
      var j = 0
      while (j < kn) {
        if (u.getByte(from + j) != keyU.getByte(j)) return false
        j += 1
      }
      true
    } else {
      val un = unescape(slice(u, from, to).toString)
      un != null && un == keyU.toString
    }
  }

  /** Copy bytes [from, to) into a fresh UTF8String — the one allocation
    * on the hot path, sized to the extracted value, not the document.
    */
  private def slice(u: UTF8String, from: Int, to: Int): UTF8String = {
    val len = to - from
    val arr = new Array[Byte](len)
    Platform.copyMemory(
      u.getBaseObject, u.getBaseOffset + from, arr, Platform.BYTE_ARRAY_OFFSET, len)
    UTF8String.fromBytes(arr)
  }

  /** String-value slice: byte-copy when escape-free (overwhelmingly the
    * hot case); else the cold char-level unescape of the small span.
    */
  private def unescapeSlice(u: UTF8String, from: Int, to: Int): UTF8String = {
    var hasEsc = false
    var i = from
    while (i < to && !hasEsc) { if (u.getByte(i) == '\\') hasEsc = true; i += 1 }
    if (!hasEsc) slice(u, from, to)
    else {
      val un = unescape(slice(u, from, to).toString)
      if (un == null) null else UTF8String.fromString(un)
    }
  }

  /** JSON string-body unescape of a span `stringEnd` already validated
    * (cold path — escaped spans only). Returns null if a malformed
    * escape slips through anyway (defensive; e.g. direct callers).
    */
  private def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= n) return null
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            if (i + 6 > n) return null
            try {
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            } catch { case _: NumberFormatException => return null }
          case _ => return null
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Skip a balanced object/array starting at `from` (u(from) is '{' or
    * '['), strings-with-escapes aware. @return index AFTER it, or -1.
    */
  private def skipStructured(u: UTF8String, from: Int, n: Int): Int = {
    var i = from
    var depth = 0
    while (i < n) {
      val b = u.getByte(i)
      if (b == '{' || b == '[') { depth += 1; i += 1 }
      else if (b == '}' || b == ']') {
        depth -= 1; i += 1
        if (depth == 0) return i
      } else if (b == '"') {
        val e = stringEnd(u, i + 1, n)
        if (e < 0) return -1
        i = e + 1
      } else i += 1
    }
    -1
  }
}

/** `json_scalar_field(json, key)` — codegen top-level JSON field
  * extraction (see [[JsonScalarImpl.extract]] for the exact
  * get_json_object equivalence contract, including the raw-text
  * structured-value and as-written number divergences).
  */
case class JsonScalarField(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(json: Any, key: Any): Any =
    JsonScalarImpl.extract(
      json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (json, key) => {
      // freshName: with non-nullable children nullSafeCodeGen inlines
      // this WITHOUT a brace scope, so a fixed local name would janino-
      // collide when two instances land in one generated method
      val r = ctx.freshName("graftJson")
      s"""
         |UTF8String $r = graft.functions.JsonScalarImpl.extract($json, $key);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JsonScalarField =
    copy(left = newLeft, right = newRight)
}
