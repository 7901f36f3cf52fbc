package graft.functions

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken, StreamReadFeature}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Shared evaluation kernels for the custom Expressions in this package.
  *
  * One implementation serves both execution modes: `nullSafeEval` calls
  * these directly (interpreted), and each Expression's `doGenCode` emits a
  * call to the same method (Scala top-level objects compile with static
  * forwarders, so generated Java code can invoke
  * `graft.functions.ExprKernels.m(...)` without MODULE$ plumbing). Keeping
  * the Expressions codegen-capable — instead of `CodegenFallback` — means
  * the enclosing WholeStageCodegen span stays intact: no per-row boxed
  * `eval(InternalRow)` round trip in the hot path.
  */
object ExprKernels {

  // ------------------------------------------------------------ vector ops

  /** Inner product in double precision; per-side element type by flag
    * (e.g. a FLOAT column against DOUBLE literal centroids). Returns null
    * (boxed) on length mismatch or any null element — matching the NULL
    * propagation of the zip_with+aggregate form it replaces, so a corrupt
    * truncated embedding can never rank with a plausible partial score.
    */
  def dot(a: ArrayData, aIsFloat: Boolean, b: ArrayData, bIsFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def norm(a: ArrayData, isFloat: Boolean): java.lang.Double = {
    val d = dot(a, isFloat, a, isFloat)
    if (d == null) null else java.lang.Double.valueOf(math.sqrt(d.doubleValue()))
  }

  // ------------------------------------------------------- canonical text

  /** NFC-compose, map ASCII controls (U+0000–U+001F, U+007F) to spaces,
    * collapse space runs, trim. Exactly replayable as DuckDB
    * `trim(regexp_replace(regexp_replace(nfc_normalize(t),
    * '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))` — C1 controls and
    * Unicode spaces deliberately untouched (see CanonicalText scaladoc).
    */
  def canonText(text: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      text.toString, java.text.Normalizer.Form.NFC)
    val n = nfc.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < n) {
      val c0 = nfc.charAt(i)
      val c = if (c0 < ' ' || c0 == '\u007f') ' ' else c0
      if (c == ' ') { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // ----------------------------------------------------------- jaro-winkler

  /** Jaro-Winkler similarity, bit-exact to DuckDB's
    * `jaro_winkler_similarity` (validated over 3000 random pairs):
    * standard Jaro (match window ⌊max/2⌋−1, half-transpositions with
    * integer floor), Winkler prefix bonus p = 0.1 over ≤ 4 chars applied
    * only when Jaro > 0.7, empty strings score 0, equal strings 1. The
    * op order of the final arithmetic is load-bearing — it is what makes
    * unrounded threshold filters replay across engines.
    */
  def jaroWinkler(aU: UTF8String, bU: UTF8String): Double = {
    val a = aU.toString; val b = bU.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aM = new Array[Boolean](la); val bM = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var matched = false
      while (j <= hi && !matched) {
        if (!bM(j) && a.charAt(i) == b.charAt(j)) {
          aM(i) = true; bM(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val j3 = (m.toDouble / la + m.toDouble / lb + (m - t / 2).toDouble / m) / 3.0
    if (j3 <= 0.7) j3
    else {
      var l = 0
      val maxL = math.min(4, math.min(la, lb))
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      j3 + l * 0.1 * (1.0 - j3)
    }
  }

  // -------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles: lowercase, whitespace tokenize, join
    * each n-window with single spaces; < n tokens -> one all-token shingle;
    * empty/whitespace-only text -> EMPTY array (not [""]) so two unrelated
    * blank documents don't share a shingle set and surface as perfect
    * near-duplicates (Jaccard of two empty sets is 0 by the uni===0 guard).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    // Locale.ROOT: default-locale toLowerCase is JVM-dependent (Turkish
    // dotless-i etc.) — executors with different locales would shingle the
    // same document differently
    val trimmed = text.toString.trim
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[Any])
    val toks = trimmed.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length < n) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  // --------------------------------------------------------------- minhash

  /** SplitMix64 finalizer — full-avalanche 64-bit mixer (public constants). */
  private def mix64(x0: Long): Long = {
    var z = x0
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    z
  }

  /** Element h of the result = min over the array of family-h hashes.
    * The family is ONE xxhash64 per element followed by k cheap SplitMix64
    * remixes (`mix64(base ^ h*SeedMix)`) — O(n) string hashing + O(n*k)
    * integer mixes, instead of k full string hashes per element (the
    * dominant cost at k=16 over 1000-shingle documents). Full-avalanche
    * remixing keeps the k families independent; naive consecutive-integer
    * seeding measurably biased the Jaccard estimator (5/16 agreement on a
    * J=0.6 pair), so the mixer quality is load-bearing — validated unbiased
    * by a 500-pair agreement check.
    */
  def minhash(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var h = 0
        while (h < numHashes) {
          val v = mix64(base ^ (h.toLong * MinHashSignature.SeedMix))
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash: per-bit majority vote over xxhash64 of the elements. */
  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  // --------------------------------------------------------- json drop keys

  // Jackson ObjectMapper is thread-safe after configuration
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Remove top-level keys from a JSON object, preserving remaining fields'
    * types/order; null for malformed or non-object input.
    */
  def jsonDropKeys(input: UTF8String, keys: Array[String]): UTF8String = {
    try {
      mapper.readTree(input.toString) match {
        case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
          var i = 0
          while (i < keys.length) { obj.remove(keys(i)); i += 1 }
          UTF8String.fromString(mapper.writeValueAsString(obj))
        case _ => null
      }
    } catch { case _: Exception => null }
  }

  // ------------------------------------------------------------ wire parse

  val MalformedJson: UTF8String = UTF8String.fromString("malformed_json")
  val MissingCreated: UTF8String = UTF8String.fromString("missing_created")

  // `mapper`'s strict reading of JSON, plus duplicate-key detection: a
  // record that repeats a key (at any depth) takes the tree path below
  @transient private lazy val wireFactory =
    new JsonFactoryBuilder().enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION).build()

  /** One read of a JSON wire line (see [[ParseWire]] for the contract):
    * `[created: Double, message, correlation_id, data_raw, reason]`.
    * `created`, `message` and `correlation_id` follow `get_json_object`:
    * the first non-null value of the top-level key, strings as their text,
    * anything else as compact JSON, `created` then cast to double as
    * `try_cast` does. `data_raw` is [[jsonDropKeys]]`(input, drop)`,
    * written only when `withData`; `message`/`correlation_id` are read only
    * when `promote`. Never throws: bytes that are not UTF-8, and whatever
    * Jackson rejects (its depth and number-length limits included), are
    * `malformed_json`.
    */
  def parseWire(
      input: UTF8String, drop: Array[String], promote: Boolean, withData: Boolean): InternalRow = {
    val out = new Array[Any](5)
    // bytes that are not UTF-8 are not a JSON text (RFC 8259 §8.1)
    if (input == null || !input.isValid) out(4) = MalformedJson
    else {
      val text = input.toString
      val ok =
        try scanWire(wireFactory, text, drop, promote, withData, out)
        catch {
          case _: Exception =>
            // a duplicate key (or a malformed line): re-read without the
            // detector; the tree keeps a repeated key's LAST value, as
            // jsonDropKeys does, while the scan keeps the first non-null
            java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
            try {
              scanWire(mapper.getFactory, text, drop, promote, withData = false, out) && {
                if (withData) out(3) = jsonDropKeys(input, drop)
                true
              }
            } catch { case _: Exception => false }
        }
      if (!ok) {
        java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
        out(4) = MalformedJson
      } else if (out(0) == null) out(4) = MissingCreated
    }
    new GenericInternalRow(out)
  }

  /** Walks one top-level object; false when the document is not one. */
  private def scanWire(
      f: JsonFactory, text: String, drop: Array[String],
      promote: Boolean, withData: Boolean, out: Array[Any]): Boolean = {
    import JsonToken._
    val p = f.createParser(text)
    try {
      if (p.nextToken() != START_OBJECT) return false
      val sw = if (withData) new java.io.StringWriter(text.length) else null
      val g = if (withData) f.createGenerator(sw) else null
      if (g != null) g.writeStartObject()
      var found = 0 // bit i: slot i has taken its first non-null value
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val name = p.currentName()
        t = p.nextToken()
        val slot =
          if (name == "created") 0
          else if (promote && name == "message") 1
          else if (promote && name == "correlation_id") 2
          else -1
        if (slot >= 0 && (found & (1 << slot)) == 0 && t != VALUE_NULL) {
          found |= 1 << slot
          out(slot) = if (slot == 0) createdOf(p, t) else renderedOf(f, p, t)
        } else if (g == null || drop.contains(name)) p.skipChildren()
        else {
          g.writeFieldName(name)
          g.copyCurrentStructure(p)
        }
        t = p.nextToken()
      }
      if (g != null) {
        g.writeEndObject()
        g.close()
        out(3) = UTF8String.fromString(sw.toString)
      }
      true
    } finally p.close()
  }

  /** `try_cast(get_json_object(_, '$.created') AS DOUBLE)`, null unless
    * `created × 10⁶` fits a Long: `timestamp_seconds` has no time for NaN
    * or infinity, and saturates past ±2⁶³ microseconds (year ±294247)
    * instead of failing. */
  private def createdOf(p: JsonParser, t: JsonToken): Any = {
    import JsonToken._
    val d: Any = t match {
      case VALUE_STRING =>
        val s = p.getText
        try java.lang.Double.parseDouble(s)
        catch {
          case _: NumberFormatException =>
            Cast.processFloatingPointSpecialLiterals(s, false)
        }
      case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT => p.getDoubleValue
      case _ => p.skipChildren(); null
    }
    d match {
      case x: Double if x * 1e6 >= -TwoPow63 && x * 1e6 < TwoPow63 => x
      case _ => null
    }
  }

  /** 2⁶³, the first double past Long.MaxValue. */
  private val TwoPow63 = 9.223372036854775808e18

  /** `get_json_object`'s text of the current value, as its UTF-8
    * generator writes it: a string's own text (null if it holds an unpaired
    * surrogate, which that generator refuses), anything else compact JSON. */
  private def renderedOf(f: JsonFactory, p: JsonParser, t: JsonToken): UTF8String =
    if (t == JsonToken.VALUE_STRING) {
      val s = p.getText
      if (unpairedSurrogate(s)) null else UTF8String.fromString(s)
    } else {
      val bytes = new java.io.ByteArrayOutputStream()
      val g = f.createGenerator(bytes, JsonEncoding.UTF8)
      g.copyCurrentStructure(p)
      g.close()
      UTF8String.fromBytes(bytes.toByteArray)
    }

  private def unpairedSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))) return true
        i += 2
      } else if (Character.isLowSurrogate(c)) return true
      else i += 1
    }
    false
  }

  // -------------------------------------------------------- hyperplane LSH

  /** Rademacher (+1/-1) plane component for (plane p, dim i), via the
    * SplitMix64 finalizer (public constant mixer) — a weak linear mix here
    * correlates the planes and collapses LSH recall (measured 0.36
    * recall@10 with `(i*A + p*B) >> 17 & 1`). Single source of truth for
    * executor expression AND driver-side [[graft.operators.Similarity.signatureOf]].
    */
  def planeSign(i: Long, p: Long): Double =
    if ((mix64(i * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL) & 1L) == 0L) 1.0
    else -1.0

  /** Bit p of the result = sign of dot(v, plane_p); planes are the
    * deterministic [[planeSign]] Rademacher matrix — no stored planes, any
    * executor recomputes them. Null (boxed) on any null element — same
    * NULL-propagation discipline as [[dot]]/[[norm]]: a corrupt vector gets
    * no bucket at all rather than an arbitrary silent one.
    */
  def hyperplaneSig(arr: ArrayData, planes: Int, isFloat: Boolean): java.lang.Long = {
    val n = arr.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        s += x * planeSign(i.toLong, p.toLong)
        i += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  // ------------------------------------------------- sorted-set intersect

  /** |A ∩ B| for two SORTED long arrays: one merge scan, O(|A|+|B|), no
    * allocation. This is the hot kernel of the exact-Jaccard verify pass —
    * Spark's `array_intersect` builds a hash set per call, which at
    * 100k+ candidate pairs x 100+ shingles dominates dedup runtime.
    * Duplicate values (64-bit hash collisions within one doc — vanishingly
    * rare) are counted once per matching run, matching set semantics as
    * long as inputs are distinct-element arrays.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Count of positions where two equal-length long arrays agree — the
    * MinHash signature-agreement estimator (est_jaccard numerator). The
    * zip_with + aggregate composition evaluates an interpreted lambda per
    * element per pair; this is one primitive loop.
    */
  def positionalAgreeCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
