package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar function surface (SURVEY §2.8) as a facade of
  * Spark `Column` expressions — every Gandiva registry name
  * (`cpp/src/gandiva/function_registry_*.cc`) and DataFusion operator
  * (`rust/datafusion/src/logicalplan.rs:90-123`) maps here, with the
  * reference's null/overflow conventions pinned where they differ from
  * Spark defaults.
  *
  * Everything is a plain `functions._` composition — codegen-friendly,
  * no UDFs — so the whole facade stays inside whole-stage codegen.
  */
package object functions {

  // ---- arithmetic (function_registry_arithmetic.cc:20-67) ----
  def add(a: Column, b: Column): Column = a + b
  def subtract(a: Column, b: Column): Column = a - b
  def multiply(a: Column, b: Column): Column = a * b
  def divide(a: Column, b: Column): Column = a / b
  /** integer division (Gandiva `div`): truncates toward zero.
    * Spark's IntegralDivide (`div`) is exact long arithmetic — `/` on
    * longs would round-trip through double and lose precision for
    * |quotient| > 2^53. */
  def div(a: Column, b: Column): Column =
    call_function("div", a.cast(LongType), b.cast(LongType)).cast(LongType)
  /** modulo (sign of dividend, like Gandiva mod / Rust %). */
  def mod(a: Column, b: Column): Column = a % b

  // ---- comparison (logicalplan.rs:91-102) ----
  def eq(a: Column, b: Column): Column = a === b
  def not_equal(a: Column, b: Column): Column = a =!= b
  def less_than(a: Column, b: Column): Column = a < b
  def less_than_or_equal_to(a: Column, b: Column): Column = a <= b
  def greater_than(a: Column, b: Column): Column = a > b
  def greater_than_or_equal_to(a: Column, b: Column): Column = a >= b
  /** is_not_distinct_from (function_registry_math_ops.cc): null-safe =. */
  def is_not_distinct_from(a: Column, b: Column): Column = a <=> b
  def is_distinct_from(a: Column, b: Column): Column = !(a <=> b)

  // ---- math (function_registry_math_ops.cc:29-64) ----
  def cbrt(c: Column): Column = org.apache.spark.sql.functions.cbrt(c)
  def exp(c: Column): Column = org.apache.spark.sql.functions.exp(c)
  def log(c: Column): Column = org.apache.spark.sql.functions.log(c)
  def log10(c: Column): Column = org.apache.spark.sql.functions.log10(c)
  /** log(base, x) — Gandiva two-arg log. */
  def log(base: Double, x: Column): Column =
    org.apache.spark.sql.functions.log(base, x)
  def power(a: Column, b: Column): Column = pow(a, b)
  def isnull(c: Column): Column = c.isNull
  def isnotnull(c: Column): Column = c.isNotNull
  /** isnumeric: string parses as a number (Gandiva isnumeric).
    * Spark's cast also accepts "Infinity"/"NaN" spellings, which the
    * reference's strtod-based check would reject — excluded here. */
  def isnumeric(c: Column): Column =
    c.cast(DoubleType).isNotNull &&
      !upper(trim(c)).isin("INFINITY", "-INFINITY", "+INFINITY", "INF",
        "-INF", "+INF", "NAN")
  def abs(c: Column): Column = org.apache.spark.sql.functions.abs(c)
  def ceil(c: Column): Column = org.apache.spark.sql.functions.ceil(c)
  def floor(c: Column): Column = org.apache.spark.sql.functions.floor(c)
  def round(c: Column): Column = org.apache.spark.sql.functions.round(c)
  def round(c: Column, scale: Int): Column =
    org.apache.spark.sql.functions.round(c, scale)
  /** truncate(x, scale): toward zero at given decimal scale (Gandiva
    * truncate; Spark has no numeric truncate builtin). */
  def truncate(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    val scaled = c * lit(p)
    (when(scaled >= 0, org.apache.spark.sql.functions.floor(scaled))
      .otherwise(org.apache.spark.sql.functions.ceil(scaled)) / lit(p))
  }
  def truncate(c: Column): Column = truncate(c, 0)
  /** random/rand (seeded, function_registry_math_ops.cc). */
  def random(seed: Long): Column = rand(seed)

  // ---- string (function_registry_string.cc:20-97) ----
  def starts_with(c: Column, prefix: String): Column = c.startsWith(prefix)
  def ends_with(c: Column, suffix: String): Column = c.endsWith(suffix)
  /** locate/position(sub, str[, start]) — 1-based, 0 = not found. */
  def locate(sub: String, str: Column): Column =
    org.apache.spark.sql.functions.locate(sub, str)
  def locate(sub: String, str: Column, pos: Int): Column =
    org.apache.spark.sql.functions.locate(sub, str, pos)
  def octet_length(c: Column): Column =
    org.apache.spark.sql.functions.octet_length(c)
  def bit_length(c: Column): Column =
    org.apache.spark.sql.functions.bit_length(c)
  /** char_length/length/lengthUtf8 — UTF-8 code points. */
  def char_length(c: Column): Column = org.apache.spark.sql.functions.length(c)
  def reverse(c: Column): Column = org.apache.spark.sql.functions.reverse(c)
  def upper(c: Column): Column = org.apache.spark.sql.functions.upper(c)
  def lower(c: Column): Column = org.apache.spark.sql.functions.lower(c)
  /** castVARCHAR(x, len): cast to string truncated to len chars. */
  def castVARCHAR(c: Column, len: Int): Column =
    substring(c.cast(StringType), 1, len)
  /** convert_fromUTF8(binary) → string (function_registry_string.cc:
    * 20-97 convert_fromUTF8): reinterpret UTF-8 bytes as text. Spark's
    * binary→string cast is the same no-validation reinterpretation. */
  def convert_fromUTF8(c: Column): Column = c.cast(StringType)
  /** convert_toUTF8 / binary cast: text → its UTF-8 bytes. */
  def convert_toUTF8(c: Column): Column = c.cast(BinaryType)
  def like(c: Column, pattern: String): Column = c.like(pattern)
  /** substr/substring — 1-based offset like the reference. */
  def substr(c: Column, pos: Int, len: Int): Column = substring(c, pos, len)
  def substr(c: Column, pos: Int): Column =
    c.substr(lit(pos), org.apache.spark.sql.functions.length(c))
  /** Reference `concat`: null behaves as empty string
    * (function_registry_string.cc — null→""). Spark's concat
    * null-propagates, so this is concat_ws(""). */
  def concat(cols: Column*): Column = concat_ws("", cols: _*)
  /** Reference `concatOperator` (||): null-propagating — Spark concat. */
  def concatOperator(cols: Column*): Column =
    org.apache.spark.sql.functions.concat(cols: _*)
  def replace(c: Column, from: String, to: String): Column =
    org.apache.spark.sql.functions.replace(c, lit(from), lit(to))
  /** ltrim/rtrim/btrim(str, trimChars): strip a character SET from the
    * ends (Gandiva ltrim/rtrim/btrim two-arg forms). */
  def ltrim(c: Column, chars: String): Column =
    org.apache.spark.sql.functions.ltrim(c, chars)
  def rtrim(c: Column, chars: String): Column =
    org.apache.spark.sql.functions.rtrim(c, chars)
  def btrim(c: Column, chars: String): Column =
    org.apache.spark.sql.functions.btrim(c, lit(chars))
  def lpad(c: Column, len: Int, pad: String): Column =
    org.apache.spark.sql.functions.lpad(c, len, pad)
  def rpad(c: Column, len: Int, pad: String): Column =
    org.apache.spark.sql.functions.rpad(c, len, pad)
  /** split_part(str, delim, n): 1-based field extract, "" when out of
    * range (Gandiva split_part convention). */
  def split_part(c: Column, delim: String, n: Int): Column =
    call_function("split_part", c, lit(delim), lit(n))
  def ascii(c: Column): Column = org.apache.spark.sql.functions.ascii(c)
  def repeat(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.repeat(c, n)
  def left(c: Column, n: Int): Column =
    call_function("left", c, lit(n))
  def right(c: Column, n: Int): Column =
    call_function("right", c, lit(n))
  def translate(c: Column, from: String, to: String): Column =
    org.apache.spark.sql.functions.translate(c, from, to)
  def levenshtein(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.levenshtein(a, b)
  def initcap(c: Column): Column = org.apache.spark.sql.functions.initcap(c)

  // ---- datetime extract (function_registry_datetime.cc:23-44) ----
  def extractYear(c: Column): Column = year(c)
  def extractQuarter(c: Column): Column = quarter(c)
  def extractMonth(c: Column): Column = month(c)
  def extractWeek(c: Column): Column = weekofyear(c)
  def extractDay(c: Column): Column = dayofmonth(c)
  def extractHour(c: Column): Column = hour(c)
  def extractMinute(c: Column): Column = minute(c)
  def extractSecond(c: Column): Column = second(c)
  def extractDoy(c: Column): Column = dayofyear(c)
  /** extractDow: ISO day-of-week 1=Monday..7=Sunday (Gandiva uses
    * PostgreSQL EXTRACT(DOW) numbering shifted; we pin ISO and test
    * it — Spark dayofweek is 1=Sunday so shift). */
  def extractDow(c: Column): Column = ((dayofweek(c) + 5) % 7) + 1
  /** extractEpoch: seconds since epoch. */
  def extractEpoch(c: Column): Column = unix_timestamp(c)
  def extractMillennium(c: Column): Column =
    org.apache.spark.sql.functions.floor((year(c) - 1) / 1000) + 1
  def extractCentury(c: Column): Column =
    org.apache.spark.sql.functions.floor((year(c) - 1) / 100) + 1
  def extractDecade(c: Column): Column =
    org.apache.spark.sql.functions.floor(year(c) / 10)
  def date_trunc(unit: String, c: Column): Column =
    org.apache.spark.sql.functions.date_trunc(unit, c)
  def castDATE(c: Column): Column =
    org.apache.spark.sql.functions.to_date(c)
  def castTIMESTAMP(c: Column): Column = to_timestamp(c)
  def to_date(c: Column, fmt: String): Column =
    org.apache.spark.sql.functions.to_date(c, fmt)

  // ---- timestamp arithmetic (function_registry_timestamp_arithmetic.cc) ----
  def months_between(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.months_between(a, b)
  private val zero = lit(0)
  def timestampaddSecond(n: Column, ts: Column): Column =
    ts + make_interval(zero, zero, zero, zero, zero, zero, n)
  def timestampaddMinute(n: Column, ts: Column): Column =
    ts + make_interval(zero, zero, zero, zero, zero, n, zero)
  def timestampaddHour(n: Column, ts: Column): Column =
    ts + make_interval(zero, zero, zero, zero, n, zero, zero)
  def timestampaddDay(n: Column, ts: Column): Column =
    ts + make_interval(zero, zero, zero, n, zero, zero, zero)
  def timestampaddWeek(n: Column, ts: Column): Column =
    ts + make_interval(zero, zero, n, zero, zero, zero, zero)
  def timestampaddMonth(n: Column, ts: Column): Column =
    ts + make_interval(zero, n, zero, zero, zero, zero, zero)
  def timestampaddQuarter(n: Column, ts: Column): Column =
    ts + make_interval(zero, n * 3, zero, zero, zero, zero, zero)
  def timestampaddYear(n: Column, ts: Column): Column =
    ts + make_interval(n, zero, zero, zero, zero, zero, zero)
  /** timestampdiff<Unit>(a, b) = complete units from a to b, truncated
    * toward zero (MySQL TIMESTAMPDIFF convention, as in Gandiva).
    * Microsecond-exact: differencing `unix_timestamp` values would
    * FLOOR each side independently, reporting 1 complete second for a
    * 0.1 s interval that straddles a second boundary (and -1 where
    * toward-zero truncation requires 0). The toward-zero `div` nests
    * correctly, so the coarser units inherit the exactness. */
  def timestampdiffSecond(a: Column, b: Column): Column =
    // cast: unix_micros (unlike unix_timestamp) rejects TIMESTAMP_NTZ;
    // the session-zone reinterpretation cancels in the difference
    div(unix_micros(b.cast(TimestampType)) -
      unix_micros(a.cast(TimestampType)), lit(1000000L))
  def timestampdiffMinute(a: Column, b: Column): Column =
    div(timestampdiffSecond(a, b), lit(60L))
  def timestampdiffHour(a: Column, b: Column): Column =
    div(timestampdiffSecond(a, b), lit(3600L))
  def timestampdiffDay(a: Column, b: Column): Column =
    div(timestampdiffSecond(a, b), lit(86400L))
  def timestampdiffWeek(a: Column, b: Column): Column =
    div(timestampdiffSecond(a, b), lit(604800L))
  /** Signed COMPLETE months from a to b — the Gandiva algorithm
    * verbatim (`precompiled/timestamp_arithmetic.cc:36-86`
    * TIMESTAMP_DIFF_MONTH_UNITS): swap to positive order, take the
    * calendar month delta, subtract one when the end (day-of-month,
    * time-of-day) precedes the start's, sign-adjust. Pure integer
    * arithmetic — unlike `months_between`-based forms there is no
    * 31-day fraction and no both-last-day special case, so the value
    * is identical on any engine. */
  private def monthsComplete(a: Column, b: Column): Column = {
    def delta(lo: Column, hi: Column): Column = {
      val md = (year(hi) - year(lo)) * 12 + (month(hi) - month(lo))
      // (day-of-month, time-of-day) as one comparable second count
      def key(t: Column): Column =
        dayofmonth(t).cast(LongType) * 86400L +
          hour(t) * 3600L + minute(t) * 60L + second(t)
      md - when(key(hi) < key(lo), 1).otherwise(0)
    }
    when(b >= a, delta(a, b)).otherwise(-delta(b, a)).cast(IntegerType)
  }
  def timestampdiffMonth(a: Column, b: Column): Column =
    monthsComplete(a, b)
  def timestampdiffQuarter(a: Column, b: Column): Column =
    div(monthsComplete(a, b), lit(3L)).cast(IntegerType)
  def timestampdiffYear(a: Column, b: Column): Column =
    div(monthsComplete(a, b), lit(12L)).cast(IntegerType)
  /** HALF_FLOAT decode (SURVEY §1.2; Arrow `type.h:78`): IEEE 754
    * binary16 bits (as an int in [0, 65535]) → the exactly-equal
    * float32. Pure sign/exponent/mantissa arithmetic: every binary16
    * value is exactly representable in binary32/64 and every
    * intermediate here (m/1024, 1+m/1024, ×2^(e−15)) is exact in
    * double, so the result is bit-determined on any engine — the
    * convention an ingest path applies when a source hands us raw f16
    * buffers. NaN decodes to NULL (cross-engine NaN has no equality),
    * ±Inf and ±0 decode faithfully. */
  def halfFloatToFloat(bits: Column): Column = {
    val b = bits.cast(IntegerType)
    val sgn = when(shiftright(b, 15).bitwiseAND(lit(1)) === 1, lit(-1.0d))
      .otherwise(lit(1.0d))
    val e = shiftright(b, 10).bitwiseAND(lit(31))
    val m = b.bitwiseAND(lit(1023)).cast(DoubleType)
    when(e === 31, when(m === 0.0d, sgn * lit(Double.PositiveInfinity))
        .otherwise(lit(null).cast(DoubleType)))                 // NaN → NULL
      .when(e === 0, sgn * m * lit(math.pow(2.0, -24)))         // subnormal
      .otherwise(sgn * (lit(1.0d) + m / 1024.0d) *
        pow(lit(2.0d), e.cast(DoubleType) - 15.0d))
      .cast(FloatType)
  }

  def date_add(d: Column, n: Int): Column =
    org.apache.spark.sql.functions.date_add(d, n)
  def date_sub(d: Column, n: Int): Column =
    org.apache.spark.sql.functions.date_sub(d, n)
  def date_diff(a: Column, b: Column): Column = datediff(a, b)

  // ---- native kernels (CosineSimilarity.scala, TextVectorKernels.scala) ----
  /** Codegen'd cosine similarity over float vectors; registered by
    * GraftExtensions. */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)
  /** Sorted distinct xxhash64 values of word-n-gram shingles. */
  def shingle_hashes(text: Column, n: Int): Column =
    call_function("shingle_hashes", text, lit(n))
  /** |A ∩ B| of two sorted distinct long arrays (merge walk): the
    * count-only, allocation-free `size(array_intersect(a, b))` for
    * shingle-hash sets. Inputs must be sorted distinct. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
  /** Fused single-pass token profile — struct(n_tok, n_stop,
    * n_stop_distinct, n_alpha, n_sym) with split(' ') semantics; the
    * codegen replacement for interpreted size(filter(split(...), λ))
    * chains. `stops` is a space-separated stop list. */
  def token_profile(text: Column, stops: String): Column =
    call_function("token_profile", text, lit(stops))
  /** Fused fastText-shaped margin: sum over distinct unigram+bigram
    * features of (first-12-md5-bits % 2001 - 1000). */
  def md5_margin(text: Column): Column =
    call_function("md5_margin", text)
  /** Bucketed md5 feature stream (non-empty unigrams + adjacent
    * '_'-joined bigrams, duplicates kept): (first-16-md5-bits) %
    * buckets per feature — the fused DSIR feature-hash chain. */
  def md5_bucket_feats(text: Column, buckets: Int): Column =
    call_function("md5_bucket_feats", text, lit(buckets))
  /** Sorted distinct first-64-md5-bit hashes of word-n-gram shingles
    * (the cross-engine hash of the SimHash exact oracle). */
  def md5_shingles64(text: Column, n: Int): Column =
    call_function("md5_shingles64", text, lit(n))
  /** Positional first-64-md5-bit hashes of word-n-gram windows —
    * entry i hashes the window starting at token i (order and
    * duplicates kept; the substring-dedup index form). */
  def md5_shingles_pos64(text: Column, n: Int): Column =
    call_function("md5_shingles_pos64", text, lit(n))
  /** Fused content-defined chunking: array of (chunk_id, digest,
    * n_words) structs, cut after word i+n-1 where the n-word window
    * hash ≡ 0 (mod `mod`) — the kernel form of the cdc_chunk
    * explode/union/window/groupBy pipeline. */
  def cdc_chunks(text: Column, n: Int, mod: Int): Column =
    call_function("cdc_chunks", text, lit(n), lit(mod))
  /** k chained-xxhash64 MinHash signatures over a shingle-hash set. */
  def minhash_sigs(hs: Column, k: Int): Column =
    call_function("minhash_sigs", hs, lit(k))
  /** 64-bit majority-vote SimHash signature over a shingle-hash set. */
  def simhash64(hs: Column): Column = call_function("simhash64", hs)
  /** Dot product of each plane in `planes` against `vec`. */
  def vector_dots(planes: Column, vec: Column): Column =
    call_function("vector_dots", planes, vec)
  /** `vector_dots` with the plane matrix on a broadcast variable
    * instead of a plan literal — plan size independent of k. */
  def vector_dots_bcast(
      planes: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      vec: Column): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    GraftBridge.column(
      BroadcastVectorDots(planes, GraftBridge.expression(vec)))
  }
  /** Keyed broadcast `vector_dots`: per-row matrix selected by the
    * LONG `key` column from a broadcast map (matrix per k-means cell). */
  def vector_dots_by_key(
      planes: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[java.lang.Long, Array[Array[Double]]]],
      key: Column, vec: Column): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    GraftBridge.column(BroadcastVectorDotsByKey(planes,
      GraftBridge.expression(key), GraftBridge.expression(vec)))
  }
  /** NFD + strip-accents + lowercase + whitespace-collapse (one
    * codegen'd kernel; NormalizeText.scala). */
  def normalize_text(text: Column): Column =
    call_function("normalize_text", text)
  /** Consecutive n-token segments of text (final segment may be
    * shorter); the corpus-dedup granularity between whole-document
    * and shingle. */
  def text_segments(text: Column, n: Int): Column =
    call_function("text_segments", text, lit(n))

  // ---- hash (function_registry_hash.cc:20-33) ----
  def hash32(c: Column): Column = org.apache.spark.sql.functions.hash(c)
  def hash64(c: Column): Column = xxhash64(c)

  // ---- sort conventions (SURVEY §2.6: reference nulls stably LAST) ----
  def ascNullsLast(c: Column): Column = c.asc_nulls_last
  def descNullsLast(c: Column): Column = c.desc_nulls_last

  // ---- unsigned widening casts (SURVEY §1.2 convention) ----
  def castFromUInt8(c: Column): Column = c.cast(ShortType)
  def castFromUInt16(c: Column): Column = c.cast(IntegerType)
  def castFromUInt32(c: Column): Column = c.cast(LongType)
  def castFromUInt64(c: Column): Column = c.cast(DecimalType(20, 0))
}
