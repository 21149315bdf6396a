package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the sketch hot paths.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are
  * evaluated interpreted with per-element boxing — a 64-permutation
  * MinHash written as nested `transform`s cost ~46 ms/doc; these
  * primitive-loop `eval`s cost ~10 µs/doc. Both consume the 64-bit
  * shingle-hash array produced by the codegen'd `xxhash64`, so only
  * the sketch kernel leaves codegen.
  */

/** MinHash signature: k permutation-hashes h_i(x)=(a_i·x+b_i) mod p
  * over the (32-bit-masked) input hashes, min per permutation.
  * Constants match graft.operators.Dedup docs (mask keeps a_i·h+b_i
  * under 2^53 — exact, no overflow).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {
  // VALUE NOTE: the classical form is ((h & 0xFFFFFFFF)·a_i + b_i)
  // mod (2^61−1). With h masked to 32 bits (h < 2^32), a_i =
  // 2i+1000003 < 2^27 + 2^20 and b_i = 104729i+780291637 < 2^43 for
  // any k ≤ 2^26, the dividend is < 2^59 + 2^52 + 2^43, about 2^59 —
  // strictly below the Mersenne prime — so the modulo is the
  // IDENTITY and is elided (a 64-bit division per (perm×shingle)
  // for nothing; measured ~35% of the kernel). The loops are also
  // interchanged (hash outer, permutation inner) so each input hash
  // is read and masked once instead of k times; min per permutation
  // is order-free, so values are bit-identical either way.
  require(k <= (1 << 26), "k too large for the mod-free identity")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < hs.length) {
      val h = hs(j) & 0xFFFFFFFFL
      var a = 1000003L
      var b = 780291637L
      var i = 0
      while (i < k) {
        val x = h * a + b
        if (x < out(i)) out(i) = x
        a += 2L; b += 104729L
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  // full codegen (not fallback): the sketch runs once per document in
  // every dedup pipeline's scan stage; fallback would box the hash
  // array and split the surrounding WholeStageCodegen span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val a = ctx.freshName("a"); val b = ctx.freshName("b")
      val h = ctx.freshName("h"); val x = ctx.freshName("x")
      s"""
         |int $n = $in.numElements();
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = $in.getLong($j) & 0xFFFFFFFFL;
         |  long $a = 1000003L;
         |  long $b = 780291637L;
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $x = $h * $a + $b;
         |    if ($x < $out[$i]) $out[$i] = $x;
         |    $a += 2L; $b += 104729L;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** 64-bit SimHash over the input hash array: per bit, count +1/-1
  * across hashes, pack the signs. Equivalent to the distributed
  * [[graft.functions.SimHashAgg]] but computed per-row with no
  * explode/shuffle — the right shape when one document's tokens fit
  * a row (SimHashAgg remains for token streams that don't).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData].toLongArray()
    val counts = new Array[Int](64)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  // full codegen mirror of nullSafeEval (same sign convention:
  // strictly-positive counts set the bit)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val j = ctx.freshName("j"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val cnt = ctx.freshName("cnt"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $in.numElements();
         |int[] $cnt = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = $in.getLong($j);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $cnt[$b]++; else $cnt[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($cnt[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** 64-bit hashes of word n-gram shingles from a token array, in one
  * primitive pass: FNV-1a over each token's bytes, then a rolling
  * polynomial combine across the n-gram window. Replaces the
  * interpreted `transform(slice+concat_ws)+xxhash64` pipeline
  * (string rebuilding per shingle) for MinHash/SimHash inputs.
  * Shorter-than-n docs yield one shingle over all tokens, matching
  * TextFunctions.shingles.
  */
case class TokenShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // full codegen mirror of nullSafeEval: FNV-1a per token, rolling
  // 31-polynomial across the n-gram window, single shingle for
  // shorter-than-n docs
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val m = ctx.freshName("m"); val i = ctx.freshName("i")
      val bs = ctx.freshName("bs"); val bi = ctx.freshName("bi")
      val h = ctx.freshName("h"); val tok = ctx.freshName("tok")
      val out = ctx.freshName("out"); val s = ctx.freshName("s")
      val j = ctx.freshName("j"); val h2 = ctx.freshName("h2")
      s"""
         |int $m = $in.numElements();
         |long[] $tok = new long[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  byte[] $bs = $in.getUTF8String($i).getBytes();
         |  long $h = 0xcbf29ce484222325L;
         |  for (int $bi = 0; $bi < $bs.length; $bi++) {
         |    $h ^= ($bs[$bi] & 0xffL); $h *= 0x100000001b3L;
         |  }
         |  $tok[$i] = $h;
         |}
         |long[] $out;
         |if ($m <= $n) {
         |  long $h2 = 1125899906842597L;
         |  for (int $j = 0; $j < $m; $j++) { $h2 = $h2 * 31L + $tok[$j]; }
         |  $out = new long[]{$h2};
         |} else {
         |  $out = new long[$m - $n + 1];
         |  for (int $s = 0; $s <= $m - $n; $s++) {
         |    long $h2 = 1125899906842597L;
         |    for (int $j = $s; $j < $s + $n; $j++) { $h2 = $h2 * 31L + $tok[$j]; }
         |    $out[$s] = $h2;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  private def fnv1a(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val tok = new Array[Long](m)
    var i = 0
    while (i < m) {
      tok(i) = fnv1a(arr.getUTF8String(i).getBytes)
      i += 1
    }
    val out =
      if (m <= n) {
        var h = 1125899906842597L
        var j = 0
        while (j < m) { h = h * 31L + tok(j); j += 1 }
        Array(h)
      } else {
        val o = new Array[Long](m - n + 1)
        var s = 0
        while (s <= m - n) {
          var h = 1125899906842597L
          var j = s
          while (j < s + n) { h = h * 31L + tok(j); j += 1 }
          o(s) = h
          s += 1
        }
        o
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TokenShingleHashes =
    copy(child = c)
}

/** Word n-gram shingle STRINGS from a token array, in one primitive
  * pass over UTF8Strings — the string twin of [[TokenShingleHashes]]
  * for operators whose oracle must reproduce the shingle text
  * (exact n-gram Jaccard). Replaces the interpreted
  * `transform(sequence, slice, concat_ws)` pipeline, which costs
  * ~0.9 ms/doc boxed vs ~5 µs/doc here. Shorter-than-n docs yield
  * one shingle over all tokens, matching TextFunctions.shingles.
  */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)
  import org.apache.spark.unsafe.types.UTF8String
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // full codegen mirror of nullSafeEval: concatWs over each n-token
  // window, one shingle over all tokens for shorter-than-n docs
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      val m = ctx.freshName("m"); val i = ctx.freshName("i")
      val tok = ctx.freshName("tok"); val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val win = ctx.freshName("win"); val sep = ctx.freshName("sep")
      s"""
         |int $m = $in.numElements();
         |$u8 $sep = $u8.fromString(" ");
         |$u8[] $tok = new $u8[$m];
         |for (int $i = 0; $i < $m; $i++) { $tok[$i] = $in.getUTF8String($i); }
         |Object[] $out;
         |if ($m < $n) {
         |  $out = new Object[]{$u8.concatWs($sep, $tok)};
         |} else {
         |  $out = new Object[$m - $n + 1];
         |  $u8[] $win = new $u8[$n];
         |  for (int $s = 0; $s <= $m - $n; $s++) {
         |    for (int $j = 0; $j < $n; $j++) { $win[$j] = $tok[$s + $j]; }
         |    $out[$s] = $u8.concatWs($sep, $win);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val sep = UTF8String.fromString(" ")
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val tok = new Array[UTF8String](m)
    var i = 0
    while (i < m) { tok(i) = arr.getUTF8String(i); i += 1 }
    val out =
      if (m < n) Array[AnyRef](UTF8String.concatWs(sep, tok: _*))
      else {
        val o = new Array[AnyRef](m - n + 1)
        val win = new Array[UTF8String](n)
        var s = 0
        while (s <= m - n) {
          var j = 0
          while (j < n) { win(j) = tok(s + j); j += 1 }
          o(s) = UTF8String.concatWs(sep, win: _*)
          s += 1
        }
        o
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TokenShingles =
    copy(child = c)
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03 — the MOSS algorithm): Rabin-Karp polynomial hashes of
  * all character k-grams, then the minimum hash of each window of w
  * consecutive k-grams; the fingerprint is the sorted distinct set
  * of window minima. Guarantees any shared substring of length
  * ≥ k + w - 1 contributes a common fingerprint hash, while keeping
  * the fingerprint ~2/(w+1) the size of the k-gram set.
  *
  * Hash: h = fold(chars)((a, c) => (a * 257 + c) mod 1e9+7), seeded
  * with the first char — exactly a DuckDB `list_reduce`, so the
  * oracle can replay it. Characters are the string's BYTES (the
  * corpus contract is ASCII; for multi-byte input the fingerprint is
  * still deterministic, just byte-based). Shorter-than-k texts hash
  * whole; fewer-than-w k-grams yield one global-min window.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1)
  private val P = 1000000007L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val bs = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = bs.length
    // true Rabin-Karp rolling hash: O(n) instead of O(n·k) — drop the
    // leading byte's 257^(k-1) term, shift, add the new byte. Values
    // stay < P < 2^30 so every intermediate fits a long.
    val kh =
      if (n == 0) Array(0L)
      else if (n < k) {
        var h = bs(0) & 0xffL
        var i = 1
        while (i < n) { h = (h * 257L + (bs(i) & 0xffL)) % P; i += 1 }
        Array(h)
      } else {
        val o = new Array[Long](n - k + 1)
        var h = bs(0) & 0xffL
        var i = 1
        while (i < k) { h = (h * 257L + (bs(i) & 0xffL)) % P; i += 1 }
        o(0) = h
        var pow = 1L
        i = 1
        while (i < k) { pow = pow * 257L % P; i += 1 }
        var s = 1
        while (s <= n - k) {
          h = (h - (bs(s - 1) & 0xffL) * pow % P + P) % P
          h = (h * 257L + (bs(s + k - 1) & 0xffL)) % P
          o(s) = h
          s += 1
        }
        o
      }
    val m = kh.length
    // monotonic-deque sliding minimum: O(m) instead of O(m·w)
    val mins =
      if (m < w) {
        var mn = Long.MaxValue
        var i = 0
        while (i < m) { if (kh(i) < mn) mn = kh(i); i += 1 }
        Array(mn)
      } else {
        val o = new Array[Long](m - w + 1)
        val dq = new Array[Int](m)
        var head = 0
        var tail = 0
        var i = 0
        while (i < m) {
          while (tail > head && kh(dq(tail - 1)) >= kh(i)) tail -= 1
          dq(tail) = i; tail += 1
          if (dq(head) <= i - w) head += 1
          if (i >= w - 1) o(i - w + 1) = kh(dq(head))
          i += 1
        }
        o
      }
    java.util.Arrays.sort(mins)
    var u = 0
    var i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(u) = mins(i); u += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, u))
  }

  // full codegen mirror of nullSafeEval — the fingerprint runs once
  // per document in the scan stage; fallback would split the span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val bs = ctx.freshName("bs"); val n = ctx.freshName("n")
      val kh = ctx.freshName("kh"); val m = ctx.freshName("m")
      val mins = ctx.freshName("mins"); val h = ctx.freshName("h")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val s = ctx.freshName("s"); val mn = ctx.freshName("mn")
      val u = ctx.freshName("u"); val pow = ctx.freshName("pow")
      val dq = ctx.freshName("dq"); val hd = ctx.freshName("hd")
      val tl = ctx.freshName("tl")
      s"""
         |byte[] $bs = $in.getBytes();
         |int $n = $bs.length;
         |long[] $kh;
         |if ($n == 0) {
         |  $kh = new long[]{0L};
         |} else if ($n < $k) {
         |  long $h = $bs[0] & 0xffL;
         |  for (int $i = 1; $i < $n; $i++) { $h = ($h * 257L + ($bs[$i] & 0xffL)) % ${P}L; }
         |  $kh = new long[]{$h};
         |} else {
         |  $kh = new long[$n - $k + 1];
         |  long $h = $bs[0] & 0xffL;
         |  for (int $i = 1; $i < $k; $i++) { $h = ($h * 257L + ($bs[$i] & 0xffL)) % ${P}L; }
         |  $kh[0] = $h;
         |  long $pow = 1L;
         |  for (int $i = 1; $i < $k; $i++) { $pow = $pow * 257L % ${P}L; }
         |  for (int $s = 1; $s <= $n - $k; $s++) {
         |    $h = ($h - ($bs[$s - 1] & 0xffL) * $pow % ${P}L + ${P}L) % ${P}L;
         |    $h = ($h * 257L + ($bs[$s + $k - 1] & 0xffL)) % ${P}L;
         |    $kh[$s] = $h;
         |  }
         |}
         |int $m = $kh.length;
         |long[] $mins;
         |if ($m < $w) {
         |  long $mn = Long.MAX_VALUE;
         |  for (int $i = 0; $i < $m; $i++) { if ($kh[$i] < $mn) $mn = $kh[$i]; }
         |  $mins = new long[]{$mn};
         |} else {
         |  $mins = new long[$m - $w + 1];
         |  int[] $dq = new int[$m];
         |  int $hd = 0; int $tl = 0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    while ($tl > $hd && $kh[$dq[$tl - 1]] >= $kh[$i]) $tl--;
         |    $dq[$tl++] = $i;
         |    if ($dq[$hd] <= $i - $w) $hd++;
         |    if ($i >= $w - 1) $mins[$i - $w + 1] = $kh[$dq[$hd]];
         |  }
         |}
         |java.util.Arrays.sort($mins);
         |int $u = 0;
         |for (int $i = 0; $i < $mins.length; $i++) {
         |  if ($i == 0 || $mins[$i] != $mins[$i - 1]) { $mins[$u++] = $mins[$i]; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($mins, $u));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
}

/** Double-array dot product with strict left-fold order:
  * ((0 + a0·b0) + a1·b1) + … — exactly the evaluation order of
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` and of a sequential
  * SQL list_sum, so results are bit-identical to the interpreted
  * HOF form (and the DuckDB oracle) while evaluating ~50× faster.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // PRECONDITION: equal-length arrays. Every call site dots vectors
  // of one embedding corpus (fixed dimensionality), which this
  // truncating min() neither checks nor can repair: on a length
  // mismatch the HOF form aggregate(zip_with(a,b,(x,y)->x*y),0d,..)
  // returns NULL (zip_with null-pads the shorter side) while this
  // returns a partial sum — the bit-identity claim above holds only
  // under the equal-length precondition.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }

  // full doGenCode (not CodegenFallback): this expression sits in the
  // per-pair inner loop of the embedding-similarity joins, where a
  // fallback would box two arrays per candidate pair and break the
  // surrounding WholeStageCodegen span. Elements must be non-null
  // (embedding vectors) — same contract as the eval path's
  // toDoubleArray.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Shared md5→60-bit kernel for [[Md5TokenHashes]]: value of the
  * first 15 hex chars of md5 (base-16) computed straight from the
  * digest bytes — bit-identical to
  * conv(substring(md5(t),1,15),16,10) and to the DuckDB oracle's
  * hex-fold, without materializing the hex string. ThreadLocal
  * digest: MessageDigest is not thread-safe and codegen'd operators
  * run one instance per task thread.
  */
object Md5Hash60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get(); d.reset()
    val b = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) >> 4) & 0xfL)
  }
}

/** Portable 60-bit md5 token hashes: array<string> → array<long>,
  * one hash per token (distinct is the caller's concern). Replaces
  * the interpreted transform(conv(substring(md5(t),1,15),16,10))
  * pipeline — same values, one primitive pass, no hex-string
  * round-trip, no per-element boxing.
  */
case class Md5TokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val m = ctx.freshName("m"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $m = $in.numElements();
         |long[] $out = new long[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $out[$i] = graft.plans.Md5Hash60.hash($in.getUTF8String($i));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = Md5Hash60.hash(arr.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Md5TokenHashes =
    copy(child = c)
}

/** Count of greedy `[a-z]{1,maxLen}` regex matches in one primitive
  * byte scan: each maximal lowercase-alpha run of length L
  * contributes ⌈L/maxLen⌉ matches, so the count needs no match
  * materialization at all. Value-identical to
  * size(regexp_extract_all(s, "[a-z]{1,maxLen}", 0)) — the
  * t_token_count BPE-proxy subword count — without the regex
  * engine or the array allocation (PropertySpec pins equality on
  * random strings). Byte-wise scan is UTF-8-safe: continuation and
  * lead bytes are ≥ 0x80 and never match 'a'..'z'.
  */
case class AlphaChunkCount(child: Expression, maxLen: Int)
    extends UnaryExpression {
  require(maxLen >= 1, "maxLen must be positive")
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var i = 0; var count = 0L
    while (i < b.length) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        var run = 0
        while (i < b.length && b(i) >= 'a' && b(i) <= 'z') { run += 1; i += 1 }
        count += (run + maxLen - 1) / maxLen
      } else i += 1
    }
    java.lang.Long.valueOf(count)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val b = ctx.freshName("b"); val i = ctx.freshName("i")
      val run = ctx.freshName("run"); val cnt = ctx.freshName("cnt")
      s"""
         |byte[] $b = $in.getBytes();
         |long $cnt = 0L;
         |int $i = 0;
         |while ($i < $b.length) {
         |  if ($b[$i] >= 'a' && $b[$i] <= 'z') {
         |    int $run = 0;
         |    while ($i < $b.length && $b[$i] >= 'a' && $b[$i] <= 'z') { $run++; $i++; }
         |    $cnt += ($run + ${maxLen - 1}) / $maxLen;
         |  } else $i++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): AlphaChunkCount =
    copy(child = c)
}

object HashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def md5TokenHashes(tokens: Column): Column =
    ColumnBridge.column(Md5TokenHashes(ColumnBridge.expression(tokens)))
  def alphaChunkCount(text: Column, maxLen: Int): Column =
    ColumnBridge.column(AlphaChunkCount(ColumnBridge.expression(text), maxLen))
  def minhash(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), k))
  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))
  def tokenShingleHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(TokenShingleHashes(ColumnBridge.expression(tokens), n))
  def tokenShingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(TokenShingles(ColumnBridge.expression(tokens), n))
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
  def winnowFingerprint(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprint(ColumnBridge.expression(text), k, w))
}
