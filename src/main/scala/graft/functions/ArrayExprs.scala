package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExpr
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot per-row/per-pair math of the
  * dedup + similarity suites.
  *
  * Spark's higher-order functions (`transform`/`zip_with`/`aggregate`)
  * are CodegenFallback: every lambda application is an interpreted call
  * with boxing. For an all-pairs cosine at n=2000×dim=64 that is ~10⁸
  * interpreted evals — measured minutes on the bench. These expressions
  * do the same arithmetic in a tight native loop; [[FloatDot]] (the only
  * one evaluated per *pair* rather than per row) also implements
  * `doGenCode` so it stays inside whole-stage codegen.
  *
  * Semantics are kept bit-identical to the declarative forms they
  * replace (and therefore to the DuckDB oracles): double accumulation in
  * strict left-to-right order, identical hash formulas.
  */
object ArrayExprs {

  /** Σ a(i)·b(i) over two array<float> columns, accumulated
    * left-to-right in double — identical to
    * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)` and to DuckDB's
    * `list_sum(list_transform(list_zip(a,b), p -> p[1]*p[2]))`.
    */
  case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double ${ev.value}_acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = ${ev.value}_acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ a(i)·b(i) with a: array<float>, b: array<double> — the
    * trained-centroid variant of [[FloatDot]] (IVF centroids live on the
    * round6 DOUBLE grid; narrowing them to float would leave the grid
    * and break the oracle replay). Same strict left-to-right double
    * accumulation; codegen'd for the n×K assignment map.
    */
  case class FloatDoubleDot(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_double_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getDouble(i)
        i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double ${ev.value}_acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_acc += (double) $a.getFloat($i) * $b.getDouble($i);
           |}
           |${ev.value} = ${ev.value}_acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** MinHash signature over an array<string>: sig(i) = min over elements
    * of xxhash64(seed=i, element), one native pass (numHashes × elements)
    * instead of numHashes interpreted `transform`+`array_min` passes.
    * Per-document (not per-pair) ⇒ CodegenFallback is fine.
    */
  case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j)
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes()
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashUnsafeBytes(base, off, len, i.toLong)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        j += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 60-bit SimHash over an array<string> of tokens, md5-derived —
    * bit-identical to the SQL form
    * `conv(substring(md5(w), 2, 15), 16, 10)` per token (15 hex chars =
    * nibbles 1..15 of the digest), frequency-weighted ±1 bit sums, tie
    * (sum 0) ⇒ bit 0. One md5 per token instead of one per token×bit.
    */
  case class SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {
    val Bits = 60
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash60"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = java.security.MessageDigest.getInstance("MD5")
      val sums = new Array[Long](Bits)
      var j = 0
      while (j < arr.numElements()) {
        val d = md.digest(arr.getUTF8String(j).getBytes)
        // hex chars 1..15 = low nibble of byte 0, then bytes 1..7
        var h = (d(0) & 0xFL) << 56
        var b = 1
        while (b < 8) { h |= (d(b) & 0xFFL) << ((7 - b) * 8); b += 1 }
        var i = 0
        while (i < Bits) {
          sums(i) += ((h >>> i) & 1L) * 2 - 1
          i += 1
        }
        j += 1
      }
      var out = 0L
      var i = 0
      while (i < Bits) { if (sums(i) > 0) out |= 1L << i; i += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct 60-bit md5 hashes of an array<string>: element h =
    * nibbles 1..15 of the md5 hex digest — the SAME portable per-string
    * hash [[SimHash60]] uses per token and the SQL form
    * `CAST('0x' || substr(md5(s), 2, 15) AS BIGINT)` computes — with
    * duplicates removed (`list_distinct` semantics; output order is
    * first-occurrence but no consumer depends on it: the values feed
    * min/intersect/union only). One native md5 per element instead of an
    * interpreted higher-order `transform` apply per element.
    */
  case class Md5Long60Array(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "md5_long60_array"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = java.security.MessageDigest.getInstance("MD5")
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var j = 0
      while (j < arr.numElements()) {
        val d = md.digest(arr.getUTF8String(j).getBytes)
        var h = (d(0) & 0xFL) << 56
        var b = 1
        while (b < 8) { h |= (d(b) & 0xFFL) << ((7 - b) * 8); b += 1 }
        seen.add(h)
        j += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-element md5 buckets of an array<string>: element i is the
    * first four md5 bytes of element i as an unsigned big-endian int,
    * mod `n` — bit-equal to the SQL chain
    * `CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % n` (and to
    * DuckDB's `('0x' || substr(md5(w), 1, 8))::BIGINT % n`), in input
    * order with duplicates kept: one entry per token OCCURRENCE, the
    * feature-id convention of the ml suite. A null element maps to
    * null, as md5(null) does. One native md5 per element instead of
    * rendering the 32-char hex digest, cutting it and re-parsing eight
    * hex digits through `conv`.
    */
  case class Md5BucketArray(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
    require(n > 0, s"md5_bucket_array modulus must be positive, got $n")
    override def dataType: DataType = ArrayType(LongType,
      child.dataType.asInstanceOf[ArrayType].containsNull)
    override def prettyName: String = "md5_bucket_array"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[Any](arr.numElements())
      var j = 0
      while (j < out.length) {
        if (!arr.isNullAt(j)) {
          val d = md.digest(arr.getUTF8String(j).getBytes)
          val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
          out(j) = h % n
        }
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** PORTABLE MinHash signature over an array<long> of base hashes:
    * sig(i) = min over h of `(A_i * (h % p) + B_i) % p` with
    * p = 2^31−1 (prime), A_i = ((i+1) * 2654435761) % p (Knuth's
    * multiplicative constant, never ≡ 0 mod p for i < p−1),
    * B_i = ((i+1) * 97531) % p — the classic universal mod-p
    * permutation family. Unlike the seeded-xxhash64 [[MinHashSig]]
    * (the production form — fewer ops per element, better diffusion),
    * every intermediate here stays below 2^62, so engines with CHECKED
    * 64-bit arithmetic (DuckDB raises on BIGINT overflow rather than
    * wrapping like the JVM) replay it bit-for-bit in plain SQL — which
    * is what lets the big-tier LSH pipeline be oracle-hash-gated
    * instead of rows-only.
    */
  case class MinHashPermSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_perm_sig"

    private val P = 2147483647L
    private val A = Array.tabulate(numHashes)(i => ((i + 1) * 2654435761L) % P)
    private val B = Array.tabulate(numHashes)(i => ((i + 1) * 97531L) % P)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < n) {
        val h = arr.getLong(j) % P
        var i = 0
        while (i < numHashes) {
          val v = (A(i) * h + B(i)) % P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct word n-gram shingles over an array<string> of tokens,
    * space-joined, first-occurrence order — identical set to
    * `array_distinct(transform(sequence(1, size(t)-n+1), i ->
    * concat_ws(' ', element_at(t,i)...)))`, but the token array is
    * evaluated ONCE. The declarative form references the tokenizer tree
    * per element_at, and CollapseProject inlines it into every
    * reference — measured ~10⁹ interpreted regex evals at sf0.1.
    */
  case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val cnt = arr.numElements()
      if (cnt < n) new GenericArrayData(Array.empty[Any])
      else {
        val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
        val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
        var i = 0
        while (i <= cnt - n) {
          val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
          var j = 0
          while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
          seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*))
          i += 1
        }
        new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Content-defined chunking of a token array (r7 verdict ask 7 — the
    * variable-length complement of [[WordShingles]]'s fixed n-grams):
    * a chunk boundary falls AFTER token i whenever the md5-gear of the
    * adjacent pair `tok(i-1) + " " + tok(i)` — the first 8 hex digits
    * of md5, the repo's portable hash (SQL form
    * `('0x' || substr(md5(a || ' ' || b), 1, 8))::BIGINT`) — is ≡ 0 mod
    * `divisor`, so boundaries depend on CONTENT only: a duplicate
    * passage embedded at any offset re-aligns to identical chunks right
    * after its first internal boundary, where position-tiled blocks of
    * the same expected size never re-align. Expected chunk length ≈
    * divisor tokens at 1/divisor the index rows of sliding n-grams —
    * the suffix-array-approximation trade at a fraction of the cost.
    * Output is the distinct chunk strings in first-occurrence order
    * ([[WordShingles]] semantics); production CDC adds min/max chunk
    * clamps in this same sequential pass.
    */
  case class CdcChunks(child: Expression, divisor: Int)
    extends UnaryExpression with CodegenFallback {
    // the gear is a positive long, so divisor ≤ 0 either throws deep in
    // eval (0) or silently diverges from the documented `% divisor == 0`
    // SQL-replay semantics (negative) — reject at construction
    require(divisor > 0, s"cdc_chunks divisor must be positive, got $divisor")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "cdc_chunks"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val cnt = arr.numElements()
      if (cnt == 0) new GenericArrayData(Array.empty[Any])
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
        val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
        val cur = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.unsafe.types.UTF8String]
        def flush(): Unit = if (cur.nonEmpty) {
          seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, cur.toSeq: _*))
          cur.clear()
        }
        var i = 0
        while (i < cnt) {
          val tok = arr.getUTF8String(i)
          cur += tok
          if (i > 0) {
            md.reset()
            md.update(arr.getUTF8String(i - 1).getBytes)
            md.update(' '.toByte)
            md.update(tok.getBytes)
            val d = md.digest()
            // first 8 hex digits = first 4 bytes, unsigned
            val gear = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            if (gear % divisor == 0) flush()
          }
          i += 1
        }
        flush()
        new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Raw + distinct word n-gram counts in one pass:
    * struct(n_shingles = max(0, size-n+1), n_distinct), identical to
    * counting `transform(sequence(...), concat_ws(' ', ...))` and its
    * `array_distinct` — but the token array evaluates ONCE and no
    * shingle array is ever materialized per reference (the declarative
    * form's tree is inlined by CollapseProject into every one of the
    * three consumers, all interpreted; measured as multi-second GC
    * churn at sf0.1). Backs the ta_repetition quality signal.
    */
  case class ShingleStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_shingles", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false)))
    override def prettyName: String = "shingle_stats"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val cnt = arr.numElements()
      if (cnt < n) new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, 0))
      else {
        val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
        val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
        var i = 0
        while (i <= cnt - n) {
          val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
          var j = 0
          while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
          seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*))
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](cnt - n + 1, seen.size()))
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Random-hyperplane sign sketch over an array<float>: bit j =
    * [Σ_d v(d)·w(j,d) > 0], output array<int> of 0/1, one native pass
    * (bits × dims). The planes are md5-DERIVED: w(j,d) = ±1 from the low
    * bit of the first digest byte of md5("j:d"). md5 exists in every SQL
    * engine, so an oracle can regenerate the exact plane family and
    * replay the sketch — the property that lets sim_topk_lsh be
    * hash-checked. The
    * (bits × dims) weight matrix is memoized once per shape; per row the
    * eval is the same tight bits × dims loop.
    *
    * The projection is rounded to 6 dp BEFORE taking the sign (the
    * repo-wide fp-portability contract): the raw double sum depends on
    * accumulation order, so an engine summing pairwise instead of
    * left-to-right could flip a bit whose projection sits within an ulp
    * of zero; on the 6 dp grid both engines see the same value.
    */
  case class SignSketchMd5(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "sign_sketch_md5"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val dims = v.numElements()
      val w = SignSketchMd5.weights(bits, dims)
      val out = new Array[Any](bits)
      var j = 0
      while (j < bits) {
        val wj = w(j)
        var acc = 0.0
        var d = 0
        while (d < dims) { acc += v.getFloat(d).toDouble * wj(d); d += 1 }
        val r = java.math.BigDecimal.valueOf(acc)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        out(j) = if (r > 0) 1 else 0
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object SignSketchMd5 {
    private val memo =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
    def weights(bits: Int, dims: Int): Array[Array[Double]] =
      memo.computeIfAbsent((bits, dims), { key =>
        val md = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(key._1)(j => Array.tabulate(key._2) { d =>
          val h = md.digest(s"$j:$d".getBytes)
          if ((h(0) & 1) == 1) 1.0 else -1.0
        })
      })
  }

  /** All (d1 < d2, hamming ≤ maxHamming) pairs within one LSH band
    * bucket — input array<struct<doc_id:long, simhash:long>> from a
    * per-(band, value) collect_list, output the SURVIVING pairs only as
    * array<struct<d1, d2, hamming:int>>. Replaces the bucket self-JOIN,
    * which materialized every candidate as a join output row before the
    * hamming filter could drop it (15M rows ≈ 4.6 s at the sf0.1 tier,
    * where correlated simhash bits make band buckets thousands deep);
    * the loop does the same 15M XOR+popcounts in-place and emits the
    * ~6% survivors. Work stays O(bucket²) either way — a corpus-scale
    * hot bucket needs the df-cap/salting treatment (the ngramSkew tier)
    * under BOTH forms, so this changes constants, not the scale story.
    */
  case class HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("d1", LongType, nullable = false),
      StructField("d2", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))), containsNull = false)
    override def prettyName: String = "hamming_pairs"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val ids = new Array[Long](n)
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        val st = arr.getStruct(i, 2)
        ids(i) = st.getLong(0); hs(i) = st.getLong(1)
        i += 1
      }
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val ham = java.lang.Long.bitCount(hs(i) ^ hs(j))
          if (ham <= maxHamming && ids(i) != ids(j)) {
            val (d1, d2) =
              if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](d1, d2, ham))
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    /** Not CodegenFallback (r13 verdict task 5): fallback would hand the
      * WHOLE subtree — the collect_list child included — to interpreted
      * eval per row. This keeps the stage in whole-stage codegen (child
      * evaluated compiled) and enters the already-JIT-compiled pair loop
      * through one virtual call per row.
      */
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hammingPairs", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def hammingPairs(ds: Column, maxHamming: Int): Column =
    GraftExpr.column(HammingPairs(GraftExpr.expression(ds), maxHamming))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003) of a
    * token array, in ONE per-row pass: hash every k-gram, slide a
    * w-hash window, keep each window's RIGHTMOST minimal hash, emit the
    * DISTINCT (gram position, fingerprint) picks as
    * array<struct<pos:long, fp:long>>.
    *
    * Replaces the explode-grams → per-gram md5 SQL → doc-keyed
    * window-sort pipeline, which put |corpus tokens| rows through a
    * shuffle and evaluated `conv(substr(md5(concat_ws(...))))` per gram
    * — the #1 build-ledger row (r12 verdict task 1). This form is
    * per-row and shuffle-free: the 100 TB cost is one scan, no exchange.
    *
    * One hash family, the one the oracle replays: fp = first 8 hex
    * chars of md5(space-joined gram) parsed base-16, mod 2147483647 —
    * exactly `CAST(conv(substr(md5(concat_ws(' ', gram)), 1, 8), 16, 10)
    * AS BIGINT) % 2147483647`, which DuckDB replays token for token (the
    * ta_winnow / dedup_winnow_pairs gates).
    *
    * Tie-break: within a window, equal minimal hashes pick the LATER
    * gram (`<=` while scanning ascending positions), matching the
    * declarative `min(struct(h, -i))` and the oracle's
    * `ORDER BY h ASC, i DESC LIMIT 1`.
    */
  case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
    require(k >= 1 && w >= 1)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "winnow_fps"

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val g = n - k + 1 // gram count
      if (g < w) return new GenericArrayData(Array.empty[Any])
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = new Array[Long](g)
      var i = 0
      while (i < g) {
        // space-joined gram bytes, built once (the declarative twin's
        // concat_ws(' ', slice(toks, i+1, k)))
        var len = k - 1
        var j = 0
        while (j < k) { len += toks.getUTF8String(i + j).numBytes(); j += 1 }
        val bytes = new Array[Byte](len)
        var off = 0
        j = 0
        while (j < k) {
          if (j > 0) { bytes(off) = ' '; off += 1 }
          val t = toks.getUTF8String(i + j)
          t.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes()
          j += 1
        }
        val d = md.digest(bytes)
        // first 8 hex chars = first 4 digest bytes, unsigned
        hs(i) = (((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)) % 2147483647L
        i += 1
      }
      // slide the w-window; picks dedup via LinkedHashSet (output order
      // is first-pick but no consumer depends on it: winnow() explodes
      // and the gates sort)
      val picks = new java.util.LinkedHashSet[Long]()
      val fpOf = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      var p = 0
      while (p <= g - w) {
        var best = p
        var j = p + 1
        while (j < p + w) { if (hs(j) <= hs(best)) best = j; j += 1 }
        if (picks.add(best.toLong)) fpOf.put(best.toLong, hs(best))
        p += 1
      }
      val out = new Array[Any](picks.size)
      val it = picks.iterator()
      var o = 0
      while (it.hasNext) {
        val pos = it.next()
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](pos, fpOf.get(pos).longValue()))
        o += 1
      }
      new GenericArrayData(out)
    }

    /** Not CodegenFallback (r13 verdict task 5): the tokenize subtree
      * under this expression stays codegen'd (fallback would interpret
      * it per row) and the stage keeps its WholeStageCodegen span; the
      * gram-hash + window-min loop above is one compiled call per row.
      */
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnowFps", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def winnowFps(toks: Column, k: Int, w: Int): Column =
    GraftExpr.column(WinnowFps(GraftExpr.expression(toks), k, w))

  def signSketchMd5(v: Column, bits: Int): Column =
    GraftExpr.column(SignSketchMd5(GraftExpr.expression(v), bits))

  def floatDot(a: Column, b: Column): Column =
    GraftExpr.column(FloatDot(GraftExpr.expression(a), GraftExpr.expression(b)))

  def floatDoubleDot(a: Column, b: Column): Column =
    GraftExpr.column(FloatDoubleDot(GraftExpr.expression(a), GraftExpr.expression(b)))

  def wordShingles(tokens: Column, n: Int): Column =
    GraftExpr.column(WordShingles(GraftExpr.expression(tokens), n))

  def cdcChunks(tokens: Column, divisor: Int): Column =
    GraftExpr.column(CdcChunks(GraftExpr.expression(tokens), divisor))

  def shingleStats(tokens: Column, n: Int): Column =
    GraftExpr.column(ShingleStats(GraftExpr.expression(tokens), n))

  def minhashSig(sh: Column, numHashes: Int): Column =
    GraftExpr.column(MinHashSig(GraftExpr.expression(sh), numHashes))

  def simhash60(tokens: Column): Column =
    GraftExpr.column(SimHash60(GraftExpr.expression(tokens)))

  def md5Long60Array(arr: Column): Column =
    GraftExpr.column(Md5Long60Array(GraftExpr.expression(arr)))

  def md5BucketArray(arr: Column, n: Int): Column =
    GraftExpr.column(Md5BucketArray(GraftExpr.expression(arr), n))

  def minhashPermSig(hashes: Column, numHashes: Int): Column =
    GraftExpr.column(MinHashPermSig(GraftExpr.expression(hashes), numHashes))
}
