package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time argument checking shared by the SQL-registered
  * expressions: without `checkInputDataTypes` a wrong-typed SQL call
  * (`cnpj_valid(123)`, `dot_product('a','b')`) passes analysis and then
  * dies deep in codegen / `ClassCastException` on an executor — the user
  * gets an opaque runtime crash instead of an error naming the expected
  * type.
  */
private[functions] object ArgCheck {
  def string(name: String, dt: DataType): TypeCheckResult = dt match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires a STRING argument, got ${other.sql}")
  }
  /** For kernels that dedup or compare by bytes: a collation whose
    * equality is not binary (e.g. `UTF8_LCASE`) would make the SQL form
    * they mirror compare differently, so it fails analysis instead.
    */
  def binaryEquality(st: StringType): Boolean =
    CollationFactory.fetchCollation(st.collationId).supportsBinaryEquality
  def binaryString(name: String, dt: DataType): TypeCheckResult = dt match {
    case st: StringType if binaryEquality(st) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires a binary-collation STRING argument, got ${other.sql}")
  }
  def floatArray(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${other.sql}")
  }
  def longArray(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<BIGINT> arguments, got ${other.sql}")
  }
}

/** Native Catalyst expressions (SURVEY §7.2: promote codegen-hot scalars to
  * `Expression`s). Both participate in whole-stage codegen — no
  * `CodegenFallback`, no UDF serialization overhead.
  */

/** `cnpj_valid(string) → boolean`: CNPJ check-digit validation. */
case class CnpjValid(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    ArgCheck.string("cnpj_valid", child.dataType)
  override def nullSafeEval(v: Any): Any =
    Cnpj.isValid(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Cnpj.isValid($c)")
  override protected def withNewChildInternal(c: Expression): CnpjValid =
    copy(child = c)
}

/** `dot_product(array<float|double>, array<float|double>) → double`:
  * double-precision sequential dot product — the cosine kernel. The
  * generated code is a tight primitive loop over `ArrayData`, identical
  * math (and therefore identical results) to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,x) -> s+x)` but without
  * building the intermediate array.
  *
  * MISMATCHED lengths return NULL — the same answer the zip_with
  * formulation gives (its pad-nulls poison the sum): silently truncating
  * to the shorter side turned a corrupt or wrong-dimension embedding row
  * into a plausible-but-wrong cosine instead of a visible null (r10
  * review). A NULL ELEMENT also returns NULL, again matching zip_with
  * (null poisons the sum) — the old kernel read the null slot's backing
  * bytes (0.0 on UnsafeArrayData, stale garbage on columnar) and produced
  * a plausible-but-wrong number, the exact failure class the length check
  * exists to prevent (r11 review). The isNullAt probes are emitted only
  * when a side's type admits null elements, so dense containsNull=false
  * vectors keep the branch-free hot loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = ArgCheck.floatArray("dot_product", left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else ArgCheck.floatArray("dot_product", right.dataType)
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull
  // schema facts are constant for the expression's lifetime — cached so
  // the interpreted path doesn't re-pattern-match four ArrayType casts
  // per row (r14 review; doGenCode already bakes them into the source)
  @transient private lazy val lf = elemIsFloat(left)
  @transient private lazy val rf = elemIsFloat(right)
  @transient private lazy val ln = elemNullable(left)
  @transient private lazy val rn = elemNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullProbe = Seq(
        if (elemNullable(left)) Some(s"$a.isNullAt($i)") else None,
        if (elemNullable(right)) Some(s"$b.isNullAt($i)") else None)
        .flatten.mkString(" || ")
      val nullBreak =
        if (nullProbe.isEmpty) ""
        else s"if ($nullProbe) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullBreak
         |    $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(left = l, right = r)
}

/** `long_vec_fold(array<bigint>, array<bigint>) → bigint`: exact BIGINT
  * element-fold over two fixed-point vectors — `squared = false` is the
  * integer dot product (Σ aᵢ·bᵢ), `squared = true` the squared L2 distance
  * (Σ (aᵢ−bᵢ)²). One tight primitive codegen loop replacing the
  * interpreted `aggregate(zip_with(...), 0L, ...)` lambda chain in ss07's
  * k-means assignment and ss09's PQ encode/ADC — lambda-bearing
  * higher-order expressions run on the interpreted path per element (r20;
  * the round guide's "eliminate non-codegen expressions in the hot
  * path"). [[DotProduct]]'s exactness story does NOT carry over to
  * doubles here: these kernels require bit-exact BIGINT arithmetic (the
  * oracle gate), so the fold stays in long math with Java's wrap
  * semantics — identical to the lambda formulation's, and in-range for
  * every ×10⁴ fixed-point vector in the suite (|a·b| ≤ 4e8 × 64 dims).
  *
  * Null semantics mirror the zip_with chain it replaces (and
  * [[DotProduct]]): MISMATCHED lengths → NULL (zip_with's pad-null
  * poisons the sum); a NULL element → NULL. The isNullAt probes are
  * emitted only when a side's schema admits null elements.
  */
case class LongVecFold(left: Expression, right: Expression, squared: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val name = if (squared) "sqdist_long" else "dot_product_long"
    val l = ArgCheck.longArray(name, left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else ArgCheck.longArray(name, right.dataType)
  }

  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull
  @transient private lazy val ln = elemNullable(left)
  @transient private lazy val rn = elemNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = x.getLong(i)
      val yv = y.getLong(i)
      acc += (if (squared) (xv - yv) * (xv - yv) else xv * yv)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullProbe = Seq(
        if (elemNullable(left)) Some(s"$a.isNullAt($i)") else None,
        if (elemNullable(right)) Some(s"$b.isNullAt($i)") else None)
        .flatten.mkString(" || ")
      val nullBreak =
        if (nullProbe.isEmpty) ""
        else s"if ($nullProbe) { ${ev.isNull} = true; break; }"
      val term =
        if (squared) s"($xv - $yv) * ($xv - $yv)" else s"$xv * $yv"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullBreak
         |    long $xv = $a.getLong($i);
         |    long $yv = $b.getLong($i);
         |    $acc += $term;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LongVecFold = copy(left = l, right = r)
}

/** Runtime kernel for [[WordNgrams]] — one tight loop building every
  * n-gram of a tokenized doc, kept static so codegen emits a single call.
  * Bit-for-bit the semantics of the SQL formulation it replaces
  * (`transform(sequence(1, greatest(size(w) - n + 1, 1)),
  * i -> concat_ws(' ', slice(w, i, n)))` — the suite's ONE n-gram
  * spelling since r10): the greatest floor keeps short docs at one
  * (possibly partial) gram, an empty array yields the single empty-string
  * gram, slice clamps at the array end, and `UTF8String.concatWs` skips
  * null elements exactly like concat_ws. NgramKernelSpec pins kernel ==
  * SQL formulation over the real corpus plus the edge cases.
  */
object NgramKernel {
  private val Sep = UTF8String.fromString(" ")
  /** The SQL form's answer for a NULL words array: greatest() ignores the
    * null size, slice(null) is null and concat_ws over a null array is ''
    * — so the transform yields the single empty-string gram, NOT null.
    * The fixtures carry null-text docs (the r10 shingle review), so this
    * leg is live; NgramKernelSpec pins it.
    */
  def nullGrams(): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[AnyRef](UTF8String.EMPTY_UTF8))
  def grams(words: ArrayData, n: Int): ArrayData = {
    if (words == null) return nullGrams()
    val m = words.numElements()
    val cnt = math.max(m - n + 1, 1)
    val out = new Array[AnyRef](cnt)
    var i = 0
    while (i < cnt) {
      val hi = math.min(i + n, m)
      val parts = new Array[UTF8String](math.max(hi - i, 0))
      var j = i
      while (j < hi) {
        parts(j - i) =
          if (words.isNullAt(j)) null else words.getUTF8String(j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `word_ngrams(array<string>, n) → array<string>`: every word n-gram of
  * a tokenized document (space-joined), via [[NgramKernel]]'s compiled
  * loop. Replaces the interpreted per-gram lambda dispatch of the
  * `transform(sequence(...), i -> concat_ws(' ', slice(w, i, n)))`
  * spelling on the corpus-scan hot paths (dc01 decontamination 5-grams,
  * tx10 repetition bigrams, the dd02/dd04/dd06/dd11/dd12 3-shingles) —
  * the r20 probe put dc01's single-task gram stage at ~2 s of exactly
  * this dispatch. Output never contains null elements (concat_ws never
  * returns null), mirroring the transform/concat_ws type.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams needs n >= 1, got $n")
  // propagate the element's collation like NfcNormalize does for strings.
  // Pattern-match with a fallback instead of an unconditional cast: if
  // dataType is consulted during analysis/error formatting BEFORE
  // checkInputDataTypes rejects a non-array child, the clean
  // TypeCheckFailure — not a ClassCastException — must be what surfaces
  // (r20 ADVICE).
  override def dataType: DataType = child.dataType match {
    case ArrayType(e, _) => ArrayType(e, containsNull = false)
    case _ => ArrayType(StringType, containsNull = false)
  }
  // NEVER null — a null words array yields the single-empty-gram array,
  // exactly like the SQL form (see NgramKernel.nullGrams); the kernel
  // itself handles the null input, so eval/codegen bypass the default
  // null-intolerant wrappers.
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams requires an ARRAY<STRING> argument, got ${other.sql}")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    NgramKernel.grams(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val code = c.code.toString +
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.NgramKernel.grams(
         |    ${c.isNull} ? null : ${c.value}, $n);
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(new StringContext(code)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

/** Runtime kernel for [[WordBigrams]] — one tight loop building every
  * adjacent token pair of a tokenized doc. Bit-for-bit the semantics of
  * the SQL formulation it replaces (`transform(sequence(1, size(w) - 1),
  * i -> struct(w[i-1] AS a, w[i] AS b))` — CorpusFilters' ONE bigram-pair
  * spelling) on the callers' domain: BOTH call sites (tx20, tx22) filter
  * `size(w) >= 2` before building pairs, and on those inputs the kernel
  * and the SQL form agree exactly (null elements pass through as null
  * struct fields). Outside that domain the SQL form is not even total —
  * `sequence(1, -1)` steps DOWNWARD and the negative subscripts error
  * under ANSI — so the kernel's empty-array answer for 0/1-token docs is
  * a defined superset, never an observable difference. BigramKernelSpec
  * pins kernel == SQL form over the real corpus plus the edge cases.
  */
object BigramKernel {
  def pairs(words: ArrayData): ArrayData = {
    if (words == null) return null
    val m = words.numElements()
    val cnt = math.max(m - 1, 0)
    val out = new Array[AnyRef](cnt)
    var i = 0
    while (i < cnt) {
      val a = if (words.isNullAt(i)) null else words.getUTF8String(i)
      val b = if (words.isNullAt(i + 1)) null else words.getUTF8String(i + 1)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](a, b))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `word_bigrams(array<string>) → array<struct<a, b>>`: every adjacent
  * token pair of a tokenized document, via [[BigramKernel]]'s compiled
  * loop. Replaces the interpreted per-pair lambda dispatch of the
  * `transform(sequence(1, size(w) - 1), i -> struct(...))` spelling on
  * the tx20/tx22 corpus-scan hot paths — the same promotion [[WordNgrams]]
  * got for the n-gram string construction (r20), closing the last
  * interpreted higher-order expression in those plans. NULL input → NULL
  * (transform over a null sequence), matching the SQL form.
  */
case class WordBigrams(child: Expression) extends UnaryExpression {
  // field types follow the child's element type (collation propagation —
  // the NfcNormalize/WordNgrams convention); fields are nullable exactly
  // like the source elements they copy
  override def dataType: DataType = {
    val elem = child.dataType match {
      case ArrayType(e, n) => StructType(Seq(
        StructField("a", e, nullable = n), StructField("b", e, nullable = n)))
      // unreachable post-checkInputDataTypes; keeps dataType total if
      // consulted during error formatting (the r20 ADVICE note on
      // WordNgrams' unconditional cast)
      case _ => StructType(Seq(
        StructField("a", StringType), StructField("b", StringType)))
    }
    ArrayType(elem, containsNull = false)
  }
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(st: StringType, _) if ArgCheck.binaryEquality(st) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "word_bigrams requires an ARRAY<STRING> argument of a binary " +
          s"collation, got ${other.sql}")
    }
  override def nullSafeEval(v: Any): Any =
    BigramKernel.pairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramKernel.pairs($c)")
  override protected def withNewChildInternal(c: Expression): WordBigrams =
    copy(child = c)
}

/** Runtime kernel for [[DeletionVariants]] — the SymSpell deletion
  * neighborhood in one compiled loop. Bit-for-bit the semantics of the SQL
  * formulation it replaces (er01's candidate generation:
  * `array_union(array(name), transform(sequence(1, length(name)),
  * i -> concat(substring(name, 1, i - 1), substring(name, i + 1,
  * length(name)))))`): the name itself first, then every single-CHARACTER
  * (code point, like SQL substring) deletion in position order, each kept
  * once (array_union dedups repeated-character deletions, keeping first
  * occurrence). DeletionVariantsSpec pins kernel == SQL form over the real
  * customer names plus the repeat/short/empty edges.
  */
object DeletionKernel {
  def variants(name: UTF8String): ArrayData = {
    val m = name.numChars()
    // LinkedHashSet order == array_union's first-occurrence order
    val seen = new java.util.LinkedHashSet[UTF8String](m + 2)
    seen.add(name)
    var i = 0
    while (i < m) {
      seen.add(UTF8String.concat(
        name.substring(0, i), name.substring(i + 1, m)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** `deletion_variants(string) → array<string>`: a name plus its
  * single-character-deletion neighborhood, via [[DeletionKernel]]'s
  * compiled loop — er01's candidate generation, which used to dispatch an
  * interpreted per-character lambda for every name (the same promotion
  * [[WordNgrams]]/[[WordBigrams]] got for the gram constructions). NULL
  * name → NULL, matching array_union over the null-propagated transform.
  */
case class DeletionVariants(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(child.dataType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    ArgCheck.binaryString("deletion_variants", child.dataType)
  override def nullSafeEval(v: Any): Any =
    DeletionKernel.variants(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeletionKernel.variants($c)")
  override protected def withNewChildInternal(c: Expression): DeletionVariants =
    copy(child = c)
}

/** `fx_quant(array<float|double>) → array<bigint>`: the ×10⁴ fixed-point
  * quantization of an embedding — per element, `cast(floor(cast(x as
  * double) * 10000) as bigint)` — in one compiled loop. Replaces the
  * interpreted per-element `transform` lambda on the ss06/ss07/ss09
  * corpus-scan paths (the integer-exact vector operators quantize EVERY
  * embedding element this way, multiple plan branches each; same
  * promotion as [[WordNgrams]]/[[LongVecFold]]). Semantics mirror the
  * lambda form: a NULL element stays NULL, finite values floor toward −∞
  * then narrow to BIGINT, and an element whose product is NaN, infinite or
  * outside the BIGINT range raises, like the ANSI cast ([[FxQuantKernel]]).
  */
case class FxQuant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })
  override def checkInputDataTypes(): TypeCheckResult =
    ArgCheck.floatArray("fx_quant", child.dataType)
  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val isFloat = elemIsFloat
  @transient private lazy val hasNulls =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val m = xs.numElements()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      // unconditional: a wrong containsNull=false in the input's metadata
      // must not read a null slot as 0
      out(i) =
        if (xs.isNullAt(i)) null
        else FxQuantKernel.quant(
          if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val nullProbe =
        if (hasNulls) s"if ($c.isNullAt($i)) { $out[$i] = null; } else"
        else ""
      s"""
         |int $m = $c.numElements();
         |Object[] $out = new Object[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $nullProbe
         |  $out[$i] = java.lang.Long.valueOf(
         |    graft.functions.FxQuantKernel.quant((double) $c.$get($i)));
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): FxQuant =
    copy(child = c)
}

/** Runtime kernel for [[FxQuant]], shared by eval and generated code. */
object FxQuantKernel {
  private val Bound = 9.223372036854775808e18 // 2^63, exact as a double

  def quant(x: Double): Long = {
    val f = math.floor(x * 10000.0)
    // NaN fails both comparisons; ±Infinity and overflow fail one
    if (!(f >= -Bound && f < Bound))
      throw new ArithmeticException(
        s"fx_quant: floor($x * 10000) is not a BIGINT")
    f.toLong
  }
}

/** Runtime kernel for [[NfcNormalize]] — kept as a static helper so the
  * generated code is a single call. The `isNormalized` fast path matters at
  * scale: ASCII (the overwhelming majority of corpus bytes) short-circuits
  * without allocating a transformed copy.
  */
object TextNorm {
  private val NFC = java.text.Normalizer.Form.NFC
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, NFC))
  }
}

/** `nfc_normalize(string) → string`: Unicode canonical composition (NFC) —
  * the standard pre-tokenization canonicalization (é as one codepoint vs
  * e + combining acute hash differently, breaking dedup). Codegen'd, no UDF;
  * mirrors DuckDB's `nfc_normalize` so the oracle gates it exactly.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  // the CHILD's type, not bare StringType: under a non-default collation
  // the input is a collated string, and hard-coding UTF8_BINARY output
  // makes downstream comparisons/grouping against the source column an
  // implicit-collation mismatch — Spark's own string transforms propagate
  // the collation the same way (r17 review; SimHashArray's r14
  // collated-input fix is the sibling of this on the argument side)
  override def dataType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult =
    ArgCheck.string("nfc_normalize", child.dataType)
  override def nullSafeEval(v: Any): Any =
    TextNorm.nfc(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNorm.nfc($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

/** Registration + Column wrappers. `register` installs the SQL names into a
  * session's function registry (also injectable via
  * [[GraftExtensions]] for `spark.sql.extensions`-configured sessions).
  */
object GraftFunctions {
  def cnpj_valid(c: Column): Column = toCol(CnpjValid(toExpr(c)))
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))
  def dot_product_long(a: Column, b: Column): Column =
    toCol(LongVecFold(toExpr(a), toExpr(b), squared = false))
  def word_ngrams(words: Column, n: Int): Column =
    toCol(WordNgrams(toExpr(words), n))
  def word_bigrams(words: Column): Column =
    toCol(WordBigrams(toExpr(words)))
  def deletion_variants(name: Column): Column =
    toCol(DeletionVariants(toExpr(name)))
  def fx_quant(v: Column): Column = toCol(FxQuant(toExpr(v)))
  def sqdist_long(a: Column, b: Column): Column =
    toCol(LongVecFold(toExpr(a), toExpr(b), squared = true))
  def nfc_normalize(c: Column): Column = toCol(NfcNormalize(toExpr(c)))

  /** Arity gate for the SQL builders: a wrong-arity call must be an
    * analysis-time error naming the function, not a NoSuchElementException
    * from `es.head` — and extra arguments must NOT be silently dropped
    * (`dot_product(a, b, c)` ran on a, b and ignored c: a silently-wrong
    * result, the exact opaque-crash class ArgCheck exists to prevent —
    * r11 review).
    */
  private[functions] def arity(name: String, n: Int)(
      es: Seq[Expression]): Seq[Expression] = {
    if (es.length != n) throw new IllegalArgumentException(
      s"$name expects exactly $n argument${if (n == 1) "" else "s"}, " +
        s"got ${es.length}")
    es
  }

  /** The SQL functions: identifier, info and builder, the one definition
    * [[register]] and [[GraftExtensions]] install.
    */
  private[functions] val sqlFunctions: Seq[(FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_], n: Int)(
        build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (es: Seq[Expression]) => build(arity(name, n)(es)))
    Seq(
      fn("cnpj_valid", classOf[CnpjValid], 1)(es => CnpjValid(es(0))),
      fn("dot_product", classOf[DotProduct], 2)(es => DotProduct(es(0), es(1))),
      fn("nfc_normalize", classOf[NfcNormalize], 1)(es => NfcNormalize(es(0))))
  }

  /** Installs the SQL functions into `spark`'s registry. A name already
    * holding the same function (a session built with [[GraftExtensions]],
    * or an earlier call) is left as it is, so a repeat call replaces
    * nothing; a different function under one of the names is replaced.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, build) =>
      if (!reg.lookupFunction(id).exists(_.getClassName == info.getClassName))
        reg.registerFunction(id, info, build)
    }
  }

  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)
  private def toCol(e: Expression): Column = ColumnBridge.column(e)
}

/** `SparkSessionExtensions` hook: sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")` get
  * the functions without calling `register`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
