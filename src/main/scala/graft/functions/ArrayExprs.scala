package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, Generator}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot array kernels.
  *
  * These replace Scala UDFs on the pairwise scoring paths (similarity dot /
  * L2, dedup set-intersection). A UDF pays per-row CatalystConverter
  * boxing (ArrayData → Seq[Long]) and breaks whole-stage codegen; these
  * expressions read `ArrayData` primitives in place and emit a plain Java
  * loop via `doGenCode`, so the join/filter stage they sit in stays one
  * codegen'd pipeline. Preference order per the engine charter: builtin
  * functions > native Expression > UDF; these kernels have no builtin.
  *
  * The reference engine has no expression language at all (its only scalar
  * op is strcmp, reference mapreduce.c:62); this is the §2.2 "scalar
  * functions" engine plan applied to the LLM-pipeline extension columns.
  */
object ArrayExprs {

  sealed abstract class LongArrayFold extends BinaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    /** Java statement folding element i of arrays `a`,`b` into long acc `s`. */
    protected def foldJava(a: String, b: String): String
    protected def foldScala(x: Long, y: Long): Long

    // Element-wise folds are only defined for equal dimensions: silently
    // truncating to the shorter side (min) would return a PARTIAL dot/L2 —
    // a plausible wrong similarity score with no error, exactly the
    // mixed-dimension-corpus bug class. One comparison per call; the
    // branch is never taken on well-formed data. NULL array slots are out
    // of contract (nullIntolerant covers only top-level nulls) — embedding
    // columns are built from non-null element arrays.
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements())
        throw new IllegalArgumentException(
          s"$prettyName: array length mismatch: $n vs ${b.numElements()}")
      var s = 0L
      var i = 0
      while (i < n) { s += foldScala(a.getLong(i), b.getLong(i)); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: array length mismatch: " + $n + " vs " +
           |      $b.numElements());
           |}
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${foldJava(s"$a.getLong($i)", s"$b.getLong($i)").replace("ACC", s)}
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
  }

  /** Exact dot product of two long arrays (micro-scaled embeddings). */
  case class LongArrayDot(left: Expression, right: Expression)
      extends LongArrayFold {
    override def prettyName: String = "graft_dot"
    override protected def foldJava(x: String, y: String): String =
      s"ACC += $x * $y;"
    override protected def foldScala(x: Long, y: Long): Long = x * y
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Exact squared L2 distance of two long arrays. */
  case class LongArrayL2Sq(left: Expression, right: Expression)
      extends LongArrayFold {
    override def prettyName: String = "graft_l2sq"
    override protected def foldJava(x: String, y: String): String =
      s"long d = $x - $y; ACC += d * d;"
    override protected def foldScala(x: Long, y: Long): Long = {
      val d = x - y; d * d
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** |A ∩ B| for two SORTED primitive arrays via merge walk — the PPJoin
    * verification kernel. One base, two element widths: int gids cover
    * vocabularies to 2^31; the long variant is the swap beyond that (the
    * web-corpus regime DedupQueries documents). */
  sealed abstract class SortedIntersectBase extends BinaryExpression
      with ExpectsInputTypes {
    protected def elem: DataType
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(elem), ArrayType(elem))
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    private def at(a: ArrayData, i: Int): Long =
      if (elem == IntegerType) a.getInt(i).toLong else a.getLong(i)

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var c = 0L
      while (i < na && j < nb) {
        val x = at(a, i); val y = at(b, j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      c
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (jt, getter) =
          if (elem == IntegerType) ("int", "getInt") else ("long", "getLong")
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        s"""
           |int $na = $a.numElements(); int $nb = $b.numElements();
           |int $i = 0; int $j = 0; long $c = 0L;
           |while ($i < $na && $j < $nb) {
           |  $jt $x = $a.$getter($i); $jt $y = $b.$getter($j);
           |  if ($x == $y) { $c++; $i++; $j++; }
           |  else if ($x < $y) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })
  }

  case class SortedIntIntersectSize(left: Expression, right: Expression)
      extends SortedIntersectBase {
    override def prettyName: String = "graft_intersect_size"
    override protected def elem: DataType = IntegerType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class SortedLongIntersectSize(left: Expression, right: Expression)
      extends SortedIntersectBase {
    override def prettyName: String = "graft_intersect_size_l"
    override protected def elem: DataType = LongType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Signed-int8 dot product of two BinaryType columns — the scoring kernel
    * for scalar-quantized embeddings (4× smaller than the int-array form;
    * at 100 TB the embedding table is usually the biggest table there is,
    * so byte-packed vectors are the difference between an in-memory scan
    * and a spilling one). Bytes sign-extend; products fit int; the
    * accumulator is long (64 dims × 127² ≪ 2⁶³). */
  case class ByteArrayDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def prettyName: String = "graft_dot_i8"
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    // equal-length contract, same rationale as LongArrayFold: a truncated
    // byte-dot is a silently wrong score, not a smaller answer
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[Array[Byte]]
      val b = r.asInstanceOf[Array[Byte]]
      if (a.length != b.length)
        throw new IllegalArgumentException(
          s"$prettyName: vector length mismatch: ${a.length} vs ${b.length}")
      var s = 0L
      var i = 0
      while (i < a.length) { s += a(i).toLong * b(i); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = $a.length;
           |if ($n != $b.length) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: vector length mismatch: " + $n + " vs " +
           |      $b.length);
           |}
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (long) $a[$i] * $b[$i];
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** True SQL UDTF (a Catalyst [[Generator]], the `explode`/`json_tuple`
    * class): `graft_ngrams(text, n)` emits one (pos, gram) row per word
    * n-gram of the reference-shaped token stream — registered through
    * [[GraftExtensions]] so `LATERAL VIEW graft_ngrams(text, 3)` works in
    * raw SQL text, completing the UDF/UDAF/UDTF surface with the table-
    * function member (the other two are native expressions and
    * TopKAggregator). Tokenization delegates to [[Portable.tokensJvm]] —
    * the ONE definition every dedup/text path shares — so its grams equal
    * the oracle's TOKENS-built list exactly. CodegenFallback: generators
    * feed GenerateExec, which evaluates the generator once per input row
    * (the per-ELEMENT interpreted-HOF tax this repo bans does not apply);
    * Spark's own json_tuple ships the same way. */
  case class NGramsGenerator(text: Expression, n: Expression)
      extends Generator with CodegenFallback {
    override def children: Seq[Expression] = Seq(text, n)
    override def elementSchema: StructType = StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false)))
    override def checkInputDataTypes(): TypeCheckResult =
      if (text.dataType == StringType && n.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_ngrams(text STRING, n INT) got (${text.dataType.sql}, " +
          s"${n.dataType.sql})")
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val t = text.eval(input)
      val nv = n.eval(input)
      if (t == null || nv == null) Iterator.empty
      else {
        val k = nv.asInstanceOf[Int]
        if (k < 1) throw new IllegalArgumentException(
          s"graft_ngrams: n must be >= 1, got $k")
        val toks = Portable.tokensJvm(t.toString)
        if (toks.length < k) Iterator.empty
        else (0 to toks.length - k).iterator.map { i =>
          val sb = new java.lang.StringBuilder(toks(i))
          var j = i + 1
          while (j < i + k) { sb.append(' ').append(toks(j)); j += 1 }
          InternalRow(i, UTF8String.fromString(sb.toString))
        }
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(text = newChildren(0), n = newChildren(1))
  }

  // ---- Column wrappers (the library's public algebra) ----

  def dot(a: Column, b: Column): Column =
    ColumnBridge(LongArrayDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def l2sq(a: Column, b: Column): Column =
    ColumnBridge(LongArrayL2Sq(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def intersectSize(a: Column, b: Column): Column =
    ColumnBridge(SortedIntIntersectSize(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def intersectSizeLong(a: Column, b: Column): Column =
    ColumnBridge(SortedLongIntersectSize(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def dotI8(a: Column, b: Column): Column =
    ColumnBridge(ByteArrayDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))
}
