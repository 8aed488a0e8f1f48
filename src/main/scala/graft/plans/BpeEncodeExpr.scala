package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The trained-BPE serve model as ONE executor-resident lookup table:
  * word → its segmentation as pre-built `(sym, token_id)` rows, plus
  * the symbol→id table the out-of-vocabulary character fallback probes.
  *
  * Ids are the 1-based ranks of the DISTINCT trained segment symbols
  * in binary (UTF-8 byte) order — exactly the
  * `row_number() OVER (ORDER BY sym)` table the join-based serve path
  * derived per query (Spark string sort IS the unsigned byte
  * comparison; `UTF8String.compareTo` implements it, so sorting the
  * collected symbols with it reproduces the distributed ranking
  * bit-for-bit, supplementary-plane characters included — Java
  * `String.compareTo` would NOT: it orders UTF-16 code units).
  *
  * The heavy fields are `@transient lazy`: the broadcast VALUE is
  * deserialized once per executor and cached, so the hash tables are
  * built once per executor and shared by every task — the same
  * lifecycle the old BroadcastHashJoin relation had. Rows are
  * immutable and shared across eval calls (consumers copy on
  * materialization), so returning one `GenericArrayData` instance per
  * vocabulary word is safe. */
final class BpeTokenTable(val words: Array[String],
                          val segs: Array[Array[String]])
    extends Serializable {

  /** sym → 1-based binary-order rank. Words/syms can in principle be
    * null in a hand-edited artifact; a null segmentation means "treat
    * the word as untrained" (what the old left join's coalesce did),
    * never an entry here. */
  @transient lazy val symIds: java.util.HashMap[UTF8String, java.lang.Long] = {
    val set = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      if (s != null) {
        var j = 0
        while (j < s.length) {
          if (s(j) != null) set.add(UTF8String.fromString(s(j)))
          j += 1
        }
      }
      i += 1
    }
    val arr = set.toArray(new Array[UTF8String](set.size))
    // UTF8String's natural order is the unsigned byte comparison —
    // identical to Spark's ORDER BY on strings.
    java.util.Arrays.sort(arr, null)
    val m = new java.util.HashMap[UTF8String, java.lang.Long](arr.length * 2)
    var k = 0
    while (k < arr.length) {
      m.put(arr(k), java.lang.Long.valueOf(k + 1L))
      k += 1
    }
    m
  }

  /** Id of the end-of-word marker (0 if the vocabulary is empty). */
  @transient lazy val eowId: Long = {
    val v = symIds.get(BpeTokenTable.Eow)
    if (v == null) 0L else v.longValue()
  }

  /** word → pre-built array of (sym, token_id) struct rows. A trained
    * word's symbols are all in `symIds` by construction, but a
    * hand-edited artifact could orphan one — it gets id 0 (UNK), the
    * same id the join-based path's left join + coalesce produced. */
  @transient lazy val wordRows: java.util.HashMap[UTF8String, GenericArrayData] = {
    val m = new java.util.HashMap[UTF8String, GenericArrayData](words.length * 2)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      val s = segs(i)
      if (w != null && s != null) {
        val rows = new Array[Any](s.length)
        var j = 0
        while (j < s.length) {
          val sym = UTF8String.fromString(s(j))
          val id = symIds.get(sym)
          rows(j) = new GenericInternalRow(
            Array[Any](sym, if (id == null) 0L else id.longValue()))
          j += 1
        }
        m.put(UTF8String.fromString(w), new GenericArrayData(rows))
      }
      i += 1
    }
    m
  }

  /** Trained segment length, or -1 when the word is untrained. */
  def segLen(w: UTF8String): Int = {
    val hit = wordRows.get(w)
    if (hit == null) -1 else hit.numElements()
  }
}

object BpeTokenTable {
  val Eow: UTF8String = UTF8String.fromString("</w>")
}

/** `bpe_encode(w)` — one vocabulary hash probe per WORD emitting the
  * whole `(sym, token_id)` segmentation array, replacing the serve
  * path's two per-symbol broadcast joins (segment attach + vocabulary
  * id lookup) and the Catalyst char-split fallback with a single
  * compiled lookup (guide: keep the hot loop in one expression; the
  * token stream is ~5× the word stream, so per-symbol join probes were
  * the dominant per-row cost of the encode).
  *
  * Out-of-vocabulary words fall back to their per-code-point symbols
  * plus the `</w>` marker, each probed against the symbol table (id 0
  * when absent) — bit-identical to the old
  * `coalesce(s, charSyms)` + left-join path; BpeNativeSpec pins the
  * equivalence against the retained join-based twin.
  *
  * The model rides a [[Broadcast]] handle inside the expression (the
  * manual-broadcast discipline of guide §3.2), so it ships once per
  * executor, not per task. NOT in [[GraftExtensions]]: the expression
  * is bound to a per-query trained model, which plain SQL cannot
  * express — [[BpeEncodeExpr.withBound]] registers a builder capturing
  * the broadcast for the duration of one query construction. */
case class BpeEncodeExpr(child: Expression, model: Broadcast[BpeTokenTable])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_encode expects string, got ${other.simpleString}")
    }

  override def dataType: DataType = BpeEncodeExpr.Schema
  override def prettyName: String = BpeEncodeExpr.Name

  override protected def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String]
    val t = model.value
    val hit = t.wordRows.get(w)
    if (hit != null) hit
    else {
      // OOV: per-code-point symbols + the end-of-word marker — the
      // same segmentation the trainer's floor leaves untrained words
      // with (TextAnalysis.bpeSymbols iterates code points too).
      val s = w.toString
      val n = s.codePointCount(0, s.length)
      val rows = new Array[Any](n + 1)
      var i = 0
      var k = 0
      while (i < s.length) {
        val cc = Character.charCount(s.codePointAt(i))
        val sym = UTF8String.fromString(s.substring(i, i + cc))
        val id = t.symIds.get(sym)
        rows(k) = new GenericInternalRow(
          Array[Any](sym, if (id == null) 0L else id.longValue()))
        i += cc
        k += 1
      }
      rows(n) = new GenericInternalRow(
        Array[Any](BpeTokenTable.Eow, t.eowId))
      new GenericArrayData(rows)
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object BpeEncodeExpr {
  val Name = "bpe_encode"
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("sym", StringType, nullable = false),
    StructField("token_id", LongType, nullable = false))),
    containsNull = false)

  private val info = new ExpressionInfo(classOf[BpeEncodeExpr].getName, Name)
  private val lenInfo =
    new ExpressionInfo(classOf[BpeSegLenExpr].getName, BpeSegLenExpr.Name)
  private val lock = new Object
  /** The model the builders bind; set only while `lock` is held. */
  private var bound: Broadcast[BpeTokenTable] = _

  private def boundModel(fn: String): Broadcast[BpeTokenTable] = {
    require(bound != null, s"$fn is only resolvable inside BpeEncodeExpr.withBound")
    bound
  }
  private val encodeBuilder = (children: Seq[Expression]) =>
    BpeEncodeExpr(children.head, boundModel(Name))
  private val lenBuilder = (children: Seq[Expression]) =>
    BpeSegLenExpr(children.head, boundModel(BpeSegLenExpr.Name))

  /** Bind `model` and run `f` with Column factories for `bpe_encode` /
    * `bpe_seglen`. Both builders are registered once per session and
    * read the model from `bound`, which is set for the whole
    * bind→analyze window under one lock: Datasets analyze EAGERLY on
    * construction, so every `call_function` reference `f` creates is
    * resolved — and the model captured in its expression — before the
    * lock is released and another query can rebind. */
  def withBound[A](spark: SparkSession, model: Broadcast[BpeTokenTable])
      (f: (Column => Column, Column => Column) => A): A =
    lock.synchronized {
      val reg = spark.sessionState.functionRegistry
      for ((fn, fi, fb) <- Seq((Name, info, encodeBuilder),
          (BpeSegLenExpr.Name, lenInfo, lenBuilder))) {
        val id = FunctionIdentifier(fn)
        if (!reg.lookupFunction(id).exists(_ eq fi))
          reg.registerFunction(id, fi, fb)
      }
      bound = model
      try f(c => call_function(Name, c), c => call_function(BpeSegLenExpr.Name, c))
      finally bound = null
    }
}

/** `bpe_seglen(w)` — the word's trained segment COUNT (code points + 1
  * for untrained words): the window-exchange payload of the token-index
  * prefix sum and the whole per-word cost of the token-count serve,
  * as one hash probe instead of a broadcast join + coalesce. Sharing
  * [[BpeTokenTable]] with [[BpeEncodeExpr]] makes count and symbols
  * structurally inseparable — the two-joins-must-agree hazard of the
  * old path (a null segmentation or duplicate vocabulary word could
  * make `size(s)` and the re-attached array diverge) is gone. */
case class BpeSegLenExpr(child: Expression, model: Broadcast[BpeTokenTable])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_seglen expects string, got ${other.simpleString}")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = BpeSegLenExpr.Name

  override protected def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String]
    val n = model.value.segLen(w)
    if (n >= 0) n else w.numChars() + 1
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object BpeSegLenExpr {
  val Name = "bpe_seglen"
}
