package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r20 native BPE serve path (BpeEncodeExpr / BpeSegLenExpr — one
  * vocabulary hash probe per word) pinned row-identical to the
  * retained join-based twin (two per-symbol broadcast joins + the
  * Catalyst char-split fallback), across trained words, OOV fallback,
  * supplementary-plane symbols, empty docs, and an empty vocabulary. */
class BpeNativeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import graft.llm.TextAnalysis

  // Training corpus: misses several serve words so the OOV fallback
  // fires; includes a surrogate-pair emoji so the id table's binary
  // ranking is exercised where UTF-16 ordering diverges from UTF-8.
  private val train = Seq(
    (1L, "aa ab aaaa banana bananas"),
    (2L, "aa xy�q xy😀q"),
    (3L, "mississippi mississippi miss issi"),
    (4L, "")).toDF("doc_id", "text")

  // Serve corpus: trained words, UNSEEN words (pure OOV chars, and OOV
  // words whose chars ARE trained symbols), an emoji-only OOV word, an
  // empty doc, and a whitespace-only doc.
  private val serve = Seq(
    (10L, "aa banana zebra"),
    (11L, "xy😀q unseen🚀word"),
    (12L, "miss issi ba na"),
    (13L, ""),
    (14L, "   "),
    (15L, "aaaa aaaa aaaa")).toDF("doc_id", "text")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("native token-id encode is row-identical to the join twin (incl. OOV + tidx + carry)") {
    for (m <- Seq(1, 8); floor <- Seq(1L, 2L)) {
      val (_, words) = TextAnalysis.bpeTrainFull(train, "doc_id", "text",
        merges = m, minCount = floor)
      val carried = serve.withColumn("extra", col("doc_id") * 7)
      for (withIndex <- Seq(false, true)) {
        val native = TextAnalysis.bpeTokenIdsWith(carried, "doc_id",
          "text", words, withIndex, carry = Seq("extra"))
        val twin = TextAnalysis.bpeTokenIdsJoin(carried, "doc_id",
          "text", words, withIndex, carry = Seq("extra"))
        assert(native.columns.toSeq == twin.columns.toSeq)
        assert(sortedRows(native) == sortedRows(twin),
          s"diverges at merges=$m floor=$floor withIndex=$withIndex")
      }
    }
  }

  test("native token counts are row-identical to the join twin") {
    for (m <- Seq(1, 8); floor <- Seq(1L, 2L)) {
      val (_, words) = TextAnalysis.bpeTrainFull(train, "doc_id", "text",
        merges = m, minCount = floor)
      val native = TextAnalysis.bpeTokenCountsWith(serve, "doc_id",
        "text", words)
      val twin = TextAnalysis.bpeTokenCountsJoin(serve, "doc_id",
        "text", words)
      assert(sortedRows(native) == sortedRows(twin),
        s"diverges at merges=$m floor=$floor")
    }
  }

  test("empty vocabulary: every word char-falls-back with id 0, twins agree") {
    val (_, words) = TextAnalysis.bpeTrainFull(train, "doc_id", "text",
      merges = 1, minCount = 1000L) // floor above every count
    assert(words.count() == 0)
    val native = TextAnalysis.bpeTokenIdsWith(serve, "doc_id", "text",
      words, withIndex = true)
    val twin = TextAnalysis.bpeTokenIdsJoin(serve, "doc_id", "text",
      words, withIndex = true)
    assert(sortedRows(native) == sortedRows(twin))
    assert(native.agg(max("token_id")).head().getLong(0) == 0L)
    val nc = TextAnalysis.bpeTokenCountsWith(serve, "doc_id", "text", words)
    val tc = TextAnalysis.bpeTokenCountsJoin(serve, "doc_id", "text", words)
    assert(sortedRows(nc) == sortedRows(tc))
  }

  test("token ids are the 1-based binary-order ranks of the trained symbol set") {
    val (_, words) = TextAnalysis.bpeTrainFull(train, "doc_id", "text",
      merges = 3, minCount = 1L)
    // Re-derive the expected table exactly as the join twin did: the
    // distinct trained symbols ranked by Spark's binary string sort.
    val expected = words.select(explode(col("s")).as("sym")).distinct()
      .orderBy("sym").collect().map(_.getString(0)).zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    val got = TextAnalysis.bpeTokenIdsWith(train, "doc_id", "text", words)
      .select("sym", "token_id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // Every served symbol matches the expected rank (OOV chars absent
    // from the trained set carry 0 and are not in `expected`).
    got.foreach { case (s, id) =>
      assert(expected.getOrElse(s, 0L) == id, s"symbol '$s'")
    }
  }

  test("tokenizer calls register bpe_encode/bpe_seglen once and leave the registry entry unchanged") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    def entries() = Seq("bpe_encode", "bpe_seglen").map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    val (_, words) = TextAnalysis.bpeTrainFull(train, "doc_id", "text",
      merges = 4, minCount = 1L)
    TextAnalysis.bpeTokenCountsWith(serve, "doc_id", "text", words).collect()
    val first = entries()
    val ids = TextAnalysis.bpeTokenIdsWith(serve, "doc_id", "text", words)
    val second = entries()
    val replaced = first.zip(second).collect {
      case ((i1, b1), (i2, b2)) if !(i1 eq i2) || !(b1 eq b2) => i2.getName
    }
    assert(replaced.isEmpty, s"re-registered: $replaced")
    // Each query keeps the model it was analyzed with; the builders
    // resolve nothing outside withBound.
    assert(ids.count() > 0)
    intercept[Exception](serve.selectExpr("bpe_seglen(text)").collect())
  }
}

