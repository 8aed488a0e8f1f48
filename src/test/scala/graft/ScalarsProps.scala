package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.functions.Scalars
import graft.llm.Dedup

/** ScalaCheck properties for the scalar library (SURVEY §5: property
  * tests the reference lacks). Each check evaluates the Column against
  * the shared local session; sample counts are kept small because every
  * case is a (tiny) Spark job. */
object ScalarsProps extends Properties("Scalars") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(15)

  private def eval1(c: org.apache.spark.sql.Column, input: String): String =
    Seq(input).toDF("v").select(c.as("r")).as[String].head()

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  property("base64Id never emits padding and is decodable") = Prop.forAll(word) { s =>
    val b64 = eval1(Scalars.base64Id(col("v")), s)
    val pad = "=" * ((4 - b64.length % 4) % 4)
    !b64.endsWith("=") &&
      new String(java.util.Base64.getDecoder.decode(b64 + pad), "UTF-8") == s
  }

  property("normalizeDoi is idempotent") = Prop.forAll(word, word) { (a, b) =>
    val doi = s"https://doi.org/10.$a/$b"
    val once = eval1(Scalars.normalizeDoi(col("v")), doi)
    val twice = eval1(Scalars.normalizeDoi(col("v")), once)
    once == twice && once == s"10.${a.toLowerCase}/${b.toLowerCase}"
  }

  property("isIssn accepts all well-formed ISSNs") = Prop.forAll(
    Gen.listOfN(7, Gen.numChar).map(_.mkString),
    Gen.oneOf(Gen.numChar, Gen.oneOf('x', 'X'))) { (digits, check) =>
    val issn = s"${digits.take(4)}-${digits.drop(4)}$check"
    Seq(issn).toDF("v").filter(Scalars.isIssn(col("v"))).count() == 1
  }

  property("canonicalText is invariant under token permutation") =
    Prop.forAll(text, Gen.long) { (t, seed) =>
      val shuffled = new scala.util.Random(seed)
        .shuffle(t.split(" ").toSeq).mkString(" ")
      eval1(Scalars.canonicalText(col("v")), t) ==
        eval1(Scalars.canonicalText(col("v")), shuffled)
    }

  property("jaccard is symmetric and in [0,1]") = Prop.forAll(text, text) { (a, b) =>
    val df = Seq((a, b)).toDF("a", "b")
      .select(split(col("a"), " ").as("ta"), split(col("b"), " ").as("tb"))
    val (ab, ba) = df.select(
      Dedup.jaccard(spark, col("ta"), col("tb")).as("ab"),
      Dedup.jaccard(spark, col("tb"), col("ta")).as("ba"))
      .as[(Double, Double)].head()
    ab == ba && ab >= 0.0 && ab <= 1.0
  }

  property("passageWindows matches the sliding-window spec exactly") =
    Prop.forAll(text, Gen.chooseNum(2, 5), Gen.chooseNum(1, 5)) { (t, w, s0) =>
      val stride = math.min(s0, w)
      val toks = t.split(" ").toSeq
      val got = Dedup.passageWindows(Seq((1L, t)).toDF("doc_id", "text"),
          "doc_id", "text", w, stride, portable = false)
        .select("pos", "p").as[(Int, String)].collect().toSeq.sortBy(_._1)
      val want =
        if (toks.length < w) Seq.empty
        else (0 to (toks.length - w) / stride).map(i =>
          (i, toks.slice(i * stride, i * stride + w).mkString(" ")))
      got == want
    }

  property("passageScrub: counts reconcile, output is a subsequence, singletons untouched") =
    Prop.forAll(text, text, Gen.chooseNum(2, 4)) { (t1, t2, w) =>
      val d = Seq((1L, t1), (2L, t2), (3L, t1)).toDF("doc_id", "text")
      val out = Dedup.passageScrub(d, "doc_id", "text", w = w)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // Identical docs 1 and 3 scrub identically; counts reconcile;
      // the rewrite is a subsequence of the canonical token stream.
      def isSubseq(sub: Seq[String], sup: Seq[String]): Boolean = {
        var i = 0
        sup.foreach(x => if (i < sub.length && sub(i) == x) i += 1)
        i == sub.length
      }
      out.size == 3 && out(1L) == out(3L) && out.forall { case (id, (n, rm, s)) =>
        val toks = (if (id == 2L) t2 else t1).trim.split("\\s+").toSeq
        val kept = if (s.isEmpty) Seq.empty[String] else s.split(" ").toSeq
        n == toks.length && rm == n - kept.length && rm >= 0 &&
          isSubseq(kept, toks)
      }
    }

  property("passageScrub: a corpus with no cross-doc repeats is unchanged") =
    Prop.forAll(text) { t =>
      // One doc: nothing can repeat across >= minDocs=2 documents.
      val d = Seq((1L, t)).toDF("doc_id", "text")
      val (n, rm, s) = Dedup.passageScrub(d, "doc_id", "text", w = 2)
        .as[(Long, Long, Long, String)].head() match {
          case (_, a, b, c) => (a, b, c)
        }
      rm == 0L && s == t.trim.split("\\s+").mkString(" ") &&
        n == t.trim.split("\\s+").length
    }

  property("htmlUnescape round-trips the named entities") = Prop.forAll(word) { s =>
    val escaped = s"&lt;p&gt;$s&amp;$s&quot;"
    eval1(Scalars.htmlUnescape(col("v")), escaped) == s"<p>$s&$s\""
  }

  property("extractYear finds a planted year") = Prop.forAll(
    Gen.chooseNum(1000, 2999), word) { (y, w) =>
    eval1(Scalars.extractYear(col("v")), s"$w $y $w") == y.toString
  }

  property("pyTitle matches Python str.title() semantics") = Prop.forAll(text) { t =>
    val r = graft.normalize.Imslp.pyTitle(t)
    // Letter after non-letter is upper, letter after letter is lower,
    // non-letters pass through; idempotent.
    val expected = {
      val sb = new StringBuilder; var prev = false
      t.foreach { c =>
        sb.append(if (c.isLetter && !prev) c.toUpper else c.toLower)
        prev = c.isLetter
      }
      sb.toString
    }
    r == expected && graft.normalize.Imslp.pyTitle(r) == r
  }

  property("pyTitle golden cases (Python quirks included)") = Prop.passed && {
    graft.normalize.Imslp.pyTitle("don't stop") == "Don'T Stop" &&
    graft.normalize.Imslp.pyTitle("3m co") == "3M Co" &&
    graft.normalize.Imslp.pyTitle("HELLO world") == "Hello World" &&
    graft.normalize.Imslp.pyTitle("") == ""
  }

  property("duplicateGroups labels every node with its component minimum") =
    Prop.forAll(Gen.chooseNum(2, 12), Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // Random graph over ids 0..n-1 with ~n edges.
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      edges.isEmpty || {
        val got = Dedup.duplicateGroups(edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        // Driver-side union-find oracle.
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        val expected = nodes.groupBy(find).flatMap { case (_, ns) =>
          val m = ns.min; ns.map(_ -> m)
        }.toMap
        got == expected
      }
    }

  property("duplicateGroups driver union-find equals the distributed loop") =
    Prop.forAll(Gen.chooseNum(2, 12), Gen.long, Gen.oneOf(false, true),
        Gen.oneOf(false, true)) { (n, seed, intIds, nullEnd) =>
      val rnd = new scala.util.Random(seed)
      // A random graph over 0..n-1 plus a path over fresh ids (chains
      // need several distributed rounds), optionally a null endpoint.
      val random = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val chain = (0 until rnd.nextInt(n)).map(i => ((n + i).toLong, (n + i + 1).toLong))
      val edges = (random ++ chain).map { case (a, b) => (Option(a), Option(b)) } ++
        (if (nullEnd) Seq((Option(rnd.nextInt(n).toLong), Option.empty[Long])) else Nil)
      val longs = edges.toDF("id_a", "id_b")
      val pairs =
        if (intIds) longs.select(col("id_a").cast("int"), col("id_b").cast("int"))
        else longs
      def run(bound: Int) = {
        val g = Dedup.duplicateGroups(pairs, "id_a", "id_b", 20, bound)
        (g.schema.map(f => (f.name, f.dataType)),
          g.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet)
      }
      run(0) == run(Dedup.MaxDriverEdges)
    }
}
