package graft

import org.scalatest.funsuite.AnyFunSuite

/** The config-driven lineage-truncation seam: unset → localCheckpoint
  * (no directory touched); `spark.graft.checkpoint.dir` set → durable
  * checkpoint files under that dir. Rows identical either way. The
  * source scan keeps it the ONLY seam, and `Tables.localSession` the
  * only place a session is built. */
class CheckpointsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("truncate dispatches on spark.graft.checkpoint.dir") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")

    // Default: local checkpoint, nothing written anywhere.
    assert(spark.conf.get(Checkpoints.DirConf, "") == "")
    val local = Checkpoints.truncate(df)
    assert(local.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // Conf set: blocks land under the durable dir.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      spark.conf.set(Checkpoints.DirConf, "file:" + dir.toString)
      val durable = Checkpoints.truncate(df)
      assert(durable.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L))
      val wrote = java.nio.file.Files.walk(dir).iterator()
      var files = 0
      while (wrote.hasNext) {
        if (java.nio.file.Files.isRegularFile(wrote.next())) files += 1
      }
      assert(files > 0, "durable checkpoint wrote no files")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      queries.Fixtures.deleteRecursively(dir)
    }
  }

  /** String/char literals and comments, matched left to right, so a
    * comment opener inside a string (a file glob) opens no comment. */
  private val LiteralOrComment = ("\"{3}[\\s\\S]*?\"{3}" +
    """|"[^"\\\n]*(?:\\.[^"\\\n]*)*"|'(?:\\.|[^'\\])'""" +
    """|//[^\n]*|/\*[\s\S]*?\*/""").r

  /** `code` without its comments (a comment may name the call it
    * explains). */
  private def stripComments(code: String): String =
    LiteralOrComment.replaceAllIn(code, m =>
      if (m.matched.startsWith("/")) ""
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  /** `src/main` sources without comments, keyed by file name. */
  private lazy val mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"no $root under ${new java.io.File(".").getAbsolutePath}")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        stripComments(java.nio.file.Files.readString(p)))
      .toSeq
  }

  private def filesMatching(re: String): Set[String] =
    mainSources.collect {
      case (f, code) if re.r.findFirstIn(code).isDefined => f
    }.toSet

  /** The file of every match of `re` in `src/main`, one per match. */
  private def matchesIn(re: String): Seq[String] =
    mainSources.flatMap { case (f, code) => re.r.findAllIn(code).map(_ => f) }

  test("one capped bucket aggregate, one pair emitter, one top-k tail") {
    assert(matchesIn("""CollectSetCappedAgg\s*\.\s*Name\b""") == Seq("Dedup.scala"))
    assert(matchesIn("""slice\(.*,\s*i\s*\+\s*2\s*,""") == Seq("Dedup.scala"))
    assert(matchesIn("""col\("rank"\)\s*<=""") == Seq("Similarity.scala"))
  }

  test("only Tables builds a session and only Checkpoints truncates lineage") {
    assert(mainSources.size > 50)
    assert(filesMatching("""SparkSession\s*\.\s*builder\b""") == Set("Tables.scala"))
    assert(filesMatching("""\blocalCheckpoint\s*\(|\.\s*checkpoint\s*\(""") ==
      Set("Checkpoints.scala"))
  }
}
