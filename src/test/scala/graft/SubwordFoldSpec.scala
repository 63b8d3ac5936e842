package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SubwordFold.subword_fold
import graft.pipeline.{Bpe, WordPiece}

/** [[graft.functions.SubwordFold]] against the fold chain it replaced:
  * the native expression must emit, for every input word, exactly the
  * symbol sequence the original `foldLeft` of
  * [[Bpe.applyMerge]] / [[WordPiece.applyMergeAs]] HOF scans produced —
  * including the overlap, cascade and tie edge cases — plus null
  * semantics and the codegen/interpreted agreement.
  */
class SubwordFoldSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val words = Seq(
    "hello", "llll", "lllll", "ab", "xyz", "aab", "abab", "aaab",
    "banana", "mississippi", "x", "", "ababab", "ba", "aa", "abba",
    "the", "their", "therefore", "über", "naïve")

  test("BPE mode: native expression ≡ applyMerge fold chain") {
    val merges = Seq(("a", "b", "ab"), ("l", "l", "ll"),
      ("ab", "ab", "abab"), ("t", "h", "th"), ("th", "e", "the"))
    val df = words.toDF("w")
    val old = df.select(col("w"),
      merges.foldLeft(split(col("w"), "")) { case (c, (a, b, _)) =>
        Bpe.applyMerge(c, a, b) }.as("sym"))
    val neu = df.select(col("w"),
      subword_fold(split(col("w"), ""), merges).as("sym"))
    assert(neu.collect().toSeq.map(r => (r.getString(0),
        r.getSeq[String](1))) ==
      old.collect().toSeq.map(r => (r.getString(0),
        r.getSeq[String](1))))
  }

  test("WordPiece mode: native expression ≡ applyMergeAs fold chain") {
    val merges = Seq(("a", "##b", "ab"), ("l", "##l", "ll"),
      ("##l", "##l", "##ll"), ("th", "##e", "the"),
      ("t", "##h", "th"))
    val df = words.filter(_.nonEmpty).toDF("w")
    val init = WordPiece.initialSymbols(col("w"))
    val old = df.select(col("w"),
      merges.foldLeft(init) { case (c, (a, b, m)) =>
        WordPiece.applyMergeAs(c, a, b, m) }.as("sym"))
    val neu = df.select(col("w"), subword_fold(init, merges).as("sym"))
    assert(neu.collect().toSeq.map(r => (r.getString(0),
        r.getSeq[String](1))) ==
      old.collect().toSeq.map(r => (r.getString(0),
        r.getSeq[String](1))))
  }

  test("empty merge table is identity; null array is null") {
    val out = Seq(Some("abc"), None).toDF("w")
      .select(subword_fold(split(col("w"), ""), Nil).as("sym"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("a", "b", "c"))
    assert(out(1).isNullAt(0))
  }

  test("interpreted eval agrees with codegen (filter forces eval path)") {
    val merges = Seq(("a", "b", "ab"))
    // expression used inside a deterministic filter evaluates via
    // codegen in the main plan; the same expression evaluated via
    // Column on a local Row uses interpreted eval — compare through a
    // collected projection under both wholeStage settings
    val df = Seq("abab", "aabb").toDF("w")
      .select(subword_fold(split(col("w"), ""), merges).as("sym"))
    val on = df.collect().map(_.getSeq[String](0)).toSeq
    // wholeStage off alone still compiles expressions one by one;
    // NO_CODEGEN makes the interpreted nullSafeEval run
    val factoryMode = "spark.sql.codegen.factoryMode"
    val prevMode = spark.conf.getOption(factoryMode)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set(factoryMode, "NO_CODEGEN")
    try {
      val off = Seq("abab", "aabb").toDF("w")
        .select(subword_fold(split(col("w"), ""), merges).as("sym"))
        .collect().map(_.getSeq[String](0)).toSeq
      assert(on == off)
      assert(on == Seq(Seq("ab", "ab"), Seq("a", "ab", "b")))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      prevMode.fold(spark.conf.unset(factoryMode))(
        spark.conf.set(factoryMode, _))
    }
  }

  test("a merge with an empty right symbol is rejected") {
    intercept[IllegalArgumentException] {
      subword_fold(split(lit("ab"), ""), Seq(("a", "", "a")))
    }
  }
}
