package graft

import graft.apps.{InvertedIndex, WordCount}
import graft.core.MapReduce
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}

/** Mini-corpus goldens (FIXTURES.md §3.2): hand-computed word-count and
  * inverted-index expectations over 3 tiny docs, plus proof that the
  * pluggable registry reproduces the direct implementations. */
class AppsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = Seq(
    ("a.txt", "the cat sat on the mat"),
    ("b.txt", "the dog. The DOG!"),
    ("c.txt", "cat-alog entry_1")
  ).toDF("source", "text")

  test("word count matches hand-computed golden") {
    val got = WordCount.wordCount(corpus).as[(String, Long)].collect().toSeq
    val want = Seq("catalog" -> 1L, "cat" -> 1L, "dog" -> 2L, "entry1" -> 1L,
      "mat" -> 1L, "on" -> 1L, "sat" -> 1L, "the" -> 4L).sortBy(_._1)
    assert(got == want)
  }

  test("inverted index flat matches golden") {
    val got = InvertedIndex.flat(corpus).as[(String, String, Long)].collect().toSet
    assert(got.contains(("the", "a.txt", 2L)))
    assert(got.contains(("the", "b.txt", 2L)))
    assert(got.contains(("dog", "b.txt", 2L)))
    assert(got.contains(("catalog", "c.txt", 1L)))
    assert(got.size == 9)
  }

  test("postings map is doc-sorted and complete") {
    val got = InvertedIndex.postings(corpus)
      .as[(String, Map[String, Long])].collect().toMap
    assert(got("the") == Map("a.txt" -> 2L, "b.txt" -> 2L))
    assert(got("the").keys.toSeq == got("the").keys.toSeq.sorted)
  }

  test("registry word count == direct word count") {
    val direct = WordCount.wordCount(corpus).as[(String, Long)].collect().toSeq
    val viaReg = MapReduce.run(corpus, "map_wc", "reduce_wc")
      .as[(String, Long)].collect().toSeq
    assert(viaReg == direct)
  }

  /** 40 docs over a 25-word vocabulary: most words sit in many docs, and
    * in many input rows, so partial and final aggregates both merge. */
  private lazy val wideCorpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map(d => (f"d$d%02d.txt",
      Seq.fill(30)(s"w${rnd.nextInt(25)}").mkString(" "))).toDF("source", "text")
  }

  /** (key, postings as JSON in the map's own entry order): equal
    * renderings mean equal entries in equal order. */
  private def postingsInOrder(df: DataFrame): Seq[(String, String)] =
    df.select(col(df.columns(0)), to_json(col(df.columns(1))))
      .as[(String, String)].collect().toSeq

  test("registry inverted index == postings, default and explicit parallelism") {
    // map_wc + reduce_id too: the reducer must combine raw (key, doc) rows
    for (docs <- Seq(corpus, wideCorpus); mapFn <- Seq("map_id", "map_wc");
         (mapPar, reducePar) <- Seq((0, 0), (5, 3))) {
      val viaReg = MapReduce.run(docs, mapFn, "reduce_id", mapPar, reducePar)
      assert(postingsInOrder(viaReg) == postingsInOrder(InvertedIndex.postings(docs)),
        s"$mapFn at ($mapPar, $reducePar)")
    }
    // the direct form is itself doc-sorted, so the registry's is too
    val canonical = InvertedIndex.postings(wideCorpus)
      .select(to_json(col("postings")), InvertedIndex.postingsToJson(col("postings")))
      .as[(String, String)].collect()
    assert(canonical.forall { case (raw, sorted) => raw == sorted })
  }

  test("formatted sink lines") {
    val lines = WordCount.formatted(corpus).as[String].collect().toSeq
    assert(lines.head == "cat - [1]")
    assert(lines.contains("the - [4]"))
  }

  test("word-count total equals token count (invariant)") {
    val total = WordCount.wordCount(corpus).agg(org.apache.spark.sql.functions.sum("cnt"))
      .as[Long].head()
    val tokens = graft.text.Tokenize.tokenize(corpus).count()
    assert(total == tokens)
  }
}
