package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame

/** BPE's one-task path ([[TextAnalysis.localBpe]]) against the
  * distributed loop ([[TextAnalysis.iterativeBpe]]): the same merge
  * table, the same final per-doc token arrays and the same schemas, on
  * the test corpus, on seeded random corpora and on adversarial ones. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val Sep = "\u0001"

  /** A corpus dir holding only `documents.parquet` (doc_id, text). */
  private def corpus(texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-spec").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }.toDF("doc_id", "text")
      .coalesce(2).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def states(state: DataFrame): Seq[(Long, Int, Seq[String])] =
    state.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2).toSeq))
      .sortBy(_._1)

  private def merges(m: DataFrame): Seq[(Int, String, Long)] =
    m.collect().toSeq.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))

  /** Both paths over `d` for `n` rounds; returns the local merges. */
  private def samePaths(d: String, n: Int): Seq[(Int, String, Long)] = {
    val (ls, lm) = TextAnalysis.localBpe(spark, d, n)
    val (is, im) = TextAnalysis.iterativeBpe(spark, d, n)
    assert(ls.schema == is.schema, s"${ls.schema.treeString} vs ${is.schema.treeString}")
    assert(lm.schema == im.schema, s"${lm.schema.treeString} vs ${im.schema.treeString}")
    val local = merges(lm)
    assert(local == merges(im), s"$n rounds over $d")
    assert(states(ls) == states(is), s"$n rounds over $d")
    Core.releaseCaches()
    local
  }

  test("the one-task path equals the distributed loop on the test corpus at 5, 12 and 20 rounds") {
    Seq(5, 12, 20).foreach(n => assert(samePaths(sf, n).length == n))
  }

  test("the one-task path equals the distributed loop on seeded random corpora") {
    // a small alphabet makes count ties and repeated runs common
    val words = Seq("a", "b", "c", "ab", "ba", "aa", "c1", "0")
    Seq(1, 2, 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val texts = Seq.fill(30)(Seq.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(words.length))).mkString(" "))
      samePaths(corpus(texts), 12)
    }
  }

  test("an all-same-token document counts pairs with overlaps and merges without") {
    // round 1 counts `a a` 4 times and merges left to right:
    // a a a a a → aa aa a; then aa|a ties aa|aa and wins by byte order
    val m = samePaths(corpus(Seq("a a a a a")), 5)
    assert(m == Seq((1, s"a${Sep}a", 4L), (2, s"aa${Sep}a", 1L), (3, s"aa${Sep}aaa", 1L)),
      "the corpus runs out of pairs after round 3, so there are 3 merge rows")
    val (state, _) = TextAnalysis.localBpe(spark, corpus(Seq("a a a a a")), 5)
    assert(states(state).map(_._3) == Seq(Seq("aaaaa")))
  }

  test("one-token documents leave no pair to merge") {
    assert(samePaths(corpus(Seq("hello", "world", "hello")), 5).isEmpty)
    // x y x y → xy xy → xyxy, then only one-token documents remain
    assert(samePaths(corpus(Seq("hello", "x y x y", "z")), 12).length == 2)
  }

  test("a planted count tie goes to the smaller pair in byte order") {
    // every pair occurs once; a|b is the smallest lhs<sep>rhs
    val m = samePaths(corpus(Seq("b c", "y z", "a z", "a b", "ab a")), 5)
    assert(m.head == ((1, s"a${Sep}b", 1L)), m)
  }

  test("a warm text_bpe_train build starts at most two jobs, all inside SQL executions") {
    TextAnalysis.bpeTrain(spark, sf).collect()
    val (df, jobs) = jobsUnder(TextAnalysis.bpeTrain(spark, sf))
    assert(jobs.nonEmpty && jobs.length <= 2 && jobs.forall(identity), s"build jobs: $jobs")
    assert(df.collect().map(_.getInt(0)).toSeq == (1 to 5))
  }
}
