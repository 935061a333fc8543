package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("textStats counts tokens, punctuation and stopwords exactly") {
    val df = docs((1L, "The cat, the hat. And a 2nd cat!", "en"))
    val r = TextAnalysis.textStats(df).head()
    // tokens: the cat the hat and a 2nd cat
    assert(r.getAs[Long]("n_tokens") == 8)
    assert(r.getAs[Long]("n_distinct_tokens") == 6)
    assert(r.getAs[Long]("punct_count") == 3) // , . !
    assert(r.getAs[Long]("stopword_count") == 4) // the x2, and, a
  }

  test("quality gate rejects ultra-short docs") {
    val df = docs((1L, "hi", "en"), (2L, "the and of to a in is that " * 10, "en"))
    val m = TextAnalysis.textStats(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("quality_ok")).toMap
    assert(!m(1L) && m(2L))
  }

  test("langId picks planted languages and CJK") {
    val df = docs(
      (1L, "the cat and the dog of a house in that place is big", "en"),
      (2L, "der hund und die katze das ist nicht ein problem", "de"),
      (3L, "le chat et la maison les chiens des villes une fois", "fr"),
      (4L, "el perro de que los gatos una casa es grande y bonita", "es"),
      (5L, "你好世界这是中文文本", "zh"),
      (6L, "zzz qqq xxx", "??"))
    val m = TextAnalysis.langId(df).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("predicted")).toMap
    assert(m == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("token counting: whitespace vs BPE-ish lexer semantics") {
    val df = docs((1L, "Hello, world! It's 42 degrees...", "en"))
    val r = TextAnalysis.tokenCounts(df).head()
    // \S+ runs: ["Hello,", "world!", "It's", "42", "degrees..."]
    assert(r.getAs[Long]("n_ws_tokens") == 5L)
    // [a-z]+ | single digit | punct runs over lowercased text:
    // hello , world ! it ' s 4 2 degrees ...  -> 11
    assert(r.getAs[Long]("n_bpe_tokens") == 11L)
    // [a-z0-9]+ words: hello world it s 42 degrees -> 6
    assert(r.getAs[Long]("n_word_tokens") == 6L)
    assert(r.getAs[Long]("chars_per_bpe_micros") ==
      r.getAs[Long]("n_chars") * 1000000L / 11L)
  }

  test("lmScore: hand-derived bigram model, short docs score zero") {
    val df = docs(
      (1L, "the cat sat", "en"),
      (2L, "the cat ran", "en"),
      (3L, "zz", "en"),      // 1 token -> no bigrams
      (4L, "", "en"))        // empty
    val got = TextAnalysis.lmScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // model: c("the cat")=2 c("cat sat")=1 c("cat ran")=1; c1("the")=2 c1("cat")=2
    // doc1: p = (1e6*2/2 + 1e6*1/2) / 2 = 750000; doc2 symmetric
    assert(got(1L) == (2L, 750000L))
    assert(got(2L) == (2L, 750000L))
    assert(got(3L) == (0L, 0L))
    assert(got(4L) == (0L, 0L))
  }

  test("lmScore: a NULL doc_id feeds the model and scores (NULL, 0, 0)") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "the cat sat"), (null, "the cat ran"), (3L, "the dog"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.lmScore(df).collect()
    assert(rows.length == 3)
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length == 1)
    assert(nullRow.head.getLong(1) == 0L && nullRow.head.getLong(2) == 0L)
    val got = rows.filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the null doc's bigrams count: c("the cat")=2 c("cat sat")=1
    // c("the dog")=1; c1("the")=3 c1("cat")=2
    // doc1: (1e6*2 div 3 + 1e6*1 div 2) div 2 = (666666 + 500000) div 2
    assert(got(1L) == (2L, (666666L + 500000L) / 2L))
    // doc3: 1e6*1 div 3
    assert(got(3L) == (1L, 333333L))
  }

  test("lmScore: self-repetitive text maxes the conditional probability") {
    val df = docs((1L, "a a a", "en"), (2L, "a b c", "en"))
    val got = TextAnalysis.lmScore(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // corpus model: c("a a")=2, c1("a")=3 (two from doc1, one from "a b")
    // doc1: both bigrams p = 1e6*2 div 3 = 666666 -> score 666666
    assert(got(1L) == 666666L)
    // doc2: "a b" p=1e6*1 div 3=333333; "b c" p=1e6*1 div 1=1e6 -> (333333+1000000) div 2
    assert(got(2L) == (333333L + 1000000L) / 2L)
  }

  test("lmScore agrees with an independently-computed model on random text") {
    val words = Array("red", "blue", "fish", "dog", "run", "the")
    val rows = (1L to 60L).map { i =>
      val n = (i % 7).toInt + 1
      val txt = (0 until n).map(j => words(((i * 31 + j * 17) % 6).toInt)).mkString(" ")
      (i, txt, "en")
    }
    val df = docs(rows: _*)
    // independent driver-side model over the same corpus
    val toks = rows.map { case (id, t, _) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
    val bgs = toks.flatMap { case (id, ts) => ts.sliding(2).filter(_.size == 2)
      .map(p => (id, p.head, p.mkString(" "))).toSeq }
    val c12 = bgs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val c1 = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = toks.map { case (id, ts) =>
      val ps = ts.sliding(2).filter(_.size == 2).toSeq
        .map(p => 1000000L * c12(p.mkString(" ")) / c1(p.head))
      id -> (ps.size.toLong, if (ps.isEmpty) 0L else ps.sum / ps.size)
    }.toMap
    val got = TextAnalysis.lmScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("chunkOverlap: window arithmetic, overlap, short and empty docs") {
    val df = docs(
      (1L, (1 to 10).map(i => s"w$i").mkString(" "), "en"), // 10 tokens
      (2L, "a b c", "en"),                                  // shorter than size
      (3L, "", "en"))                                       // no chunks
    val got = TextAnalysis.chunkOverlap(df, size = 4, overlap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    // stride 2: doc 1 (n=10) -> 1 + ceil(6/2) = 4 chunks
    assert(got.keys.count(_._1 == 1L) == 4)
    assert(got((1L, 0L)) == ("w1 w2 w3 w4", 4L))
    assert(got((1L, 1L)) == ("w3 w4 w5 w6", 4L)) // 2-token overlap
    assert(got((1L, 3L)) == ("w7 w8 w9 w10", 4L))
    assert(got.keys.count(_._1 == 2L) == 1)
    assert(got((2L, 0L)) == ("a b c", 3L)) // short doc: one partial chunk
    assert(!got.keys.exists(_._1 == 3L))   // empty doc: no rows
    // every token of doc 1 appears in some chunk (coverage is complete)
    val covered = got.collect { case ((1L, _), (txt, _)) => txt.split(" ") }
      .flatten.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("repetitionStats counts per-doc frequencies with zero shuffles") {
    val df = docs(
      (1L, "spam spam spam spam eggs", "en"),  // top_tf 4/5 -> repetitive
      (2L, "one two three four five six", "en"),
      (3L, "", "en")) // no tokens: no row
    val out = TextAnalysis.repetitionStats(df)
    val got = out.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("top_tf"),
        r.getAs[Long]("n_distinct"), r.getAs[Boolean]("repetitive"))).toMap
    assert(got(1L) == ((5L, 4L, 2L, true)))
    assert(got(2L) == ((6L, 1L, 6L, false)))
    assert(!got.contains(3L))
    // ratio columns are exact integer micros
    val r1 = out.where($"doc_id" === 1L).head()
    assert(r1.getAs[Long]("top_tf_ratio_micros") == 800000L)
    assert(r1.getAs[Long]("distinct_ratio_micros") == 400000L)
    // the whole operator is one narrow pass: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected a shuffle-free plan:\n$plan")
  }

  test("NULL text is dropped (not NPE'd) by the partition-loop operators, " +
      "matching the explode spelling's unnest-of-NULL semantics") {
    val df = docs((1L, "spam spam eggs", "en"), (2L, null, "en"))
    val rep = TextAnalysis.repetitionStats(df).collect().map(_.getLong(0))
    assert(rep.toSeq == Seq(1L))
    val tc = TextAnalysis.termCounts(df).collect().map(_.getLong(0)).distinct
    assert(tc.toSeq == Seq(1L))
  }

  test("termCounts equals the explode->groupBy spelling") {
    val df = docs((1L, "a b a c b a", "en"), (2L, "x", "en"), (3L, "", "en"))
    val narrow = TextAnalysis.termCounts(df)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val wide = df.select($"doc_id",
        org.apache.spark.sql.functions.explode(
          TextAnalysis.tokens($"text")).as("term"))
      .groupBy("doc_id", "term").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(narrow == wide)
    assert(!TextAnalysis.termCounts(df).queryExecution.executedPlan
      .toString.contains("Exchange"))
  }

  test("fingerprint is whitespace- and case-invariant") {
    val df = docs((1L, "Hello   World", "en"), (2L, "hello world", "en"),
      (3L, " HELLO\tWORLD ", "en"), (4L, "hello there", "en"))
    val fps = df.select($"doc_id",
        TextAnalysis.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(2L) == fps(3L))
    assert(fps(4L) != fps(1L))
  }
}
