package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CorpusPipeline, TextOps}
import graft.sources.TranscriptGen

/** Seeded inputs of the three workloads. Every value is a pure function of
  * the workload seed through `xxhash64`, so the same seed gives the same
  * tables at any parallelism, and nothing is cached between runs.
  */
object Inputs {

  /** Transcript turns for the audit workloads. `audit_typical` keeps the
    * generator's defaults (1-12 turns per conversation, a hot conversation
    * of ~1% of turns, plantRate 200); `audit_hot_dirty` has about the same
    * row count but puts a third of the turns on one conversation and plants
    * ten times as densely. The conversations dim stays far below the 64 MB
    * broadcast gate, so the orphan check is folded into the row scan.
    */
  def transcriptConfig(workload: String, seed: Long, scale: Double): TranscriptGen.Config = {
    val convs = (10000 * scale).toLong
    workload match {
      case "audit_typical" =>
        TranscriptGen.Config(nConvs = convs, parts = 8, seed = seed, plantRate = 200)
      case "audit_hot_dirty" =>
        // 6.5 turns per bulk conversation on average; the hot conversation
        // gets half the bulk turns, i.e. a third of the table
        val bulk = (convs * 2) / 3
        TranscriptGen.Config(nConvs = bulk, hotTurns = (bulk * 13) / 4, parts = 8,
          seed = seed, plantRate = 20)
    }
  }

  def docCount(scale: Double): Long = (2000 * scale).toLong

  /** Corpus pipeline configuration of `corpus_funnel`: the LM-outlier stage
    * is on and the mixture keeps 15/16 of each stratum, so every stage of
    * the funnel drops a non-zero share of the generated documents.
    */
  val corpusConfig: CorpusPipeline.Config = CorpusPipeline.Config(
    langs = Set("en", "de", "fr", "es"),
    minQuality = 0.5,
    lmMaxBits = Some(4.5),
    mixtureDefault = "f000")

  /** The eval set the funnel decontaminates against: prose documents of
    * their own, one per 50 corpus documents. Contaminated corpus documents
    * quote twelve words of one of them.
    */
  def benchSet(spark: SparkSession, seed: Long, nDocs: Long): DataFrame =
    spark.range(0L, math.max(1L, nDocs / 50)).toDF("doc_id")
      .select(col("doc_id"), prose(seed, evalTid(col("doc_id")), vocab).as("text"),
        lit("eval").as("source"))

  /** Text keys of eval documents are negative, disjoint from corpus keys. */
  private def evalTid(i: Column): Column = -i - 1

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "ze",
    "pi", "sa", "do", "fu", "ge", "hi", "ju", "be")
  private val plainWords: Seq[String] =
    for (a <- syllables; b <- syllables.take(12)) yield a + b
  private val stopWords: Seq[String] = TextOps.stopwords.values.flatten.toSeq.distinct.sorted
  private val vocab: Seq[String] = plainWords ++ stopWords

  private val boilerSentences: Seq[String] = Seq(
    "accept the cookies to continue using this site",
    "subscribe to the newsletter for weekly product updates",
    "all rights reserved by the publisher and its partners",
    "read the privacy policy before you create an account",
    "click here to share the article with your friends",
    "sign in to the portal to manage your subscription",
    "follow us on the social channels for more news",
    "this page uses the tracking pixels of our partners",
    "download the mobile app and get the latest offers",
    "contact the support team if you need any help",
    "terms and conditions apply to the listed promotions",
    "back to the top of the page or the main menu")

  private val junkLetters: Seq[String] =
    (('a' to 'z') ++ ('A' to 'Z') ++ "éüñøåçßæ").map(_.toString)

  private def h(seed: Long, tag: String, cols: Column*): Column =
    xxhash64(lit(seed) +: lit(tag) +: cols: _*)

  private def pick(words: Seq[String], idx: Column): Column =
    element_at(array(words.map(lit): _*), (pmod(idx, lit(words.size.toLong)) + 1).cast("int"))

  /** 40-79 words drawn from the stopword-bearing vocabulary, keyed by `tid`:
    * two documents with the same `tid` carry the same text.
    */
  private def prose(seed: Long, tid: Column, words: Seq[String]): Column = {
    val n = (pmod(h(seed, "nw", tid), lit(40L)) + 40).cast("int")
    concat_ws(" ", transform(sequence(lit(1), n), i => pick(words, h(seed, "w", tid, i))))
  }

  /** Documents `(doc_id, text, source)`. Each row draws one kind from its
    * hash; the kinds map onto the funnel stages that drop them: no stopwords
    * (language "und"), low quality (digit runs), exact copies of an earlier
    * document, near copies (one word appended), a twelve-word quote of an
    * eval document (contaminated), boilerplate (seven stock sentences),
    * random letters (LM outlier) and plain prose. The mixture then drops
    * 1/16 of the survivors.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("doc_id")
    val kind = pmod(h(seed, "kind", id), lit(100L))
    val earlier = greatest(lit(0L), id - 1 - pmod(h(seed, "src", id), lit(64L)))
    val lowQuality = concat(lit("the "),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), _ => lit("1234567890123"))))
    val evalDoc = evalTid(pmod(h(seed, "eval", id), lit(math.max(1L, n / 50))))
    val quote = concat_ws(" ", transform(sequence(lit(1), lit(12)),
      i => pick(vocab, h(seed, "w", evalDoc, i))))
    val boiler = concat_ws(" ", transform(sequence(lit(1), lit(7)),
      j => pick(boilerSentences, h(seed, "bs", id, j))))
    val junkWord: Column => Column = i => concat_ws("", transform(sequence(lit(1), lit(6)),
      k => pick(junkLetters, h(seed, "jk", id, i, k))))
    val junk = concat(lit("the "),
      concat_ws(" ", transform(sequence(lit(1), lit(40)), junkWord)))
    val text = when(kind < 2, prose(seed, id, plainWords))
      .when(kind < 5, lowQuality)
      .when(kind < 8, prose(seed, earlier, vocab))
      .when(kind < 11, concat(prose(seed, earlier, vocab), lit(" "),
        pick(plainWords, h(seed, "tail", id))))
      .when(kind < 13, concat(prose(seed, id, vocab), lit(" "), quote))
      .when(kind < 17, boiler)
      .when(kind < 18, junk)
      .otherwise(prose(seed, id, vocab))
    spark.range(0L, n).toDF("doc_id")
      .select(id, text.as("text"),
        concat(lit("src"), pmod(h(seed, "source", id), lit(20L)).cast("string")).as("source"))
  }
}
