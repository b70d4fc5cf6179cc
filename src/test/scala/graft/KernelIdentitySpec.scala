package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomFilterAgg, BloomMightContainLong, CharTrigramCodes,
  MinHashSignature, PackCodePoints, ShingleHashes, ShingleJaccard, UnpackCodePoints}
import graft.ops.{ChatOps, Decontam, Dedup, LangModel}

/** The compiled trigram and shingle kernels against the built-in string
  * formulations they replaced, rebuilt here: `substr` per trigram position
  * for the LM family, `xxhash64(explode(shinglesOfWords(...)))` and the
  * `array_intersect` / `array_union` Jaccard for the shingle family. Every
  * op output must be identical, on text that exercises the encodings:
  * ASCII, accents, combining marks, CJK, 4-byte emoji, invalid UTF-8,
  * empty, NULL, too short for one trigram / one n-gram, repeated shingles
  * and duplicate keys.
  */
class KernelIdentitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- the replaced formulations -------------------------------------

  private def oldTrigrams(df: DataFrame, idCol: String, textCol: String,
      extras: Seq[String] = Nil): DataFrame = {
    val t = lower(col(textCol))
    val n = length(t)
    val idx = when(n >= 3, sequence(lit(1), n - 2))
      .otherwise(array().cast("array<int>"))
    val ex = extras.map(col)
    df.select(col(idCol) +: ex :+ t.as("__t") :+ explode(idx).as("__i"): _*)
      .select(col(idCol) +: ex :+
        col("__t").substr(col("__i"), lit(3)).as("tri"): _*)
  }

  private def oldTrain(ref: DataFrame, minFrac: Double)
      : (DataFrame, DataFrame, Long) = {
    val c3 = oldTrigrams(ref, "doc_id", "text")
      .groupBy("tri").agg(count(lit(1)).as("c3"))
    val row = c3.agg(countDistinct(substring(col("tri"), 3, 1)),
      sum("c3")).first()
    val total = if (row.isNullAt(1)) 0L else row.getLong(1)
    val thr = math.ceil(minFrac * total.toDouble).toLong
    (c3.filter(col("c3") >= thr),
      c3.groupBy(substring(col("tri"), 1, 2).as("bg")).agg(sum("c3").as("c2"))
        .filter(col("c2") >= thr),
      row.getLong(0))
  }

  private def oldCrossEntropy(docs: DataFrame, m3: DataFrame, m2: DataFrame,
      v: Long): DataFrame =
    oldTrigrams(docs, "doc_id", "text")
      .join(broadcast(m3), Seq("tri"), "left")
      .join(broadcast(m2.withColumnRenamed("bg", "__bg")),
        substring(col("tri"), 1, 2) === col("__bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tris"),
        sum(log((coalesce(col("c3"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c2"), lit(0L)) + v))).as("__s"))
      .select(col("doc_id"), col("n_tris"),
        round(-col("__s") / (col("n_tris") * LangModel.Ln2), 4).as("xent_bits"))

  private def oldImportanceWeights(docs: DataFrame, target: Column,
      minFrac: Double): DataFrame = {
    val c3 = oldTrigrams(docs.select(col("doc_id"), col("text"),
      target.as("__tgt")), "doc_id", "text", Seq("__tgt"))
      .groupBy("tri")
      .agg(count(lit(1)).as("c3r"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("c3t"))
    val third = substring(col("tri"), 3, 1)
    val r = c3.agg(countDistinct(third),
      countDistinct(when(col("c3t") > 0, third)), sum("c3r"), sum("c3t"))
      .first()
    val (vr, vt) = (r.getLong(0), r.getLong(1))
    val thrT = math.ceil(minFrac * r.getLong(3).toDouble).toLong
    val thrR = math.ceil(minFrac * r.getLong(2).toDouble).toLong
    val m3 = c3.select(col("tri"),
      when(col("c3t") >= thrT, col("c3t")).as("c3t"),
      when(col("c3r") >= thrR, col("c3r")).as("c3r"))
      .filter(col("c3t").isNotNull || col("c3r").isNotNull)
    val m2 = c3.groupBy(substring(col("tri"), 1, 2).as("bg"))
      .agg(sum(when(col("c3t") > 0, col("c3t"))).as("s2t"),
        sum("c3r").as("s2r"))
      .select(col("bg").as("__bg"),
        when(col("s2t") >= thrT, col("s2t")).as("c2t"),
        when(col("s2r") >= thrR, col("s2r")).as("c2r"))
      .filter(col("c2t").isNotNull || col("c2r").isNotNull)
    val lt = log((coalesce(col("c3t"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2t"), lit(0L)) + vt))
    val lr = log((coalesce(col("c3r"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2r"), lit(0L)) + vr))
    oldTrigrams(docs, "doc_id", "text")
      .join(broadcast(m3), Seq("tri"), "left")
      .join(broadcast(m2), substring(col("tri"), 1, 2) === col("__bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tris"), sum(lt - lr).as("__s"))
      .select(col("doc_id"), col("n_tris"),
        round(col("__s") / (col("n_tris") * LangModel.Ln2), 4).as("weight_bits"))
  }

  /** `keep` plus `xxhash64(explode(shinglesOfWords(words, n)))` as `h`. */
  private def oldShingleHashes(df: DataFrame, keep: Seq[String],
      words: Column, n: Int): DataFrame =
    df.select(keep.map(col) :+ explode(Dedup.shinglesOfWords(words, n))
        .as("__sh"): _*)
      .select(keep.map(col) :+ xxhash64(col("__sh")).as("h"): _*)

  private def oldSignatures(df: DataFrame, n: Int, k: Int): DataFrame =
    oldShingleHashes(
      df.select(col("doc_id").as("id"), Dedup.splitWords(col("text")).as("__w")),
      Seq("id"), col("__w"), n)
      .groupBy("id")
      .agg(MinHashSignature.minhashSig(col("h"), k).as("sig"))

  private def oldLshPairsExact(df: DataFrame, n: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): DataFrame = {
    val r = k / bands
    val banded = oldSignatures(df, n, k).select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b))).as("band"))
    val ok = banded.join(banded.groupBy("band").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBucket), Seq("band"))
    ok.as("a").join(ok.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      .join(df.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(df.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Dedup.splitWords(col("text_a")).as("__wa"),
        Dedup.splitWords(col("text_b")).as("__wb"))
      .select(col("id_a"), col("id_b"),
        Dedup.shinglesOfWords(col("__wa"), n).as("sh_a"),
        Dedup.shinglesOfWords(col("__wb"), n).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardOfShingles(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def oldEchoSignals(df: DataFrame, n: Int, k: Int): DataFrame = {
    val sigs = oldShingleHashes(df, Seq("conv_id", "turn_idx", "role"),
        Dedup.splitWords(col("text")), n)
      .groupBy(col("conv_id"), col("turn_idx"), col("role"))
      .agg(MinHashSignature.minhashSig(col("h"), k).as("__sig"))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    sigs.withColumn("__prev", lag(col("__sig"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        (size(filter(zip_with(col("__sig"), col("__prev"), (a, b) => a === b),
          x => x)).cast("long") * (1000000L / k)).as("echo_ppm"))
  }

  private def oldContaminatedBloom(corpus: DataFrame, bench: DataFrame,
      n: Int, fpp: Double): DataFrame = {
    val grams = oldShingleHashes(bench, Nil, Dedup.splitWords(col("text")), n)
      .distinct()
    val bytes = grams.agg(BloomFilterAgg.bloomFilterAgg(col("h"),
      math.max(grams.count(), 1L), fpp)).head().getAs[Array[Byte]](0)
    oldShingleHashes(corpus.withColumnRenamed("doc_id", "id"), Seq("id"),
        Dedup.splitWords(col("text")), n)
      .filter(BloomMightContainLong.bloomMightContain(col("h"),
        BloomFilterAgg.fromBytes(bytes)))
      .groupBy("id").agg(count_distinct(col("h")).as("n_hit_grams"))
  }

  // ---- inputs --------------------------------------------------------

  /** Texts covering every encoding case; NULL rides as None. */
  private val special: Seq[Option[String]] = Seq(
    Some("The Quick brown fox jumps over the lazy dog"),
    Some("Crème brûlée à la française, déjà vu"),
    Some("café naïve résumé café naïve"),
    Some("漢字のテキスト 漢字のテキスト 中文 文本"),
    Some("emoji 😀🎉 party 😀🎉 party 🧪"),
    Some("ÉCOLE İstanbul ΣΊΣΥΦΟΣ ǅ"),
    Some(""), None, Some("ab"), Some("a"), Some("one two"),
    Some("a b c a b c a b c a b c"),
    Some("   padded   with  \t tabs\tand   spaces  "))

  /** A deterministic pseudo-random corpus over a mixed-script vocabulary,
    * with near-duplicates so the LSH join has candidates to verify.
    */
  private def corpus: DataFrame = {
    val vocab = Seq("the", "data", "Spark", "naïve", "ÜBER", "漢字", "テスト",
      "😀", "🎉x", "é", "quick", "fox", "σοφία", "a", "b", "c")
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(_ =>
      Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val texts = base ++ base.take(15).map(_ + " tail") ++ special.flatten
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) } ++
      Seq((900L, None), (901L, Some("a b c a b c a b c a b c")))
    val invalid = Seq((950L, "61C3FF62E282B86364"), (951L, "FF61FE62C0AF6365"),
      (952L, "ED A0 80 61 62 63".replace(" ", "")))
    rows.toDF("doc_id", "text").unionByName(
      invalid.toDF("doc_id", "hex").select(col("doc_id"),
        unhex(col("hex")).cast("string").as("text")))
  }

  private def specialDf: DataFrame =
    special.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  private def words(df: DataFrame): DataFrame =
    df.select(col("doc_id"), Dedup.splitWords(col("text")).as("w"))
      .unionByName(Seq((-1L, Seq[String]()), (-2L, Seq("x", null, "y", "z")),
        (-3L, Seq[String](null, null)), (-4L, Seq("a b", "c")),
        (-5L, Seq("a", "b c")), (-6L, Seq("", "", "")))
        .toDF("doc_id", "w"))

  // ---- kernels -------------------------------------------------------

  test("CharTrigramCodes decodes to exactly the substr trigram of every " +
    "position, and the packed keys round-trip") {
    val df = corpus
    val oldRows = oldTrigrams(df, "doc_id", "text")
      .groupBy("doc_id").agg(sort_array(collect_list("tri")).as("t"))
    val newRows = df.select(col("doc_id"),
        explode(CharTrigramCodes.charTrigramCodes(lower(col("text")))).as("tc"))
      .select(col("doc_id"), UnpackCodePoints.unpackCodePoints(col("tc"), 3)
        .as("tri"), col("tc"))
      .groupBy("doc_id").agg(sort_array(collect_list("tri")).as("t"),
        sum(when(PackCodePoints.packCodePoints(col("tri"), 3) === col("tc"), 0)
          .otherwise(1)).as("bad"))
    val o = oldRows.as[(Long, Seq[String])].collect().toMap
    val n = newRows.as[(Long, Seq[String], Long)].collect()
    assert(n.map(r => r._1 -> r._2).toMap === o)
    assert(n.forall(_._3 == 0), "pack(unpack(code)) != code")
    assert(o.contains(950L) && !o.contains(900L))
    // the invalid UTF-8 rows really were invalid before lower()
    assert(df.filter(col("doc_id") >= 950)
      .filter(!expr("is_valid_utf8(text)")).count() === 3)
    // keys that are not exactly k characters match nothing
    val keys = Seq("abc", "ab", "abcd", "", "é漢😀", "😀😀")
      .toDF("s").select(PackCodePoints.packCodePoints(col("s"), 3),
        PackCodePoints.packCodePoints(col("s"), 2))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(keys.map(_._1.isDefined).toSeq ===
      Seq(true, false, false, false, true, false))
    assert(keys.map(_._2.isDefined).toSeq ===
      Seq(false, true, false, false, false, true))
  }

  test("ShingleHashes is xxhash64 of every shinglesOfWords shingle; " +
    "ShingleJaccard is the array_intersect / array_union Jaccard") {
    val w = words(corpus)
    for (n <- Seq(1, 2, 3, 5)) {
      val oldH = oldShingleHashes(w, Seq("doc_id"), col("w"), n)
        .groupBy("doc_id").agg(sort_array(collect_set("h")).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      val newH = w.select(col("doc_id"),
          explode(ShingleHashes.shingleHashes(col("w"), n)).as("h"))
        .groupBy("doc_id").agg(sort_array(collect_set("h")).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(newH === oldH, s"n=$n")
      val pairs = w.as("a").crossJoin(w.as("b"))
        .filter(col("a.doc_id") <= col("b.doc_id"))
      val got = pairs.select(col("a.doc_id"), col("b.doc_id"),
          Dedup.jaccardOfShingles(Dedup.shinglesOfWords(col("a.w"), n),
            Dedup.shinglesOfWords(col("b.w"), n)).as("old"),
          ShingleJaccard.shingleJaccard(col("a.w"), col("b.w"), n, 0.0)
            .as("new"),
          ShingleJaccard.shingleJaccard(col("a.w"), col("b.w"), n, 0.5)
            .as("gated"))
        .as[(Long, Long, Double, Seq[Double], Seq[Double])].collect()
      got.foreach { case (a, b, old, nw, gated) =>
        assert(nw === Seq(old), s"n=$n pair ($a, $b)")
        assert(gated === (if (old >= 0.5) Seq(old) else Nil))
      }
      assert(got.exists(r => r._3 > 0 && r._3 < 1), "no partial overlap seen")
    }
  }

  // ---- ops -----------------------------------------------------------

  test("LangModel.train: identical models and vocab") {
    for (df <- Seq(corpus, specialDf); minFrac <- Seq(1e-7, 0.01)) {
      val (m3, m2, v) = LangModel.train(df, "doc_id", "text", minFrac)
      val (o3, o2, ov) = oldTrain(df, minFrac)
      assert(v === ov)
      assert(m3.as[(String, Long)].collect().toSet ===
        o3.as[(String, Long)].collect().toSet)
      assert(m2.as[(String, Long)].collect().toSet ===
        o2.as[(String, Long)].collect().toSet)
    }
  }

  test("LangModel.crossEntropy: identical scores, also against " +
    "hand-built models with duplicate and off-length keys") {
    val df = corpus
    val ref = df.filter(col("doc_id") % 3 =!= 0)
    val (m3, m2, v) = LangModel.train(ref, "doc_id", "text", 1e-3)
    def same(a: DataFrame, b: DataFrame) =
      assert(a.as[(Long, Long, Double)].collect().toSet ===
        b.as[(Long, Long, Double)].collect().toSet)
    same(LangModel.crossEntropy(df, "doc_id", "text", m3, m2, v),
      oldCrossEntropy(df, m3, m2, v))
    val hm3 = Seq(("the", 5L), ("the", 2L), ("th", 9L), ("thex", 1L),
      ("漢字の", 4L), ("😀🎉 ", 3L), (null, 7L)).toDF("tri", "c3")
    val hm2 = Seq(("th", 11L), ("th", 1L), ("t", 3L), ("漢字", 6L),
      ("😀🎉", 2L)).toDF("bg", "c2")
    same(LangModel.crossEntropy(df, "doc_id", "text", hm3, hm2, 40L),
      oldCrossEntropy(df, hm3, hm2, 40L))
  }

  test("LangModel.importanceWeights: identical weights") {
    val df = corpus.withColumn("tgt", col("doc_id") % 2 === 0)
    for (minFrac <- Seq(1e-5, 0.02)) {
      assert(LangModel.importanceWeights(df, "doc_id", "text", col("tgt"),
          minFrac).as[(Long, Long, Double)].collect().toSet ===
        oldImportanceWeights(df, col("tgt"), minFrac)
          .as[(Long, Long, Double)].collect().toSet)
    }
  }

  test("Dedup.minhashSignatures and minhashLshPairsExact: identical " +
    "signatures and pairs, duplicate keys included") {
    val df = corpus.unionByName(Seq((3L, Some("a second text under key 3")))
      .toDF("doc_id", "text"))
    assert(Dedup.minhashSignatures(df, "text", "doc_id", 3, 64)
        .as[(Long, Seq[Long])].collect().toMap ===
      oldSignatures(df, 3, 64).as[(Long, Seq[Long])].collect().toMap)
    for ((n, thr) <- Seq((3, 0.7), (2, 0.3))) {
      val got = Dedup.minhashLshPairsExact(df, "text", "doc_id", n = n,
          threshold = thr).as[(Long, Long, Double)].collect()
      assert(got.length >= 10, s"too few pairs to compare: ${got.length}")
      assert(got.toSet ===
        oldLshPairsExact(df, n, 64, 16, thr, 200).as[(Long, Long, Double)]
          .collect().toSet)
    }
  }

  test("ChatOps.echoSignals: identical echo scores") {
    val texts = special :+ Some("The Quick brown fox jumps over the lazy dog")
    val turns = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((s"c${i % 4}", i, "user", t),
        (s"c${i % 4}", i + 100, "assistant", texts((i + 1) % texts.size)))
    }.toDF("conv_id", "turn_idx", "role", "text")
    for (k <- Seq(16, 10)) {
      assert(ChatOps.echoSignals(turns, "conv_id", "turn_idx", "role",
          "text", k = k).select("conv_id", "turn_idx", "role", "echo_ppm")
          .as[(String, Int, String, Long)].collect().toSet ===
        oldEchoSignals(turns, 3, k).as[(String, Int, String, Long)]
          .collect().toSet)
    }
  }

  test("Decontam.contaminatedBloom: identical hit counts") {
    val df = corpus
    val bench = df.filter(col("doc_id") % 5 === 0).select("text")
    for (n <- Seq(2, 4)) {
      val got = Decontam.contaminatedBloom(df, bench, "text", "doc_id", n)
        .as[(Long, Long)].collect().toSet
      assert(got.size >= 5)
      assert(got === oldContaminatedBloom(df, bench, n, 0.01)
        .as[(Long, Long)].collect().toSet)
    }
  }
}
