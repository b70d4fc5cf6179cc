package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BloomFilterAgg, BloomMightContainLong, ShingleHashes}

/** Benchmark decontamination: flag training documents that share any word
  * n-gram with an evaluation/benchmark set (the GPT-3-style 13-gram
  * exact-overlap method; `n` is a parameter because useful values depend on
  * document length).
  *
  * Scale shape: the benchmark side is small by construction (an eval set),
  * so its distinct n-gram hashes broadcast; the corpus side explodes to
  * narrow (id, 8-byte hash) rows and broadcast-joins — the 100 TB corpus is
  * never shuffled by content and no all-pairs comparison exists. Matching is
  * on the 64-bit gram hash of the compiled [[graft.functions.WordGramHashes]]
  * expression (FNV-1a per word, polynomial combine per window), applied to
  * both sides; a false positive needs a 64-bit collision against the
  * benchmark set, so the hit COUNT per document is identical to
  * string-equality matching, which is what the DuckDB oracle (q53) checks.
  * [[contaminatedBloom]] is the one path that hashes with xxhash64: it
  * takes the xxhash64 of each gram string's bytes, through the
  * compiled [[graft.functions.ShingleHashes]] expression.
  */
object Decontam {

  /** Documents from `corpus` sharing at least one word `n`-gram with
    * `bench`: (id, n_hit_grams) where n_hit_grams counts the distinct
    * shared grams. Documents with zero overlap are absent (a filter, not a
    * left join — at corpus scale the output is the rare side).
    */
  /** Per-position word-`n`-gram hash structs over an ALREADY-MATERIALIZED
    * word array, via the compiled [[graft.functions.WordGramHashes]]
    * expression — no gram STRING is ever built and no interpreted lambda
    * runs per position (the prior concat_ws/xxhash64-HOF form paid ~µs of
    * interpreter walk per gram, the dominant per-row cost of this family).
    * The match relation is identical: words contain no whitespace (split
    * contract), so gram-string equality ⟺ word-sequence equality, and both
    * the bench and corpus sides hash through the same expression (parity
    * holds whenever no 64-bit collision — the same guarantee the
    * xxhash64-of-string form gave; the oracles certify it). Docs shorter
    * than `n` words degrade to one whole-array gram, mirroring
    * [[Dedup.shinglesOfWords]]'s whole-string convention.
    */
  private def gramStructs(words: Column, n: Int): Column =
    graft.functions.WordGramHashes.wordGramHashes(words, Seq(n))

  def contaminated(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 13): DataFrame = {
    val benchGrams = bench
      .select(Dedup.splitWords(col(textCol)).as("__w"))
      .select(explode(gramStructs(col("__w"), n)).as("g"))
      .select(col("g.h").as("gh"))
      .distinct()
    // per-doc gram dedup rides the final count_distinct — exploding the
    // non-distinct hash stream is byte-equivalent and skips a per-doc
    // array_distinct pass
    corpus
      .select(col(keyCol).as("id"), Dedup.splitWords(col(textCol)).as("__w"))
      .select(col("id"), explode(gramStructs(col("__w"), n)).as("g"))
      .select(col("id"), col("g.h").as("gh"))
      .join(broadcast(benchGrams), Seq("gh"))
      .groupBy("id")
      .agg(count_distinct(col("gh")).as("n_hit_grams"))
  }

  /** Per-document contamination report — the GPT-3/PaLM appendix numbers:
    * not just WHETHER a document overlaps the benchmark ([[contaminated]])
    * but HOW MUCH (`frac_ppm`: contaminated fraction of its gram stream)
    * and HOW CONTIGUOUSLY (`longest_run`: the longest consecutive run of
    * contaminated gram positions ≈ the longest verbatim shared span, in
    * grams). The distinction drives policy: a doc quoting one benchmark
    * sentence (short run, low frac) gets span-masked; a doc that IS the
    * benchmark (frac → 10⁶) gets dropped.
    *
    * Scale shape = [[contaminated]]: benchmark grams broadcast; the corpus
    * explodes to narrow (id, pos, 8-byte hash) rows, and ONLY hit rows
    * (rare by construction) reach the per-doc island window — clean
    * documents never pay more than the map-side broadcast probe. The
    * islands trick (`pos − row_number()` constant per consecutive run) is
    * the same narrow keyed window as sessionization.
    *
    * `frac_ppm` is exact-integer floor ppm over POSITIONAL grams (repeats
    * count; denominator = the doc's gram-stream length), so both engines
    * divide the same exact integers (q88's parity rule). Docs shorter than
    * `n` words degrade to one whole-doc gram (the [[Dedup.shinglesOfWords]]
    * convention). Clean docs are absent (filter semantics).
    */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val benchGrams = bench
      .select(Dedup.splitWords(col(textCol)).as("__w"))
      .select(explode(gramStructs(col("__w"), n)).as("g"))
      .select(col("g.h").as("gh"))
      .distinct()
    // positional (non-distinct) gram hashes: run/frac semantics need the
    // stream; see [[gramStructs]] — no gram string is ever materialized
    val posGrams = corpus
      .select(col(keyCol).as("id"), Dedup.splitWords(col(textCol)).as("__w"))
      .select(col("id"), gramStructs(col("__w"), n).as("__g"))
      .select(col("id"), size(col("__g")).cast("long").as("n_grams"),
        posexplode(col("__g")).as(Seq("pos", "g")))
      .select(col("id"), col("n_grams"), col("pos"), col("g.h").as("gh"))
    val hits = posGrams.join(broadcast(benchGrams), Seq("gh"))
    val win = Window.partitionBy("id").orderBy("pos")
    hits
      .withColumn("__grp", col("pos") - row_number().over(win))
      .groupBy("id", "n_grams", "__grp")
      .agg(count(lit(1)).as("__run"))
      .groupBy("id", "n_grams")
      .agg(sum("__run").as("n_hit_pos"), max("__run").as("longest_run"))
      .select(col("id"), col("n_grams"), col("n_hit_pos"),
        floor(col("n_hit_pos") * lit(1000000L) / col("n_grams"))
          .cast("long").as("frac_ppm"),
        col("longest_run"))
  }

  /** Split-leakage audit: documents of every non-train split that share at
    * least one word `n`-gram with ANY train document — the check a corpus
    * build runs right after [[Sampling.splitColumn]] assignment, since
    * near-duplicate documents landing on opposite sides of a train/val cut
    * silently inflate eval scores.
    *
    * Scale shape differs from [[contaminated]] on purpose: there the bench
    * side is small by construction and broadcasts; here BOTH sides are
    * corpus-scale, so the overlap is a plain shuffle equi-join on the
    * 8-byte gram hash with narrow (split, id, gh) rows — document content
    * never shuffles and no all-pairs stage exists. The train side dedups to
    * distinct hashes first (one partial-aggregated shuffle), so a gram
    * repeated across millions of train docs crosses the wire once.
    */
  def splitLeakage(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      splitCol: String,
      trainLabel: String = "train",
      n: Int = 13): DataFrame = {
    val grams = df
      .select(col(splitCol).as("split"), col(keyCol).as("id"),
        Dedup.splitWords(col(textCol)).as("__w"))
      .select(col("split"), col("id"),
        explode(gramStructs(col("__w"), n)).as("g"))
      .select(col("split"), col("id"), col("g.h").as("gh"))
    val trainGrams =
      grams.filter(col("split") === trainLabel).select("gh").distinct()
    grams.filter(col("split") =!= trainLabel)
      .join(trainGrams, Seq("gh"))
      .groupBy("split", "id")
      .agg(count_distinct(col("gh")).as("n_leaked_grams"))
  }

  /** Bloom-screened variant of [[contaminated]] for benchmark-gram sets too
    * large to broadcast as an exact join relation: the gram-hash set
    * compresses to a bloom filter (built distributed via
    * [[graft.functions.BloomFilterAgg]], OR-merged in partial aggregation),
    * and the corpus side tests membership map-side inside codegen — no join
    * operator at all on the corpus.
    *
    * One-sided error: the result is a SUPERSET of [[contaminated]] — every
    * truly contaminated document appears with at-least-exact hit counts
    * (bloom has no false negatives); ~`fpp` of clean grams also hit.
    * Decontamination drops flagged docs, so over-flagging only costs a
    * little extra data; pipelines needing exactness re-verify the (rare)
    * flagged set with the exact operator.
    *
    * The two small driver-side actions (`count()` to size the filter,
    * `head()` to fetch its bytes) run on the BENCH side only — bounded by
    * the eval-set size, never the corpus (same boundedness argument as
    * `Runner.completedParts`).
    */
  def contaminatedBloom(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 13,
      fpp: Double = 0.01): DataFrame = {
    val benchGrams = bench
      .select(explode(ShingleHashes.shingleHashes(
        Dedup.splitWords(col(textCol)), n)).as("gh"))
      .distinct()
    val expected = math.max(benchGrams.count(), 1L)
    val bytes = benchGrams
      .agg(BloomFilterAgg.bloomFilterAgg(col("gh"), expected, fpp).as("bf"))
      .head().getAs[Array[Byte]](0)
    val filter = BloomFilterAgg.fromBytes(bytes)
    corpus
      .select(col(keyCol).as("id"), explode(ShingleHashes.shingleHashes(
        Dedup.splitWords(col(textCol)), n)).as("gh"))
      .filter(BloomMightContainLong.bloomMightContain(col("gh"), filter))
      .groupBy("id")
      .agg(count_distinct(col("gh")).as("n_hit_grams"))
  }
}
