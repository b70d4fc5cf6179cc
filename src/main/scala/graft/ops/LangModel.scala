package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CharTrigramCodes, PackCodePoints, UnpackCodePoints}

/** Character-trigram language-model scoring — the CCNet/Wenzek-style
  * quality gate a 100 TB corpus build actually runs: train a smoothed
  * char-trigram LM on a reference slice (the in-language / trusted half of
  * the corpus), score every document by cross-entropy in bits/char, keep
  * the low-perplexity head. Classical distributed stand-in for the
  * reference's one-record-at-a-time external-LLM scoring
  * (`/root/reference/src/core/genai_model.py:27-95`).
  *
  * Scale shape (the whole point):
  *   - A trigram is one packed long ([[graft.functions.CharTrigramCodes]]:
  *     three 21-bit code points of the lowercased text), emitted by one
  *     compiled pass per document — no string per trigram position. The
  *     counts, vocab and both model lookups key on that code; only the
  *     surviving model rows decode back to (tri, bg) strings.
  *   - TRAIN is one shuffle of narrow (code) rows into a HashAggregate
  *     with map-side combine; bigram-prefix counts re-aggregate the trigram
  *     counts — never a second pass over text.
  *   - The model is BOUNDED BY CONSTRUCTION: a trigram survives only if
  *     c3 ≥ ceil(minFrac · total) — the q64 lesson (scale-invariant
  *     fraction, not absolute count), and it caps the model at ≤ 1/minFrac
  *     entries on ANY corpus size, so the broadcast can never blow up on a
  *     100 TB unicode corpus. Pruned/unseen mass falls to the same add-1
  *     smoothed floor the estimator already assigns to unseen trigrams.
  *   - SCORE is map-side: the doc trigram stream broadcast-joins the model
  *     (two narrow long-keyed lookups), then ONE groupBy(doc) sum with
  *     partial aggregation. Document text never reaches an exchange; only
  *     narrow per-doc partial sums shuffle, at the final per-doc sum.
  *   - Parity-friendly math: every quantity is an exact integer count until
  *     the single (c3+1)/(c2+V) division, one natural log per trigram (the
  *     libm call DuckDB agrees with bit-for-bit in practice — the q70
  *     precedent), and a shared ln(2) literal — so the rounded bits/char is
  *     hash-stable cross-engine (q72).
  */
object LangModel {

  /** ln(2) as a shared literal so Spark and the DuckDB twin divide by the
    * byte-identical constant (never each engine's own log2).
    */
  val Ln2 = 0.6931471805599453

  /** (id, tc) stream: one packed trigram code per position of the
    * lowercased text ([[CharTrigramCodes]]: three 21-bit code points,
    * `tc & 0x1FFFFF` the third character, `tc >>> 21` the bigram prefix).
    * Docs under 3 characters contribute nothing (explode of the empty
    * array).
    */
  private[ops] def trigramStream(
      df: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: extraCols.map(col) :+
      explode(CharTrigramCodes.charTrigramCodes(lower(col(textCol))))
        .as("tc"): _*)

  /** Third character and bigram prefix of a packed trigram code. */
  private def third(tc: Column): Column = tc.bitwiseAND(lit(CharTrigramCodes.Mask))
  private def prefix(tc: Column): Column =
    shiftrightunsigned(tc, CharTrigramCodes.Bits)

  /** Train the smoothed trigram model over `ref`. Returns
    * (model3, model2, vocabSize):
    *   model3: (tri, c3) — trigrams with c3 ≥ ceil(minFrac · total)
    *   model2: (bg, c2)  — prefix counts aggregated from the FULL trigram
    *           counts (true bigram mass), pruned by the same fraction
    *   vocabSize: distinct third characters in the full counts — the add-1
    *           denominator V (bounded by the alphabet).
    * (tri, bg) are strings of 3 and 2 characters, as a substring of the
    * lowercased text would give them.
    * The count frame is keyed on the packed trigram code and
    * localCheckpoint'ed: three consumers, computed once, lineage truncated
    * (the Connected.scala pattern — no global cache registry, nothing for
    * a caller to leak). Only the surviving model rows decode back to
    * strings.
    */
  def train(
      ref: DataFrame, idCol: String, textCol: String,
      minFrac: Double = 1e-7): (DataFrame, DataFrame, Long) = {
    require(minFrac > 0 && minFrac < 1, "minFrac in (0,1)")
    // LAZY checkpoint: the vocab countDistinct below is the first action
    // over the counts and materializes the checkpoint inside its own job
    // (the Connected rule) — an eager checkpoint here paid one extra
    // scheduler round-trip per train() call for the same single pass.
    val c3full = trigramStream(ref, idCol, textCol)
      .groupBy("tc").agg(count(lit(1)).as("c3"))
      .localCheckpoint(false)
    // ONE driver action fetches vocab AND the total: the vocab countDistinct
    // was already an unavoidable driver round-trip, so the total rides the
    // same one-row aggregate and the prune threshold becomes a literal —
    // the per-model crossJoin(broadcast(total)) subtrees (an extra
    // aggregate + broadcast build each) vanish from the scoring plan.
    // ceil(minFrac · total) is the identical IEEE double chain either way.
    val row = c3full.agg(
      countDistinct(third(col("tc"))).as("__v"),
      sum("c3").as("__total")).first()
    val vocab = row.getLong(0)
    val total = if (row.isNullAt(1)) 0L else row.getLong(1) // null on empty ref
    val thr = math.ceil(minFrac * total.toDouble).toLong
    val model3 = c3full.filter(col("c3") >= thr)
      .select(UnpackCodePoints.unpackCodePoints(col("tc"), 3).as("tri"),
        col("c3"))
    val model2 = c3full
      .groupBy(prefix(col("tc")).as("bc"))
      .agg(sum("c3").as("c2"))
      .filter(col("c2") >= thr)
      .select(UnpackCodePoints.unpackCodePoints(col("bc"), 2).as("bg"),
        col("c2"))
    (model3, model2, vocab)
  }

  /** Score `docs`: per-document mean negative log2 of the add-1 smoothed
    * conditional P(c3 | c1c2) = (c3+1)/(c2+V). Unseen trigram under a kept
    * prefix → 1/(c2+V); unseen/pruned prefix → 1/V — both are the same
    * formula with the missing count coalesced to 0. Output: (idCol, n_tris,
    * xent_bits) for docs with ≥ 1 trigram; lower is more in-distribution.
    * The model keys encode to packed codes ([[PackCodePoints]]) so both
    * lookups join on longs; a key that is not exactly 3 (or 2) characters
    * encodes to NULL and matches nothing.
    */
  def crossEntropy(
      docs: DataFrame, idCol: String, textCol: String,
      model3: DataFrame, model2: DataFrame, vocabSize: Long): DataFrame = {
    require(vocabSize > 0, "empty training corpus")
    val m3 = model3.select(
      PackCodePoints.packCodePoints(col("tri"), 3).as("__tc"), col("c3"))
    val m2 = model2.select(
      PackCodePoints.packCodePoints(col("bg"), 2).as("__bc"), col("c2"))
    val joined = trigramStream(docs, idCol, textCol)
      .join(broadcast(m3), col("tc") === col("__tc"), "left")
      .join(broadcast(m2), prefix(col("tc")) === col("__bc"), "left")
      .select(col(idCol),
        (coalesce(col("c3"), lit(0L)) + 1).as("num"),
        (coalesce(col("c2"), lit(0L)) + vocabSize).as("den"))
    joined
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tris"),
        sum(log(col("num").cast("double") / col("den"))).as("__s"))
      .select(col(idCol), col("n_tris"),
        round(-col("__s") / (col("n_tris") * Ln2), 4).as("xent_bits"))
  }

  /** Train-on-slice + score-all in one call — the funnel-facing surface.
    * `refFilter` picks the reference slice (e.g. lang = 'en').
    */
  def scoreAgainst(
      docs: DataFrame, idCol: String, textCol: String, refFilter: Column,
      minFrac: Double = 1e-7): DataFrame = {
    val (m3, m2, v) = train(docs.filter(refFilter), idCol, textCol, minFrac)
    crossEntropy(docs, idCol, textCol, m3, m2, v)
  }

  /** CCNet's head/middle/tail perplexity buckets over a scored frame —
    * NOT via a global `ntile` window (one partition holding the whole
    * corpus): the cut points are exact percentiles from one distributed
    * aggregate, broadcast back, and the label is a map-side when-chain.
    * Ties sit on byte-identical rounded xent values, so `<=` lands every
    * row in the same bucket on any engine (q45 pinned Spark
    * `percentile` ≡ DuckDB `quantile_cont`; at 10¹² rows swap in the
    * t-digest aggregate for the cuts — same shape, approximate cuts).
    * Returns one row per bucket: (bucket, n_docs, n_tris_total).
    */
  /** DSIR-style importance weights: score every document by the mean
    * per-trigram log-likelihood RATIO between a target model (trained on
    * the slice `targetFilter` picks — the distribution you want more of)
    * and a raw model (trained on the whole corpus). Positive
    * `weight_bits` = the document looks more like the target than like
    * the average of the corpus; downstream, [[Sampling.weightedTopK]] /
    * `weightedMixture` consume the weight (Xie et al.'s data-selection
    * recipe with hashed-trigram features).
    *
    * Scale shape = [[crossEntropy]]'s, doubled: ONE trigram stream over
    * the corpus broadcast-joins BOTH bounded models (each ≤ 1/minFrac
    * entries by construction), then one partial-agg per-doc sum — text
    * never reaches an exchange, and the stream is not re-tokenized per
    * model. Parity: the per-trigram summand is the difference of the two
    * q72-shaped ln terms in pinned order; the 4-dp rounded mean is
    * hash-stable cross-engine (q72 precedent at both test scales).
    */
  def importanceWeights(
      docs: DataFrame, idCol: String, textCol: String, targetFilter: Column,
      minFrac: Double = 1e-5): DataFrame = {
    // ONE-PASS dual train (was: two independent train() calls, which
    // tokenized the corpus twice — the raw model's trigram stream is a
    // superset of the target's). A single conditional aggregate counts
    // every trigram for both models: c3r = corpus count, c3t = count
    // within the target slice. Each model's (model3, model2, vocab)
    // derives from these counts by exactly the train() formulas, so the
    // pruned models — and therefore every score — are identical to the
    // two-train form; the corpus-scale tokenize+shuffle runs once instead
    // of twice. The checkpoint is lazy; the combined one-row totals/vocab
    // collect below is the first action and materializes it.
    val c3both = trigramStream(
      docs.select(col(idCol), col(textCol), targetFilter.as("__tgt")),
      idCol, textCol, extraCols = Seq("__tgt"))
      .groupBy("tc")
      .agg(count(lit(1)).as("c3r"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("c3t"))
      .localCheckpoint(false)
    // ONE driver action: both vocab sizes (distinct third chars with a
    // nonzero count on that side — identical to each train()'s vocab over
    // its own slice) AND both totals, so the prune thresholds are literals
    // (the train() pattern — no totals-broadcast subtrees in the plan).
    val vrow = c3both.agg(
      countDistinct(third(col("tc"))).as("vr"),
      countDistinct(when(col("c3t") > 0, third(col("tc")))).as("vt"),
      sum("c3r").as("tr"),
      sum("c3t").as("tt")).first()
    val vr = vrow.getLong(0)
    val vt = vrow.getLong(1)
    require(vt > 0 && vr > 0, "empty training slice")
    val thrT = math.ceil(minFrac * vrow.getLong(3).toDouble).toLong
    val thrR = math.ceil(minFrac * vrow.getLong(2).toDouble).toLong
    // MERGED per-key models: both sides' kept counts ride one (tc) frame
    // and one (bigram-prefix) frame, with a count masked to null exactly when that
    // side's train() would have pruned the entry — so the scoring stream
    // pays TWO broadcast-join probes per trigram instead of four, and each
    // probed row is identical to what the per-model join produced.
    val m3 = c3both
      .select(col("tc").as("__tc"),
        when(col("c3t") >= thrT, col("c3t")).as("c3t"),
        when(col("c3r") >= thrR, col("c3r")).as("c3r"))
      .filter(col("c3t").isNotNull || col("c3r").isNotNull)
    val m2 = c3both
      .groupBy(prefix(col("tc")).as("__bc"))
      .agg(sum(when(col("c3t") > 0, col("c3t"))).as("s2t"),
        sum("c3r").as("s2r"))
      .select(col("__bc"),
        when(col("s2t") >= thrT, col("s2t")).as("c2t"),
        when(col("s2r") >= thrR, col("s2r")).as("c2r"))
      .filter(col("c2t").isNotNull || col("c2r").isNotNull)
    val joined = trigramStream(docs, idCol, textCol)
      .join(broadcast(m3), col("tc") === col("__tc"), "left")
      .join(broadcast(m2), prefix(col("tc")) === col("__bc"), "left")
    val lt = log((coalesce(col("c3t"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2t"), lit(0L)) + vt))
    val lr = log((coalesce(col("c3r"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2r"), lit(0L)) + vr))
    joined
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tris"), sum(lt - lr).as("__s"))
      .select(col(idCol), col("n_tris"),
        round(col("__s") / (col("n_tris") * Ln2), 4).as("weight_bits"))
  }

  def xentBuckets(scored: DataFrame): DataFrame = {
    // The scored frame feeds BOTH the percentile-cut aggregate (a broadcast
    // subtree) and the bucketing pass: without a checkpoint the whole
    // train+score chain executes twice inside one action (exchange reuse
    // does not cover the differing consumers). Lazy checkpoint: the
    // broadcast build — scheduled first, the main branch depends on it —
    // materializes the (one narrow row per doc) frame; the bucketing pass
    // reads the blocks. At 10¹² rows this is exactly the "score once,
    // cut from the stored scores" shape a real CCNet pipeline runs.
    val s = scored.localCheckpoint(false)
    val cuts = s.agg(
      expr("percentile(xent_bits, 0.3333333333333333)").as("__c1"),
      expr("percentile(xent_bits, 0.6666666666666666)").as("__c2"))
    s.crossJoin(broadcast(cuts))
      .select(
        when(col("xent_bits") <= col("__c1"), "head")
          .when(col("xent_bits") <= col("__c2"), "middle")
          .otherwise("tail").as("bucket"),
        col("n_tris"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tris")).as("n_tris_total"))
  }
}
