package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Conversation-level assembly operators over transcript-shaped tables
  * (conv key, time-ordered turns with a role and text) — the step between
  * a validated transcript table and an actual training corpus:
  * chat-template rendering and shared-prefix deduplication.
  *
  * Both group whole conversations, so the working unit per task is one
  * conversation's turns — bounded by construction (a transcript is
  * thousands of turns at most, not millions), which is why
  * collect_list + sort_array is the right shape here where it would be
  * wrong for unbounded groups. One hash shuffle on the conv key each;
  * the turn ordering (ts, then tie) is part of the struct so the sort is
  * deterministic under any partitioning.
  */
object ChatOps {

  private def turnStruct(
      tsCol: String, tieCol: String, roleCol: String, textCol: String) =
    struct(col(tsCol).as("ts"), col(tieCol).as("tie"),
      coalesce(col(roleCol), lit("unknown")).as("role"),
      coalesce(col(textCol), lit("")).as("txt"))

  /** Render each conversation into model-ready text: turns sorted by
    * (tsCol, tieCol), each emitted as `<|role|>text`, joined with
    * newlines. Returns (convCol, rendered, n_turns, n_tokens) where
    * n_tokens is the standard chars/4 estimate (≥1).
    */
  def renderConversations(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      roleCol: String, textCol: String): DataFrame =
    df.groupBy(col(convCol))
      .agg(sort_array(collect_list(
        turnStruct(tsCol, tieCol, roleCol, textCol))).as("__turns"))
      .select(col(convCol),
        array_join(transform(col("__turns"),
          t => concat(lit("<|"), t.getField("role"), lit("|>"),
            t.getField("txt"))), "\n").as("rendered"),
        size(col("__turns")).cast("long").as("n_turns"))
      .withColumn("n_tokens", greatest(lit(1L),
        floor(length(col("rendered")) / lit(4)).cast("long")))

  /** Group-size audit for the whole-conversation assembly ops
    * ([[renderConversations]] / [[messagesJson]] / [[sftCorpus]] /
    * [[prefixSignatures]]) — the [[Dedup.bucketAudit]] shape applied to
    * the conv key: ONE row (n_convs, max_turns, n_oversized_convs,
    * n_turns_in_oversized). Those ops materialize one conversation's
    * turns per task ("bounded by construction" — transcripts are
    * thousands of turns, not millions); this audit turns that claim into
    * a COUNT, so an adversarial mega-conversation is measured up front
    * instead of OOMing an executor mid-assembly. Only (conv, count) rows
    * shuffle — turn text never enters the exchange (PlanSpec-pinned).
    */
  def convSizeAudit(
      df: DataFrame, convCol: String, maxTurns: Long = 100000L): DataFrame = {
    require(maxTurns >= 1, "maxTurns >= 1")
    df.groupBy(col(convCol)).agg(count(lit(1)).as("bn"))
      .agg(
        count(lit(1)).as("n_convs"),
        coalesce(max(col("bn")), lit(0L)).as("max_turns"),
        coalesce(sum(when(col("bn") > maxTurns, 1L)), lit(0L))
          .as("n_oversized_convs"),
        coalesce(sum(when(col("bn") > maxTurns, col("bn"))), lit(0L))
          .as("n_turns_in_oversized"))
  }

  /** Per-conversation signature of the first `k` turns (role:text joined
    * on an RS control char, md5'd). Agent transcripts that branch from a
    * shared setup collide here; conversations shorter than k sign what
    * they have. Returns (convCol, prefix_sig, n_turns).
    */
  def prefixSignatures(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      roleCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    df.groupBy(col(convCol))
      .agg(sort_array(collect_list(
        turnStruct(tsCol, tieCol, roleCol, textCol))).as("__turns"))
      .select(col(convCol),
        md5(array_join(transform(slice(col("__turns"), 1, k),
          t => concat(t.getField("role"), lit(":"), t.getField("txt"))),
          "\u001E")).as("prefix_sig"),
        size(col("__turns")).cast("long").as("n_turns"))
  }

  /** Minimal JSON string escaping shared (structurally) with the q92
    * oracle: backslash first, then quote, then the C0 escapes that occur
    * in practice (\n, \r, \t). Other C0 controls are assumed pre-stripped
    * by `TextOps.canonicalize` — that is its job in the funnel; this op
    * stays a pure codegen'd replace chain rather than paying a per-char
    * higher-order pass for bytes the pipeline already removed.
    */
  private def jsonEscape(c: Column): Column =
    replace(replace(replace(replace(replace(c,
      lit("\\"), lit("\\\\")),
      lit("\""), lit("\\\"")),
      lit("\n"), lit("\\n")),
      lit("\r"), lit("\\r")),
      lit("\t"), lit("\\t"))

  /** Render each conversation as a JSONL-ready messages array —
    * `[{"role":"…","content":"…"}, …]` in (tsCol, tieCol) order — the
    * standard SFT interchange format. Built by explicit concatenation
    * (not `to_json`) so the byte layout is engine-independent and the
    * DuckDB oracle reproduces it exactly. Returns
    * (convCol, messages_json, n_turns).
    */
  def messagesJson(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      roleCol: String, textCol: String): DataFrame =
    df.groupBy(col(convCol))
      .agg(sort_array(collect_list(
        turnStruct(tsCol, tieCol, roleCol, textCol))).as("__turns"))
      .select(col(convCol),
        concat(lit("["), array_join(transform(col("__turns"),
          t => concat(lit("{\"role\":\""), jsonEscape(t.getField("role")),
            lit("\",\"content\":\""), jsonEscape(t.getField("txt")),
            lit("\"}"))), ","), lit("]")).as("messages_json"),
        size(col("__turns")).cast("long").as("n_turns"))

  /** Cross-conversation turn-level dedup: drop turns whose (role, text)
    * content recurs in at least ⌈minConvFrac · total_convs⌉ DISTINCT
    * conversations — canned greetings, templated tool banners, retry
    * boilerplate — and return the surviving turn rows. The threshold is
    * the scale-invariant fraction form (the q64 lesson: an absolute count
    * silently reclassifies everything when the corpus grows 100×).
    *
    * Scale shape — the dedupLines pattern one level up:
    *  1. turns leave the scan as (sig = md5(role:text), conv) — the
    *     distinct-conversation count is a narrow two-phase aggregate;
    *     turn text never enters its exchanges.
    *  2. the total-conversation count rides a one-row broadcast crossJoin
    *     (never a driver collect).
    *  3. the drop set (sigs over threshold) BROADCASTS back onto the
    *     original rows as a left_anti hash join — map-side, so the
    *     full-width turn rows are never shuffled at all. The drop set is
    *     small by construction for any sane fraction (≤ 1/frac sigs can
    *     exceed frac of conversations... per conversation-slot, and in
    *     practice boilerplate sets are tiny); if a pathological corpus
    *     outgrew broadcast, the BloomAgg path (Decontam.contaminatedBloom)
    *     is the documented escape hatch.
    */
  def dedupTurns(
      df: DataFrame, convCol: String, roleCol: String, textCol: String,
      minConvFrac: Double): DataFrame = {
    require(minConvFrac > 0 && minConvFrac <= 1, "minConvFrac in (0,1]")
    val sig = md5(concat(coalesce(col(roleCol), lit("unknown")), lit(":"),
      coalesce(col(textCol), lit(""))))
    val withSig = df.withColumn("__sig", sig)
    val total = df.select(countDistinct(col(convCol)).as("__total"))
    val dropSigs = withSig
      .groupBy("__sig")
      .agg(countDistinct(col(convCol)).as("__nc"))
      .crossJoin(broadcast(total))
      // floor at 2: a turn seen only in its own conversation cannot be
      // cross-conversation boilerplate, and without the floor the ceil()
      // threshold degenerates to 1 on corpora with < 1/minConvFrac
      // conversations, silently dropping every turn
      .filter(col("__nc") >= greatest(
        ceil(lit(minConvFrac) * col("__total")).cast("long"), lit(2L)))
      .select("__sig")
    withSig
      .join(broadcast(dropSigs), Seq("__sig"), "left_anti")
      .drop("__sig")
  }

  /** Turn inter-arrival latency histogram: the time gaps between
    * consecutive turns of each conversation, rolled up into power-of-two
    * millisecond buckets — the latency-shape study behind agent-loop
    * analysis (tool-call stalls, retry storms, human think-time) and the
    * descriptive twin of the TS_ORDER check (which only flags order, not
    * pace). Returns one row per bucket:
    * (bucket_ms, n_gaps, sum_ms, min_ms, max_ms).
    *
    * Scale shape: the same narrow keyed window as every conversation op
    * (only conv/order/ts columns shuffle), then a map-side when-chain
    * bucket (integer compares — the q94 LOG2-ulp lesson) into one
    * partial-combine aggregate. Negative gaps (out-of-order turns —
    * TS_ORDER's business) clamp into bucket 1 with their true sum
    * preserved; zero gaps land in bucket 1 too (the ≤ chain's floor).
    */
  def interArrival(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      maxLog2: Int = 26): DataFrame = {
    require(maxLog2 >= 1 && maxLog2 <= 62, "maxLog2 in [1, 62]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(convCol).orderBy(col(tsCol), col(tieCol))
    val gaps = df
      .select(col(convCol), col(tsCol), col(tieCol))
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      // cast: parquet TIMESTAMP_NTZ inputs (the session runs UTC, so the
      // wall-clock reading is unchanged) — unix_millis wants TIMESTAMP
      .select((unix_millis(col(tsCol).cast("timestamp")) -
        unix_millis(col("__prev").cast("timestamp"))).as("__dt"))
    val top = 1L << maxLog2
    val bucket = (1 to maxLog2).reverse.foldLeft(lit(top)) {
      case (acc, k) => when(col("__dt") <= (1L << (k - 1)), lit(1L << (k - 1)))
        .otherwise(acc)
    }
    gaps
      .groupBy(bucket.as("bucket_ms"))
      .agg(count(lit(1)).as("n_gaps"), sum("__dt").as("sum_ms"),
        min("__dt").as("min_ms"), max("__dt").as("max_ms"))
  }

  /** Echo detection — turns that near-verbatim REPEAT the previous turn of
    * their conversation (the lazy-assistant / copy-parrot signal an SFT
    * filter needs; a high echo rate also flags scraper loops in raw
    * transcripts). Per turn: estimated Jaccard to the immediately
    * preceding turn via a k-hash minhash signature, so the conversation
    * window shuffles a FIXED k×8-byte signature per turn, never the text —
    * an adversarial 1 MB turn costs the same shuffle bytes as a 10-word
    * one. Signatures come from the same explode+groupBy aggregate as the
    * dedup family ([[Dedup.minhashSignatures]]'s shape, composite-keyed).
    *
    * `echo_ppm` is the EXACT integer `matches·10⁶/k` (k must divide 10⁶ —
    * enforced — so no doubles anywhere). First turns (no predecessor) are
    * absent. Two consecutive EMPTY turns estimate 1.0 by the degenerate
    * whole-text gram — the required-field check owns empties, not this.
    */
  def echoSignals(
      df: DataFrame, convCol: String, tieCol: String, roleCol: String,
      textCol: String, n: Int = 3, k: Int = 16,
      echoPpm: Long = 600000L): DataFrame = {
    require(k >= 1 && 1000000L % k == 0, "k must divide 10^6")
    val sigs = df
      .select(col(convCol), col(tieCol), col(roleCol),
        explode(graft.functions.ShingleHashes.shingleHashes(
          Dedup.splitWords(col(textCol)), n)).as("__h"))
      .groupBy(col(convCol), col(tieCol), col(roleCol))
      .agg(graft.functions.MinHashSignature.minhashSig(col("__h"), k)
        .as("__sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(convCol).orderBy(tieCol)
    // agreeing signature positions, one compiled comparison per position
    val matches = (0 until k).map(j =>
      when(col("__sig")(j) === col("__prev")(j), 1L).otherwise(0L))
      .reduce(_ + _)
    sigs
      .withColumn("__prev", lag(col("__sig"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(convCol), col(tieCol), col(roleCol),
        (matches * (1000000L / k)).as("echo_ppm"))
      .withColumn("is_echo", col("echo_ppm") >= echoPpm)
  }

  /** Transcript table → model-ready SFT corpus, composed end-to-end:
    *  1. [[dedupTurns]] strips cross-conversation boilerplate turns;
    *  2. [[prefixDedup]] collapses conversations branching from a shared
    *     first-`prefixK`-turn setup to one keeper each;
    *  3. [[messagesJson]] renders the survivors as JSONL messages arrays.
    *
    * Scale shape: stage 1's drop set broadcasts (see dedupTurns); stage
    * 2's keeper set joins back LEFT SEMI on the conv key — the join
    * output is hash-partitioned by conv, and stage 3's groupBy(conv)
    * REUSES that partitioning, so the whole composition moves turn text
    * through exactly one effective exchange (rendering is the one job
    * that must move text — the Packing rule). Returns
    * (convCol, messages_json, n_turns).
    */
  def sftCorpus(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      roleCol: String, textCol: String,
      boilerFrac: Double = 0.3, prefixK: Int = 3): DataFrame = {
    val cleaned = dedupTurns(df, convCol, roleCol, textCol, boilerFrac)
    val keepers = prefixDedup(
      cleaned, convCol, tsCol, tieCol, roleCol, textCol, prefixK)
      .select(col("keeper").as(convCol))
    messagesJson(cleaned.join(keepers, Seq(convCol), "left_semi"),
      convCol, tsCol, tieCol, roleCol, textCol)
  }

  /** Shared-prefix dedup rollup: group conversations by their first-k-turn
    * signature; keep the lowest conv id as representative. Returns
    * (prefix_sig, keeper, n_convs, n_turns_total). Two shuffles: conv
    * grouping, then signature grouping — signatures are 32-char hashes,
    * turn text never leaves the first aggregate.
    */
  def prefixDedup(
      df: DataFrame, convCol: String, tsCol: String, tieCol: String,
      roleCol: String, textCol: String, k: Int): DataFrame =
    prefixSignatures(df, convCol, tsCol, tieCol, roleCol, textCol, k)
      .groupBy(col("prefix_sig"))
      .agg(min(col(convCol)).as("keeper"),
        count(lit(1)).as("n_convs"),
        sum(col("n_turns")).as("n_turns_total"))
}
