package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checks.{Check, Checks}

/** The distributed replay of the reference's soft-path validator
  * (`Verification.run`, reference `src/core/verification.py:15-28`): collect
  * typed violations per turn, never throw; verdict per partition is
  * `"valid"` iff zero issues (`verification.py:241`). The strict mode of the
  * reference (pydantic constructor throws, `models.py:184-266` via
  * `api.py:32`) maps to `failFast`, which raises on the first violation.
  */
object Validator {

  val violationCols: Seq[String] =
    Seq("conv_id", "turn_idx", "part_id", "rule_id", "field", "message", "text")

  /** Default budget of [[fitsBroadcast]]. */
  val broadcastBudgetBytes: Long = 64L << 20

  /** The broadcast-size gate every stats-driven join shares: true when the
    * optimizer's size estimate of `df` is within `thresholdBytes`, so the
    * join may broadcast `df` instead of shuffling both sides. Over the
    * budget, callers keep a plain join and let the planner pick SMJ.
    */
  def fitsBroadcast(
      df: DataFrame, thresholdBytes: Long = broadcastBudgetBytes): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= thresholdBytes

  /** Per-row checks compiled to one projection + explode. Whole-stage
    * codegen'd; reads only the columns the catalog references (Catalyst
    * prunes the rest through the scan).
    */
  def rowViolations(
      turns: DataFrame,
      checks: Seq[Check] = Checks.transcriptChecks): DataFrame = {
    turns
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"), col("text"),
        explode(Checks.violationsArray(checks)).as("v"))
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        col("v.rule_id").as("rule_id"),
        col("v.field").as("field"),
        col("v.message").as("message"),
        col("text"))
  }

  /** Conversation-level cross-row checks (SURVEY.md §2.6): timestamp
    * monotonicity via `lag(ts)` over `(conv_id ordered by turn_idx)`.
    *
    * The window shuffles only NARROW columns (conv_id, turn_idx, part_id,
    * ts) — `text` dominates row bytes and shuffling it made this branch the
    * pipeline's bottleneck (measured: zero speedup 8→32 cores, IO-bound).
    * The kept row's text is attached afterwards by joining the rare
    * violating keys back (AQE broadcasts them), same shape as the dedup
    * phase C. Violations are key-level: at most one TS_ORDER row per
    * (conv_id, turn_idx), with the lexicographically first (ts, prev_ts)
    * pair in the message for determinism under duplicate keys.
    */
  def tsOrderViolations(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val badKeys = turns
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"))
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("ts"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("part_id").as("part_id"),
        min(struct(col("ts"), col("prev_ts"))).as("p"))
    attachTsViolationText(badKeys, turns)
  }

  /** Skew-proof variant of [[tsOrderViolations]] for pathological hot
    * conversations (SURVEY.md §2.6 skew note): the plain variant windows on
    * `conv_id`, so a single conversation with tens of millions of turns
    * serializes into ONE task. Here each conversation is range-split into
    * `segSize`-turn segments (`seg = floor(turn_idx / segSize)`):
    *
    *  1. lag(ts) within (conv_id, seg) — parallelism = segments, not convs;
    *  2. boundary stitch: per-segment first/last (turn_idx, ts) aggregates
    *     (HashAggregate, narrow), then one tiny window over the per-segment
    *     rows (n/segSize rows per conv) compares each segment's first ts to
    *     the previous non-empty segment's last ts.
    *
    * Output is row-identical to the plain variant (spec-asserted): a turn's
    * predecessor is either in its own segment (case 1) or is the last row of
    * the nearest earlier non-empty segment (case 2).
    */
  def tsOrderViolationsSegmented(
      turns: DataFrame, segSize: Int = 1 << 16): DataFrame = {
    val narrow = turns
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        floor(col("turn_idx").cast("double") / segSize).as("seg"))
    val wSeg = Window.partitionBy("conv_id", "seg").orderBy("turn_idx")
    val inSeg = narrow
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        lag("ts", 1).over(wSeg).as("prev_ts"))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("ts"))
    val segAgg = narrow
      .groupBy(col("conv_id"), col("seg"))
      .agg(
        min(struct(col("turn_idx"), col("ts"), col("part_id"))).as("first"),
        max(struct(col("turn_idx"), col("ts"))).as("last"))
    val wConv = Window.partitionBy("conv_id").orderBy("seg")
    val boundary = segAgg
      .select(col("conv_id"),
        col("first.turn_idx").as("turn_idx"),
        col("first.part_id").as("part_id"),
        col("first.ts").as("ts"),
        lag("last.ts", 1).over(wConv).as("prev_ts"))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("ts"))
    val badKeys = inSeg.unionByName(boundary)
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("part_id").as("part_id"),
        min(struct(col("ts"), col("prev_ts"))).as("p"))
    attachTsViolationText(badKeys, turns)
  }

  /** Shared tail: join violating keys back to `text` (rare keys — AQE
    * broadcasts) and render the byte-stable message.
    */
  private def attachTsViolationText(
      badKeys: DataFrame, turns: DataFrame): DataFrame = {
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .join(badKeys, Seq("conv_id", "turn_idx"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("part_id").as("part_id"), min("p").as("p"),
        min("text").as("text"))
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        lit("TS_ORDER_ts").as("rule_id"),
        lit("ts").as("field"),
        format_string("Non-monotonic ts in conv %s at turn %d: %s < %s",
          col("conv_id"), col("turn_idx"),
          col("p.ts").cast("string"), col("p.prev_ts").cast("string"))
          .as("message"),
        col("text"))
  }

  /** `(conv_id, turn_idx)` uniqueness via explicit two-phase *salted* hash
    * aggregate (SURVEY.md §2.5): phase 1 groups by (key, salt) so a hot
    * conversation's rows spread over `saltFactor` reducers; phase 2 re-groups
    * by key alone on the (already tiny) per-salt partial counts. The salt is
    * derived from row content, not rand() — deterministic under retry.
    * The single-root/exactly-one analog of reference `models.py:284-290`.
    */
  def dupViolations(turns: DataFrame, saltFactor: Int = 16): DataFrame = {
    // Phase A+B on NARROW columns only (no text): every aggregate has a
    // fixed-width mutable buffer, so both phases stay HashAggregate with
    // map-side partial combine (min(text) here would demote the whole hot
    // path to SortAggregate — measured finding, see PlanSpec).
    // The salt hashes (role, ts) — row content, so deterministic under
    // task retry — and deliberately NOT text: with text in the salt the
    // phase-A scan had to read and hash the dominant column of the table
    // just to pick a bucket, costing a full text pass per validate run
    // (guide §2.3 "shuffle keys, not payloads" applied to the salt
    // derivation). Per-key sums are salt-invariant, so the output is
    // byte-identical; only an exact-duplicate flood (identical role+ts)
    // concentrates on one salt, and such rows hashed identically under
    // the old salt too.
    val salted = turns
      .groupBy(
        col("conv_id"), col("turn_idx"),
        pmod(xxhash64(col("role"), col("ts")), lit(saltFactor))
          .as("salt"))
      .agg(count(lit(1)).as("c"), min("part_id").as("pid"))
    val dupKeys = salted
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(sum("c").as("n"), min("pid").as("part_id"))
      .filter(col("n") > 1)
    // Phase C: attach the kept row's text for the byte-parity invariant —
    // dup keys are rare, so this join's right side is tiny relative to the
    // table; AQE broadcasts it when it fits, SMJ otherwise. min(text) here
    // runs only over the duplicate rows themselves.
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .join(dupKeys, Seq("conv_id", "turn_idx"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("text").as("text"), min("n").as("n"), min("part_id").as("part_id"))
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        lit("DUPLICATE_KEY").as("rule_id"),
        lit("conv_id,turn_idx").as("field"),
        format_string("%d duplicate rows for key (conv_id, turn_idx)=(%s, %d)",
          col("n"), col("conv_id"), col("turn_idx")).as("message"),
        col("text"))
  }

  /** Referential integrity of `conv_id` against the conversations dim — the
    * engine surfaces what the reference silently drops (dangling `@id` refs,
    * `models.py:246`). Join strategy chosen from table stats: broadcast the
    * dim when its optimizer-estimated size fits under the threshold, else let
    * the planner pick SMJ/shuffled-hash (SURVEY.md §2.4).
    */
  def orphanViolations(
      turns: DataFrame,
      conversations: DataFrame,
      broadcastThresholdBytes: Long = broadcastBudgetBytes): DataFrame = {
    val dimKeys = conversations.select("conv_id")
    val dim =
      if (fitsBroadcast(dimKeys, broadcastThresholdBytes)) broadcast(dimKeys)
      else dimKeys
    turns
      .join(dim, Seq("conv_id"), "left_anti")
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        lit("ORPHAN_CONV").as("rule_id"),
        lit("conv_id").as("field"),
        format_string("Dangling conv_id reference: %s", col("conv_id"))
          .as("message"),
        col("text"))
  }

  /** Cross-table temporal consistency — the referential check's TIME
    * axis: a child row whose event time precedes its parent's creation
    * time is as broken a reference as a dangling key (a turn before its
    * conversation existed, a shipment before its order). Generic over any
    * (child, parent, key, two timestamp-ish columns); emits one violation
    * row per offending CHILD row with both times in the message.
    *
    * Scale shape = [[orphanViolations]]: the parent side reduces to
    * (key, ts) in its scan projection and the join strategy is driven by
    * the optimizer's size stats (broadcast under the threshold, SMJ
    * above); the child's payload columns never widen the join — only
    * `idCols` and the timestamp ride it.
    *
    * A duplicate-keyed parent (the corruption the DUPLICATE_KEY check
    * hunts) is pre-aggregated to its EARLIEST timestamp, so each offending
    * child emits exactly one row and only when it precedes EVERY copy —
    * the conservative reading; a clean dimension is unaffected.
    */
  def temporalViolations(
      child: DataFrame,
      parent: DataFrame,
      keyCol: String,
      childTsCol: String,
      parentTsCol: String,
      idCols: Seq[String],
      ruleId: String = "TS_BEFORE_PARENT",
      parentKeyCol: Option[String] = None,
      broadcastThresholdBytes: Long = broadcastBudgetBytes): DataFrame = {
    val dim = parent
      .select(col(parentKeyCol.getOrElse(keyCol)).as(keyCol),
        col(parentTsCol).as("__pts"))
      .groupBy(keyCol).agg(min("__pts").as("__pts"))
    val dimHinted =
      if (fitsBroadcast(dim, broadcastThresholdBytes)) broadcast(dim) else dim
    child
      .select((keyCol +: idCols).distinct.map(col) :+
        col(childTsCol).as("__cts"): _*)
      .join(dimHinted, Seq(keyCol))
      .filter(col("__cts") < col("__pts"))
      .select((keyCol +: idCols).distinct.map(col) ++ Seq(
        lit(ruleId).as("rule_id"),
        lit(childTsCol).as("field"),
        // concat, not format_string: caller-supplied column names must be
        // data, never a printf template ('%' in a name would throw)
        concat(lit(childTsCol + " "), col("__cts").cast("string"),
          lit(s" precedes parent $parentTsCol "),
          col("__pts").cast("string")).as("message")): _*)
  }

  /** Referential cardinality check — pydantic's `min_items`/`max_items`
    * list-shape constraint (the reference's version-list rule,
    * `verification.py:140-144`) lifted to TABLE grain: every parent must
    * own between `minChildren` and `maxChildren` child rows, childless
    * parents included (the LEFT join + coalesce-0 that a child-side
    * groupBy alone can never see). Children referencing nonexistent
    * parents are the orphan check's finding, not this rule's — one rule,
    * one cause.
    *
    * Scale shape: the child reduces to its key column at the scan and one
    * partial-combined count; both join sides are narrow keyed rows, so
    * the join never carries payload at any scale.
    */
  def cardinalityViolations(
      child: DataFrame,
      parent: DataFrame,
      keyCol: String,
      minChildren: Long,
      maxChildren: Long,
      ruleId: String = "CHILD_COUNT",
      parentKeyCol: Option[String] = None): DataFrame = {
    require(minChildren >= 0 && minChildren <= maxChildren,
      "0 <= minChildren <= maxChildren")
    val counts = child.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"))
    val n = coalesce(col("__n"), lit(0L))
    parent.select(col(parentKeyCol.getOrElse(keyCol)).as(keyCol))
      .join(counts, Seq(keyCol), "left")
      .filter(n < minChildren || n > maxChildren)
      .select(col(keyCol), n.as("n_children"),
        lit(ruleId).as("rule_id"),
        concat(lit(s"Expected between $minChildren and $maxChildren " +
          "children, found "), n.cast("string")).as("message"))
  }

  /** Functional-dependency audit — "does A determine B?" at table grain:
    * one row per determinant value bound to MORE than one distinct
    * dependent value, with the count and the lexicographic witness pair.
    * The schema-consistency check behind denormalized corpora (a conv_id
    * mapping to two channels, a doc_id to two languages) — violations
    * here mean upstream joins or merges disagree about an attribute.
    *
    * Scale shape: one partial-combined groupBy on (det, dep) collapses
    * duplicate attributions BEFORE the per-determinant reduce, so a
    * billion rows re-asserting the same (id, value) cross the wire once;
    * the second aggregate sees at most |distinct pairs| rows.
    */
  def fdViolations(
      df: DataFrame, detCol: String, depCol: String): DataFrame =
    df
      .groupBy(col(detCol), col(depCol))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(detCol))
      .agg(count(lit(1)).as("n_distinct_dep"),
        min(col(depCol).cast("string")).as("dep_min"),
        max(col(depCol).cast("string")).as("dep_max"))
      .filter(col("n_distinct_dep") > 1)

  /** Per-conversation `invalid_fields` map — reference `verification.py:13`
    * + its `invalid_fields[field] = reason` updates: field → first reason,
    * assembled with `map_from_entries(collect_list(...))` (SURVEY.md §2.5).
    * First = lexicographically-first message for determinism (the reference
    * keeps the last write; rule order is fixed so both are stable).
    */
  def invalidFieldsMap(
      violations: DataFrame, keyCol: String = "conv_id"): DataFrame =
    violations
      .groupBy(col(keyCol), col("field"))
      .agg(min("message").as("reason"))
      .groupBy(col(keyCol))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("field"), col("reason")))))
        .as("invalid_fields"))

  /** Strict mode — the reference's pydantic-constructor path
    * (`models.py:184-266` via `api.py:32`): the first violation aborts the
    * run with its byte-matched message instead of being collected
    * (SURVEY.md §3.2 — same predicates, different sink handling; the HTTP
    * 400 analog, `api.py:85-89`).
    */
  def validateStrict(
      turns: DataFrame,
      conversations: Option[DataFrame] = None,
      checks: Seq[Check] = Checks.transcriptChecks): Unit = {
    // Deterministic first violation: total order on (conv_id, turn_idx,
    // rule_id). orderBy+limit(1) plans as TakeOrderedAndProject — per-
    // partition top-1 then a driver merge of K candidate rows, NOT a global
    // sort shuffle, so the strict gate stays cheap at scale.
    val first = allViolations(turns, conversations, checks, sortOutput = false)
      .orderBy("conv_id", "turn_idx", "rule_id").limit(1).collect()
    if (first.nonEmpty) {
      val r = first(0)
      throw new IllegalStateException(
        s"${r.getAs[String]("message")} " +
          s"(rule=${r.getAs[String]("rule_id")}, conv_id=${r.getAs[String]("conv_id")}, " +
          s"turn_idx=${r.getAs[Int]("turn_idx")})")
    }
  }

  /** Soft checks — the engine's deterministic stand-in for the reference's
    * warning channel (URL reachability, `verification.py:152-173`, is
    * network I/O and excluded; the issue/warning two-channel split is kept).
    */
  def warnings(turns: DataFrame): DataFrame = {
    turns
      .filter(col("text").isNotNull && length(col("text")) > 1000 &&
        length(col("text")) <= 2000)
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        lit("SOFT_LENGTH_text").as("rule_id"),
        lit("text").as("field"),
        concat(lit("Long text (soft cap 1000): length "),
          length(col("text")).cast("string")).as("message"),
        col("text"))
  }

  /** Full violations table: per-row ∪ window ∪ dedup ∪ referential, in the
    * stable `(conv_id, turn_idx)` sort-within-partitions output ordering
    * mandated by the north star (no global sort — no extra shuffle).
    *
    * Scale note — why each branch re-scans the source instead of sharing one
    * repartition(conv_id) exchange: the branches prune to different column
    * subsets (dup phase A never reads `text`; the row branch never shuffles
    * at all), so N column-pruned parquet scans cost less than N shuffle-fetch
    * passes over one full-width reused exchange. On a 100 TB table the
    * exchange would ship `text` (the dominant bytes) through the network
    * once per consumer; pruned scans read it exactly once, map-side.
    */
  /** Merged tail of [[tsOrderViolations]] + [[dupViolations]] for
    * [[allViolations]]: row-identical output (asserted in ValidatorSpec —
    * same keys, same aggregated minima, same message bytes), but the two
    * branches' text-attach stages share ONE (conv_id, turn_idx, text) scan,
    * one broadcast join, and one aggregate instead of two of each — at any
    * scale the text column dominates scan bytes, so this removes a full
    * text pass per validate run (guide §1.2: fewer passes first). The
    * standalone branch functions remain the single-check entry points
    * (t04, skew bench, streaming parity).
    */
  private def tsDupViolations(
      turns: DataFrame, saltFactor: Int): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val tsBad = turns
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"))
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("ts"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min("part_id").as("part_id"),
        min(struct(col("ts"), col("prev_ts"))).as("p"))
    val pType = tsBad.schema("p").dataType
    // narrow phase A+B (see dupViolations — the salt reads no text)
    val salted = turns
      .groupBy(
        col("conv_id"), col("turn_idx"),
        pmod(xxhash64(col("role"), col("ts")), lit(saltFactor))
          .as("salt"))
      .agg(count(lit(1)).as("c"), min("part_id").as("pid"))
    val dupBad = salted
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(sum("c").as("n"), min("pid").as("part_id"))
      .filter(col("n") > 1)
    val badAll = tsBad
      .select(col("conv_id"), col("turn_idx"), col("part_id"), col("p"),
        lit(null).cast("long").as("n"), lit("ts").as("__tag"))
      .unionByName(dupBad
        .select(col("conv_id"), col("turn_idx"), col("part_id"),
          lit(null).cast(pType).as("p"), col("n"), lit("dup").as("__tag")))
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .join(badAll, Seq("conv_id", "turn_idx"))
      .groupBy(col("conv_id"), col("turn_idx"), col("__tag"))
      .agg(min("part_id").as("part_id"), min("p").as("p"), min("n").as("n"),
        min("text").as("text"))
      .select(
        col("conv_id"), col("turn_idx"), col("part_id"),
        when(col("__tag") === "ts", lit("TS_ORDER_ts"))
          .otherwise(lit("DUPLICATE_KEY")).as("rule_id"),
        when(col("__tag") === "ts", lit("ts"))
          .otherwise(lit("conv_id,turn_idx")).as("field"),
        when(col("__tag") === "ts",
          format_string("Non-monotonic ts in conv %s at turn %d: %s < %s",
            col("conv_id"), col("turn_idx"),
            col("p.ts").cast("string"), col("p.prev_ts").cast("string")))
          .otherwise(format_string(
            "%d duplicate rows for key (conv_id, turn_idx)=(%s, %d)",
            col("n"), col("conv_id"), col("turn_idx"))).as("message"),
        col("text"))
  }

  def allViolations(
      turns: DataFrame,
      conversations: Option[DataFrame] = None,
      checks: Seq[Check] = Checks.transcriptChecks,
      saltFactor: Int = 16,
      sortOutput: Boolean = true): DataFrame = {
    // When the dim's key set fits the broadcast budget
    // ([[fitsBroadcast]]), the referential check rides the SAME
    // scan as the row checks: one broadcast left-join marks dim presence
    // and ORPHAN_CONV becomes one more compiled rule in the row-check
    // explode — removing the orphan branch's separate full-width text scan
    // per validate run (guide §1.2). The dim keys are deduped first so the
    // 1:1 join can never duplicate turn rows (a left_anti is insensitive
    // to dim duplicates; the marker join must be made so). Over-budget
    // dims keep the standalone anti-join branch unchanged.
    val merged = conversations.flatMap { dim =>
      val dimKeys = dim.select("conv_id").distinct()
      if (fitsBroadcast(dimKeys)) {
        val orphanCheck: Check = new Check {
          val ruleId = "ORPHAN_CONV"
          val field = "conv_id"
          def violated: Column = col("__dim").isNull
          def message: Column =
            format_string("Dangling conv_id reference: %s", col("conv_id"))
        }
        val joined = turns.join(
          broadcast(dimKeys.withColumn("__dim", lit(1))),
          Seq("conv_id"), "left")
        Some(rowViolations(joined, checks :+ orphanCheck))
      } else None
    }
    val base = merged.getOrElse(rowViolations(turns, checks))
      .unionByName(tsDupViolations(turns, saltFactor))
    val all = conversations match {
      case Some(dim) if merged.isEmpty =>
        base.unionByName(orphanViolations(turns, dim))
      case _ => base
    }
    // sortOutput=false lets a sink that repartitions by part_id apply the
    // stable ordering once, after its exchange, instead of sorting twice.
    if (sortOutput) all.sortWithinPartitions("conv_id", "turn_idx") else all
  }

  /** Per-partition verdicts (reference `as_dict`, `verification.py:239-245`):
    * status "valid" iff zero issues; warnings counted separately and never
    * flip the verdict (reference: warnings don't enter `self.issues`).
    */
  def verdicts(
      turns: DataFrame,
      violations: DataFrame): DataFrame = {
    // rows + warnings counted in ONE scan/aggregate (the warning predicate is
    // row-local, so it folds into the same groupBy instead of a second pass)
    val warnCond = col("text").isNotNull && length(col("text")) > 1000 &&
      length(col("text")) <= 2000
    val rows = turns.groupBy("part_id").agg(
      count(lit(1)).as("n_rows"),
      sum(when(warnCond, 1L).otherwise(0L)).as("n_warnings"))
    val viol = violations.groupBy("part_id").agg(count(lit(1)).as("n_violations"))
    rows
      .join(viol, Seq("part_id"), "left_outer")
      .select(
        col("part_id"),
        when(coalesce(col("n_violations"), lit(0L)) === 0, lit("valid"))
          .otherwise(lit("invalid")).as("status"),
        col("n_rows"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        col("n_warnings"))
  }
}
