package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Runner, Stats, Validator}
import graft.ops.{Boilerplate, Connected, CorpusPipeline, Decontam, Dedup, LangModel, TextOps}
import graft.sources.TranscriptGen

/** Entry point of one benchmark run: one workload, one seed, one closed loop (a
  * single client; each operation starts when the previous one has
  * finished) on `local[cores]`. Writes its result as one JSON object to
  * `--result`; `run.py` prints it.
  *
  * Untraced runs time the workload's operations and report the end-to-end
  * metrics. Traced runs (`--trace 1`) time each layer by calling its public
  * functions under a job group and report the per-layer metrics.
  */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      selftest: Boolean = false,
      work: String = "",
      result: String = "",
      launchMs: Long = 0L)

  private def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest  => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest      => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest   => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest     => parse(rest, a.copy(trace = v == "1"))
    case "--selftest" :: rest       => parse(rest, a.copy(selftest = true))
    case "--work" :: v :: rest      => parse(rest, a.copy(work = v))
    case "--result" :: v :: rest    => parse(rest, a.copy(result = v))
    case "--launch-ms" :: v :: rest => parse(rest, a.copy(launchMs = v.toLong))
    case Nil                        => a
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  val workloads: Seq[String] = Seq("audit_typical", "corpus_funnel")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.selftest || workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.work.nonEmpty && a.result.nonEmpty, "--work and --result are required")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val run = new Run(spark, a, cores, sessionS)
    val result =
      try {
        if (a.selftest) run.selftest()
        else if (a.trace) run.traced()
        else run.timed()
      } finally spark.stop()
    Files.write(Paths.get(a.result), result.getBytes("UTF-8"))
  }

  // ---- small helpers ----

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Bytes of the data files under `p` (checksum side files excluded). */
  def treeBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.iterator.asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(f => Files.size(f)).sum
    finally s.close()
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** One timed operation: its wall time, the bytes its sinks wrote, and a
  * check run once the loop is over (the expected values are computed
  * after the timed loop, so they cost neither set-up nor timed time).
  */
final case class Outcome(name: String, times: Map[String, Double], sinkBytes: Long,
    problems: () => Seq[String])

final class Run(spark: SparkSession, a: Main.Args, cores: Int, sessionS: Double) {
  import Main._

  private val work = a.work
  private var outSeq = 0
  private def freshDir(tag: String): String = { outSeq += 1; s"$work/out/$tag-$outSeq" }

  // ---- inputs ----

  private def isAudit(w: String) = w.startsWith("audit")

  /** Times `body` under the job group whose tasks the peak-memory
    * listener of the untraced loop reads.
    */
  private def timedOp[A](body: => A): (Double, A) = {
    spark.sparkContext.setJobGroup("timed", "timed", interruptOnCancel = false)
    try seconds(body) finally spark.sparkContext.clearJobGroup()
  }

  /** Writes the workload's input under `dir` and returns the paths. */
  private def generate(workload: String, seed: Long, scale: Double, dir: String): Seq[String] =
    if (isAudit(workload)) {
      val cfg = Inputs.transcriptConfig(workload, seed, scale)
      TranscriptGen.transcripts(spark, cfg).write.parquet(s"$dir/turns")
      TranscriptGen.conversations(spark, cfg).write.parquet(s"$dir/convs")
      Seq(s"$dir/turns", s"$dir/convs")
    } else {
      val n = Inputs.docCount(scale)
      Inputs.documents(spark, seed, n).write.parquet(s"$dir/docs")
      Inputs.benchSet(spark, seed, n).write.parquet(s"$dir/bench")
      Seq(s"$dir/docs", s"$dir/bench")
    }

  // ---- audit operations ----

  private final class Audit(paths: Seq[String]) {
    val turns: DataFrame = spark.read.parquet(paths(0))
    val convs: DataFrame = spark.read.parquet(paths(1))
    val nRows: Long = turns.count()
    lazy val reference: DataFrame =
      Expect.referenceViolations(turns, convs).persist(StorageLevel.MEMORY_AND_DISK)
    lazy val refDigest: Expect.Digest = Expect.digest(reference)
    lazy val refStrict: Set[String] = Expect.strictMessages(reference)

    def validateProblems(got: Expect.Digest, verdictRows: Long, verdictViol: Long): Seq[String] = {
      val ref = refDigest
      Seq(
        (got.perRule != ref.perRule) -> s"per-rule counts ${got.perRule} != reference ${ref.perRule}",
        (got.hash != ref.hash) -> "violations hash differs from the reference",
        (verdictRows != nRows) -> s"verdict rows $verdictRows != table rows $nRows",
        (verdictViol != got.rows) -> s"verdict violations $verdictViol != sink rows ${got.rows}",
      ).collect { case (true, msg) => msg }
    }

    def strictProblems(msg: Option[String]): Seq[String] = msg match {
      case None => Seq("strict mode raised no violation")
      case Some(m) if !refStrict.contains(m) => Seq(s"strict message '$m' is not the first violation")
      case _ => Nil
    }

    def runValidate(out: String): Runner.Result =
      Runner.run(spark, turns, Some(convs), out, "perfbench", resume = false)

    def validate(): Outcome = {
      val out = freshDir("validate")
      val (s, res) = timedOp(runValidate(out))
      val got = Expect.digest(res.violations)
      val v = res.verdicts.agg(sum("n_rows"), sum("n_violations")).first()
      val bytes = treeBytes(out)
      deleteTree(out)
      Outcome("validate", Map("main" -> s), bytes,
        () => validateProblems(got, v.getLong(0), v.getLong(1)))
    }

    def strict(): Outcome = {
      val (s, msg) = timedOp {
        try { Validator.validateStrict(turns, Some(convs)); None }
        catch { case e: IllegalStateException => Some(e.getMessage) }
      }
      Outcome("strict", Map("verdict" -> s), 0L, () => strictProblems(msg))
    }
  }

  // ---- corpus operations ----

  private final class Corpus(paths: Seq[String]) {
    val docs: DataFrame = spark.read.parquet(paths(0))
    val nDocs: Long = docs.count()
    val bench: DataFrame = spark.read.parquet(paths(1))
    private var firstFunnel: Option[Map[String, Long]] = None

    def annotate(): (DataFrame, CorpusPipeline.CacheHandle) =
      CorpusPipeline.annotateManaged(docs, bench, "text", "doc_id", "source", Inputs.corpusConfig)

    private def funnelOf(ann: DataFrame): Map[String, Long] =
      CorpusPipeline.funnel(ann).orderBy("stage").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    /** The engine's corpus mode: annotate, write the survivors by split,
      * collect the funnel report, release the caches. Returns the report
      * and the seconds until it was collected.
      */
    def runFunnel(out: String): (Map[String, Long], Double) = {
      val t0 = System.nanoTime()
      val (annotated, caches) = annotate()
      val ann = annotated.persist(StorageLevel.MEMORY_AND_DISK)
      ann.filter(col("drop_stage").isNull).drop("drop_stage")
        .write.mode("overwrite").partitionBy("split").parquet(out)
      val f = funnelOf(ann)
      val reportS = (System.nanoTime() - t0) / 1e9
      ann.unpersist()
      caches.close()
      (f, reportS)
    }

    def corpusProblems(funnel: Map[String, Long], written: Long): Seq[String] = {
      val kept = Expect.keptCount(funnel)
      Expect.funnelProblems(funnel, nDocs) ++
        (if (written != kept) Seq(s"corpus rows $written != kept $kept") else Nil) ++
        firstFunnel.filter(_ != funnel).map(f => s"funnel $funnel differs from earlier $f").toSeq
    }

    def funnel(): Outcome = {
      val out = freshDir("corpus")
      val (s, (f, reportS)) = timedOp(runFunnel(out))
      val written = spark.read.parquet(out).count()
      val bytes = treeBytes(out)
      deleteTree(out)
      val problems = corpusProblems(f, written)
      if (firstFunnel.isEmpty && problems.isEmpty) {
        firstFunnel = Some(f)
        System.err.println(s"perfbench: funnel ${f.toSeq.sorted.mkString(" ")}")
      }
      Outcome("funnel", Map("main" -> s, "verdict" -> reportS), bytes, () => problems)
    }
  }

  // ---- untraced closed loop ----

  private def operations(paths: Seq[String]): (Seq[() => Outcome], Long) =
    if (isAudit(a.workload)) {
      val w = new Audit(paths)
      (Seq(() => w.validate(), () => w.strict()), w.nRows)
    } else {
      val w = new Corpus(paths)
      (Seq(() => w.funnel()), w.nDocs)
    }

  def timed(): String = {
    val launch = System.nanoTime() - (sessionS * 1e9).toLong
    val (genS, paths) = seconds(generate(a.workload, a.seed, 1.0, s"$work/input"))
    val (ops, rowsIn) = operations(paths)
    // warm-up iteration on the same input: its results are not kept, and
    // an exception here ends the run without a result
    val (warmS, _) = seconds(ops.foreach(_()))
    val setupS = (System.nanoTime() - launch) / 1e9
    System.err.println(f"perfbench: session $sessionS%.2f s, generation $genS%.2f s, " +
      f"warm-up $warmS%.2f s")

    val outcomes = mutable.ArrayBuffer.empty[(Int, Outcome)]
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def runOp(iter: Int, op: () => Outcome): Unit = {
      attempted += 1
      try {
        val o = op()
        outcomes += iter -> o
        System.err.println(s"perfbench: iteration $iter ${o.name} " +
          o.times.map { case (k, v) => f"$k $v%.3f s" }.mkString(", "))
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"iteration $iter threw ${e.getClass.getName}: ${e.getMessage}"
      }
    }
    val peak = new PeakMem("timed")
    spark.sparkContext.addSparkListener(peak)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var iter = 1
    while (System.nanoTime() < deadline) {
      ops.foreach(runOp(iter, _))
      iter += 1
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(peak)

    val good = mutable.ArrayBuffer.empty[Outcome]
    outcomes.foreach { case (i, o) =>
      val p = try o.problems() catch {
        case e: Exception => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")
      }
      if (p.nonEmpty) { failed += 1; problems ++= p.map(s"iteration $i ${o.name}: " + _) }
      else good += o
    }
    problems.take(10).foreach(p => System.err.println(s"CHECK FAILED: $p"))
    def med(key: String): Double = {
      val xs = good.flatMap(_.times.get(key)).toSeq
      if (xs.isEmpty) Double.NaN else median(xs)
    }
    val sinks = good.filter(_.times.contains("main")).map(_.sinkBytes / 1e6).toSeq
    val n = sinks.size
    System.err.println(s"perfbench: ${iter - 1} timed iterations, $n clean main operations, " +
      s"rows in $rowsIn")
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", rowsIn / med("main"), "rows/s"),
      ("verdict_s", med("verdict"), "s"),
      ("sink_mb", if (sinks.isEmpty) Double.NaN else median(sinks), "MB"),
      ("peak_exec_mem_mb", peak.peakBytes / 1e6, "MB"))
    json(failed == 0, attempted, failed, metrics)
  }

  // ---- traced run ----

  /** Runs `df` into the no-op sink and returns its row count, observed on
    * the same pass.
    */
  private def noop(df: DataFrame): Long = {
    val rows = Observation("rows")
    df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** A CPU-bound job that touches no engine code: when it slows, the host
    * is slow, not the program.
    */
  private def control(): Unit =
    spark.range(0L, 40000000L, 1L, cores * 4)
      .select(sum(xxhash64(col("id"), lit("control")) % 1000L)).collect()

  /** Size of the hot/dirty table relative to audit_typical's. At equal
    * size the hot conversation (~22k turns) is too small for its single
    * window task to stand out from per-stage overhead.
    */
  private val hotDirtyScale = 4.0

  def traced(): String = {
    val tracer = new Tracer(spark, cores)
    val main = generate(a.workload, a.seed, 1.0, s"$work/input")
    // every traced run reports every layer: the other family's layers run
    // on a companion input, the corpus for audit_typical and the hot/dirty
    // transcript table for corpus_funnel, so the two traced runs also
    // contrast the transcript layers on the two table shapes
    val companion =
      if (isAudit(a.workload)) generate("corpus_funnel", a.seed, 1.0, s"$work/companion")
      else generate("audit_hot_dirty", a.seed, hotDirtyScale, s"$work/companion")
    val (auditPaths, corpusPaths) =
      if (isAudit(a.workload)) (main, companion) else (companion, main)
    val audit = new Audit(auditPaths)
    val corpus = new Corpus(corpusPaths)
    val kept = prepareKept(corpus)

    tracer.attach()
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, String)]]
    def add(ms: Seq[(String, Double, String)]): Unit =
      ms.foreach { case (n, v, u) => samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v -> u }
    var attempted = 0
    var failed = 0
    def attempt(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val p = try body catch { case e: Exception => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      if (p.nonEmpty) { failed += 1; p.foreach(x => System.err.println(s"CHECK FAILED: $what: $x")) }
    }
    /** Seconds of the workload's main operation with the listener detached;
      * run right before the traced one, the difference is the tracing
      * overhead.
      */
    def untraced(op: String => Any): Double = {
      tracer.detach()
      val out = freshDir("untraced")
      try seconds(op(out))._1
      finally { deleteTree(out); tracer.attach() }
    }
    def span(name: String)(body: => Unit): Unit = attempt(name) {
      val (r, _) = tracer.span(name)(body)
      System.err.println(f"perfbench: span $name ${r.wallS}%.3f s")
      add(r.short(name))
      Nil
    }
    /** A fully traced span: `body` returns the rows it produced. */
    def fullSpan(name: String)(body: => Long): Unit = attempt(name) {
      val (r, rows) = tracer.span(name)(body)
      System.err.println(f"perfbench: span $name ${r.wallS}%.3f s")
      add(r.full(name, rows))
      Nil
    }

    // warm-up, untraced and not kept: the first run of a plan in a JVM pays
    // for code generation and JIT compilation
    val warmValidate = freshDir("validate")
    audit.runValidate(warmValidate)
    deleteTree(warmValidate)
    val warmCorpus = freshDir("corpus")
    corpus.runFunnel(warmCorpus)
    deleteTree(warmCorpus)
    // one pass over the layers, bracketed by the host control
    span("host.control")(control())
    // ---- transcript engine layers ----
    span("sources.scan")(noop(audit.turns))
    fullSpan("checks.row")(noop(Validator.rowViolations(audit.turns)))
    fullSpan("validator.ts")(noop(Validator.tsOrderViolations(audit.turns)))
    fullSpan("validator.dup")(noop(Validator.dupViolations(audit.turns)))
    fullSpan("validator.all")(
      noop(Validator.allViolations(audit.turns, Some(audit.convs), sortOutput = false)))
    attempt("runner") {
      val plainS = if (isAudit(a.workload)) Some(untraced(audit.runValidate)) else None
      val out = freshDir("validate")
      val (r, res) = tracer.span(LayerListener.RunnerGroup)(audit.runValidate(out))
      val got = Expect.digest(res.violations)
      val v = res.verdicts.agg(sum("n_rows"), sum("n_violations")).first()
      deleteTree(out)
      val l = tracer.listener
      val phases = Seq("violations", "verdicts", "manifest").map(p => s"runner.$p")
      val phaseWall = phases.map(p => p -> l.execSeconds(p)).toMap
      phases.foreach { p =>
        val sr = SpanResult(phaseWall(p), l.countsOf(p), cores)
        add(if (p == "runner.violations") sr.full(p, sr.c.recordsWritten) else sr.short(p))
      }
      add(SpanResult(math.max(0.0, r.wallS - phaseWall.values.sum),
        l.countsOf("runner.other"), cores).short("runner.other"))
      plainS.foreach(p => add(Seq(("trace.overhead_s", r.wallS - p, "s"))))
      audit.validateProblems(got, v.getLong(0), v.getLong(1))
    }
    span("stats.colstats")(Stats.colStats(audit.turns).collect())

    // ---- corpus operator layers, on the exact-dedup survivors ----
    span("ops.exact")(noop(Dedup.exactGroups(kept.early, "text", "doc_id")))
    fullSpan("ops.minhash")(noop(kept.pairs()))
    fullSpan("ops.components")(
      noop(Connected.dedupClusters(kept.kept, kept.pairsStored, "doc_id")))
    span("ops.decontam")(
      noop(Decontam.contaminated(kept.kept, corpus.bench, "text", "doc_id",
        Inputs.corpusConfig.decontamN)))
    span("ops.boilerplate")(
      noop(Boilerplate.coverageFrac(kept.kept, "text", "doc_id",
        Inputs.corpusConfig.boilerN, Inputs.corpusConfig.boilerMinFrac)))
    fullSpan("ops.lm") {
      val (m3, m2, vocab) = LangModel.train(kept.kept, "doc_id", "text",
        Inputs.corpusConfig.lmMinFrac)
      noop(LangModel.crossEntropy(kept.kept, "doc_id", "text", m3, m2, vocab))
    }
    attempt("ops.funnel") {
      val plainS = if (isAudit(a.workload)) None else Some(untraced(corpus.runFunnel))
      val out = freshDir("corpus")
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val (r, (f, _)) = tracer.span("ops.funnel")(corpus.runFunnel(out))
      add(r.short("ops.funnel"))
      // RDDs the operation persisted and did not release
      val pinned = (spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore).size
      add(Seq(("ops.persisted_rdds", pinned.toDouble, "count")))
      plainS.foreach(p => add(Seq(("trace.overhead_s", r.wallS - p, "s"))))
      val written = spark.read.parquet(out).count()
      deleteTree(out)
      corpus.corpusProblems(f, written)
    }
    span("host.control")(control())
    tracer.detach()
    val metrics = samples.toSeq.map { case (n, xs) => (n, median(xs.map(_._1).toSeq), xs.head._2) }
    json(failed == 0, attempted, failed, metrics)
  }

  /** Inputs of the corpus operator spans, built with the same public calls
    * and configuration as the pipeline's first stages and stored once, so a
    * span times only its own operator.
    */
  private final class Kept(val early: DataFrame, val kept: DataFrame, pairsPath: String) {
    def pairs(): DataFrame = Dedup.minhashLshPairsExact(kept, "text", "doc_id",
      n = Inputs.corpusConfig.nearDupShingle, threshold = Inputs.corpusConfig.nearDupThreshold)
    lazy val pairsStored: DataFrame = {
      pairs().write.parquet(pairsPath)
      spark.read.parquet(pairsPath)
    }
  }

  private def prepareKept(c: Corpus): Kept = {
    val cfg = Inputs.corpusConfig
    val early = c.docs
      .filter(TextOps.langId(col("text")).isin(cfg.langs.toSeq: _*) &&
        TextOps.qualityScore(col("text")) >= cfg.minQuality)
      .select("doc_id", "text")
    early.write.parquet(s"$work/kept/early")
    val earlyStored = spark.read.parquet(s"$work/kept/early")
    val keep = Dedup.exactGroups(earlyStored, "text", "doc_id").select(col("keep_id").as("doc_id"))
    earlyStored.join(keep, Seq("doc_id"), "left_semi").write.parquet(s"$work/kept/kept")
    val k = new Kept(earlyStored, spark.read.parquet(s"$work/kept/kept"), s"$work/kept/pairs")
    k.pairsStored
    k
  }

  // ---- self-test: corrupted outputs must be reported ----

  def selftest(): String = {
    val audit = new Audit(generate("audit_typical", a.seed, 0.05, s"$work/st-audit"))
    val corpus = new Corpus(generate("corpus_funnel", a.seed, 0.25, s"$work/st-corpus"))
    val out = freshDir("validate")
    val res = audit.runValidate(out)
    val verdicts = res.verdicts.agg(sum("n_rows"), sum("n_violations")).first()
    def validateCase(v: DataFrame) =
      audit.validateProblems(Expect.digest(v), verdicts.getLong(0), verdicts.getLong(1))
    // one row dropped from the violations sink, rewritten as real files
    val dropped = res.violations.withColumn("__i", monotonically_increasing_id())
      .filter(col("__i") =!= 0L).drop("__i")
    dropped.write.parquet(s"$work/st-dropped")
    val strictMsg = try { Validator.validateStrict(audit.turns, Some(audit.convs)); None }
      catch { case e: IllegalStateException => Some(e.getMessage) }
    val corpusOut = freshDir("corpus")
    val (f, _) = corpus.runFunnel(corpusOut)
    val written = spark.read.parquet(corpusOut).count()
    // one row dropped from the written corpus, rewritten as real files
    spark.read.parquet(corpusOut).withColumn("__i", monotonically_increasing_id())
      .filter(col("__i") =!= 0L).drop("__i").write.parquet(s"$work/st-corpus-dropped")
    val writtenDropped = spark.read.parquet(s"$work/st-corpus-dropped").count()
    val cases: Seq[(String, Boolean, Seq[String])] = Seq(
      ("validate clean", false, validateCase(res.violations)),
      ("validate one violation row dropped", true,
        validateCase(spark.read.parquet(s"$work/st-dropped"))),
      ("strict clean", false, audit.strictProblems(strictMsg)),
      ("strict message altered", true, audit.strictProblems(strictMsg.map(_ + "x"))),
      ("corpus clean", false, corpus.corpusProblems(f, written)),
      ("corpus one row dropped", true, corpus.corpusProblems(f, writtenDropped)))
    cases.foreach { case (name, corrupt, p) =>
      System.err.println(s"selftest: $name -> " + (if (p.isEmpty) "passes" else p.mkString("; ")))
    }
    val failed = cases.count(_._3.nonEmpty)
    val detected = cases.forall { case (_, corrupt, p) => corrupt == p.nonEmpty }
    json(detected, cases.size, failed, Nil)
  }
}
