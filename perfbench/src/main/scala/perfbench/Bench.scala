package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Buckets, Checkpoints, Flagging, MinHash, Text}
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.sources.DocSources

/** One workload run: generate, warm up, time fused `runAndWrite` units,
  * check every output, and in trace mode attribute the time to layers. */
final class Bench(spark: SparkSession, cfg: PipelineConfig, a: Main.Args,
    setup: Setup, tracer: Tracer) {
  import spark.implicits._
  import Bench._

  private val work = new File(a.work)
  private val inPath = s"${a.work}/input"
  private val pipeline = new Pipeline(spark, cfg)
  private var attempted = 0
  private var failed = 0
  private val problems = ArrayBuffer[String]()
  /** The first unit's output digest, and whether that unit passed. */
  private var reference: Option[(String, Boolean)] = None

  private def log(s: String): Unit = println(s)

  private def fail(unit: String, why: String): Unit = {
    problems += s"$unit: $why"
    log(s"CHECK FAILED $unit: $why")
  }

  def run(): java.util.LinkedHashMap[String, Any] = {
    Main.deleteTree(work)
    work.mkdirs()
    val t0 = System.nanoTime()
    val corpus = Corpus.generate(a.workload, a.seed)
    spark.sparkContext.parallelize(corpus.docs, InputFiles).toDF()
      .write.mode("overwrite").parquet(inPath)
    Files.write(Paths.get(a.work, "input_truth.json"),
      Corpus.truthJson(corpus, a.workload, a.seed).getBytes(UTF_8))
    val inBytes = corpus.textBytes
    log(f"corpus ${a.workload} seed=${a.seed}: ${corpus.docs.size} docs, " +
      f"${inBytes / 1e6}%.2f MB text, generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    try measure(corpus, inBytes) finally Main.deleteTree(work)
  }

  // --- fused units -------------------------------------------------------

  private final case class UnitResult(wallS: Double, heapMb: Double, outBytes: Long,
      stats: Option[CallStats])

  private var unitNo = 0

  /** One timed `runAndWrite`, then its checks (not timed). Traced when a
    * probe is given. The wall time is returned even for a failed unit;
    * the result only when every check held. */
  private def fusedUnit(corpus: Corpus, probe: Option[SparkProbe])
      : (Double, Option[UnitResult]) = {
    val i = unitNo
    unitNo += 1
    attempted += 1
    val out = s"${a.work}/out/u$i"
    var wall = Double.NaN
    try {
      val t0 = System.nanoTime()
      val (n, stats) = tracer.span("unit") {
        def call() = pipeline.runAndWrite(spark.read.parquet(inPath), out)
        probe match {
          case Some(p) =>
            val (n, st) = p.measure(tracer.span("pipeline.runAndWrite")(call()))
            (n, Some(st))
          case None => (call(), None)
        }
      }
      wall = (System.nanoTime() - t0) / 1e9
      val heapMb = liveHeapMb()
      log(f"unit $i: wall=$wall%.3f s heap_after_gc=$heapMb%.0f MB" +
        (if (probe.isDefined) " traced" else ""))
      Checkpoints.sweepAll(spark)
      val ok = check(s"unit $i", out, n, corpus)
      val bytes = writtenBytes(out)._1
      Main.deleteTree(new File(s"${a.work}/out"))
      if (ok) (wall, Some(UnitResult(wall, heapMb, bytes, stats))) else { failed += 1; (wall, None) }
    } catch {
      case e: Exception =>
        fail(s"unit $i", s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += 1
        Checkpoints.sweepAll(spark)
        (wall, None)
    }
  }

  /** Checks on a written output; true when all hold. The full planted-
    * truth checks run once (the first unit); later units must reproduce
    * its digest exactly, and share its verdict. */
  private def check(unit: String, out: String, returned: Long, corpus: Corpus): Boolean = {
    val before = problems.size
    val kept = spark.read.parquet(out)
    val removed = spark.read.parquet(out + "_removed")
    val keptDigest = Digest.of(kept)
    val rows = Digest.rows(keptDigest)
    if (rows != returned) fail(unit, s"runAndWrite returned $returned, read back $rows rows")
    val digest = s"corpus=$keptDigest removed=${Digest.of(removed)}"
    reference match {
      case None =>
        checkTruth(unit, kept, removed, corpus)
        reference = Some(digest -> (problems.size == before))
      case Some((d, _)) if d != digest =>
        fail(unit, s"digest $digest differs from first unit's $d")
      case Some((_, false)) => fail(unit, "same output as the first unit, which failed")
      case _ =>
    }
    problems.size == before
  }

  private def checkTruth(unit: String, kept: DataFrame, removed: DataFrame,
      corpus: Corpus): Unit = {
    val t = corpus.truth
    val dupTexts = kept.groupBy("text").count().filter($"count" > 1).count()
    if (dupTexts > 0) fail(unit, s"$dupTexts texts occur more than once in the corpus")
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val flagCols = t.flags.keys.toSeq.sorted
    val flagged = removed.select(($"doc_id" +: flagCols.map(col)): _*).collect()
      .map(r => r.getLong(0) -> flagCols.indices.map(i => r.getBoolean(i + 1))).toMap
    flagCols.zipWithIndex.foreach { case (f, i) =>
      val missed = t.flags(f).count(id => !flagged.get(id).exists(_(i)))
      if (missed > 0) fail(unit, s"$missed planted $f docs not removed with $f set")
    }
    conservation(t, corpus.docs.map(_.doc_id), keptIds, flagged.keySet)
      .foreach(fail(unit, _))
  }

  /** Heap in use after a full GC, with the unit's checkpointed blocks
    * still cached (they stay until the sweep), so the most data the unit
    * held live. The first GC lets Spark's cleaner see the unit's dropped
    * broadcasts; it removes their blocks from its own thread, and the
    * second GC, after that has had time to finish, frees them. Without
    * the wait the reading depends on whether the cleaner was quicker. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(CleanerWaitMs)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** (bytes, files) of the parquet data files under the outputs. */
  private def writtenBytes(out: String): (Long, Int) = {
    val files = Seq(new File(out), new File(out + "_removed")).flatMap(walk)
      .filter(f => f.getName.startsWith("part-"))
    (files.map(_.length).sum, files.size)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  // --- the run -----------------------------------------------------------

  private def measure(corpus: Corpus, inBytes: Long): java.util.LinkedHashMap[String, Any] = {
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val coldS = fusedUnit(corpus, None)._1
    // Warm-up: the cold unit, then WarmUnits more, so the JIT has compiled
    // the hot paths before timing starts. A count, not a time, so every run
    // starts timing at the same point of the JIT's progress.
    (1 to WarmUnits).foreach(_ => fusedUnit(corpus, None))
    // Timed units. A traced run alternates untraced and traced units, so
    // both kinds sample the same stretch of JIT warm-up.
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val minUnits = if (a.trace) 2 * MinTracedUnits else MinUnits
    val plain = ArrayBuffer[UnitResult]()
    val traced = ArrayBuffer[UnitResult]()
    val t1 = System.nanoTime()
    var tried = 0
    while (tried < minUnits || since(t1) < a.seconds) {
      if (tried % 2 == 1 && probe.isDefined) traced ++= fusedUnit(corpus, probe)._2
      else plain ++= fusedUnit(corpus, None)._2
      tried += 1
    }
    if (plain.isEmpty || (a.trace && traced.isEmpty))
      throw new IllegalStateException("every timed unit failed")
    val wallS = median(plain.map(_.wallS).toSeq)
    val e2e = Json.obj(
      "setup_s" -> m(setup.totalS, "s"),
      "wall_s" -> m(wallS, "s"),
      "mb_per_s" -> m(inBytes / 1e6 / wallS, "MB/s"),
      "out_bytes_per_in_byte" ->
        m(median(plain.map(_.outBytes.toDouble).toSeq) / inBytes, "ratio"),
      "peak_heap_mb" -> m(median(plain.map(_.heapMb).toSeq), "MB"))
    log(s"units: ${plain.size} timed, ${traced.size} traced, $attempted attempted")

    val metrics = probe match {
      case None => e2e
      case Some(p) =>
        val layers = layerMetrics(corpus, inBytes, p, wallS, traced.toSeq)
        if (!coldS.isNaN) layers.put("jvm.cold_unit_s", m(coldS, "s"))
        layers
    }
    metrics.asScala.foreach { case (k, v) =>
      val mv = v.asInstanceOf[java.util.Map[String, Any]]
      log(s"metric $k = ${mv.get("value")} ${mv.get("unit")}")
    }
    val failedRatio = failed.toDouble / attempted
    log(s"metric failed_ratio = $failedRatio ratio")
    problems.foreach(p => log(s"problem: $p"))
    val summary = Bench.summary(problems.isEmpty, attempted, failed, metrics)
    Json.obj("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "docs" -> corpus.docs.size, "in_bytes" -> inBytes,
      "unit_walls_s" -> plain.map(_.wallS).toSeq, "cold_unit_s" -> coldS,
      "failed_ratio" -> failedRatio, "end_to_end" -> e2e, "problems" -> problems.toSeq,
      "summary" -> summary)
  }

  // --- traced run: per-layer attribution ----------------------------------

  private def layerMetrics(corpus: Corpus, inBytes: Long, probe: SparkProbe,
      untracedWallS: Double, traced: Seq[UnitResult]): java.util.LinkedHashMap[String, Any] = {
    val out = Json.obj()
    def put(k: String, v: Double, unit: String): Unit = out.put(k, m(v, unit))
    put("sessions.build_s", setup.sessionS, "s")
    put("pipeline.config_load_s", setup.configS, "s")
    val calls = traced.flatMap(_.stats)
    def med(f: CallStats => Double) = median(calls.map(f))
    put("spark.jobs", med(_.jobs), "count")
    put("spark.stages", med(_.stages), "count")
    put("spark.tasks", med(_.tasks), "count")
    put("spark.task_s", med(_.taskS), "s")
    put("spark.driver_floor_s", med(_.driverFloorS), "s")
    put("spark.shuffle_write_mb", med(_.shuffleWriteMb), "MB")
    put("spark.shuffle_read_mb", med(_.shuffleReadMb), "MB")
    put("spark.spill_mb", med(_.spillMb), "MB")
    put("spark.failed_tasks", med(_.failedTasks), "count")
    put("spark.gc_s", med(_.gcS), "s")
    staged(corpus, probe, untracedWallS, put)
    functions(inBytes, put)
    put("trace.overhead_s", median(traced.map(_.wallS)) - untracedWallS, "s")
    out
  }

  /** The pipeline called stage by stage, each output materialized at its
    * boundary, then the two writes. Must reproduce the fused digest. */
  private def staged(corpus: Corpus, probe: SparkProbe, fusedWallS: Double,
      put: (String, Double, String) => Unit): Unit = {
    attempted += 1
    val before = problems.size
    val out = s"${a.work}/staged"
    var stageSum = 0.0
    def stage(name: String)(f: => DataFrame): DataFrame = {
      val (df, st) = probe.measure(tracer.span(s"pipeline.$name") { f.localCheckpoint() })
      stageSum += st.wallS
      put(s"pipeline.$name.s", st.wallS, "s")
      put(s"pipeline.$name.docs_out", df.count().toDouble, "count")
      df
    }
    def write(name: String)(f: => Unit): Unit = {
      val (_, st) = probe.measure(tracer.span(s"sources.$name")(f))
      stageSum += st.wallS
      put(s"sources.${name}_s", st.wallS, "s")
    }
    val (exact, fuzzy) = tracer.span("pipeline.staged") {
      val raw = spark.read.parquet(inPath)
      val clean = stage("clean")(pipeline.CleanStage(raw))
      val stats = stage("stats")(pipeline.StatsStage(clean))
      val flagged = Flagging.addFlags(stats, cfg.flags)
      val counts = flagged.agg(count(lit(1)), FlagCols.map(f => sum(col(f).cast("long"))): _*)
        .head()
      FlagCols.zipWithIndex.foreach { case (f, i) =>
        put(s"pipeline.flag.$f.docs", counts.getLong(i + 1).toDouble, "count")
      }
      val survivors = stage("flag_remove")(pipeline.FlagRemoveStage(stats))
      val exact = stage("dedup_exact")(pipeline.ExactDedupStage(survivors))
      val fuzzy = stage("dedup_fuzzy")(pipeline.FuzzyDedupStage(exact))
      write("write_removed")(DocSources.writeParquet(flagged.filter(Flagging.anyFlag),
        out + "_removed"))
      write("write_corpus")(DocSources.writePartitioned(fuzzy, out, cfg.langCol))
      (exact, fuzzy)
    }
    ops(corpus, exact, probe, put)
    put("pipeline.fusion_gap_s", stageSum - fusedWallS, "s")
    val (bytes, files) = writtenBytes(out)
    put("sources.bytes_written", bytes.toDouble, "bytes")
    put("sources.files_written", files.toDouble, "count")
    val digest = s"corpus=${Digest.of(spark.read.parquet(out))} " +
      s"removed=${Digest.of(spark.read.parquet(out + "_removed"))}"
    val fused = reference.fold("-")(_._1)
    if (fused != digest) fail("staged run", s"digest $digest differs from the fused run's $fused")
    else if (reference.exists(!_._2)) fail("staged run", "same output as the first unit, which failed")
    if (fuzzy.count() != spark.read.parquet(out).count())
      fail("staged run", "corpus rows differ from the fuzzy stage output")
    Checkpoints.sweepAll(spark)
    if (problems.size > before) failed += 1
  }

  /** The dedup layer called directly on the exact-dedup output, the same
    * input the fuzzy stage sees. */
  private def ops(corpus: Corpus, exact: DataFrame, probe: SparkProbe,
      put: (String, Double, String) => Unit): Unit = {
    val sets = exact.select($"doc_id".as("id"), Text.shingleSet($"text", 3).as("sh"))
      .filter(size($"sh") > 0).localCheckpoint()
    Buckets.drainCapCounts(0L)
    val (pairs, pst) = probe.measure(tracer.span("ops.minhash.pairs") {
      MinHash.candidatePairsFromSets(sets, threshold = cfg.minhashThreshold).localCheckpoint()
    })
    val (caps, unreported) = Buckets.drainCapCounts()
    if (unreported.nonEmpty) fail("ops", s"cap observations never reported: $unreported")
    val cappedRows = pst.observed.collect {
      case (k, v) if k.startsWith("graft_buckets") => v.getOrElse("capped_rows", 0L)
    }.sum
    val verified = pairs.count()
    val (clusters, cst) = probe.measure(tracer.span("ops.minhash.clusters") {
      MinHash.clusters(pairs).localCheckpoint()
    })
    val candidates = tracer.span("ops.buckets.pairs") {
      val banded = sets.withColumn("sig", MinHash.signature($"sh", NumPerm))
        .select($"id", posexplode(MinHash.bandKeys($"sig", Bands, NumPerm / Bands))
          .as(Seq("band", "key")))
      Buckets.pairs(banded, Seq("band", "key"), "id", MaxBucket).count()
    }
    Buckets.drainCapCounts()
    val comp = clusters.select("id", "component").as[(Long, Long)].collect().toMap
    val present = sets.select("id").as[Long].collect().toSet
    put("ops.minhash.pairs_s", pst.wallS, "s")
    put("ops.minhash.clusters_s", cst.wallS, "s")
    put("ops.buckets.candidate_pairs", candidates.toDouble, "count")
    put("ops.minhash.verified_pairs", verified.toDouble, "count")
    put("ops.minhash.verify_yield",
      if (candidates == 0) 0.0 else verified.toDouble / candidates, "ratio")
    put("ops.buckets.capped_buckets", caps.values.sum.toDouble, "count")
    put("ops.buckets.capped_rows", cappedRows.toDouble, "count")
    put("ops.cc.components", comp.values.toSet.size.toDouble, "count")
    put("ops.minhash.planted_recall", plantedRecall(corpus.truth.families, present, comp),
      "ratio")
  }

  /** Each custom expression projected over the workload's own text into
    * noop, minus a `length(text)` pass over the same rows. */
  private def functions(inBytes: Long, put: (String, Double, String) => Unit): Unit = {
    val raw = spark.read.parquet(inPath).withColumn("raw", $"text")
    val cached = pipeline.CleanStage(raw)
      .select($"lang", $"raw", $"text",
        Text.trivialTokenizeBy($"text", $"lang").as("toks"),
        Text.shingleSet($"text", 3).as("sh"))
      .withColumn("sig", MinHash.signature($"sh", NumPerm))
      .localCheckpoint()
    val exprs: Seq[(String, Column)] = Seq(
      "indic_normalize" -> GraftFunctions.indicNormalize($"raw", $"lang"),
      "keyword_count_nsfw" -> GraftFunctions.keywordCount($"text", cfg.keywords),
      "keyword_count_stop" -> GraftFunctions.keywordCount($"text", cfg.stopwords),
      "trivial_tokenize" -> Text.trivialTokenizeBy($"text", $"lang"),
      "word_ngram_rep" -> GraftFunctions.wordNgramRep($"toks", 5),
      "char_class_out_ratio" -> Text.charClassOutRatio($"text", "[a-z ]"),
      "shingle_set" -> Text.shingleSet($"text", 3),
      "minhash_signature" -> MinHash.signature($"sh", NumPerm),
      "band_keys" -> MinHash.bandKeys($"sig", Bands, NumPerm / Bands))
    // one pass scans the cached rows `reps` times, so that each pass covers
    // enough text for the expression's cost to stand out of job overhead
    val reps = math.max(1, math.ceil(FunctionPassMb * 1e6 / inBytes).toInt)
    val scan = Iterator.fill(reps - 1)(cached).foldLeft(cached)(_ unionAll _)
    def pass(name: String, e: Column): Double = tracer.span(s"functions.$name") {
      val t0 = System.nanoTime()
      scan.select(e.as("x")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val all = ("baseline" -> length($"text")) +: exprs
    all.foreach { case (n, e) => pass(n, e) } // JIT each projection once
    val times = all.map { case (n, _) => n -> ArrayBuffer[Double]() }.toMap
    (1 to FunctionReps).foreach(_ => all.foreach { case (n, e) => times(n) += pass(n, e) })
    val base = median(times("baseline").toSeq)
    exprs.foreach { case (n, _) =>
      val net = math.max(median(times(n).toSeq) - base, MinNetS)
      put(s"functions.$n.mb_s", reps * inBytes / 1e6 / net, "MB/s")
    }
    Checkpoints.sweepAll(spark)
  }
}

object Bench {
  val InputFiles = 8
  /** Units after the cold one before timing starts: unit times fall
    * steeply over the first three units, slowly after. */
  val WarmUnits = 2
  val MinUnits = 3
  /** Least number of untraced and of traced units in a traced run. */
  val MinTracedUnits = 2
  /** Text each expression pass of the function layer covers at least. */
  val FunctionPassMb = 32.0
  val FunctionReps = 3
  /** Time Spark's context cleaner gets to drop a unit's broadcasts; it
    * polls its reference queue every 100 ms. */
  val CleanerWaitMs = 300L
  /** The banding the pipeline's fuzzy stage uses: the defaults of
    * `MinHash.candidatePairsFromSets`, read from the engine so the two
    * cannot drift apart. */
  val NumPerm: Int = MinHash.candidatePairsFromSets$default$2
  val Bands: Int = MinHash.candidatePairsFromSets$default$3
  val MaxBucket: Int = MinHash.candidatePairsFromSets$default$5
  /** Floor for an expression's net time, so a pass no slower than the
    * baseline reads as very fast instead of dividing by zero. */
  val MinNetS = 1e-4

  val FlagCols: Seq[String] = Seq("has_less_words", "is_short_words_heavy",
    "is_nsfw_heavy", "is_non_li_heavy", "has_word_repetition")

  /** The summary line: exactly these four keys. */
  def summary(correct: Boolean, attempted: Int, failed: Int,
      metrics: java.util.Map[String, Any]): java.util.LinkedHashMap[String, Any] =
    Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)

  def m(v: Double, unit: String): java.util.LinkedHashMap[String, Any] =
    Json.obj("value" -> v, "unit" -> unit)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Where every input document went, against the planted truth; one
    * message per violation. A document leaves the corpus only into
    * `_removed`, or as a copy or near-dup of a document the corpus keeps;
    * an exact-copy group whose text is not flagged keeps exactly one copy. */
  def conservation(t: Truth, input: Seq[Long], kept: Set[Long],
      removed: Set[Long]): Seq[String] = {
    val both = kept.count(removed)
    val copiesKept = t.exactGroups.filterNot(_.forall(removed)).map(_.count(kept))
    val represented = (t.exactGroups ++ t.families).filter(_.exists(kept)).flatten.toSet
    val lost = input.count(id => !kept(id) && !removed(id) && !represented(id))
    Seq(
      both -> s"$both docs are both in the corpus and in _removed",
      copiesKept.count(_ > 1) -> s"${copiesKept.count(_ > 1)} planted exact-copy groups kept twice",
      copiesKept.count(_ == 0) ->
        s"${copiesKept.count(_ == 0)} planted exact-copy groups lost every copy",
      lost -> (s"$lost input docs are neither kept, nor in _removed, nor a copy or " +
        "near-dup of a kept doc")
    ).collect { case (n, msg) if n > 0 => msg }
  }

  /** Share of planted near-dup links recovered: per family, the members
    * still present that share the component of the first present member,
    * over all present members beyond the first. A document never paired
    * is its own component. */
  def plantedRecall(families: Seq[Seq[Long]], present: Set[Long],
      component: Map[Long, Long]): Double = {
    var hit = 0L
    var total = 0L
    families.foreach { f =>
      val p = f.filter(present)
      if (p.size > 1) {
        val anchor = component.getOrElse(p.head, p.head)
        hit += p.tail.count(id => component.getOrElse(id, id) == anchor)
        total += p.size - 1
      }
    }
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
