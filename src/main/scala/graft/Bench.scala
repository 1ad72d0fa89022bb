package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: one JSON line with total + per-query seconds.
  *
  * Round-1 verdict hardening:
  *  - a warmup pass (JVM/JIT, parquet footer cache, codegen) runs before
  *    anything is timed, so the first measured query isn't charged for it;
  *  - materialization is `queryExecution.toRdd.count()` — unlike
  *    `df.count()`, Catalyst cannot prune the payload columns away, so
  *    decode-heavy queries are actually measured;
  *  - failures are not swallowed into fast green bars: a failed query
  *    reports -1 seconds and lands in the top-level "errors" object.
  */
/** Window-factor drift rule (r13 verdict #7): the window-NORMALIZED
  * regression flag correctly de-flags a uniformly slow host window, but a
  * genuine uniform code regression of ~1.25x/round would compound
  * invisibly — each run normalizes to its own median and floors only
  * ratchet down on fast runs. So every FULL run's `window_factor` is
  * persisted (sidecar JSONL next to the floor file) and a monotone
  * multi-run rise is surfaced as `window_drift` in the bench JSON even
  * when every individual factor is under the 1.4 `window_regressed` bar.
  * Pure function so the rule is spec-pinned. */
object BenchWindow {
  /** Runs of monotone rise before drift is considered (3+ per verdict). */
  val DriftRuns = 3
  /** Cumulative rise across the monotone suffix that counts as drift:
    * 1.15 is ~half a round of the 1.25x/round compounding the rule
    * exists to catch, while run-to-run host noise (measured ±5% on an
    * idle box) cannot produce a MONOTONE 15% rise across three runs. */
  val DriftRise = 1.15

  /** Minimum cumulative rise the suffix must show EXCLUDING its last
    * run (r16, after the alarm's first false fire): a 0.6%-then-one-
    * extreme-window series ([1.2022, 1.2090] + 1.5847, measured on a
    * box with load ~4 from zero local CPU) satisfied "3 strictly
    * rising runs, ≥15% cumulative" with ~100% of the rise in the
    * final run — that is one noisy window wearing a suffix, not
    * compounding. Real compounding fast enough to matter (≥~5%/run;
    * the rule's target is 25%/run) shows ≥ this much rise BEFORE its
    * last run; run-to-run noise (±5% measured) rarely produces a
    * strictly-rising ≥5% body AND a ≥15% total. */
  val DriftBodyRise = 1.05

  /** True iff the longest STRICTLY-increasing suffix of the factor
    * series (including `cur`) spans ≥ [[DriftRuns]] runs AND rises ≥
    * [[DriftRise]] cumulatively AND rises ≥ [[DriftBodyRise]] up to
    * its penultimate run. The FULL rising suffix, not a fixed
    * 3-run tail (r14 review): a fixed window misses any compounding
    * slower than DriftRise^(1/(DriftRuns-1)) ≈ 7%/run forever — each
    * 3-run slice stays under the bar while the series doubles. Strict
    * increase so a flat history followed by one noisy window does not
    * read as a "multi-run" rise (equality resets, as does any faster
    * run — the same recovery semantics the normalized flag relies on);
    * the body-rise bar so a NEAR-flat pair topped by one loaded window
    * does not either (the r16 false fire above). */
  def drift(history: Seq[Double], cur: Double): Boolean = {
    val h = history :+ cur
    val suffix = h.reverse.zip(h.reverse.tail)
      .takeWhile { case (later, earlier) => later > earlier }
      .length + 1
    suffix >= DriftRuns && h.last >= DriftRise * h(h.length - suffix) &&
      h(h.length - 2) >= DriftBodyRise * h(h.length - suffix)
  }

  /** Sidecar history path for a floor file. */
  def historyFile(baselineFile: java.io.File): java.io.File =
    new java.io.File(baselineFile.getPath.stripSuffix(".json") +
      "_window_factors.jsonl")

  def loadHistory(f: java.io.File): Seq[Double] =
    if (!f.exists()) Seq.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toSeq
        .flatMap("\"window_factor\"\\s*:\\s*([0-9.eE+-]+)".r
          .findFirstMatchIn(_).map(_.group(1).toDouble))
      finally src.close()
    }

  def appendHistory(f: java.io.File, factor: Double, total: Double): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(s"""{"ts":${System.currentTimeMillis()},"window_factor":$factor,"total":$total}""" + "\n")
    finally w.close()
  }

  /** The run's window factor: median floor-ratio across rows with a
    * baseline, never below 1 (a fast run keeps the raw thresholds).
    * Pure so the r16 flag rule below is spec-pinned with it. */
  def windowFactor(ratios: Seq[Double]): Double = {
    val s = ratios.sorted
    if (s.isEmpty) 1.0 else math.max(1.0, s(s.length / 2))
  }

  /** Per-row regression flag, WINDOW-NORMALIZED (r15 verdict #1 made
    * this a named rule): a row flags iff its ratio to floor exceeds
    * 1.5× AFTER dividing out the run's window factor, still over the
    * 0.2 s noise floor. A uniformly loaded host window moves every
    * row's raw ratio together and is divided out (bm25_search/
    * doc_similarity were re-litigated three rounds running on exactly
    * this); a real single-row plan regression stands out against the
    * run's own level and still flags. The RAW ratio stays in the
    * emitted entry for drift eyeballing; `ratio_normalized` is the
    * judged number. */
  def flagged(prev: Double, cur: Double, factor: Double): Boolean =
    prev > 0.0 && cur > 0.0 && cur > 1.5 * prev * factor && cur - prev > 0.2

  /** The run-level window fields of the bench JSON. SUBSET runs emit
    * nulls (r16 verdict #2): a subset's "window factor" is the
    * floor-ratio of a biased sliver — often one sub-second row carrying
    * session/plan cold-start that a full run amortizes (the judge
    * measured a 3-row subset printing `window_regressed: true` on an
    * IDLE box from cold-start alone). Subsets are the documented
    * flag-confirmation tool and never advance floors or the sidecar, so
    * an alarm field that fires on every subset invites exactly the
    * misreading the window-normalization work eliminated elsewhere.
    * Subset flagging likewise runs UN-normalized (factor 1): dividing a
    * confirmation re-run by a sliver's factor could hide the very
    * regression being confirmed. */
  def windowFieldsJson(subset: Boolean, factor: Double,
                       drift: Boolean): String =
    if (subset)
      """"window_factor":null,"window_regressed":null,"window_drift":null"""
    else
      s""""window_factor":$factor,"window_regressed":${factor > 1.4},""" +
        s""""window_drift":$drift"""
}

object Bench {
  /** A file in the checkout's `tools/` (floors, last-run lines, wire
    * history), resolved against the working directory — sbt starts forked
    * mains in the project root — so a bench run from any copy of the
    * checkout reads and persists that copy's floors. */
  def toolsFile(name: String): java.io.File =
    new java.io.File(new java.io.File("tools").getAbsoluteFile, name)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
    // Shuffle sizing is a DEPLOYMENT knob (SPARK_GRAFT_INITIAL_PARTITIONS,
    // default = cpus): at the 100x stress decade, pinned cpus-way shuffles
    // put ~10x-oversized partitions through every wide sort and the run
    // degraded to spill churn — raising AQE's initialPartitionNum to 512
    // fixed that band (partition_health 24x -> 5.8x at 100x rows) but
    // taxed small iterative queries ~2-5x at sf0.1 (512 map-side buckets
    // per tiny stage), so it opts IN per run instead of moving the
    // default. Both sides measured in SURVEY §7.13.
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Either[String, Unit] =
      try Right {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(): Unit
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }

    // warmup: touch every source table + the heaviest shared derivations
    Seq("watermarks", "token_count", "embedding_topk").foreach(materialize)

    // Persist-once artifact builds, charged as their OWN named rows
    // (round-9 verdict #6): without this, whichever consumer ran first
    // alphabetically paid the build and the per-query floor recorded a
    // cached-read time for the rest — so driver runs structurally
    // flagged sub-100ms artifact consumers whose sibling paid the build
    // in the floor run. Build rows run once (a second trial would read
    // the cache and time nothing), before the measured loop, so every
    // consumer below measures net of its artifacts. Subset runs skip
    // them (they never advance the baseline; first-consumer-pays is fine
    // for local iteration).
    val artifactBuilds: Seq[(String, () => Any)] = Seq(
      // The family-independent word-set base (tokenize + hash + collapse)
      // is its own build row (r18, same protocol as the ngram rep table):
      // both MinHash family builds consume it, so charging it to
      // whichever family ran first double-counted the subtree — build
      // once, band twice (opt guide §2.4).
      ("artifact_minhash_base",
        () => graft.operators.Dedup.wordSetBase(spark, sfDir)),
      ("artifact_minhash_pairs",
        () => graft.operators.Dedup.verifiedPairs(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_minhash_pairs_b",
        () => graft.operators.Dedup.verifiedPairsB(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The doc components table: dedup_components and centrality_keep
      // both ran the fixpoint (r18); compute once, consumers join it.
      ("artifact_doc_components",
        () => graft.operators.Dedup.docComponents(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_ngram_signatures",
        () => {
          graft.operators.Dedup.ngramDocs(spark, sfDir)
            .queryExecution.toRdd.count()
          // the r11 collapse's rep table shares the row: gram table +
          // its one-shuffle rep aggregate are the build, consumers
          // measure net of both
          graft.operators.Dedup.ngramReps(spark, sfDir)
            .queryExecution.toRdd.count()
        }),
      ("artifact_term_counts",
        () => graft.operators.TextAnalysis.termCounts(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The per-doc vocabulary-coverage table (r18): two rows evaluate
      // it (its own query, quality_signals' vocab leg), each a
      // corpus-sized rollup over the inverted index; built once.
      ("artifact_vocab_coverage",
        () => graft.operators.TextAnalysis.vocabCoverage(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The Gopher flag and repetition-signal corpus kernel passes
      // (r18): each evaluated by two rows (their own query +
      // quality_signals' leg); one kernel pass per family per session.
      ("artifact_quality_flags",
        () => graft.operators.Curation.qualityFilter(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_rep_signals",
        () => graft.operators.Curation.qualityRepetition(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_dup_spans",
        () => graft.operators.Curation.cachedDupSpans(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_lm_model",
        () => graft.operators.LangModel.lmModel(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The corpus scored against the LM model, as its own persist-once
      // row (r18): six rows evaluate this subtree (its own query,
      // lm_quality_buckets, quality_signals, the DSIR build,
      // importance_sample twice) and each evaluation is a corpus
      // tokenize + bigram explode + model join.
      ("artifact_lm_scores",
        () => graft.operators.LangModel.lmBigramScore(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_dsir_ratio",
        () => graft.operators.Sampling.dsirRatioTable(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The per-language mix plan (r18): ONE corpus tokenize pass behind
      // a dozen-row table, evaluated by three rows (source_mix_plan,
      // stratified_sample, the curation decision build); built once,
      // every sampler reads it.
      ("artifact_source_mix",
        () => graft.operators.Sampling.sourceMixPlan(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The 5-gram eval-contamination flags (r18): the corpus tokenize +
      // gram-explode pass ran in both the decontaminate row and the
      // decision build; published once per (corpus, holdout).
      ("artifact_decontam",
        () => graft.operators.Curation.decontaminate(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The curation decision frame (r18): curate_corpus and
      // curation_report both consumed the four-sub-pipeline composition;
      // one materialization, reports read the table.
      ("artifact_curate_decision",
        () => graft.operators.Curation.curateCorpus(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_cell_assignment",
        () => graft.operators.Similarity.cellAssignment(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The four ANN method result slivers (r18): each method pipeline
      // was evaluated twice per run (its own row + ann_recall's union),
      // pq a third time in ann_recall_trained — each a full corpus probe
      // pass for a Q×k-row result. Built once; consumers read the table.
      ("artifact_ann_methods",
        () => graft.operators.Similarity.annMethodsBase(spark, sfDir)),
      // The exact cosine top-k — the ANN family's recall ground truth —
      // was evaluated by three rows (r18); compute the table once.
      ("artifact_exact_topk",
        () => graft.operators.Similarity.embeddingTopK(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The embedding near-dup components table (r18): the banded
      // near-dup pipeline + components fixpoint ran end-to-end in BOTH
      // embedding_dedup_keep and curate_embeddings.
      ("artifact_embedding_components",
        () => graft.operators.Similarity.embeddingComponents(spark, sfDir)
          .queryExecution.toRdd.count()),
      ("artifact_pq_trained_book",
        () => graft.operators.Similarity.trainedBook(spark, sfDir)),
      ("artifact_simhash_fp",
        () => graft.operators.Dedup.cachedSimhash(spark, sfDir)
          .queryExecution.toRdd.count()),
      // The once-per-MACHINE materialized log snapshots (r17): without
      // these rows, whichever broker query ran first on a
      // fresh machine — the driver's environment, EVERY round — paid the
      // snapshot build inside its own timing, reading ~2.4x the floor set
      // on warm-snapshot machines (the r16 consumer_lag_materialized
      // flag, bisected to exactly this: 0.432 driver vs 0.18 warm).
      ("artifact_log_snapshot",
        () => graft.sources.LogTable.ensureMaterialized(spark, sfDir)),
      ("artifact_topic_log_snapshot",
        () => graft.sources.LogTable.ensureMaterializedTopicLog(spark, sfDir)))

    // Baseline from the previous run AT THE SAME SF *AND CPU COUNT*
    // (loaded up front so the measurement loop can use it for regression
    // confirmation). CPU-keyed floors (r17 verdict #6): the driver's
    // 8-core scaling run min-merged 29 fixed-cost rows into the shared
    // floor file at values a 32-core run structurally cannot reach
    // (sub-second rows run FASTER on 8 cores — less scheduling overhead),
    // so the next 32-core run flagged 8 rows spuriously (measured at r18
    // round start: top_terms floor 0.37 vs any-32-core ~0.7). Each cpu
    // count now ratchets its own floor file; a missing keyed file seeds
    // from the legacy un-keyed file so pre-r18 history isn't lost.
    val sfKey = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val baselineFile = toolsFile(s"bench_baseline_${sfKey}_c$cpus.json")
    val legacyBaselineFile = toolsFile(s"bench_baseline_$sfKey.json")
    val seedFile =
      if (baselineFile.exists()) baselineFile else legacyBaselineFile
    val prev: Map[String, Double] =
      if (!seedFile.exists()) Map.empty
      else {
        val text = scala.io.Source.fromFile(seedFile).mkString
        // full numeric literal incl. signed exponents — "[0-9.eE+]+" would
        // truncate 1.0E-4 to "1.0E" and crash toDouble on the next run
        "\"((?:[^\"\\\\]|\\\\.)+)\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)".r
          .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    def looksRegressed(name: String, sec: Double): Boolean =
      prev.get(name).exists(p => p > 0.0 && sec > 1.5 * p && sec - p > 0.2)

    // best-of-2 per query: this box's run-to-run noise is large (GC, 32
    // threads sharing one JVM); min over repeats is the standard steady-
    // state estimator and is recorded in the "policy" field. When min-of-2
    // still reads as a regression vs baseline, ONE confirmation trial runs
    // before believing it — a transient co-tenant load spike then has to
    // cover three consecutive runs to be flagged, while a real plan
    // regression (slow on every run) still is.
    // optional args = query-name subset for local iteration; the full run
    // (driver) passes none. Subset runs never advance the baseline.
    val subset = args.toSet
    // Subset runs time the artifact builds the subset NAMES explicitly
    // (r12 verdict #1: the five flagged rows were mostly artifact builds,
    // and subset mode could not isolate them at all); unnamed builds stay
    // skipped — first-consumer-pays is fine for local iteration, and
    // subset runs still never advance the baseline.
    // Cache-droppers per artifact row, shared by the min-of-2 build loop
    // below and the end-of-run reconfirm (a build trial against a warm
    // persist-once cache would time nothing).
    // ALL Dedup-family rows drop VARIANT-SCOPED (r18): a blanket module
    // clearCaches between one row's min-of-2 trials would evict SIBLING
    // artifacts built earlier in the loop (the shared word-set base, the
    // pairs tables), mischarging later rows with their rebuilds; each
    // row now drops exactly the cache entries its own build populates.
    val artifactCaches: Map[String, SparkSession => Unit] = Map(
      "artifact_minhash_base" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearPairsVariants(s, sfDir, Seq("wsall", "wsreps", "wsintra"))),
      "artifact_minhash_pairs" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearPairsVariants(s, sfDir, Seq("pairs"))),
      "artifact_minhash_pairs_b" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearPairsVariants(s, sfDir, Seq("pairsB"))),
      "artifact_doc_components" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearPairsVariants(s, sfDir, Seq("doccomp"))),
      "artifact_ngram_signatures" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearPairsVariants(s, sfDir,
          Seq("ngrams", "ngram_reps"))),
      // variant-scoped (r18): a blanket TextAnalysis.clearCaches between
      // the term_counts row's trials would evict the vocab table and
      // vice versa
      "artifact_term_counts" -> ((s: SparkSession) =>
        graft.operators.TextAnalysis.clearTermCounts(s, sfDir)),
      "artifact_vocab_coverage" -> ((s: SparkSession) =>
        graft.operators.TextAnalysis.clearVocabCov(s, sfDir)),
      "artifact_quality_flags" -> ((s: SparkSession) =>
        graft.operators.Curation.clearQualityFlags(s, sfDir)),
      "artifact_rep_signals" -> ((s: SparkSession) =>
        graft.operators.Curation.clearRepSignals(s, sfDir)),
      "artifact_dup_spans" -> ((s: SparkSession) =>
        graft.operators.Curation.clearDupSpans(s, sfDir)),
      "artifact_lm_model" -> graft.operators.LangModel.clearCaches,
      "artifact_lm_scores" -> ((s: SparkSession) =>
        graft.operators.LangModel.clearScores(s, sfDir)),
      // variant-scoped (r18): a blanket Sampling.clearCaches between the
      // dsir row's trials would evict the mix plan built two rows earlier
      "artifact_dsir_ratio" -> ((s: SparkSession) =>
        graft.operators.Sampling.clearDsir(s, sfDir)),
      "artifact_source_mix" -> ((s: SparkSession) =>
        graft.operators.Sampling.clearSourceMix(s, sfDir)),
      "artifact_decontam" -> ((s: SparkSession) =>
        graft.operators.Curation.clearDecontam(s, sfDir)),
      "artifact_curate_decision" -> ((s: SparkSession) =>
        graft.operators.Curation.clearDecision(s, sfDir)),
      "artifact_cell_assignment" -> ((s: SparkSession) =>
        graft.operators.Similarity.clearCells(s, sfDir)),
      "artifact_ann_methods" -> ((s: SparkSession) =>
        graft.operators.Similarity.clearAnnMethods(s, sfDir)),
      "artifact_embedding_components" -> ((s: SparkSession) =>
        graft.operators.Similarity.clearComponents(s, sfDir)),
      "artifact_exact_topk" -> ((s: SparkSession) =>
        graft.operators.Similarity.clearTopK(s, sfDir)),
      "artifact_pq_trained_book" -> ((s: SparkSession) =>
        graft.operators.Similarity.clearBook(s, sfDir)),
      "artifact_simhash_fp" -> ((s: SparkSession) =>
        graft.operators.Dedup.clearSimhash(s, sfDir)),
      // the snapshot "cache" is the on-disk tmpdir directory itself;
      // dropping it makes the min-of-2 second trial a real rebuild.
      // Variant-scoped so one row's drops never destroy the sibling
      // row's freshly built snapshot (a cross-row drop forced a third,
      // untimed full rebuild in the re-warm loop every run).
      "artifact_log_snapshot" -> ((_: SparkSession) =>
        graft.sources.LogTable.dropSnapshots(sfDir, "logtable")),
      "artifact_topic_log_snapshot" -> ((_: SparkSession) =>
        graft.sources.LogTable.dropSnapshots(sfDir, "topiclog")))
    val artSelected =
      if (subset.isEmpty) artifactBuilds
      else artifactBuilds.filter(b => subset(b._1))
    val artResults: Seq[(String, Double, Option[String])] =
      artSelected.map { case (name, build) =>
        System.err.println(s"[bench] $name")
        def trial(): (Double, Option[String]) = {
          val t0 = System.nanoTime()
          try { build(); ((System.nanoTime() - t0) / 1e9, None) }
          catch { case e: Throwable =>
            (-1.0, Some(s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(120)))
          }
        }
        // min-of-2 with a cache-dropping rebuild between trials: artifact
        // rows were min-of-1 while query rows were min-of-2, so a host
        // spike over the bench's first seconds flagged EXACTLY the build
        // rows (all five r12 flags ran in the run's opening window —
        // attribution in SURVEY §7.13). The drop is required or trial 2
        // would read the warm persist-once cache and time nothing.
        // Trial 1 is ALSO preceded by a drop (r17): in-session caches are
        // empty at bench start so it is a no-op for them, but the
        // once-per-MACHINE snapshot rows would otherwise time a no-op on
        // warm machines and a real build on fresh ones (the driver,
        // every round) — a machine-bimodal floor that flags structurally.
        val r1 = { artifactCaches.get(name).foreach(_(spark)); trial() }
        val r2 =
          if (r1._2.isDefined) r1
          else { artifactCaches.get(name).foreach(_(spark)); trial() }
        val ok = Seq(r1, r2).collect { case (s, None) => s }
        (name, if (ok.nonEmpty) ok.min else -1.0,
          if (ok.isEmpty) r1._2 else None)
      }
    // Untimed re-warm: a later sibling's cache drop (the modules share
    // clearCaches) may have evicted an earlier artifact — rebuild all
    // selected artifacts once so every consumer below measures net of a
    // WARM artifact set, the contract the per-row floors were set under.
    artSelected.foreach { case (_, build) =>
      try build() catch { case _: Throwable => () }
    }
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (subset.isEmpty) names0 else names0.filter(subset)
    val results0 = names.map { name =>
      // stderr marker so WARN lines in a bench log can be attributed to
      // the query that emitted them (stdout stays one JSON line)
      System.err.println(s"[bench] $name")
      def timed(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val r = materialize(name)
        (if (r.isRight) (System.nanoTime() - t0) / 1e9 else -1.0, r.left.toOption)
      }
      var runs = (1 to 2).map(_ => timed())
      if (runs.exists(_._2.isEmpty) &&
          looksRegressed(name, runs.collect { case (s, None) => s }.min))
        runs = runs :+ timed()
      val ok = runs.collect { case (s, None) => s }
      // only report an error when NO run succeeded — a transient first-run
      // failure with a good second run is a timing, not a failure
      val err = if (ok.isEmpty) runs.collectFirst { case (_, Some(e)) => e }
                else None
      (name, if (ok.nonEmpty) ok.min else -1.0, err)
    }
    // End-of-run reconfirmation (round-8 lesson: the three r8 flags were a
    // transient load window that covered all back-to-back trials of each
    // query, and the folded-in baseline refresh then grandfathered them).
    // A query still flagged after its in-place confirmation trial gets ONE
    // more timing here, minutes of wall-clock away from the original
    // window — a co-tenant spike now has to span the whole bench to
    // produce a false flag, while a real plan regression (slow on every
    // run, any time) still is flagged.
    // Artifact rows get the same flag-confirm treatment (r10 verdict #3:
    // the 7.2x artifact_pq_trained_book driver outlier was structurally
    // invisible — artifact rows were excluded from flagging because an
    // in-loop repeat would read the warm cache and time nothing). The
    // confirmation here is a REBUILD after dropping the owning module's
    // persist-once caches, run after the whole query loop — wall-clock
    // minutes away from the original window, so it discriminates
    // transient host spikes from structural regressions exactly like the
    // query reconfirm below.
    val results = artResults.map {
      case (name, sec, None) if looksRegressed(name, sec) =>
        System.err.println(s"[bench] reconfirm $name (cache-dropping rebuild)")
        artifactCaches.get(name).foreach(_(spark))
        val t0 = System.nanoTime()
        val again =
          try { artifactBuilds.toMap.apply(name)(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => sec }
        (name, math.min(sec, again), None)
      case r => r
    } ++ results0.map {
      case (name, sec, None) if looksRegressed(name, sec) =>
        System.err.println(s"[bench] reconfirm $name")
        val t0 = System.nanoTime()
        val again =
          try { SparkEntry.queries(name)(spark, sfDir)
                  .queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => sec }
        (name, math.min(sec, again), None)
      case r => r
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum

    // Per-query regression guard (round-3 verdict #3), WINDOW-NORMALIZED
    // (r13, after the r12 flag attribution in SURVEY §7.13): the committed
    // floors are all-time minima while host conditions vary ±50% run to
    // run, so a uniformly slow window pushed every thin-margin row over a
    // RAW 1.5× threshold — five rows flagged in BENCH_r12 and every one
    // bisected flat (environment, not code). A uniform window moves ALL
    // rows together; a real plan regression stands out AGAINST the run's
    // own level. So the final flag compares each row to 1.5× floor ×
    // the run's median floor-ratio (never < 1, so a fast run keeps the
    // raw threshold), still over the 0.2 s noise floor. The window factor
    // itself is reported, and a window above 1.4 is surfaced as a
    // run-level signal — a GLOBAL regression (config change slowing
    // everything) shows up there, not silently normalized away.
    // Every flagged row already cleared its confirmation trials above
    // (queries: a third timing; artifact rows: a cache-dropping rebuild).
    val ratios = results.collect {
      case (k, v, None) if v > 0 && prev.get(k).exists(_ > 0) => v / prev(k)
    }
    // subset runs flag un-normalized and emit null window fields — see
    // BenchWindow.windowFieldsJson (r16 verdict #2)
    val windowFactor =
      if (subset.isEmpty) BenchWindow.windowFactor(ratios) else 1.0
    val regressions = results.collect {
      case (k, v, None) if prev.get(k).exists(p =>
          BenchWindow.flagged(p, v, windowFactor)) =>
        val p = prev(k)
        s"${jstr(k)}:{\"prev\":$p,\"cur\":$v,\"ratio\":${v / p}," +
          s"\"ratio_normalized\":${v / (p * windowFactor)}}"
    }.mkString("{", ",", "}")
    if (subset.isEmpty) {
      // MIN-MERGE, not overwrite (r11): the committed file is a per-row
      // FLOOR (the documented protocol: min across full runs + every
      // committed predecessor). A plain overwrite made one slow run's
      // values "the floor" the moment they were committed — inflating
      // every row's regression threshold. Merging min(prev, cur) per row
      // automates the protocol: floors only ratchet down; a deliberate
      // structural slowdown (rare, documented) is a hand edit. Rows new
      // in this run (renames, new queries) enter at their first reading;
      // rows deleted from the query set are dropped so the file tracks
      // the live surface.
      val live = results.collect { case (k, v, None) if v > 0 => k -> v }.toMap
      val merged = live.map { case (k, v) =>
        k -> math.min(v, prev.getOrElse(k, v))
      }
      val w = new java.io.PrintWriter(baselineFile)
      try w.write(merged.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:$v" }
        .mkString("{", ",", "}"))
      finally w.close()
    }

    // Storage footprint of the persist-once artifact set at end of run —
    // recorded so a future "slow query X" can be checked against the
    // memory-pressure hypothesis from data (r7's bm25_search flag turned
    // out to be VM noise; disk_mb > 0 here would have said "spill" instead).
    // Window-factor drift (r13 verdict #7): compare against the persisted
    // full-run history BEFORE appending this run, append only on full
    // runs (subsets measure a biased sliver of the surface).
    // Subset runs neither append NOR evaluate drift (r14 review): a
    // subset's windowFactor is the floor-ratio of a biased sliver (often
    // one row), and comparing it against FULL-run history manufactures
    // exactly the false "multi-run rise" the append-gate exists to
    // prevent.
    val histFile = BenchWindow.historyFile(baselineFile)
    val windowHistory = BenchWindow.loadHistory(histFile)
    val windowDrift =
      subset.isEmpty && BenchWindow.drift(windowHistory, windowFactor)
    if (subset.isEmpty)
      BenchWindow.appendHistory(histFile, windowFactor, total)

    val rddInfo = spark.sparkContext.getRDDStorageInfo
    val storage = s"""{"n_cached_rdds":${rddInfo.length},""" +
      s""""mem_mb":${rddInfo.map(_.memSize).sum / 1024 / 1024},""" +
      s""""disk_mb":${rddInfo.map(_.diskSize).sum / 1024 / 1024}}"""

    val windowFields = BenchWindow.windowFieldsJson(
      subset.nonEmpty, windowFactor, windowDrift)
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","policy":"min_of_2_confirm","queries":$qs,"errors":$errs,"regressions":$regressions,$windowFields,"storage":$storage,"sf":"$sfDir"}"""
    println(jsonLine)
    // The full JSON line ALSO lands in a file (r17 verdict #4): the
    // driver's stdout capture truncates at 2000 chars, which erased the
    // r16→r17 round-over-round comparison entirely (PERF_r17
    // prev_bench_ok=false). Best-effort — a read-only checkout must not
    // fail the bench.
    try {
      val lastFile = toolsFile(s"last_bench_${sfKey}_c$cpus.json")
      val lw = new java.io.PrintWriter(lastFile)
      try lw.write(jsonLine + "\n") finally lw.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    // release the session-scoped persist-once artifacts (verified pairs,
    // n-gram signatures, inverted index) before retiring the session
    graft.operators.Dedup.clearCaches(spark)
    graft.operators.TextAnalysis.clearCaches(spark)
    graft.operators.LangModel.clearCaches(spark)
    graft.operators.Similarity.clearCaches(spark)
    graft.operators.Sampling.clearCaches(spark)
    graft.operators.Curation.clearCaches(spark)
    graft.streaming.PipelineStreams.clearCaches(spark)
    // clearCaches releases are non-blocking (right for mid-session
    // eviction); at teardown drain synchronously so async unpersist
    // futures don't race executor-pool shutdown into harmless-but-noisy
    // RejectedExecutionException stacks after the JSON line
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.stop()
  }
}
