package graft

import graft.ops.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the north-star use of
  * this engine at 100 TB: ingest → PII scrub → quality filter →
  * language ID → exact dedup → near-dedup → stratified sample →
  * fingerprint → curated corpus + stats.
  *
  * Every stage is one of the engine's tested operators; the pipeline
  * composes them into a single Catalyst job graph per output. Stage
  * order is the scale-correct one: cheap narrow filters (quality,
  * lang) shrink the corpus BEFORE the shuffling stages (dedup), and
  * the near-dup stage only ever shuffles ids + signatures.
  */
object Pipeline {

  final case class CurationReport(
      input: Long, afterQuality: Long, afterExact: Long, afterNear: Long,
      afterSample: Long)

  /** The funnel's intermediate frames (persisted) + cache release.
    * ONE builder backs both [[curate]] (counts the frames with
    * actions) and [[curateObserved]] (taps observe() nodes in) so the
    * two can never describe different pipelines. */
  private final case class Funnel(scored: DataFrame, exact: DataFrame,
      curatedBase: DataFrame, release: () => Unit)

  /** Stages 1–3 of the curation funnel. Each `tap` wraps the stage's
    * output BELOW its persist, so an observe() node lands inside the
    * cached plan and fires exactly once per materialization even
    * though `scored`/`exact` feed multiple downstream branches. */
  private def buildFunnel(docs: DataFrame, minQuality: Double,
      nearDupJaccard: Double,
      exactNearDup: Boolean = false,
      tapQuality: DataFrame => DataFrame = identity,
      tapExact: DataFrame => DataFrame = identity,
      tapNear: DataFrame => DataFrame = identity): Funnel = {
    // 1. narrow stages first: PII scrub (pure regexp projections) and
    // quality filter (shared scoring expression) shrink/clean the
    // corpus before anything shuffles
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val scrubbed = docs.withColumn("text",
      graft.etl.Sanitize.redactPii(col("text")))
    val scored = tapQuality(scrubbed
      .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality_score") >= minQuality))
      .persist()
    // 2. exact dedup: keep the lowest doc_id per content hash
    val keep = scored.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = tapExact(scored.join(keep, "doc_id")).persist()
    // 3. near-dedup: drop the higher doc_id of each near-dup pair.
    // Default is the MinHash-LSH generator; `exactNearDup` swaps in
    // the PPJoin exact join (Dedup.setSimJoin) — same question over
    // the same shingle sets, no banding recall question, for runs
    // where a missed pair costs more than the prefix join does.
    // The LSH signature table is built HERE, untracked, so this run
    // owns exactly its own cache lifecycle (the global registry would
    // let a concurrent unpersistCaches strip it mid-flight, and
    // repeated runs would grow the registry unboundedly); the exact
    // path's caches live in the global registry, so its release
    // drains that (single-pipeline sessions only — the same caveat
    // Verify/Bench already operate under).
    val (nearPairs, releaseNear: (() => Unit)) =
      if (exactNearDup)
        (Dedup.setSimJoin(exact, "doc_id",
            math.round(nearDupJaccard * 1000000))
          .select(col("doc_b").as("doc_id")).distinct(),
          () => Dedup.unpersistCaches())
      else {
        val sigs = Dedup.signatureTable(exact, "doc_id", track = false)
        (Dedup.nearDupPairs(exact, "doc_id", nearDupJaccard,
            sigsOpt = Some(sigs))
          .select(col("doc_b").as("doc_id")).distinct(),
          () => sigs.unpersist(): Unit)
      }
    val curatedBase = tapNear(exact.join(nearPairs, Seq("doc_id"), "left_anti"))
    Funnel(scored, exact, curatedBase,
      () => { scored.unpersist(); exact.unpersist(); releaseNear() })
  }

  /** Curate a document corpus: returns (curated corpus, report).
    *
    * The funnel counts are actions, so the expensive intermediates
    * (scored, exact) are persisted — without that, each count (and the
    * final write) would re-run every upstream stage including the LSH
    * band join. They are unpersisted once the curated base is
    * materialized; `curatedBase` itself stays cached for the caller's
    * write (lineage remains valid if it's ever evicted). */
  def curate(docs: DataFrame, minQuality: Double = 0.5,
      nearDupJaccard: Double = 0.9,
      sampleRates: Map[String, Double] = Map.empty,
      defaultSampleRate: Double = 1.0,
      maxPerSource: Int = Int.MaxValue,
      exactNearDup: Boolean = false): (DataFrame, CurationReport) = {
    // one action per count on purpose: folding them into the output
    // action with observe taps (the curateObserved shape) was measured
    // and rejected here — the joins after the persist lost the
    // statistics of the materialized cache, and the corpus benchmark's
    // pass went 4.31→6.14 s and 4.67→6.92 s (2 seeds, 4 cores)
    val input = docs.count()
    val f = buildFunnel(docs, minQuality, nearDupJaccard, exactNearDup)
    val afterQuality = f.scored.count()
    val afterExact = f.exact.count()
    val curatedBase = f.curatedBase.persist()
    val afterNear = curatedBase.count()
    f.release()

    // 4. dataset mixing: deterministic per-language sampling (rand-free
    // keep decision — retries and corpus growth can't change it)
    val rateSampled =
      if (sampleRates.isEmpty && defaultSampleRate >= 1.0) curatedBase
      else Sampling.stratifiedSample(curatedBase, "doc_id", "lang",
        sampleRates, defaultSampleRate)
    // balanced mixing: cap any over-represented source (deterministic
    // hash order, so retries and other-source growth can't change it)
    val sampled =
      if (maxPerSource == Int.MaxValue) rateSampled
      else Sampling.capPerGroup(rateSampled, "doc_id", "source",
        maxPerSource).drop("pick_rank")
    val afterSample = if (sampled eq curatedBase) afterNear else sampled.count()

    // 5. fingerprint the survivors (downstream incremental dedup key)
    val curated = TextAnalysis.winnowed(sampled)
      .withColumn("content_hash", sha2(col("text"), 256))

    (curated,
      CurationReport(input, afterQuality, afterExact, afterNear, afterSample))
  }

  /** [[curate]]'s funnel with ZERO extra actions: every stage count is
    * an `observe()` metric collected WHILE the caller's single output
    * action runs — the production shape, where a 100 TB curation run
    * cannot afford four extra passes just to report its funnel. The
    * persists remain (shared subplans — the LSH band join reads the
    * exact-dedup result three ways) but nothing forces them early;
    * they materialize inside the one action, firing the observe nodes
    * exactly once. Metrics are read with `Observation.get` AFTER the
    * action completes; `release()` drops this run's caches. */
  final case class ObservedCuration(curated: DataFrame,
      input: org.apache.spark.sql.Observation,
      afterQuality: org.apache.spark.sql.Observation,
      afterExact: org.apache.spark.sql.Observation,
      afterNear: org.apache.spark.sql.Observation,
      release: () => Unit)

  def curateObserved(docs: DataFrame, minQuality: Double = 0.5,
      nearDupJaccard: Double = 0.9): ObservedCuration = {
    import org.apache.spark.sql.Observation
    val (oIn, oQ, oE, oN) =
      (Observation(), Observation(), Observation(), Observation())
    val f = buildFunnel(
      docs.observe(oIn, count(lit(1)).as("rows")),
      minQuality, nearDupJaccard,
      tapQuality = _.observe(oQ, count(lit(1)).as("rows"),
        round(avg(col("quality_score")), 6).as("avg_quality")),
      tapExact = _.observe(oE, count(lit(1)).as("rows")),
      tapNear = _.observe(oN, count(lit(1)).as("rows")))
    val curated = TextAnalysis.winnowed(f.curatedBase)
      .withColumn("content_hash", sha2(col("text"), 256))
    ObservedCuration(curated, oIn, oQ, oE, oN, f.release)
  }

  /** Demo main: curate the documents table, print the funnel, write
    * the curated corpus.
    *   sbt "runMain graft.Pipeline /root/testdata/sf0.01 /tmp/curated"
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curated"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (curated, report) = curate(Tables.documents(spark, sfDir))
    curated.write.mode("overwrite").parquet(outDir)
    println(s"""{"input":${report.input},"after_quality":${report.afterQuality},""" +
      s""""after_exact_dedup":${report.afterExact},"after_near_dedup":${report.afterNear},""" +
      s""""after_sample":${report.afterSample},"out":"$outDir"}""")
    spark.stop()
  }
}
