package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.er._
import graft.queries.ErQueries
import graft.text.{Curation, CurationPipeline, TextAnalysis}
import graft.util.{ConnectedComponents, Snapshot}

/** One workload: an operation the closed loop repeats, its traced
 * decomposition, and the checks and quality figures of its outputs. */
trait Bench {
  /** Input records one operation processes (profiles or documents). */
  def records: Long
  /** Timed operations a run makes at least, however long they take, every
   * kind of a traced run counted: two, so an untraced run's run_s is never
   * a single sample. */
  def minOps: Int = 2
  /** A layer the traced run cannot span from outside, reported as the
   * residual of the other layers (Main.perLayer). */
  def residualLayer: Option[String] = None
  /** One operation. `t = None` calls the program's public entry point;
   * `Some(tracer)` runs the same work layer by layer inside spans. */
  def op(t: Option[Tracer]): Unit
  /** Whether the last operation's outputs equal the first operation's. */
  def verify(): Boolean
  /** Write the outputs the DuckDB twins check under `out`; return the
   * quality figures and, after a traced operation, sizes and ratios. */
  def finish(out: String): Map[String, Any]
}

object Bench {
  def apply(workload: String, spark: SparkSession, input: String, work: String): Bench =
    workload match {
      case "er_dirty_skewed" => new ErBench(spark, input)
      case "er_incremental" => new IncrementalBench(spark, input, work)
      case "curation_neardup" => new CurationBench(spark, input)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def span[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))

  /** Order-independent (row count, hash sum) of a frame. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(
      sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(2147483647L))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def one(df: DataFrame): Row = df.collect().head

  /** Share of planted clusters of two or more members whose members fall
   * into exactly one group of `grouped` (idCol, groupCol); members absent
   * from `grouped` count as no group. */
  def clusterRecall(grouped: DataFrame, idCol: String, groupCol: String,
                    clusters: DataFrame): Double = {
    val multi = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val groups = clusters.join(grouped, clusters("id") === grouped(idCol))
      .groupBy("cluster_id")
      .agg(countDistinct(col(groupCol)).as("g"), count(lit(1)).as("present"))
    val r = one(multi.join(groups, Seq("cluster_id"), "left").agg(
      count(lit(1)),
      sum(when(col("g") === 1 && col("present") === col("n"), 1L).otherwise(0L))))
    r.getLong(1).toDouble / r.getLong(0)
  }
}

/** Batch outputs compared, on every operation, with the first one's. */
abstract class FrameBench extends Bench {
  protected def outputs: Map[String, DataFrame]
  private var reference: Map[String, (Long, Long)] = _

  def verify(): Boolean = {
    val fp = outputs.map { case (k, df) => k -> Bench.fingerprint(df) }
    if (reference == null) reference = fp
    fp == reference
  }

  /** Copy each output's parquet files (every output is a Snapshot
   * reader) to `out/<name>/`; a copy costs no Spark job. */
  protected def writeOutputs(out: String,
                             frames: Map[String, DataFrame] = outputs): Unit =
    frames.foreach { case (k, df) =>
      val dir = Files.createDirectories(Paths.get(out, k))
      df.inputFiles.foreach { f =>
        val src = Paths.get(new java.net.URI(f))
        Files.copy(src, dir.resolve(src.getFileName))
      }
    }
}

/** Dirty ER over `part.parquet`-shaped profiles with the default
 * ErPipeline config: token blocking, purging + filtering, CBS weighting,
 * WNP pruning, Levenshtein matching, connected components. */
final class ErBench(spark: SparkSession, input: String) extends FrameBench {
  private val part = spark.read.parquet(s"$input/part.parquet")
  private val config = ErPipeline.Config()
  val records: Long = part.count()
  override def residualLayer: Option[String] = Some("matching")
  private var last: ErPipeline.Result = _
  // stage frames of the last traced operation, for sizes and ratios
  private var stages: Map[String, DataFrame] = Map.empty

  protected def outputs: Map[String, DataFrame] = Map(
    "candidates" -> last.candidates, "matches" -> last.matches, "entities" -> last.entities)

  private def load(): DataFrame =
    Snapshot(ErQueries.partAttrsOf(part, twoSources = false))

  def op(t: Option[Tracer]): Unit = t match {
    case None => last = ErPipeline.run(load(), config)
    case Some(tr) => last = decomposed(tr)
  }

  /** ErPipeline.run, stage by stage, each stage inside its layer's span. */
  private def decomposed(t: Tracer): ErPipeline.Result = {
    val attrs = t.span("load")(load())
    val keys = Blocking.tokenKeys(attrs)
    // cleanBlocks' stage hook fires six times: valid blocks and their stats
    // (blocking), then purging, filtering and the re-validated blocks
    var boundary = 0
    val stage: DataFrame => DataFrame = df => {
      boundary += 1
      t.span(if (boundary <= 2) "blocking" else "cleaning")(Snapshot(df))
    }
    val cb = Pipeline.cleanBlocks(keys, config.clean,
      config.smoothFactor, config.filterR, stage = stage)
    val pairs = t.span("metablocking.graph")(Snapshot(cb.pairs()))
    val (weighted, selfW) = t.span("metablocking.weighting") {
      val pstats = Snapshot(cb.profileStats)
      val w = MetaBlocking.schemeView(
        Snapshot(MetaBlocking.weightedPairsAll(pairs, pstats, cb.numberOfBlocks)),
        config.weight)
      val s =
        if (config.clean) None
        else Some(MetaBlocking.selfSchemeView(
          Snapshot(MetaBlocking.selfWeightsAll(pstats, cb.numberOfBlocks, pairs)),
          config.weight))
      (w, s)
    }
    val candidates = t.span("metablocking.pruning")(Snapshot(
      MetaBlocking.wnp(weighted, config.thresholdType, config.comparisonType,
        config.weight, selfW = selfW).select("p1", "p2", "w")))
    // outside every span: matching is the residual layer
    val matches = Snapshot(score(attrs, candidates))
    val vertices = attrs.select(col("profile_id")).distinct()
    val entities = t.span("clustering")(Snapshot(ConnectedComponents.minLabel(
      vertices, matches, idCol = "profile_id", srcCol = "p1", dstCol = "p2",
      labelCol = "entity_id")))
    stages = Map("keys" -> keys, "stats0" -> cb.stats0, "stats2" -> cb.stats2,
      "pairs" -> pairs)
    ErPipeline.Result(candidates, matches, entities)
  }

  /** Replica of the private ErPipeline.score for the default Levenshtein
   * matcher, so the traced composition produces the same matches. No
   * reported figure comes from it: every matching figure is a residual of
   * the public ErPipeline.run, so a change to ErPipeline.score shows there. */
  private def score(attrs: DataFrame, candidates: DataFrame): DataFrame = {
    val vals = attrs.filter(col("attribute") === config.matchAttribute)
      .select(col("profile_id"), lower(col("value")).as("nm"))
    val paired = candidates.select("p1", "p2")
      .join(vals.select(col("profile_id").as("p1"), col("nm").as("nm1")), Seq("p1"))
      .join(vals.select(col("profile_id").as("p2"), col("nm").as("nm2")), Seq("p2"))
    val sim = lit(1.0) - levenshtein(col("nm1"), col("nm2")).cast("double") /
      greatest(length(col("nm1")), length(col("nm2"))).cast("double")
    paired.withColumn("sim", graft.functions.FastRound.round(sim, 9))
      .filter(col("sim") >= config.matchThreshold)
      .select("p1", "p2", "sim")
  }

  def finish(out: String): Map[String, Any] = {
    writeOutputs(out)
    val truth = spark.read.parquet(s"$input/truth.parquet")
    val clusters = spark.read.parquet(s"$input/clusters.parquet")
    val q = Bench.one(Evaluation.pcPq(last.candidates, truth))
    val quality = Map[String, Any](
      "pc" -> q.getAs[Double]("pc"), "pq" -> q.getAs[Double]("pq"),
      "dedup_recall" -> Bench.clusterRecall(last.entities, "profile_id", "entity_id", clusters))
    if (stages.isEmpty) quality
    else {
      def comparisons(df: DataFrame) = Bench.one(df.agg(sum("comparisons"))).getLong(0).toDouble
      val edges = stages("pairs").count()
      val cands = last.candidates.count()
      quality ++ Map(
        "sizes" -> Map("profiles" -> records, "keys" -> stages("keys").count(),
          "blocks" -> stages("stats2").count(), "edges" -> edges,
          "candidates" -> cands, "matches" -> last.matches.count()),
        "ratios" -> Map(
          "cleaning.kept_comparisons_ratio" -> comparisons(stages("stats2")) / comparisons(stages("stats0")),
          "metablocking.pruning.kept_ratio" -> cands.toDouble / edges,
          "matching.yield" -> last.matches.count().toDouble / cands))
    }
  }
}

/** A standing corpus key index plus a closed loop of small arriving
 * batches: each batch's keys, its incremental WNP (CBS) candidates against
 * the index, then the keys appended to the index. */
final class IncrementalBench(spark: SparkSession, input: String, work: String) extends Bench {
  private val corpus = spark.read.parquet(s"$input/corpus/part.parquet")
  private val arrivals = spark.read.parquet(s"$input/arrivals/part.parquet")
  private val meta = Bench.one(spark.read.option("multiLine", "true")
    .json(s"$input/meta.json").select("profiles", "batch", "arrivals"))
  private val corpusSize = meta.getLong(0)
  private val batch = meta.getLong(1)
  private val poolBatches = meta.getLong(2) / batch
  private val indexDir = s"$work/index"
  val records: Long = batch
  /** pc/pq are computed on batches 0 until EvalBatches, which every run
   * makes (the set-up's cold batch plus the loop's first ones). */
  val EvalBatches = 9
  /** Batch latency falls over a JVM's first five or so batches (JIT
   * warm-up), so a run makes at least eight and the median sits past most
   * of it. */
  override def minOps: Int = EvalBatches - 1
  private val results = ArrayBuffer.empty[Array[Row]]

  Blocking.tokenKeys(ErQueries.partAttrsOf(corpus, twoSources = false))
    .write.mode("overwrite").parquet(indexDir)

  def op(t: Option[Tracer]): Unit = {
    val b = results.size
    require(b < poolBatches, s"arrival pool exhausted after $b batches")
    val lo = corpusSize + b * batch
    val attrs = ErQueries.partAttrsOf(arrivals.filter(
      col("p_partkey") >= lo && col("p_partkey") < lo + batch), twoSources = false)
    val keys = Bench.span(t, "incremental.keys")(Snapshot(Blocking.tokenKeys(attrs)))
    val cands = Bench.span(t, "incremental.probe")(
      Blocking.incrementalWnp(spark.read.parquet(indexDir), keys)
        .select("p1", "p2", "cbs", "n_new").collect())
    Bench.span(t, "incremental.append")(keys.write.mode("append").parquet(indexDir))
    results += cands
  }

  def verify(): Boolean = true  // every batch is checked against its DuckDB twin

  def finish(out: String): Map[String, Any] = {
    require(results.size >= EvalBatches, s"only ${results.size} batches ran")
    import spark.implicits._
    results.zipWithIndex.flatMap { case (rows, b) =>
      rows.map(r => (b, r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    }.toSeq.toDF("batch", "p1", "p2", "cbs", "n_new")
      .write.mode("overwrite").parquet(s"$out/incremental")
    val hi = corpusSize + EvalBatches * batch
    val truth = spark.read.parquet(s"$input/truth.parquet")
      .filter(col("p2") >= corpusSize && col("p2") < hi)
    val cands = results.take(EvalBatches).flatMap(_.map(r => (r.getLong(0), r.getLong(1))))
    val q = Bench.one(Evaluation.pcPq(cands.toSeq.toDF("p1", "p2"), truth))
    // an arrival with an earlier planted duplicate is resolved when one of
    // its candidate pairs links it to one of them
    val truePairs = truth.collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupArrivals = truePairs.map(_._2).distinct.length
    val linked = cands.toSet.intersect(truePairs.toSet).map(_._2).size
    Map("pc" -> q.getAs[Double]("pc"), "pq" -> q.getAs[Double]("pq"),
      "dedup_recall" -> linked.toDouble / dupArrivals,
      "eval_batches" -> EvalBatches,
      "sizes" -> Map("profiles" -> corpusSize, "batch" -> batch,
        "batches" -> results.size.toLong,
        "candidates" -> results.map(_.length.toLong).sum))
  }
}

/** CurationPipeline with MinHash-LSH near-dup removal and sequence packing
 * over `documents.parquet`-shaped documents. */
final class CurationBench(spark: SparkSession, input: String) extends FrameBench {
  private val docs = spark.read.parquet(s"$input/documents.parquet")
  private val config = CurationPipeline.Config(dedup = "minhash", packBudget = 1024)
  val records: Long = docs.count()
  /** Three: run_s is then a median that outvotes one slow operation, not
   * the mean of two. */
  override def minOps: Int = 3
  private var last: CurationPipeline.Result = _
  private var traced = false

  protected def outputs: Map[String, DataFrame] =
    Map("curated" -> last.curated, "packed" -> last.packed)

  def op(t: Option[Tracer]): Unit = t match {
    case None => last = CurationPipeline.run(docs, config)
    case Some(tr) => last = decomposed(tr); traced = true
  }

  /** CurationPipeline.run for this config, stage by stage. The LSH pairs
   * and the survivors get one small snapshot each, so the band join and
   * the survivor window run inside their own spans instead of inside the
   * next stage's write. */
  private def decomposed(t: Tracer): CurationPipeline.Result = {
    val analysis = t.span("textanalysis")(Snapshot(TextAnalysis.analyze(docs, "text")))
    val sh = t.span("dedup.shingles")(Snapshot(Dedup.shingles(docs, n = config.shingleN)))
    val pairs = t.span("dedup.minhash")(Snapshot(Dedup.minhashLsh(sh, k = config.minhashK,
      bands = config.minhashBands).select("d1", "d2")))
    val surviving = t.span("dedup.survivors")(Snapshot(
      Dedup.survivors(Dedup.clusters(docs, pairs),
        analysis.select(col("doc_id"), col("quality")), scoreCol = "quality")
        .select(col("survivor_id").as("doc_id"))))
    val curated = t.span("curation.gates")(Snapshot(analysis
      .join(surviving, Seq("doc_id"), "left_semi")
      .filter(col("quality") >= config.minQuality)
      .filter(col("lang_id").isin(config.langs: _*))
      .select("doc_id", "n_tokens", "quality", "lang_id")))
    val packed = t.span("curation.pack")(Snapshot(Curation.packSequences(
      docs.join(curated.select("doc_id"), Seq("doc_id"), "left_semi"),
      budget = config.packBudget)))
    CurationPipeline.Result(curated, packed)
  }

  def finish(out: String): Map[String, Any] = {
    writeOutputs(out)
    // the LSH candidate pairs the pipeline dedups with, from the same
    // public operators and parameters, scored against the planted pairs
    val lsh = Snapshot(Dedup.minhashLsh(Snapshot(Dedup.shingles(docs, n = config.shingleN)),
      k = config.minhashK, bands = config.minhashBands))
    writeOutputs(out, Map("lsh" -> lsh))
    val truth = spark.read.parquet(s"$input/truth.parquet")
    val clusters = spark.read.parquet(s"$input/clusters.parquet")
    val q = Bench.one(Evaluation.pcPq(
      lsh.select(col("d1").as("p1"), col("d2").as("p2")), truth))
    // a planted cluster is resolved when exactly one member survives
    val curated = last.curated.select("doc_id")
    val multi = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    val kept = clusters.join(curated, clusters("id") === curated("doc_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("kept"))
    val r = Bench.one(multi.join(kept, Seq("cluster_id"), "left")
      .agg(count(lit(1)), sum(when(col("kept") === 1, 1L).otherwise(0L))))
    val quality = Map[String, Any]("pc" -> q.getAs[Double]("pc"),
      "pq" -> q.getAs[Double]("pq"), "dedup_recall" -> r.getLong(1).toDouble / r.getLong(0))
    if (!traced) quality
    else quality ++ Map(
      "sizes" -> Map("documents" -> records, "lsh_pairs" -> lsh.count(),
        "curated" -> last.curated.count()),
      "ratios" -> Map("dedup.minhash.pair_precision" -> q.getAs[Double]("pq")))
  }
}
