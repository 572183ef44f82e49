package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.util.LocalSession

/**
 * One benchmark run of one workload in one JVM (run.py generates the
 * inputs, starts this, and checks the outputs):
 *
 *  1. set-up, timed from JVM start: create the session, load the inputs
 *     and make the first (cold) operation;
 *  2. a closed loop of operations for `--seconds`, one client, each
 *     operation's outputs compared with the first one's;
 *  3. with `--trace 1`, every cycle of the loop makes an untraced
 *     operation (for run_s and the tracing overhead) and a traced
 *     decomposed one (for the per-layer figures), plus, on a workload with
 *     a residual layer, a public-entry operation with only the listener
 *     attached (for the engine totals the residual is taken from). The
 *     order rotates every cycle, so no kind always runs on the JIT and
 *     cache state another one just warmed.
 *
 * Writes `<work>/result.json` and the checked outputs under `<work>/out`.
 *
 * Args: --workload W --input DIR --work DIR --seconds S --trace 0|1
 *       [--min-ops N]
 */
object Main {
  /** The program's DuckDB twins the output checks (checks.py) use. */
  val Oracles = Set("er_wnp_cbs_avg_or_dirty", "er_match_edit", "er_entities",
    "er_incremental_wnp", "txt_analysis", "dedup_minhash_lsh", "txt_pack")

  final case class Samples(walls: ArrayBuffer[Double] = ArrayBuffer.empty,
                           scratch: ArrayBuffer[Long] = ArrayBuffer.empty,
                           traces: ArrayBuffer[OpTrace] = ArrayBuffer.empty)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = LocalSession.create()
    val t1 = System.nanoTime()
    val bench = Bench(workload, spark, o("input"), work)
    val t2 = System.nanoTime()
    bench.op(None)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] set-up ${setupS}%.2fs: JVM ${(setupS - (System.nanoTime() - t0) / 1e9)}%.2fs, " +
      f"session ${(t1 - t0) / 1e9}%.2fs, load ${(t2 - t1) / 1e9}%.2fs, first op ${(System.nanoTime() - t2) / 1e9}%.2fs")
    var failed = if (bench.verify()) 0 else 1
    val localDir = Paths.get(spark.conf.get("spark.local.dir"))
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val plain, public, traced = Samples()
    // t: the tracer to record with; decomposed: run the layer-by-layer
    // composition instead of the public entry point
    def measure(t: Option[Tracer], decomposed: Boolean, into: Samples): Unit = {
      val before = snapshotDirs(localDir)
      t.foreach(_.begin())
      val s = System.nanoTime()
      bench.op(if (decomposed) t else None)
      into.walls += (System.nanoTime() - s) / 1e9
      t.foreach(tr => into.traces += tr.end())
      into.scratch += (snapshotDirs(localDir) -- before).toSeq.map(dirBytes).sum
      if (!bench.verify()) failed += 1
    }
    val kinds: Seq[() => Unit] =
      if (!trace) Seq(() => measure(None, decomposed = false, plain))
      else Seq(() => measure(None, decomposed = false, plain),
        () => measure(tracer, decomposed = true, traced)) ++
        bench.residualLayer.map(_ => () => measure(tracer, decomposed = false, public))
    val start = System.nanoTime()
    // --min-ops lowers the floor for the build's archive-dumping run
    val minOps = o.get("min-ops").map(_.toInt).getOrElse(bench.minOps)
    var cycle = 0
    // the floor counts every timed operation, and a traced run makes at
    // least two cycles, so each of its kinds has a median of two or more
    val minCycles = if (trace) 2 else 1
    while ((System.nanoTime() - start) / 1e9 < seconds ||
        cycle < minCycles || cycle * kinds.size < minOps) {
      val k = cycle % kinds.size
      (kinds.drop(k) ++ kinds.take(k)).foreach(_())
      cycle += 1
    }
    val loopEnd = System.nanoTime()
    val out = s"$work/out"
    val finished = bench.finish(out)
    System.err.println(f"[perfbench] loop ${(loopEnd - start) / 1e9}%.2fs (${plain.walls.size + public.walls.size + traced.walls.size} ops), " +
      f"outputs and quality ${(System.nanoTime() - loopEnd) / 1e9}%.2fs")
    Files.write(Paths.get(out, "oracle_sql.json"), Json(
      (graft.queries.ErOracles.all ++ graft.queries.TrainOracles.all)
        .filter { case (k, _) => Oracles.contains(k) }).getBytes("UTF-8"))

    val cores = spark.sparkContext.defaultParallelism
    val result = Map[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_s" -> setupS,
      "op_s" -> plain.walls.toSeq,
      "scratch_bytes" -> plain.scratch.toSeq,
      "records_per_op" -> bench.records,
      "attempted" -> (1 + plain.walls.size + public.walls.size + traced.walls.size),
      "failed" -> failed) ++ finished ++
      (if (!trace) Map.empty
       else Map("traced_op_s" -> traced.walls.toSeq,
         "per_layer" -> perLayer(traced, public, bench.residualLayer,
           median(plain.walls.toSeq), cores)))
    spark.stop()
    Files.write(Paths.get(work, "result.json"), Json(result).getBytes("UTF-8"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over the traced operations of every layer and engine figure.
   * The residual layer (ErBench: matching, whose ErPipeline.score is
   * private and cannot be timed from outside) is what the other layers
   * leave: its wall time of the untraced run_s, its task figures of the
   * engine totals of the public-entry operations. */
  def perLayer(l: Samples, pub: Samples, residual: Option[String], runS: Double,
               cores: Int): Map[String, Double] = {
    val names = l.traces.flatMap(_.layers.keys).distinct.filterNot(residual.contains)
    def med(f: OpTrace => Double) = median(l.traces.toSeq.map(f))
    def lay(n: String)(f: LayerTotals => Double) =
      med(t => t.layers.get(n).map(f).getOrElse(0.0))
    val layers = names.flatMap { n =>
      Seq(
        s"$n.wall_s" -> lay(n)(_.wallNs / 1e9),
        s"$n.cpu_s" -> lay(n)(_.cpuNs / 1e9),
        s"$n.idle_core_s" -> lay(n)(a => a.wallNs / 1e9 * cores - a.runMs / 1e3),
        s"$n.shuffle_mb" -> lay(n)(_.shuffleBytes / 1048576.0),
        s"$n.rows_out" -> lay(n)(_.rowsOut.toDouble))
    }.toMap
    def rest(f: LayerTotals => Double) =
      median(pub.traces.toSeq.map(t => f(t.engine))) - names.map(n => lay(n)(f)).sum
    val withResidual = residual.fold(layers) { r =>
      val wall = runS - names.map(n => layers(s"$n.wall_s")).sum
      layers ++ Map(
        s"$r.wall_s" -> wall,
        s"$r.cpu_s" -> rest(_.cpuNs / 1e9),
        s"$r.idle_core_s" -> (wall * cores - rest(_.runMs / 1e3)),
        s"$r.shuffle_mb" -> rest(_.shuffleBytes / 1048576.0),
        s"$r.rows_out" -> rest(_.rowsOut.toDouble))
    }
    withResidual ++ Map(
      "engine.jobs" -> med(_.engine.jobs.toDouble),
      "engine.tasks" -> med(_.engine.tasks.toDouble),
      "engine.spill_mb" -> med(_.engine.spillBytes / 1048576.0),
      "engine.gc_s" -> med(_.gcNs / 1e9),
      "engine.peak_heap_mb" -> med(_.peakHeapBytes / 1048576.0),
      "engine.idle_core_s" -> median(l.traces.toSeq.zip(l.walls).map { case (t, w) =>
        w * cores - t.engine.runMs / 1e3 }),
      "incremental.probe.cap_dropped" -> med(_.capDropped.toDouble),
      "snapshot.mb_written" -> median(l.scratch.toSeq.map(_ / 1048576.0)),
      "tracing.overhead_pct" -> (median(l.walls.toSeq) - runS) / runS * 100)
  }

  /** Snapshot directories (graft.util.Snapshot) under the local dir. */
  def snapshotDirs(local: Path): Set[Path] =
    if (!Files.isDirectory(local)) Set.empty
    else {
      val s = Files.list(local)
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith("graft-snap-")).toSet
      finally s.close()
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Minimal JSON writer for the result map. */
  object Json {
    def apply(v: Any): String = v match {
      case m: Map[_, _] =>
        m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ": " + apply(x) }
          .mkString("{", ", ", "}")
      case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
      case s: String => quote(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case other => quote(other.toString)
    }
    private def quote(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }
}
