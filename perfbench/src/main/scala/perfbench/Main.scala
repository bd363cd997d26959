package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Codegen counters of this JVM (driver and, in local mode, executors). */
object Codegen {
  final case class Snap(compiles: Long, compileNs: Long, sourceCount: Long,
      sourceSum: Double, sourceMean: Double, sourceFull: Boolean)

  def snap(): Snap = {
    val h = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val s = h.getSnapshot
    Snap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, h.getCount, s.getValues.map(_.toDouble).sum,
      s.getMean, s.size < h.getCount)
  }

  /** Source bytes compiled between two snapshots. Exact while the
    * histogram's reservoir still holds every sample; once it has started
    * replacing samples, the count delta times the reservoir mean. */
  def sourceBytes(a: Snap, b: Snap): Double =
    if (!b.sourceFull) b.sourceSum - a.sourceSum
    else (b.sourceCount - a.sourceCount) * b.sourceMean
}

/** One execution of an op. Times: wall in seconds from a monotonic clock,
  * start/end in epoch microseconds for matching against listener events. */
final case class OpRun(pass: Int, index: Int, name: String, startUs: Long,
    endUs: Long, wallS: Double, rows: Long, error: Option[String],
    cg0: Codegen.Snap, cg1: Codegen.Snap) {
  def toMap: Map[String, Any] = Map(
    "pass" -> pass, "index" -> index, "name" -> name, "start_us" -> startUs,
    "end_us" -> endUs, "wall_s" -> wallS, "rows" -> rows, "error" -> error,
    "compiles" -> (cg1.compiles - cg0.compiles),
    "compile_ns" -> (cg1.compileNs - cg0.compileNs),
    "source_bytes" -> Codegen.sourceBytes(cg0, cg1),
    "source_exact" -> !cg1.sourceFull)
}

/** The benchmark's JVM side: set-up (the `graft.Verify` dump of the
  * workload's queries, which is also the cold warm-up, then a session and
  * one untimed pass of the ops), then the timed window: untraced passes,
  * or with `--trace 1` untraced and traced passes interleaved. Both modes
  * start their window at the same point, right after the one warm pass.
  * Writes one raw JSON record; `run.py` turns it into metrics and checks
  * the outputs.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds N
  *             --trace 0|1 --out FILE
  */
object Main {
  private def now: Long = System.nanoTime()

  private def epochUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def secondsSince(t: Long): Double = (now - t) / 1e9

  def timed(ctx: Ctx, op: Op, pass: Int, index: Int, tag: String): OpRun = {
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(Recorder.OpTag, s"$pass:$index")
    sc.setLocalProperty(Recorder.OpModule, op.module.orNull)
    val cg0 = Codegen.snap()
    val s = epochUs
    val t = now
    val (rows, err) =
      try (op.run(ctx, tag), None)
      catch { case NonFatal(e) => (-1L, Some(e.toString)) }
    val wall = secondsSince(t)
    val e = epochUs
    OpRun(pass, index, op.name, s, e, wall, rows, err, cg0, Codegen.snap())
  }

  /** Closed loop, one client: whole passes over the ops until `seconds`
    * have gone by and at least `minPasses` passes have run. `pass(p)` runs
    * pass number `p`. */
  private def loop[T](seconds: Double, minPasses: Int)(pass: Int => T): Seq[T] = {
    val start = now
    val passes = mutable.ArrayBuffer[T]()
    while (passes.size < minPasses || secondsSince(start) < seconds)
      passes += pass(passes.size)
    passes.toSeq
  }

  private def runPass(ctx: Ctx, ops: Seq[Op], p: Int): Seq[OpRun] =
    ops.zipWithIndex.map { case (op, i) => timed(ctx, op, p, i, s"p$p") }

  /** Untraced and traced passes in the order U T T U (repeated), so a
    * linear warm-up trend weighs on both sides alike; the
    * recorder is attached for the traced passes only, with the listener
    * bus drained around each. At least four passes. */
  def tracedWindow(ctx: Ctx, ops: Seq[Op], seconds: Double,
      rec: Recorder): Seq[(Boolean, Seq[OpRun])] = {
    val sc = ctx.spark.sparkContext
    loop(seconds, 4) { p =>
      val traced = p % 4 == 1 || p % 4 == 2
      if (traced) {
        ListenerBridge.waitUntilEmpty(sc)
        sc.addSparkListener(rec)
      }
      val runs = runPass(ctx, ops, p)
      if (traced) {
        ListenerBridge.waitUntilEmpty(sc)
        sc.removeSparkListener(rec)
      }
      (traced, runs)
    }
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = Workloads.all(a("--workload"))
    val inputs = a("--inputs")
    val work = a("--work")
    val seconds = a("--seconds").toDouble
    val traceOn = a("--trace") == "1"

    val t0 = now
    graft.Verify.main((Seq(inputs, s"$work/verify") ++ w.verifyQueries).toArray)
    val verifyS = secondsSince(t0)
    val spark = graft.Sessions.local("perfbench")
    val ctx = Ctx(spark, inputs, work)
    ReferenceIndexOp.dump(ctx, w, s"$work/verify/reference_index.tsv")
    // one untimed pass of exactly the timed ops: compiles and caches that
    // the sink plans add to Verify's warm-up land here, not in the window
    val warm = runPass(ctx, w.ops, -1)
    val setupS = secondsSince(t0)

    val (untraced, traced, events) =
      if (!traceOn)
        (loop(seconds, 1)(runPass(ctx, w.ops, _)), Nil, Map.empty[String, Any])
      else {
        val rec = new Recorder
        val passes = tracedWindow(ctx, w.ops, seconds, rec)
        (passes.collect { case (false, p) => p },
          passes.collect { case (true, p) => p }, rec.toMap)
      }

    val out = Map(
      "workload" -> w.name,
      "verify_queries" -> w.verifyQueries,
      "cores" -> ctx.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024),
      "verify_s" -> verifyS,
      "setup_s" -> setupS,
      "warm" -> warm.map(_.toMap),
      "untraced" -> untraced.map(_.map(_.toMap)),
      "traced" -> traced.map(_.map(_.toMap)),
      "manifests" -> CurationOp.manifests,
      "trace" -> events,
      "peak_rss_mb" -> peakRssMb)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(a("--out")), out)
    spark.stop()
  }
}
