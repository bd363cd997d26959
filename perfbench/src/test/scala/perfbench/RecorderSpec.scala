package perfbench

import java.nio.file.Files

import org.apache.spark.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  test("the first graft frame of a call site names the file") {
    val details = Seq(
      "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:1)",
      "scala.collection.immutable.List.foreach(List.scala:334)",
      "graft.operators.Dedup$.$anonfun$q56$1(Dedup.scala:412)",
      "graft.CurationRun$.run(CurationRun.scala:300)").mkString("\n")
    assert(Attribution.firstGraftFile(details).contains("Dedup"))
    assert(Attribution.callSite(details, None).contains("Dedup"))
    val mine = "perfbench.Op$.sink(Workloads.scala:27)\nperfbench.Main$.main(Main.scala:1)"
    assert(Attribution.callSite(mine, None).isEmpty)
    assert(Attribution.callSite(mine, Some("CurationRun")).contains("CurationRun"))
  }

  test("an op names the file that defines its query") {
    assert(QueryOp("q04_hash_agg").module.contains("Relational"))
    assert(QueryOp("q15_sessionization").module.contains("TimeWindows"))
    assert(QueryOp("q37_tpch_q3").module.contains("Advanced"))
    assert(QueryOp("q01_inverted_index").module.contains("InvertedIndex"))
    assert(ReferenceIndexOp.module.contains("InvertedIndex"))
    assert(CurationOp.module.isEmpty)
  }

  /** The harness's own action, with no engine op behind it. */
  private object Collect extends Op {
    def name: String = "collect"
    def module: Option[String] = None
    def run(ctx: Ctx, tag: String): Long =
      ctx.spark.range(100).repartition(4).collect().length.toLong
  }

  test("jobs are attributed to the engine file, the sink, or rdd") {
    val spark = graft.Sessions.local("perfbench-spec")
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(rec)
    val work = Files.createTempDirectory("perfbench-spec").toString
    try {
      // the base fixtures are the inputs of both queries
      val ctx = Ctx(spark, sys.props("user.dir") + "/base", work)
      val runs = Seq(QueryOp("q56_dup_clusters"), QueryOp("q04_hash_agg"),
        Collect).zipWithIndex.map { case (op, i) => Main.timed(ctx, op, 0, i, "t") }
      assert(runs.forall(_.error.isEmpty), runs.map(_.error))
      assert(runs.head.rows == 2000)
      sc.setLocalProperty(Recorder.OpTag, "0:3")
      sc.parallelize(1 to 100, 4).map(_ * 2).count()
      ListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.removeSparkListener(rec)
      spark.stop()
    }
    val ev = rec.toMap
    val jobs = ev("jobs").asInstanceOf[Seq[Map[String, Any]]]
    val execs = ev("execs").asInstanceOf[Seq[Map[String, Any]]]
    val byOp = jobs.groupBy(_("op").toString)
    def modules(op: String) = byOp(op).map(_("module").toString).toSet
    // q56's checkpoints run inside Dedup, and its result, drained by the
    // sink, is Dedup's too; q04 is built lazily and only runs in the sink.
    // Both also run jobs outside any SQL execution (the parquet schema
    // reads of their table scans), which are rdd.
    assert(modules("0:0") == Set("Dedup", Attribution.Rdd))
    assert(modules("0:1") == Set("Relational", Attribution.Rdd))
    assert(modules("0:2") == Set(Attribution.Sink))
    assert(modules("0:3") == Set(Attribution.Rdd))
    // AQE runs the sink's shuffle stages as jobs of their own under the
    // sink's execution: several jobs, one execution id, all attributed
    val q04 = byOp("0:1").filter(_("module") == "Relational")
    val q04Execs = q04.map(_("exec")).distinct
    assert(q04Execs.size == 1 && q04Execs.head != -1L)
    assert(q04.size > 1)
    // planning phases reach the executions from their end events
    val phaseMs = execs.map(x => Seq("analysis_ms", "optimization_ms",
      "planning_ms").map(x(_).asInstanceOf[Long]).sum).sum
    assert(phaseMs > 0)
    assert(jobs.map(_("blocks").asInstanceOf[Long]).sum > 0,
      "q56's localCheckpoints write RDD blocks")
  }
}
