package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Where an op runs: the session, the generated inputs and a scratch
  * directory for the ops that write artifacts. */
final case class Ctx(spark: SparkSession, inputs: String, work: String) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One timed unit of work, reached only through the engine's public entry
  * points. `run` returns the number of output rows; `tag` names the
  * invocation (for ops that write, the directory they write to).
  * `module` is the engine file whose work the op's own actions run, or
  * None when they run none (see [[Attribution]]). */
trait Op {
  def name: String
  def module: Option[String]
  def run(ctx: Ctx, tag: String): Long
}

object Op {
  /** The benchmark's sink: a noop write of the whole result, counting its
    * rows through an observation on the way. */
  def sink(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

/** A registered query (`SparkEntry.queries`) drained into the sink. */
final case class QueryOp(query: String) extends Op {
  def name: String = query
  /** The file of the query's definition: the sink runs the whole query. */
  lazy val module: Option[String] =
    Some(Attribution.fileOf(graft.SparkEntry.queries(query)))
  def run(ctx: Ctx, tag: String): Long =
    Op.sink(graft.SparkEntry.queries(query)(ctx.spark, ctx.inputs))
}

/** `InvertedIndex.referenceIndex` over the seeded word-per-line corpus,
  * one reducer per core. */
object ReferenceIndexOp extends Op {
  def name: String = "reference_index"
  val module: Option[String] = Some(Attribution.fileOf(graft.operators.InvertedIndex))
  def frame(ctx: Ctx): DataFrame =
    graft.operators.InvertedIndex.referenceIndex(
      ctx.spark, s"${ctx.inputs}/ref", reducers = ctx.cores)
  def run(ctx: Ctx, tag: String): Long = Op.sink(frame(ctx))

  /** Collect the index once into a TSV (word, n_postings, postings) for
    * the model check, when the workload runs this op. */
  def dump(ctx: Ctx, w: Workload, path: String): Unit =
    if (w.ops.contains(this)) {
      val rows = frame(ctx).collect()
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        rows.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getString(2)}\n")
          .mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
}

/** One `CurationRun.run` writing the full artifact set to its own
  * directory; the collected manifest is kept for the output checks. */
object CurationOp extends Op {
  def name: String = "curation_run"
  /** The engine's work runs inside `CurationRun.run`; the op's own action
    * is the harness's collect of the manifest it returns. */
  val module: Option[String] = None
  val manifests = mutable.LinkedHashMap[String, Seq[Seq[Any]]]()
  def dir(ctx: Ctx, tag: String): String = s"${ctx.work}/curation/$tag"
  def run(ctx: Ctx, tag: String): Long = {
    val rows = graft.CurationRun.run(ctx.spark, ctx.inputs, dir(ctx, tag))
      .collect().toSeq
    manifests(tag) = rows.map(r => Seq(r.getInt(0), r.getString(1),
      r.getLong(2), r.getLong(3)))
    rows.size.toLong
  }
}

/** A workload: the registered queries `graft.Verify` dumps for the oracle
  * compare (that pass is also the untimed warm-up), and the ops of one
  * timed pass. */
final case class Workload(name: String, verifyQueries: Seq[String],
    ops: Seq[Op])

object Workloads {
  val ScanShuffle: Seq[String] = Seq(
    "q01_inverted_index", "q02_word_count", "q04_hash_agg", "q05_join_agg",
    "q06_multiway_join", "q09_window_rank", "q11_set_ops",
    "q15_sessionization", "q37_tpch_q3")
  val DriverTails: Seq[String] = Seq(
    "q56_dup_clusters", "q56b_dup_clusters_lsh", "q139_bpe_merges",
    "q142_bpe_merges_batched", "q135b_token_budget_bpe")

  val all: Map[String, Workload] = Seq(
    Workload("scan_shuffle", ScanShuffle,
      ScanShuffle.map(QueryOp(_)) :+ ReferenceIndexOp),
    Workload("driver_tails", DriverTails, DriverTails.map(QueryOp(_))),
    // q88 is the funnel the manifest's first six rows must reproduce; its
    // DuckDB oracle is too slow to run per seed, so only its engine output
    // is dumped.
    Workload("curation", Seq("q88_curation_funnel"), Seq(CurationOp)),
  ).map(w => w.name -> w).toMap
}
