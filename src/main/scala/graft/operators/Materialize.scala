package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The two materialization idioms that carry a decision beyond a plain
  * `localCheckpoint()` (SCALE.md §localCheckpoint contract). Plain cuts
  * stay direct calls.
  */
object Materialize {

  /** Materialize the finished rows, then sort them for presentation
    * (chain it with `df.transform(Materialize.sortCut(keys: _*))`). The
    * sort's range sampling is a SEPARATE execution of its child; when that
    * child is per-row expression work sitting on the scan (or a join +
    * per-row chain with no shuffle to resume from), every row would be
    * computed twice per run. Uncut, q141's sort re-ran its synth+decode
    * subtree (×19.1 sf1→sf10 in SCALE_CHECK_sf10_r17), and the cut took
    * −35% off q112 in r18. The cut holds exactly the query's output
    * columns (PlanSpec's "presentation-sort checkpoints materialize
    * exactly the query output" guard), and PlanSpec pins the pre-cut plan
    * through a listener.
    */
  def sortCut(keys: Column*): DataFrame => DataFrame =
    _.localCheckpoint().orderBy(keys: _*)

  /** Eager localCheckpoint with `metrics` observed in the SAME job: the
    * CollectMetrics node fires on the checkpoint action itself, so the
    * sizing count, convergence sum or dim gate a caller reads right after
    * materializing costs no second scan-the-checkpoint job (r19). The
    * returned frame's rows are untouched; the Row holds the metrics in
    * argument order.
    */
  def cut(df: DataFrame, metric: Column, metrics: Column*): (DataFrame, Row) = {
    val obs = org.apache.spark.sql.Observation()
    val ck = df.observe(obs, metric, metrics: _*).localCheckpoint()
    (ck, scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration.Inf))
  }
}
