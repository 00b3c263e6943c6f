package org.apache.spark.sql

/** Catalyst phase times of a frame planned from scratch: a fresh
  * QueryExecution over the frame's logical plan, analyzed, optimized and
  * planned, with its tracker's phase durations in seconds and the number of
  * optimized-plan nodes (subqueries included).
  */
object BenchCatalyst {
  def plan(df: DataFrame): (Map[String, Double], Int) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = session.sessionState.executePlan(df.queryExecution.logical)
    qe.executedPlan
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    (phases, qe.optimizedPlan.collectWithSubqueries { case p => p }.size)
  }
}
