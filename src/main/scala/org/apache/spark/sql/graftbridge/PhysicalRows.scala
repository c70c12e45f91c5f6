package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.types.StructType

/** A frame planned once and run many times, as an action over its physical
  * rows: what `Dataset.collect` runs, with a function of the partition's
  * rows in place of the row copy. Compiled into the `org.apache.spark.sql`
  * namespace like [[ColumnBridge]], so Spark's call-site rule names each
  * run `collect at <caller>`.
  *
  * The frame's rows are gathered into ONE partition by a round-robin
  * shuffle (`repartition(1)`: the frame's own stage stays parallel). The
  * plan is analyzed, optimized and planned once, without adaptive
  * execution, so a run is one job: it is meant for the few rows of a small
  * crawl round, where an analysis of the whole plan, a re-optimization
  * after the shuffle stage or a second plan of the same frame cost more
  * than the job itself.
  */
final class PhysicalRows private (planned: QueryExecution) {

  /** the frame's columns: what a row of a run holds. */
  def schema: StructType = planned.analyzed.schema

  /** `f` over the rows of `bind(executedPlan)`, with the results collected:
    * one SQL execution, which listeners see as one `collect` whose analyzed
    * and optimized plans are this object's. `bind` must return a plan
    * whose every node that runs a shuffle is a fresh copy — a
    * `transformUp` below the shuffle gives one — since a reused exchange
    * would hand back the last run's map output. The rows are only valid
    * while `f` is on them (Spark reuses them): `f` copies what it keeps.
    * `f` is not cleaned: it must capture only what its tasks need.
    */
  def collect[A: ClassTag](bind: SparkPlan => SparkPlan)(
      f: Iterator[InternalRow] => Iterator[A]): Array[A] = {
    val plan = bind(planned.executedPlan)
    PhysicalRows.run(new QueryExecution(planned.sparkSession, planned.analyzed) {
      override def analyzed: LogicalPlan = planned.analyzed
      override def optimizedPlan: LogicalPlan = planned.optimizedPlan
      override def sparkPlan: SparkPlan = plan
      override def executedPlan: SparkPlan = plan
    })(f)
  }
}

object PhysicalRows {
  /** `frame` gathered into one partition, planned now. */
  def apply(frame: DataFrame): PhysicalRows = {
    val qe = new QueryExecution(frame.queryExecution.sparkSession,
        Repartition(1, shuffle = true, frame.queryExecution.analyzed)) {
      override def preparations: Seq[Rule[SparkPlan]] =
        super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
    }
    qe.executedPlan
    new PhysicalRows(qe)
  }

  /** `f` over the rows of each partition of `frame`, with the results
    * collected: one SQL execution of its own (the frame's plan is planned
    * afresh, adaptive as the session configures), which listeners see as
    * one `collect`. `f`'s rules are the class's `collect`'s.
    */
  def collect[A: ClassTag](frame: DataFrame)(f: Iterator[InternalRow] => Iterator[A]): Array[A] =
    run(new QueryExecution(frame.queryExecution.sparkSession, frame.queryExecution.analyzed))(f)

  /** the action both `collect`s run: every job of it, adaptive stages
    * included, belongs to one SQL execution, described by Spark's call-site
    * rule as `collect at <the engine caller>`.
    */
  private def run[A: ClassTag](qe: QueryExecution)(
      f: Iterator[InternalRow] => Iterator[A]): Array[A] =
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.toRdd.mapPartitionsInternal(f).collect())
}
