package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateStruct, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Repartition, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan

/** An action over the physical rows of a tagged union of frames: what
  * `Dataset.collect` runs, with a function of the partition's rows in place
  * of the row copy. Compiled into the `org.apache.spark.sql` namespace like
  * [[ColumnBridge]], so Spark's call-site rule names the action
  * `collect at <caller>`.
  */
object PhysicalRows {
  /** `f` over the rows of every frame of `frames`, gathered into ONE
    * partition by a round-robin shuffle (`repartition(1)`: the frames'
    * own stages stay parallel), with the results collected. A row of frame
    * i is column i of the union, a struct of that frame's columns; every
    * other column is null. One SQL execution, which listeners see as one
    * `collect`. The rows are only valid while `f` is on them (Spark reuses
    * them): `f` copies what it keeps.
    *
    * The plan is built from the frames' analyzed plans and analyzed once,
    * and it runs without adaptive execution, as one job: it is meant for
    * the few rows of a small crawl round, where every extra analysis of the
    * whole plan, and a re-optimization after the shuffle stage, cost more
    * than the stage itself.
    */
  def collect[A: ClassTag](frames: Seq[DataFrame])(
      f: Iterator[InternalRow] => Iterator[A]): Array[A] = {
    val plans = frames.map(_.queryExecution.analyzed)
    val branches = plans.indices.map { i =>
      Project(plans.indices.map { j =>
        Alias(if (j == i) CreateStruct(plans(j).output) else Literal(null, plans(j).schema),
          s"_$j")()
      }, plans(i))
    }
    val session = frames.head.queryExecution.sparkSession
    val qe = new QueryExecution(session, Repartition(1, shuffle = true, Union(branches))) {
      override def preparations: Seq[Rule[SparkPlan]] =
        super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
    }
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.toRdd.mapPartitions(f).collect())
  }
}
