package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The pages a small crawl round claims, as the leaf of the round's plans:
  * a scan with fixed output attributes — every column of `corpus`, whose
  * first column is the page key, then every column of `claim`, the claim
  * row the page was fetched for. A round's rows are an RDD that the driver
  * builds without running a job ([[rows]]), so the claim never enters a
  * plan as literals: a plan over [[template]] is planned once, and each
  * round binds its rows into it ([[bind]]). Page content stays on the
  * executors.
  */
final class ClaimedPages(corpus: DataFrame, claim: StructType) {
  private val session = corpus.queryExecution.sparkSession

  private val output: Seq[AttributeReference] = (corpus.schema ++ claim).map(f =>
    AttributeReference(f.name, f.dataType, f.nullable)())

  /** the corpus rows: planned once, without adaptive execution, so taking
    * the RDD runs no job.
    */
  private lazy val corpusRows: RDD[InternalRow] = {
    val qe = new QueryExecution(session, corpus.queryExecution.analyzed) {
      override def preparations: Seq[Rule[SparkPlan]] =
        super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
    }
    qe.toRdd
  }

  /** the corpus's size estimate: a round's pages are a subset of it, and a
    * join over them plans as a join over the filtered corpus would.
    */
  private lazy val stats = Statistics(corpus.queryExecution.optimizedPlan.stats.sizeInBytes)

  private val placeholder: RDD[InternalRow] = session.sparkContext.emptyRDD[InternalRow]

  /** one round's pages: each corpus row whose key is the `key` column of
    * one of `claims` (rows of the `claim` schema), copied, followed by that
    * claim row — the rows and values of an inner join of the corpus with
    * the claim on that key, one pass over each corpus partition.
    */
  def rows(claims: Seq[Row], key: String): RDD[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(claim)
    val k = claim.fieldIndex(key)
    val byKey: Map[UTF8String, InternalRow] = claims.map { r =>
      UTF8String.fromString(r.getString(k)) -> toCatalyst(r).asInstanceOf[InternalRow]
    }.toMap
    // the function captures the map alone: no closure cleaning
    corpusRows.mapPartitionsInternal(_.flatMap { r =>
      if (r.isNullAt(0)) None
      else byKey.get(r.getUTF8String(0)).map(c => new JoinedRow(r.copy(), c))
    })
  }

  /** a frame over one round's `rows`. */
  def frame(rows: RDD[InternalRow]): DataFrame =
    Dataset.ofRows(session, LogicalRDD(output, rows)(session, Some(stats)))

  /** a frame over the leaf with no round bound: what a plan is built on. */
  def template: DataFrame = frame(placeholder)

  /** a plan over [[template]] with its leaf scanning `rows` instead: a copy
    * of every node above the leaf, so no shuffle, code or metric of one
    * round is another's.
    */
  def bind(rows: RDD[InternalRow]): SparkPlan => SparkPlan = _.transformUp {
    case s: RDDScanExec if s.rdd eq placeholder => s.copy(rdd = rows, name = "ClaimedPages")
  }
}
