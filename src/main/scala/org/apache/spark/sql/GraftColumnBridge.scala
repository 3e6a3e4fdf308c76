package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's private[sql] Column <-> catalyst Expression
  * conversions, needed to expose custom Catalyst expressions as Columns
  * (the public Column API no longer carries `.expr`). This is the standard
  * extension-library pattern: one tiny object compiled into the sql
  * package, everything else stays in graft.*.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]) — the entry point for whole-operator extensions. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A private session that starts from a copy of `spark`'s SQLConf,
    * temp views and functions (SparkSession.cloneSession is private[sql]):
    * conf set on the clone never reaches the caller's session. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Report every stream started on `from` to `to`'s listeners too: a
    * session's listener bus passes on the events of the runs it saw start,
    * so re-posting the start event through `to`'s manager enrolls the run. */
  def reportStreamsTo(from: SparkSession, to: SparkSession): Unit =
    from.streams.addListener(new streaming.StreamingQueryListener {
      import streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        to.streams.asInstanceOf[classic.StreamingQueryManager].postListenerEvent(e)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
}
