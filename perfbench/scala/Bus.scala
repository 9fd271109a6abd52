package org.apache.spark.perfbench

import java.util.Properties

import org.apache.spark.SparkContext

/** Spark internals the traced run needs that are `private[spark]`. */
object Bus {
  /** Drained at every span boundary, so each asynchronous listener event is
    * handled while the span that caused it is still open.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Job tags carried in a job's local properties. */
  def jobTags(props: Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSeq).getOrElse(Nil)
}
