package org.apache.spark

import org.apache.spark.storage.RDDInfo

/** Package-private parts of Spark the tracer needs: the listener bus, to
  * wait until every job and task of a span is counted before the span's
  * facts are read, and the operation scopes of an RDD (the SQL plan nodes
  * it was created under). */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Scope names of `info`, innermost first. */
  def scopeNames(info: RDDInfo): Seq[String] =
    Iterator.iterate(info.scope)(_.flatMap(_.parent)).takeWhile(_.isDefined).map(_.get.name).toSeq
}
