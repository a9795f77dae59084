package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test-side shim: the one-argument `classic.SparkSession`
  * constructor is `private[sql]`. It builds a session on an existing
  * SparkContext with no extensions applied — the kind of session an
  * outside harness hands to graft. */
object BareSessions {
  def on(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
